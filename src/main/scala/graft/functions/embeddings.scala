package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector primitives over `array<float>` columns, built on
  * codegen'd higher-order functions (`zip_with`/`aggregate`) — no UDFs.
  *
  * Determinism: elements are cast to double BEFORE any arithmetic and
  * summation is a strict left fold, which matches DuckDB's
  * list_dot_product on double lists element-for-element — verified
  * bit-exact by the oracle harness.
  */
object embeddings {

  /** Cast array<float> -> array<double>. */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Strict left-fold sum of an array<double>. */
  def arraySum(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => acc + x)

  /** Dot product of two array<float> columns: fused native expression
    * (graft.plans.FloatVecDot) — single codegen'd loop, no intermediate
    * array. Same left-fold order as the composable
    * `aggregate(zip_with(...))` form, so results are bit-identical. */
  def dot(a: Column, b: Column): Column =
    graft.plans.FloatVecDot(a, b)

  /** L2 norm. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity; null for zero vectors. Fused native expression
    * (one loop for dot + both norms instead of three traversals);
    * bit-identical to the composable dot/(norm*norm) form. */
  def cosine(a: Column, b: Column): Column =
    graft.plans.FloatVecCosine(a, b)

  /** Sign-pattern bucket over the first `bits` dimensions — a cheap,
    * deterministic coarse quantizer for IVF-style partitioned ANN:
    * vectors can only be near neighbors if they land in the same
    * orthant bucket (approximate; recall traded for a bucket-local
    * search that avoids the all-pairs shuffle at scale). Dimensions
    * past the vector's length contribute 0 bits (`get` returns null
    * out of bounds), so `bits` larger than the embedding width degrades
    * to a coarser split instead of an ANSI index error — the skew
    * guard probes 16 bits without knowing the width. Elements are
    * fetched directly and cast as SCALARS — an earlier form cast the
    * whole array per probed bit (`get(toDouble(v), i)`), allocating up
    * to `bits` intermediate arrays per row; float->double widening is
    * exact, so the `> 0` predicate is unchanged. */
  def signBucket(v: Column, bits: Int = 8): Column =
    (0 until bits).map(i =>
      when(get(v, lit(i)).cast("double") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Per-vector absmax int8 quantization: q_i = floor(127 x_i / s + 0.5)
    * with s = max_i |x_i| — symmetric scale, range [-127, 127]. At scale
    * this is the shuffle-byte win for similarity work: int8 codes move
    * 4x fewer bytes than float32 (8x vs double), and similarity on the
    * codes is pure INTEGER arithmetic — exact on every engine, no
    * floating-point accumulation order to worry about. Zero vectors
    * quantize to all-zero codes. */
  def quantizeInt8(v: Column): Column = {
    val s = array_max(transform(v, x => abs(x.cast("double"))))
    transform(v, x =>
      when(s > 0, floor(x.cast("double") * 127.0 / s + 0.5).cast("int"))
        .otherwise(lit(0)))
  }

  /** Integer dot product of two int8-code arrays (strict left fold,
    * exact — |dims| * 127^2 stays far inside a long). */
  def intDot(qa: Column, qb: Column): Column =
    aggregate(zip_with(qa, qb, (x, y) => (x * y).cast("long")),
      lit(0L), (acc, x) => acc + x)
}
