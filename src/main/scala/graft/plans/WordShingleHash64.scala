package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram shingle hashing: array<string> tokens in,
  * array<bigint> of xxhash64(shingle) out — bit-identical to the
  * composable form
  *
  *   transform(shinglesOf(tok, n), s => xxhash64(s))
  *
  * including the short-document branch (fewer than n tokens → ONE
  * whole-text shingle), concat_ws's null-element skipping, and Spark's
  * xxhash64 seed (42, hashed via the same XXH64.hashUTF8String the
  * builtin uses — a dedicated spec pins the byte-exact parity).
  *
  * Why it exists: Spark evaluates higher-order functions (transform +
  * slice + concat_ws) OUTSIDE whole-stage codegen, interpreted per
  * element with a lambda dispatch and a fresh slice array + UTF8String
  * per window. Measured at the 5M-doc deep points that construction is
  * ~15x the cost of a bare token explode (~1.8 ms/doc — dup_spans and
  * dsir_ngram both sit exactly on that line, SCALE.md r17), dwarfing
  * the shuffles it feeds. This expression does the same work as one
  * compiled loop per row: token bytes extracted once, one reusable
  * grow-only buffer, memcpy + hash per window, zero per-window
  * allocation beyond the output array.
  *
  * Serves the shingled token sets of the PPJoin and containment
  * families (Dedup.tokenSetLists) only. Every Curation shingle path
  * hashes with the md5 twin [[WordShingleMd5]], whose values the
  * DuckDB oracles mirror.
  */
case class WordShingleHash64(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure(s"shingle width must be positive, got $n")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"word_shingle_hash64 requires array<string>, got ${other.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    WordShingleHash64.hashAll(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      // The whole loop lives in the static helper — codegen just calls
      // it, so the expression composes into whole-stage codegen without
      // forcing the surrounding operators out of it.
      s"${ev.value} = graft.plans.WordShingleHash64.hashAll($c, $n);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordShingleHash64 =
    copy(child = newChild)
}

object WordShingleHash64 {

  private val Seed = 42L // functions.xxhash64's fixed seed

  /** Column API: hashes of the n-gram shingles of `tok` (array<string>). */
  def apply(tok: Column, n: Int): Column =
    GraftColumnBridge.column(WordShingleHash64(
      GraftColumnBridge.expression(tok), n))

  /** One compiled pass over a row's tokens: extract each token's bytes
    * once, then per window memcpy into a reusable buffer and hash — the
    * byte sequence is exactly the UTF8 encoding of the tokens joined by
    * single spaces with null tokens skipped (concat_ws semantics). */
  def hashAll(tokens: ArrayData, n: Int): ArrayData = {
    val m = tokens.numElements()
    val tb = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      if (!tokens.isNullAt(i)) tb(i) = tokens.getUTF8String(i).getBytes
      i += 1
    }
    var buf = new Array[Byte](64)

    // assemble tokens [from, from+count) into buf, growing it if
    // needed; returns the total byte length
    def window(from: Int, count: Int): Int = {
      var need = 0
      var k = 0
      var nonNull = 0
      while (k < count) {
        val t = tb(from + k)
        if (t != null) { need += t.length; nonNull += 1 }
        k += 1
      }
      if (nonNull > 1) need += nonNull - 1 // single-space separators
      if (need > buf.length)
        buf = new Array[Byte](math.max(need, buf.length * 2))
      var len = 0
      var first = true
      k = 0
      while (k < count) {
        val t = tb(from + k)
        if (t != null) {
          if (!first) { buf(len) = ' '; len += 1 }
          System.arraycopy(t, 0, buf, len, t.length)
          len += t.length
          first = false
        }
        k += 1
      }
      len
    }
    def hash(len: Int): Long =
      XXH64.hashUTF8String(UTF8String.fromBytes(buf, 0, len), Seed)

    if (m < n) {
      // short-document branch: one whole-text shingle
      new GenericArrayData(Array(hash(window(0, m))))
    } else {
      val out = new Array[Long](m - n + 1)
      var w = 0
      while (w < out.length) {
        out(w) = hash(window(w, n))
        w += 1
      }
      new GenericArrayData(out)
    }
  }
}
