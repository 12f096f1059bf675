package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Approximate aggregates — the 100 TB substitutes for exact
  * distinct/quantile when cardinalities explode. Exact forms remain the
  * oracle-checked surface (cardinalities there are modest); these
  * verify the approximate forms stay within their error contracts so
  * they can be swapped in at scale. */
class ApproxSpec extends SparkSpec {

  /** Cosine over int8 codes: exact integer dot and norms, one double
    * division + sqrt at the end. Null when either code vector is all
    * zero. */
  private def quantizedCosine(qa: Column, qb: Column): Column = {
    import graft.functions.embeddings.intDot
    val d = intDot(qa, qb)
    val na = intDot(qa, qa)
    val nb = intDot(qb, qb)
    when(na > 0 && nb > 0,
      d.cast("double") / sqrt(na.cast("double") * nb.cast("double")))
  }

  test("approx_count_distinct within rsd of exact on events.user_id") {
    val ev = graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.01", "events")
    val r = ev.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id"), 0.05).as("approx")).head
    val exact = r.getLong(0).toDouble
    val approx = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.15) // 3x the 5% rsd
  }

  test("approx_percentile brackets the exact percentile") {
    val ev = graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.01", "events")
    val r = ev.agg(
      expr("percentile(value, 0.5)").as("exact"),
      expr("approx_percentile(value, 0.5, 1000)").as("approx")).head
    val exact = r.getDouble(0)
    val approx = r.getDouble(1)
    assert(math.abs(approx - exact) / math.max(exact, 1e-9) < 0.05)
  }

  test("int8 quantization: known codes, cosine close to exact") {
    import spark.implicits._
    import graft.functions.embeddings
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.9f, -0.4f, 0.3f, 0.1f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f))) // zero vector
      .toDF("id", "v")
    val q = df.select($"id", embeddings.quantizeInt8($"v").as("q"))
      .as[(Long, Seq[Int])].collect().toMap
    // absmax scale 1.0: codes = round(127 * x)
    assert(q(1L) === Seq(127, -63, 32, 0)) // floor(-63.5+0.5) = -63
    assert(q(3L) === Seq(0, 0, 0, 0)) // zero vector -> zero codes
    assert(q(1L).forall(c => c >= -127 && c <= 127))
    val cos = df.as("a").join(df.as("b"),
      col("a.id") === 1 && col("b.id") === 2)
      .select(
        embeddings.cosine(col("a.v"), col("b.v")).as("exact"),
        quantizedCosine(
          embeddings.quantizeInt8(col("a.v")),
          embeddings.quantizeInt8(col("b.v"))).as("quant"))
      .head
    assert(math.abs(cos.getDouble(0) - cos.getDouble(1)) < 0.01)
  }
}
