package graft

import org.apache.spark.sql.functions._

/** AQE skew-join handling: the automatic complement to q145's explicit
  * salting. When one join key dominates, AQE splits the oversized
  * shuffle partition into sub-reads at RUNTIME (each paired with a
  * duplicated build-side read) — no code change, no salt column. The
  * spec drives a 90%-skewed sort-merge join with the split thresholds
  * lowered to test scale and asserts the executed plan's SMJ is marked
  * `skew=true`, plus result parity so the split is semantics-free.
  * At 100 TB this is the runtime backstop for skew NOBODY predicted;
  * deliberate, known-hot keys still get the salting treatment (q145)
  * because a salt spreads the BUILD side too, which AQE's split does
  * not.
  */
class AqeSkewSpec extends SparkSpec {

  test("AQE splits a skewed sort-merge join partition (skew=true)") {
    import spark.implicits._
    Session.withConf(spark,
      // force SMJ (a broadcast join has no shuffle to split)
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // test-scale thresholds: a partition is "skewed" past 64 KB and
      // 2x the median, split into ~16 KB sub-reads
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      // coalescing would merge the small partitions and mask the split
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // 90% of the left side lands on key 0; pad makes the hot
      // partition's bytes cross the lowered threshold.
      val left = spark.range(0, 100000L)
        .select(
          when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("lv"),
          lpad(lit("x"), 64, "x").as("pad"))
      val right = spark.range(0, 1000L).select(col("id").as("k"))
      val joined = left.join(right, "k")
        .groupBy(col("k") === 0L)
        .agg(count(lit(1)).as("n"), sum(col("lv")).as("s"))
      val got = joined.collect().map(_.toString).sorted.toSeq

      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n$plan")

      // parity: same aggregate through a broadcast join (no shuffle,
      // nothing for AQE to split)
      val exp = left.join(broadcast(right), "k")
        .groupBy(col("k") === 0L)
        .agg(count(lit(1)).as("n"), sum(col("lv")).as("s"))
        .collect().map(_.toString).sorted.toSeq
      assert(got === exp)
    }
  }
}
