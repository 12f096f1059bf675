package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** exact.withRollingAvgExact (r20, O(1)-per-row cum-diff) vs the
  * sliding-frame avgExactOver it replaces: bit-identical doubles on
  * randomized series with NULL values, frames shorter than the window,
  * all-null frames (both must yield NULL), and ties broken by the
  * order columns. Also pins the bucketed two-pass operator against
  * the plain single-window form. */
class RollingExactSpec extends SparkSpec {
  import spark.implicits._

  test("cum-diff equals the sliding frame, nulls included") {
    val rnd = new scala.util.Random(9)
    val w = 7
    val rows = (1 to 60).flatMap { k =>
      (1 to rnd.nextInt(40) + 1).map { i =>
        val v: Option[Double] =
          if (rnd.nextInt(5) == 0) None
          else Some(math.round(rnd.nextDouble() * 1e6) / 1e3)
        (k.toLong, i.toLong, v)
      }
    } ++ (1 to 12).map(i => (99L, i.toLong, None: Option[Double]))
    val df = rows.toDF("k", "i", "v").repartition(8)
    val slide = Window.partitionBy(col("k")).orderBy(col("i"))
      .rowsBetween(-(w - 1L), 0L)
    val expected = df.withColumn("r",
      graft.functions.exact.avgExactOver(col("v"), slide))
    val actual = graft.functions.exact.withRollingAvgExact(
      df, col("v"), Seq(col("k")), Seq(col("i")), w, "r")
    val j = expected.as("e").join(actual.as("a"), Seq("k", "i"))
      .filter(!(col("e.r") <=> col("a.r"))).count()
    assert(j == 0)
    // the all-null key yields NULL everywhere
    assert(actual.filter(col("k") === 99L && col("r").isNotNull).count() == 0)
  }

  test("bucketed path equals the plain exact window") {
    val rnd = new scala.util.Random(10)
    val rows = (1 to 30).flatMap { s =>
      (0 until rnd.nextInt(50) + 1).map { i =>
        (s"s$s", "temp",
          java.sql.Timestamp.valueOf(s"2024-01-0${1 + i % 9} 0${i % 10}:0${(i * 7) % 10}:00"),
          if (rnd.nextInt(6) == 0) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(rnd.nextInt(1000) / 7.0),
          i.toLong)
      }
    }
    val df = rows.toDF("sensor_id", "reading_type", "timestamp", "value", "eid")
    val w = Window.partitionBy(col("sensor_id"), col("reading_type"))
      .orderBy(col("timestamp"), col("eid"))
      .rowsBetween(-9L, 0L)
    val plain = df.withColumn("rolling_avg_value",
      graft.functions.exact.avgExactOver(col("value"), w))
    val bucketed = graft.transform.Transforms.rollingAvgBucketed(
      windowRows = 10, bucketSeconds = 3600L,
      tieBreak = Seq(col("eid")))(df)
    val diff = plain.as("p").join(bucketed.as("b"), Seq("sensor_id", "eid"))
      .filter(!(col("p.rolling_avg_value") <=> col("b.rolling_avg_value")))
      .count()
    assert(diff == 0)
  }
}
