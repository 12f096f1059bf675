package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.streaming.Streaming

/** Guards the timestamp-type boundary against testdata regeneration.
  *
  * Round 8 shipped red because the driver regenerated events.parquet
  * from TIMESTAMP(NANOS) to tz-naive TIMESTAMP(MICROS) and both the
  * batch loader and the stream schema assumed the old physical type.
  * This spec writes events-shaped fixtures in BOTH conventions the
  * data has shipped in — parquet TIMESTAMP(NANOS) and TIMESTAMP_NTZ
  * micros — and asserts the batch loader and the streaming reader
  * normalize each to identical TimestampType instants, through the one
  * raw-parquet reader, without touching the session's conf.
  */
class TimestampRobustnessSpec extends SparkSpec with TempPaths {
  import spark.implicits._

  // Two events in distinct hours; instants chosen off-hour to catch
  // unit mistakes (a 1000x collapse lands both in one 1970 window).
  private val baseUs = 1704067200L * 1000000L + 1234567L // 2024-01-01 00:00:01.234567
  private val rows = Seq(
    (1L, baseUs, 10L, "click", 1.0, "{}"),
    (2L, baseUs + 3600L * 1000000L, 11L, "view", 2.0, "{}"))

  private def writeFixture(asNanos: Boolean): String = {
    val dir = tempDir("graft-tsfix").toString
    if (asNanos) {
      import NanosParquet._
      NanosParquet.write(s"$dir/part-0.parquet",
        Seq(long("event_id"), nanos("ts"), long("user_id"),
          string("event_type"), double("value"), string("props")),
        rows.map { case (id, us, user, typ, v, props) =>
          Seq(id, us * 1000L, user, typ, v, props) })
    } else rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros($"ts").cast(TimestampNTZType))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def expectedInstants: Set[Long] = rows.map(_._2).toSet

  private def asEventsTable(fix: String): String = {
    val dir = tempDir("graft-tsdir").toString
    // CoreQueries.t expects <dir>/events.parquet
    Files.createSymbolicLink(
      java.nio.file.Paths.get(dir, "events.parquet"),
      java.nio.file.Paths.get(fix))
    dir
  }

  private def batchInstants(dir: String): (Set[Long], Any) = {
    val df = queries.CoreQueries.t(spark, dir, "events")
    (df.select(unix_micros($"ts")).as[Long].collect().toSet,
      df.schema("ts").dataType)
  }

  test("batch loader normalizes TIMESTAMP_NTZ micros to TimestampType, same instants") {
    val (instants, tpe) = batchInstants(asEventsTable(writeFixture(asNanos = false)))
    assert(tpe === TimestampType)
    assert(instants === expectedInstants)
  }

  test("batch loader converts nanos-longs to TimestampType, same instants") {
    val (instants, tpe) = batchInstants(asEventsTable(writeFixture(asNanos = true)))
    assert(tpe === TimestampType)
    assert(instants === expectedInstants)
  }

  test("a bare INT64 ts is no timestamp: it stays LongType and a time " +
    "function on it fails loudly") {
    val fix = tempDir("graft-tsint").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(fix)
    val df = queries.CoreQueries.t(spark, asEventsTable(fix), "events")
    assert(df.schema("ts").dataType === LongType)
    intercept[org.apache.spark.sql.AnalysisException](df.select(unix_micros($"ts")))
  }

  test("the table and stream readers leave nanosAsLong as the session had it") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    Session.withConf(spark, key -> "false") {
      val fix = writeFixture(asNanos = true)
      queries.CoreQueries.t(spark, asEventsTable(fix), "events").collect()
      Streaming.eventsStream(spark, fix)
      assert(spark.conf.get(key) === "false")
    }
  }

  private def streamHourly(dir: String): DataFrame =
    Streaming.runToCompletion(
      spark, Streaming.hourlyAgg(Streaming.eventsStream(spark, dir)),
      s"ts_robust_${dir.hashCode.abs}")

  test("streaming reader handles both ts conventions identically") {
    val ntz = streamHourly(writeFixture(asNanos = false))
      .orderBy("hour_start", "event_type").collect().toSeq
    val ns = streamHourly(writeFixture(asNanos = true))
      .orderBy("hour_start", "event_type").collect().toSeq
    assert(ntz === ns)
    assert(ntz.size === 2) // one window per hour — not collapsed into 1970
    assert(ntz.map(_.getString(0)).forall(_.startsWith("2024-01-01")))
  }
}
