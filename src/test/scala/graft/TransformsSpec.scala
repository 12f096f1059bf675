package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.{Calibration, PipelineConfig, ReadingCols, ValueRange}
import graft.ingest.ParquetIngestor
import graft.model.Schemas
import graft.transform.Transforms

class TransformsSpec extends SparkSpec with PlanPins with TempPaths {
  import spark.implicits._

  private val c = ReadingCols.sensor

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def readings(rows: (String, String, String, Double, java.lang.Double)*) =
    rows.toSeq
      .map { case (id, t, typ, v, b) =>
        (id, ts(t), typ, v, Option(b).map(_.doubleValue))
      }
      .toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level")

  test("P1 dedup removes exact duplicates and is idempotent") {
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 25.5, 95.0),
      ("s1", "2023-06-01 10:00:00", "temperature", 25.5, 95.0),
      ("s1", "2023-06-01 11:00:00", "temperature", 26.0, 94.0))
    val once = Transforms.dedupExact(df)
    assert(once.count() === 2)
    assert(Transforms.dedupExact(once).count() === 2)
  }

  test("P2 null drop keeps rows null only in battery") {
    val df = Seq(
      (Some("s1"), Some(ts("2023-06-01 10:00:00")), Some("temperature"), Some(25.5), None: Option[Double]),
      (Some("s2"), Some(ts("2023-06-01 10:00:00")), Some("temperature"), Some(25.5), Some(Double.NaN)),
      (None, Some(ts("2023-06-01 10:00:00")), Some("temperature"), Some(25.5), Some(90.0)),
      (Some("s1"), Some(ts("2023-06-01 10:00:00")), Some("temperature"), None, Some(90.0)),
      (Some("s1"), Some(ts("2023-06-01 10:00:00")), Some("temperature"), Some(Double.NaN), Some(90.0)))
      .toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level")
    val critical = Seq("sensor_id", "timestamp", "reading_type", "value")
    val out = Transforms.dropNullCritical(critical)(df)
    // exactly na.drop("any"), which drops a NaN in a float column too
    assert(out.collect().toSet === df.na.drop("any", critical).collect().toSet)
    assert(out.orderBy("sensor_id").collect().map(_.getString(0)).toSeq ===
      Seq("s1", "s2"))
    assert(out.orderBy("sensor_id").head.isNullAt(4)) // battery null survives
  }

  test("P3 battery imputation: per-sensor median, global fallback") {
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 1.0, 10.0),
      ("s1", "2023-06-01 11:00:00", "temperature", 1.0, 20.0),
      ("s1", "2023-06-01 12:00:00", "temperature", 1.0, null),
      ("s2", "2023-06-01 10:00:00", "temperature", 1.0, null))
    val out = Transforms.imputeBattery()(df)
      .orderBy("sensor_id", "timestamp")
      .select("battery_level").as[Double].collect()
    // s1 null -> median(10,20)=15 (pandas-style interpolation)
    // s2 all-null -> global median(10,20)=15
    assert(out.toSeq === Seq(10.0, 20.0, 15.0, 15.0))
  }

  test("P3 size guardrail: oversized input auto-switches the global fallback to approx") {
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 1.0, 10.0),
      ("s1", "2023-06-01 11:00:00", "temperature", 1.0, 20.0),
      ("s1", "2023-06-01 12:00:00", "temperature", 1.0, 30.0),
      ("s2", "2023-06-01 10:00:00", "temperature", 1.0, null))
    // Any real input's plan-estimated size exceeds 1 byte, so a 1-byte
    // threshold simulates "table bigger than the exact buffer may hold"
    // without materializing a big table.
    val guarded = Transforms.imputeBattery(exactGlobalMaxBytes = 1L)(df)
    val plan = guarded.queryExecution.optimizedPlan.toString
    assert(plan.contains("percentile_approx"))
    val out = guarded.orderBy("sensor_id", "timestamp")
      .select("battery_level").as[Double].collect()
    assert(out.toSeq === Seq(10.0, 20.0, 30.0, 20.0))
    // Default threshold (4 GiB) keeps small inputs on the exact path —
    // the oracle-parity configuration needs no explicit opt-in.
    val default = Transforms.imputeBattery()(df)
    val dPlan = default.queryExecution.optimizedPlan.toString
    assert(!dPlan.contains("percentile_approx"))
    assert(dPlan.contains("percentile"))
  }

  test("P4 calibration applies per-type multiplier/offset, leaves unknown types") {
    val cal = Map(
      "temperature" -> Calibration(2.0, 1.0),
      "humidity" -> Calibration(0.5, 0.0))
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 10.0, 90.0),
      ("s1", "2023-06-01 10:00:00", "humidity", 10.0, 90.0),
      ("s1", "2023-06-01 10:00:00", "pressure", 10.0, 90.0))
    val out = Transforms.calibrate(cal, c)(df)
      .orderBy("reading_type").select("value").as[Double].collect()
    assert(out.toSeq === Seq(5.0, 10.0, 21.0)) // humidity, pressure, temperature
  }

  test("P5+P6 timezone shift and date derivation (UTC+05:30 wraps day)") {
    val df = readings(("s1", "2023-06-01 20:00:00", "temperature", 1.0, 90.0))
    val out = Transforms.deriveDate(c)(
      Transforms.shiftToLocal(PipelineConfig.parseUtcOffset("UTC+05:30"), c)(df))
    val row = out.select(
      date_format($"timestamp", "yyyy-MM-dd HH:mm").as("t"),
      $"date".cast("string")).head
    assert(row.getString(0) === "2023-06-02 01:30")
    assert(row.getString(1) === "2023-06-02")
  }

  test("W1 rolling average matches the reference golden [20.0, 22.5, 25.0]") {
    // reference tests/test_transformation.py:164-171
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 20.0, 90.0),
      ("s1", "2023-06-01 11:00:00", "temperature", 25.0, 90.0),
      ("s1", "2023-06-01 12:00:00", "temperature", 30.0, 90.0))
    val out = Transforms.rollingAvg(168)(df)
      .orderBy("timestamp").select("rolling_avg_value").as[Double].collect()
    assert(out.toSeq === Seq(20.0, 22.5, 25.0))
  }

  test("W1 rolling average does not depend on the order of rows tied on timestamp") {
    // Three readings share (sensor, type, 11:00); two of them also share
    // their value. Fed in two orders, each in one partition so the order
    // reaches the window's sort, every row must get the same average.
    val rows = Seq(
      ("s1", "2023-06-01 10:00:00", "temperature", 0.0, 90.0: java.lang.Double),
      ("s1", "2023-06-01 11:00:00", "temperature", 20.0, 80.0: java.lang.Double),
      ("s1", "2023-06-01 11:00:00", "temperature", 20.0, 70.0: java.lang.Double),
      ("s1", "2023-06-01 11:00:00", "temperature", 40.0, 90.0: java.lang.Double))
    def averages(in: Seq[(String, String, String, Double, java.lang.Double)]) =
      Transforms.rollingAvg(2)(readings(in: _*).coalesce(1))
        .select("timestamp", "value", "battery_level", "rolling_avg_value")
        .collect().map(r => (r.getTimestamp(0), r.getDouble(1), r.getDouble(2)) ->
          r.getDouble(3)).toMap
    val forward = averages(rows)
    assert(forward.size === rows.size)
    assert(averages(rows.reverse) === forward)
  }

  test("W1 bucketed rolling average is bit-identical to the plain window") {
    // Dense + sparse histories: small windowRows (3) with a 1 h bucket
    // forces carries, including the multi-gap case where the trailing
    // window spans buckets with EMPTY buckets between them (s2's 10:00
    // row must reach the 13:00 bucket across two empty hours). The
    // plain window is the exact mean over the same 3-row frame.
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 20.0, 90.0),
      ("s1", "2023-06-01 10:20:00", "temperature", 22.0, 90.0),
      ("s1", "2023-06-01 10:40:00", "temperature", 24.0, 90.0),
      ("s1", "2023-06-01 11:00:00", "temperature", 26.0, 90.0),
      ("s1", "2023-06-01 12:30:00", "temperature", 30.0, 90.0),
      ("s2", "2023-06-01 10:00:00", "humidity", 50.0, 88.0),
      ("s2", "2023-06-01 13:00:00", "humidity", 60.0, 88.0),
      ("s2", "2023-06-01 13:30:00", "humidity", 70.0, 88.0))
    val frame = Window.partitionBy("sensor_id", "reading_type")
      .orderBy("timestamp").rowsBetween(-2L, 0L)
    val plain = df
      .withColumn("rolling_avg_value",
        graft.functions.exact.avgExactOver(col("value"), frame))
      .orderBy("sensor_id", "timestamp")
      .select("sensor_id", "timestamp", "rolling_avg_value").collect()
    val bucketed = Transforms.rollingAvgBucketed(3, 3600L, c)(df)
      .orderBy("sensor_id", "timestamp")
      .select("sensor_id", "timestamp", "rolling_avg_value").collect()
    assert(bucketed.toSeq === plain.toSeq)
    // spot-check the multi-gap carry: s2@13:30 averages all three s2 rows
    val s2last = Transforms.rollingAvgBucketed(3, 3600L, c)(df)
      .filter($"sensor_id" === "s2" && $"timestamp" === ts("2023-06-01 13:30:00"))
      .select("rolling_avg_value").as[Double].head()
    assert(s2last === 60.0)
  }

  test("W1 bucketed rolling plan sorts per (key, bucket), tails pruned pre-shuffle") {
    // The scale property itself, pinned on the physical plan: the big
    // windows (the exact kernel's running sums and their lags) partition
    // on (key, __bkt) — never on the bare key, which would re-create
    // the full-history sort — and the carried-tails row_number is
    // WindowGroupLimit-pruned so at most windowRows-1 rows per
    // (key, bucket) reach the carry shuffle.
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 20.0, 90.0),
      ("s1", "2023-06-01 11:00:00", "temperature", 22.0, 90.0))
    val plan = Transforms.rollingAvgBucketed(168, 21600L, c)(df)
      .queryExecution.executedPlan.toString
    val windowLines = plan.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("__ra_"))
      .toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("__bkt")),
      "rolling window must partition by the coarse bucket")
    // WindowGroupLimit only materializes over a real (file) source —
    // assert it on the oracle query's plan, same executor over parquet.
    val q166 = graft.queries.CoreQueries
      .queries("q166_rolling_bucketed")(spark, "/root/testdata/sf0.001")
    assert(q166.queryExecution.executedPlan.toString
      .contains("WindowGroupLimit"),
      "carried tails must be pruned before the carry shuffle")
  }

  test("A1 daily average is per (sensor, type, date)") {
    val df = Transforms.deriveDate(c)(readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 20.0, 90.0),
      ("s1", "2023-06-01 11:00:00", "temperature", 30.0, 90.0),
      ("s1", "2023-06-02 10:00:00", "temperature", 50.0, 90.0)))
    val out = Transforms.dailyAvg(df)
      .orderBy("timestamp").select("daily_avg_value").as[Double].collect()
    assert(out.toSeq === Seq(25.0, 25.0, 50.0))
  }

  test("A3 z-score uses population stddev and skips n<=1 and sigma=0 groups") {
    val base = (1 to 20).map(i =>
      ("s1", f"2023-06-01 ${i % 24}%02d:00:00", "temperature", 10.0, 90.0: java.lang.Double))
    val df = readings(base ++ Seq(
      ("s1", "2023-06-02 01:00:00", "temperature", 1000.0, 90.0: java.lang.Double), // outlier
      ("s1", "2023-06-02 02:00:00", "single", 5.0, 90.0: java.lang.Double), // n=1 group
      ("s2", "2023-06-02 03:00:00", "constant", 7.0, 90.0: java.lang.Double),
      ("s2", "2023-06-02 04:00:00", "constant", 7.0, 90.0: java.lang.Double)): _*) // sigma=0
    val out = Transforms.zscoreFlag(3.0, c)(df)
    val flagged = out.filter($"zscore_anomaly").select("value").as[Double].collect()
    assert(flagged.toSeq === Seq(1000.0))
  }

  test("P7 range flag respects per-type bounds; unknown types never flag") {
    val ranges = Map("temperature" -> ValueRange(-50.0, 60.0))
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 61.0, 90.0),
      ("s1", "2023-06-01 10:00:00", "temperature", 60.0, 90.0),
      ("s1", "2023-06-01 10:00:00", "other", 1e9, 90.0))
    val out = Transforms.rangeFlag(ranges, c)(df)
      .orderBy("value").select("range_anomaly").as[Boolean].collect()
    assert(out.toSeq === Seq(false, true, false))
  }

  test("P9 outlier mode: remove filters flagged rows, flag keeps them") {
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 61.0, 90.0),
      ("s1", "2023-06-01 11:00:00", "temperature", 20.0, 90.0))
      .withColumn("anomalous_reading", $"value" > 60)
    assert(Transforms.applyOutlierMode("remove")(df).count() === 1)
    assert(Transforms.applyOutlierMode("flag")(df).count() === 2)
    assert(Transforms.applyOutlierMode("bogus")(df).count() === 2)
  }

  test("full transform pipeline produces the derived schema") {
    val cfg = PipelineConfig.default
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 25.5, 95.0),
      ("s1", "2023-06-01 11:00:00", "temperature", 24.8, 94.0),
      ("s2", "2023-06-01 10:00:00", "humidity", 65.2, 88.0))
    val out = Transforms.pipeline(cfg)(df)
    val cols = out.columns.toSet
    assert(Set("date", "daily_avg_value", "rolling_avg_value",
      "anomalous_reading").subsetOf(cols))
    assert(out.count() === 3)
  }

  test("plan pin: the transform pipeline scans the raw files once; the " +
    "z-score stats and the global battery median reuse the dedup exchange") {
    // 3 sensors x 2 types, hourly over two day files, with a duplicate
    // row, a null battery (imputed) and a null value (dropped), so no
    // stage comes out empty and AQE prunes no branch.
    val raw = tempDir("graft-tf-raw")
    for (day <- Seq("01", "02")) {
      val rows = for (s <- 1 to 3; typ <- Seq("temperature", "humidity");
          h <- 0 until 24) yield (s"s$s", ts(f"2023-06-$day $h%02d:00:00"), typ,
        Option(20.0 + (s * h) % 7), Option(90.0 - h).filter(_ => h != 5 || s != 2))
      val withEdges = rows :+ rows.head :+
        rows.last.copy(_4 = None: Option[Double])
      withEdges.toDF("sensor_id", "timestamp", "reading_type", "value",
        "battery_level").coalesce(1).write.parquet(raw.resolve(day).toString)
      val part = Files.list(raw.resolve(day)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, raw.resolve(s"2023-06-$day.parquet"))
    }
    val in = ParquetIngestor.ingest(spark, raw.toString, Schemas.raw,
      incremental = false).data.get
    val out = Transforms.pipeline(PipelineConfig.default)(in)
    val Seq((_, qe)) = actionsOf(
      out.write.format("noop").mode("overwrite").save())
    val leaves = leafScans(qe.executedPlan)
    // the final plan, its scalar subquery included
    assert(leaves.sorted ===
      Seq("FileSourceScanExec", "ReusedExchangeExec", "ReusedExchangeExec"))
  }
}
