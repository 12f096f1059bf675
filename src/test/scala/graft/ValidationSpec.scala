package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.model.{QualityMetrics, SensorCoverage, SensorGap, TypeProfile, ValidationResult}
import graft.validate.Validation

class ValidationSpec extends SparkSpec with PlanPins with TempPaths {
  import spark.implicits._

  private val cfg = PipelineConfig.default

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def readings(rows: (String, String, String, Double)*) =
    rows.toSeq.map { case (id, t, typ, v) => (id, ts(t), typ, v, 90.0) }
      .toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level")

  private type Reading =
    (String, Option[Timestamp], String, Option[Double], Option[Double], Option[Boolean])

  /** One reading; a null `t` is a null timestamp. */
  private def row(
      id: String, t: String, typ: String,
      value: Option[Double] = Some(20.0),
      battery: Option[Double] = Some(90.0),
      flag: Option[Boolean] = Some(false)): Reading =
    (id, Option(t).map(ts), typ, value, battery, flag)

  private def frame(rows: Reading*): DataFrame =
    rows.toSeq.toDF("sensor_id", "timestamp", "reading_type", "value",
      "battery_level", "anomalous_reading")

  /** The oracle's answer for one validation case as a ValidationResult:
    * timestamps come as epoch microseconds, a missing average as null.
    * A null key stays null in profiles and gaps, as the engine keeps it;
    * coverage prints it as text. */
  private def fromOracle(r: JsonNode): ValidationResult = {
    val m = r.get("metrics")
    def list(n: JsonNode) = n.elements.asScala.toSeq
    def key(n: JsonNode) = if (n.isNull) null else n.asText
    def stamp(n: JsonNode) =
      if (n.isNull) null else DateTimeUtils.toJavaTimestamp(n.asLong)
    def avg(n: JsonNode) = if (n.isNull) Double.NaN else n.asDouble
    def profile(name: String) = list(m.get(name)).map(p =>
      TypeProfile(key(p.get(0)), p.get(1).asLong, p.get(2).asLong, p.get(3).asDouble))
    val range = m.get("time_range")
    ValidationResult(
      passed = r.get("passed").asBoolean,
      totalRecords = r.get("total_records").asLong,
      issuesFound = list(r.get("issues_found")).map(_.asText),
      qualityScore = r.get("quality_score").asDouble,
      metrics = Some(QualityMetrics(
        totalRecords = m.get("total_records").asLong,
        nullTimestamps = m.get("null_timestamps").asLong,
        invalidValues = m.get("invalid_values").asLong,
        invalidBatteries = m.get("invalid_batteries").asLong,
        rangeViolations = m.get("range_violations").properties.asScala
          .map(e => e.getKey -> e.getValue.asLong).toMap,
        batteryViolations = m.get("battery_violations").asLong,
        distinctSensors = m.get("distinct_sensors").asLong,
        timeRange = (stamp(range.get(0)), stamp(range.get(1))),
        missingProfile = profile("missing_profile"),
        anomalyProfile = profile("anomaly_profile"),
        coverage = list(m.get("coverage")).map(c =>
          SensorCoverage(c.get(0).asText, c.get(1).asLong, c.get(2).asLong,
            stamp(c.get(3)), stamp(c.get(4)),
            if (c.get(5).isNull) None else Some(c.get(5).asDouble))),
        gaps = list(m.get("gaps")).map(g =>
          SensorGap(key(g.get(0)), key(g.get(1)), g.get(2).asLong,
            stamp(g.get(3)), stamp(g.get(4)))),
        totalMissingHours = m.get("total_missing_hours").asLong,
        avgValue = avg(m.get("avg_value")),
        avgBattery = avg(m.get("avg_battery")))))
  }

  /** Result equality with the two averages compared as the report
    * prints them: an empty frame's NaN is not == itself. */
  private def comparable(r: ValidationResult) =
    (r.copy(metrics = r.metrics.map(_.copy(avgValue = 0, avgBattery = 0))),
      r.metrics.map(m => (m.avgValue.toString, m.avgBattery.toString)))

  test("gap detection: hourly grid anti-join counts missing hours") {
    // s1/temperature present at 10:00, 12:00, 14:00 over a 10:00-14:00
    // span -> missing 11:00 and 13:00
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 1.0),
      ("s1", "2023-06-01 12:00:00", "temperature", 1.0),
      ("s1", "2023-06-01 14:00:00", "temperature", 1.0))
    val gaps = Validation.collectMetrics(cfg)(df).metrics.get.gaps
    assert(gaps.length === 1)
    assert(gaps.head.missingHours === 2) // 11:00 and 13:00
  }

  test("gap detection: per-pair grid (two sensors, disjoint hours)") {
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 1.0),
      ("s2", "2023-06-01 12:00:00", "temperature", 1.0))
    // span 10:00-12:00, grid 3 hours x 2 pairs; s1 missing 11,12; s2 missing 10,11
    val gaps = Validation.collectMetrics(cfg)(df).metrics.get.gaps
      .sortBy(_.sensorId)
    assert(gaps.map(g => (g.sensorId, g.missingHours)) ===
      Seq(("s1", 2L), ("s2", 2L)))
  }

  test("gap detection: the gap rule's plan (q13) materializes no grid") {
    val plan = SparkEntry.queries("q13_gap_report")(spark, q13Dir)
      .queryExecution.optimizedPlan.toString.toLowerCase
    // the aggregate path works on gap RANGES only: the hour-grid
    // generator (sequence + explode of pairs x hours — trillions of
    // rows at 100 TB) must never appear. The one explode present has
    // constant fan-out (<= 3 candidate ranges per observed row).
    assert(!plan.contains("sequence("), plan)
  }

  test("quality score: penalties capped, floor at zero") {
    val noIssues = Validation.qualityScore(Nil, Nil, 0, cfg)
    assert(noIssues === 100.0)
    val missing = Seq(TypeProfile("t", 100, 50, 50.0)) // capped at 20
    val anomalies = Seq(TypeProfile("t", 100, 50, 50.0)) // capped at 10
    val scored = Validation.qualityScore(missing, anomalies, 100, cfg)
    // 100 - 20 - 10 - min(200,30) = 40
    assert(scored === 40.0)
    val floor = Validation.qualityScore(
      Seq.fill(5)(TypeProfile("t", 100, 100, 100.0)),
      Seq.fill(5)(TypeProfile("t", 100, 100, 100.0)), 1000, cfg)
    assert(floor === 0.0)
  }

  test("threshold assessment flags only above-threshold profiles") {
    val missing = Seq(
      TypeProfile("ok", 100, 10, 10.0),
      TypeProfile("bad", 100, 30, 30.0))
    val anomalies = Seq(TypeProfile("worse", 100, 20, 20.0))
    val gaps = Seq(SensorGap("s1", "t", 5,
      ts("2023-06-01 00:00:00"), ts("2023-06-01 05:00:00")))
    val issues = Validation.assess(missing, anomalies, gaps, cfg)
    assert(issues.length === 3)
    assert(issues.exists(_.contains("bad")))
    assert(issues.exists(_.contains("worse")))
    assert(issues.exists(_.contains("s1/t")))
  }

  test("collectMetrics assembles a full ValidationResult") {
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 25.0),
      ("s1", "2023-06-01 11:00:00", "temperature", 26.0),
      ("s2", "2023-06-01 10:00:00", "humidity", 60.0))
      .withColumn("anomalous_reading", lit(false))
    val res = Validation.collectMetrics(cfg)(df)
    assert(res.totalRecords === 3)
    val m = res.metrics.get
    assert(m.distinctSensors === 2)
    assert(m.missingProfile.map(_.readingType).toSet === Set("temperature", "humidity"))
    assert(m.anomalyProfile.forall(_.affected === 0))
    // s2/humidity missing at 11:00 -> 1 gap hour
    assert(m.totalMissingHours === 1)
    assert(res.qualityScore === 100.0 - 2.0) // one gap hour -> penalty 2
  }

  test("collectMetrics runs at most two Spark actions") {
    val df = readings(
      ("s1", "2023-06-01 10:00:00", "temperature", 25.0),
      ("s1", "2023-06-01 12:00:00", "temperature", 26.0),
      ("s2", "2023-06-01 10:00:00", "humidity", 60.0))
      .withColumn("anomalous_reading", lit(false))
    val ran = actionsOf(Validation.collectMetrics(cfg)(df)).map(_._1)
    assert(ran.size <= 2, ran)
  }

  test("plan pin: collectMetrics' gap action reads the persisted frame once") {
    // s2 has no on-grid hour: a branch for such pairs would have rows,
    // so AQE could not prune it from the final plan.
    val df = frame(
      row("s1", "2023-06-01 10:00:00", "temperature"),
      row("s1", "2023-06-01 12:00:00", "temperature"),
      row("s2", null, "humidity"))
      .persist()
    try {
      val gapActions = actionsOf(Validation.collectMetrics(cfg)(df))
        .filter(_._1.split(",").contains("missing_hours"))
      assert(gapActions.size === 1, gapActions.map(_._1))
      val plan = gapActions.head._2.executedPlan
      assert(leafScans(plan) ===
        Seq(classOf[InMemoryTableScanExec].getSimpleName), plan)
    } finally df.unpersist()
  }

  test("plan pin: q13 scans events at most twice and runs no anti join") {
    val q = SparkEntry.queries("q13_gap_report")(spark, q13Dir)
    q.collect()
    val plan = q.queryExecution.executedPlan
    assert(leafScans(plan)
      .count(_ == classOf[FileSourceScanExec].getSimpleName) <= 2, plan)
    assert(collect(plan) {
      case j: BaseJoinExec if j.joinType == LeftAnti => j }.isEmpty, plan)
  }

  test("collectMetrics: no non-null timestamp means no grid and no gaps") {
    val allNull = frame(
      row("s1", null, "temperature"),
      row("s2", null, "humidity"))
    val m = Validation.collectMetrics(cfg)(allNull).metrics.get
    assert(m.totalRecords === 2 && m.nullTimestamps === 2)
    assert(m.timeRange === ((null, null)))
    assert(m.gaps.isEmpty && m.totalMissingHours === 0)
    // A pair whose own timestamps are all null, beside pairs that have
    // some, still misses its whole grid (10:00-12:00).
    val mixed = frame(
      row("s1", "2023-06-01 10:00:00", "temperature"),
      row("s1", "2023-06-01 12:00:00", "temperature"),
      row("s2", null, "humidity"))
    val gaps = Validation.collectMetrics(cfg)(mixed).metrics.get.gaps
    assert(gaps.map(g => (g.sensorId, g.readingType, g.missingHours)) ===
      Seq(("s2", "humidity", 3L), ("s1", "temperature", 1L)))
  }

  /** The parity table: (name, config, frame). */
  private lazy val parityCases: Seq[(String, PipelineConfig, DataFrame)] = {
    val twoHourly = cfg.copy(validation = cfg.validation.copy(expectedFrequencyHours = 2))
    val mixed = frame(
      row("s1", "2023-06-01 10:00:00", "temperature", Some(25.0)),
      row("s1", "2023-06-01 11:00:00", "temperature", Some(70.0), flag = Some(true)),
      row("s1", "2023-06-01 14:00:00", "temperature", Some(26.5)),
      row("s1", "2023-06-01 12:00:00", "humidity", Some(-5.0),
        battery = Some(120.0), flag = Some(true)),
      row("s2", "2023-06-01 10:00:00", "humidity", Some(60.0), battery = Some(-1.0)),
      row("s2", "2023-06-01 13:00:00", "humidity", Some(61.25)),
      row("s3", "2023-06-01 11:00:00", "temperature", Some(30.0), battery = Some(55.5)))
    Seq(
      ("hourly", cfg, mixed),
      ("two-hourly", twoHourly, mixed),
      // min_ts at 10:30: s2's hours are all off the 2-hour grid, s3 is
      // at 12:15
      ("min_ts at 10:30", twoHourly, frame(
        row("s1", "2023-06-01 10:30:00", "temperature"),
        row("s1", "2023-06-01 12:00:00", "temperature"),
        row("s1", "2023-06-01 16:00:00", "temperature"),
        row("s2", "2023-06-01 11:00:00", "humidity"),
        row("s2", "2023-06-01 13:00:00", "humidity"),
        row("s3", "2023-06-01 12:15:00", "temperature"))),
      ("null-timestamp pair", cfg, frame(
        row("s1", "2023-06-01 10:00:00", "temperature"),
        row("s1", "2023-06-01 12:00:00", "temperature"),
        row("s2", null, "humidity"),
        row("s2", null, "humidity"))),
      ("no timestamps", cfg, frame(
        row("s1", null, "temperature"),
        row("s2", null, "humidity"))),
      ("null values", cfg, frame(
        row("s1", "2023-06-01 10:00:00", "temperature", None),
        row("s1", "2023-06-01 11:00:00", "temperature", Some(21.5)),
        row("s2", "2023-06-01 10:00:00", "humidity", None),
        row("s2", "2023-06-01 11:00:00", "humidity", None))),
      ("a sensor without batteries", cfg, frame(
        row("s1", "2023-06-01 10:00:00", "temperature", battery = Some(80.25)),
        row("s2", "2023-06-01 10:00:00", "humidity", battery = None),
        row("s2", "2023-06-01 11:00:00", "temperature", battery = None))),
      ("no batteries at all", cfg, frame(
        row("s1", "2023-06-01 10:00:00", "temperature", battery = None))),
      ("null anomaly flags", cfg, frame(
        row("s1", "2023-06-01 10:00:00", "temperature", flag = None),
        row("s1", "2023-06-01 11:00:00", "temperature", flag = Some(true)),
        row("s1", "2023-06-01 12:00:00", "temperature", flag = Some(false)),
        row("s2", "2023-06-01 10:00:00", "humidity", flag = None))),
      ("no anomaly column", cfg, mixed.drop("anomalous_reading")),
      ("unranged type", cfg, frame(
        row("s1", "2023-06-01 10:00:00", "pressure", Some(1013.0)),
        row("s1", "2023-06-01 11:00:00", "pressure", Some(-5.0)),
        row("s1", "2023-06-01 10:00:00", "temperature", Some(99.0)))),
      // (null, temperature) has an interior gap among its on-grid hours
      // and (s2, null) one hour: a null key never matches the grid, so
      // both miss all five hours, past max_gap_hours.
      ("null keys", cfg, frame(
        row("s1", "2023-06-01 10:00:00", "temperature"),
        row("s1", "2023-06-01 14:00:00", "temperature"),
        row(null, "2023-06-01 10:00:00", "temperature"),
        row(null, "2023-06-01 12:00:00", "temperature"),
        row(null, "2023-06-01 13:00:00", "temperature"),
        row("s2", "2023-06-01 11:00:00", null))),
      // 100.0 * 41 / 4000 is 1.025, a decimal tie below it in binary:
      // DuckDB's ROUND gives 1.02.
      ("rounding tie", cfg, frame((1 to 4000).map(i =>
        row("s1", "2023-06-01 10:00:00", "temperature",
          if (i <= 41) None else Some(20.0))): _*)),
      ("empty", cfg, frame()))
  }

  private val zones = Seq("UTC", "Asia/Kolkata")

  /** q13's null-timestamp and null-key input: (1, click) has hours 10:15
    * and 13:20 beside a null ts; (3, view) has only a null ts; (null,
    * click) has 11:20 and 12:20. */
  private lazy val q13Dir: String = {
    def ev(id: Long, t: String, user: Option[Long], typ: String) =
      (id, Option(t).map(ts), user, typ, 1.0, "{}")
    new java.io.File(PythonOracle.parquet(spark, Seq(
      ev(1, "2023-06-01 10:15:00", Some(1), "click"),
      ev(2, "2023-06-01 13:20:00", Some(1), "click"),
      ev(3, null, Some(1), "click"),
      ev(4, null, Some(3), "view"),
      ev(5, "2023-06-01 11:20:00", None, "click"),
      ev(6, "2023-06-01 12:20:00", None, "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      tempDir("graft-oracle"), "events")).getParent
  }

  /** Every case of this spec through the DuckDB oracle, in one run. */
  private lazy val oracle: Map[String, JsonNode] = PythonOracle.oracle(
    parityCases.flatMap { case (name, conf, df) =>
      val path = PythonOracle.parquet(spark, df, tempDir("graft-oracle"))
      zones.map(tz => PythonOracle.validation(s"$name under $tz", path, conf, tz))
    } :+ PythonOracle.sql("q13", Map("events" -> s"$q13Dir/events.parquet"),
      SparkEntry.oracleSql("q13_gap_report"), "UTC"))

  test("collectMetrics equals the DuckDB oracle's transcription of the " +
    "reference suite") {
    for (tz <- zones; (name, conf, df) <- parityCases)
      Session.withConf(spark, "spark.sql.session.timeZone" -> tz) {
        withClue(s"$name under $tz: ") {
          assert(comparable(Validation.collectMetrics(conf)(df)) ===
            comparable(fromOracle(oracle(s"$name under $tz"))))
        }
      }
  }

  test("q13 runs the production gap rule: a null ts is no observation") {
    // A null key matches no grid row either: (null, click) misses all four.
    val engine = Session.withConf(spark, "spark.sql.session.timeZone" -> "UTC") {
      SparkEntry.queries("q13_gap_report")(spark, q13Dir).collect().toSeq
    }.map(_.toSeq.map(String.valueOf))
    val duck = oracle("q13").get("rows").elements.asScala.toSeq
      .map(_.elements.asScala.toSeq.map(v => if (v.isNull) "null" else v.asText))
    def sorted(rows: Seq[Seq[String]]) = rows.sortBy(_.mkString(","))
    assert(sorted(engine) === sorted(duck))
    assert(sorted(engine) === Seq(
      Seq("1", "click", "2", "2023-06-01 11:00:00", "2023-06-01 12:00:00"),
      Seq("3", "view", "4", "2023-06-01 10:00:00", "2023-06-01 13:00:00"),
      Seq("null", "click", "4", "2023-06-01 10:00:00", "2023-06-01 13:00:00")))
  }

  test("report rows cover all categories") {
    val df = readings(("s1", "2023-06-01 10:00:00", "temperature", 25.0))
      .withColumn("anomalous_reading", lit(false))
    val res = Validation.collectMetrics(cfg)(df)
    val path = tempDir("graft-report").resolve("dq_report.csv")
    Validation.writeReport(res, path.toString)(spark)
    val cats = spark.read.option("header", "true").csv(path.toString)
      .select("category").distinct().as[String].collect().toSet
    assert(Set("overall", "missing_values", "anomalies",
      "sensor_coverage").subsetOf(cats))
  }

  test("report is one CSV file with RFC 4180 quoting, replacing a " +
    "directory an older run left at its path") {
    val odd = "s\"1,x"
    val df = readings((odd, "2023-06-01 10:00:00", "temperature", 25.0))
      .withColumn("anomalous_reading", lit(false))
    val res = Validation.collectMetrics(cfg)(df)
    val path = tempDir("graft-report").resolve("dq_report.csv")
    java.nio.file.Files.createDirectories(path.resolve("old"))
    java.nio.file.Files.write(path.resolve("old/part-0.csv"), "stale".getBytes)
    Validation.writeReport(res, path.toString)(spark)
    assert(java.nio.file.Files.isRegularFile(path))
    val lines = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      .split("\n", -1).toSeq
    assert(lines.head === "category,metric,value")
    assert(lines.last === "") // every line ends in \n
    assert(lines.contains("sensor_coverage,\"s\"\"1,x\",1"))
    assert(lines.contains("overall,total_records,1"))
    // the same rows as reportLines, read back by a CSV parser
    val back = spark.read.option("header", "true").option("escape", "\"")
      .csv(path.toString)
    assert(back.collect().map(_.toSeq).toSet ===
      Validation.reportLines(res).map { case (c, m, v) => Seq(c, m, v) }.toSet)
  }
}
