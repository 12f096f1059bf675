package graft.validate

import java.nio.charset.StandardCharsets
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.config.{PipelineConfig, ReadingCols}
import graft.model._
import graft.transform.Transforms

/** Data-quality validation suite: the DuckDB SQL queries of the
  * reference's ValidationComponent (src/components/validation.py),
  * answered by `collectMetrics` in two Spark actions (one per-pair
  * aggregate; one gap pass, a single window over the distinct observed
  * hours feeding a per-pair aggregate) whose collected rows it assembles into
  * QualityMetrics/ValidationResult. It is the one implementation of
  * each rule; tools/validation_oracle.py transcribes the reference's
  * SQL in DuckDB, and ValidationSpec checks `collectMetrics` against it.
  * Every stage reads the reference's fixed record:
  * [[ReadingCols.sensor]] plus battery_level.
  */
object Validation {

  private val sensor = ReadingCols.sensor
  private val battery = "battery_level"

  /** W2+J2+J3+A7 — the gap rule: per (sensor, type) count + first/last
    * missing grid instant (reference validation.py:247-316). Logically,
    * DISTINCT (sensor, type) x generate_series(min_ts, max_ts, f hours)
    * LEFT JOINed to the observed hours: a grid row is missing when no
    * reading of the pair shares its hour-truncated slot, and a null key
    * never matches. The grid instants are min_ts + k*f hours — they carry
    * min_ts's sub-hour offset. `withBounds` attaches the grid bounds to a
    * frame as the columns min_ts and max_ts; with no non-null timestamp
    * there is no grid, so there are no rows.
    *
    * Physically the grid is NEVER materialized — at 100 TB, pairs x
    * hours is trillions of rows. One lead() window over the distinct
    * observed (sensor, type, hour) rows feeds one per-pair aggregate. An
    * hour counts only when it is on the grid and both keys are non-null;
    * any other (off-grid, null ts, null key) is no observation and sorts
    * last. A pair misses the grid size minus its counted hours. Its first
    * missing instant is the grid start when its first counted hour is
    * later (or it has none), else the hour after its first interior or
    * trailing gap; the last is the mirror. Pairs missing nothing drop
    * out. Unordered; [[collectMetrics]] passes its bounds as literals,
    * catalogue q13 as an hour-truncated aggregate. */
  private[graft] def gapTotals(
      frequencyHours: Int,
      withBounds: DataFrame => DataFrame)(df: DataFrame): DataFrame = {
    val stepUs = frequencyHours * 3600000000L
    // Epoch micros throughout: min_h is the hour-truncated min_ts (the
    // grid anchor), offset_us min_ts's sub-hour part, top_h the anchor of
    // the last grid instant <= max_ts, c the counted hour.
    val (minH, topH, h, c, next) =
      (col("min_h"), col("top_h"), col("h"), col("c"), col("next_c"))
    val hours = withBounds(df
      .select(col(sensor.id), col(sensor.typ),
        date_trunc("hour", col(sensor.ts)).as("h"))
      .distinct())
      .withColumn("min_h", unix_micros(date_trunc("hour", col("min_ts"))))
      .withColumn("offset_us", unix_micros(col("min_ts")) - minH)
      .withColumn("top_h", minH + floor(
        (unix_micros(col("max_ts")) - unix_micros(col("min_ts"))) / stepUs)
        .cast("long") * stepUs)
      .withColumn("h", unix_micros(h))
      .withColumn("c", when(col(sensor.id).isNotNull &&
        col(sensor.typ).isNotNull && h <= topH && (h - minH) % stepUs === 0, h))
    val byHour = Window.partitionBy(col(sensor.id), col(sensor.typ))
      .orderBy(c.asc_nulls_last)
    val (lo, hi) = (col("lo"), col("hi"))
    def instant(us: Column): Column = timestamp_micros(us + col("offset_us"))
    hours
      .withColumn("next_c", lead(c, 1).over(byHour))
      .groupBy(col(sensor.id), col(sensor.typ), minH, topH, col("offset_us"))
      .agg(
        count(c).as("n"), min(c).as("lo"), max(c).as("hi"),
        // the first hour of each gap after a counted hour
        min(when(coalesce(next - stepUs, topH) > c, c + stepUs)).as("start"),
        // the last hour of each interior gap
        max(when(next - stepUs > c, next - stepUs)).as("end"))
      .select(col(sensor.id), col(sensor.typ),
        ((topH - minH) / stepUs).cast("long") + 1L - col("n") as "missing_hours",
        instant(when(lo.isNull || lo > minH, minH).otherwise(col("start")))
          .as("first_missing"),
        instant(when(hi.isNull || hi < topH, topH)
          .otherwise(greatest(col("end"), when(lo > minH, lo - stepUs))))
          .as("last_missing"))
      .filter(col("missing_hours") > 0)
  }

  /** A12 — quality score: 100 minus capped penalties
    * (reference validation.py:616-644, duplicated loading.py:305-336). */
  def qualityScore(
      missing: Seq[TypeProfile],
      anomalies: Seq[TypeProfile],
      totalGapHours: Long,
      cfg: PipelineConfig): Double = {
    val missingPenalty = missing.map(p =>
      math.min(p.percentage, cfg.validation.maxMissingPercentage)).sum
    val anomalyPenalty = anomalies.map(p =>
      math.min(p.percentage, cfg.validation.maxAnomalyPercentage)).sum
    val gapPenalty = math.min(2.0 * totalGapHours, 30.0)
    math.max(0.0, 100.0 - missingPenalty - anomalyPenalty - gapPenalty)
  }

  /** A13 — threshold assessment (reference validation.py:448-485). The
    * reference formats these texts in Python, so a null key reads None. */
  def assess(
      missing: Seq[TypeProfile],
      anomalies: Seq[TypeProfile],
      gaps: Seq[SensorGap],
      cfg: PipelineConfig): Seq[String] = {
    def key(k: String): String = if (k == null) "None" else k
    val issues = Seq.newBuilder[String]
    missing.filter(_.percentage > cfg.validation.maxMissingPercentage).foreach(p =>
      issues += s"High missing values for ${key(p.readingType)}: ${p.percentage}%")
    anomalies.filter(_.percentage > cfg.validation.maxAnomalyPercentage).foreach(p =>
      issues += s"High anomaly rate for ${key(p.readingType)}: ${p.percentage}%")
    gaps.filter(_.missingHours > cfg.validation.maxGapHours).foreach(g =>
      issues += s"Data gap for ${key(g.sensorId)}/${key(g.readingType)}: " +
        s"${g.missingHours} missing hours")
    issues.result()
  }

  /** One (sensor, type) pair's share of every count, bound and partial
    * sum the suite reports: a row of [[collectMetrics]]'s first action. */
  private final case class PairStats(
      id: Any,
      typ: String,
      rows: Long,
      nullTimestamps: Long,
      nullValues: Long,
      nullBatteries: Long,
      batteryViolations: Long,
      rangeViolations: Long,
      minTs: Timestamp,
      maxTs: Timestamp,
      valueSum: Double,
      values: Long,
      batterySum: Double,
      batteries: Long,
      flagged: Long,
      anomalous: Long)

  /** Spark's ascending order on a grouping key: nulls first, strings by
    * their UTF-8 bytes (Java's String order is UTF-16's). */
  private val keyOrder: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: String, y: String) =>
        UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
      case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
  }

  /** The profiles' order: percentage descending, then type. */
  private val profileOrder: Ordering[TypeProfile] =
    Ordering.by[TypeProfile, Double](_.percentage)(Ordering.Double.TotalOrdering).reverse
      .orElseBy(_.readingType: Any)(keyOrder)

  /** DuckDB's `ROUND(x, scale)` on a double, which the reference's SQL
    * rounds with: x * 10^scale rounded half away from zero in double
    * arithmetic, then divided by 10^scale; x itself when that overflows.
    * A decimal tie that is not exact in binary can round down: 1.025
    * times 100 is 102.49999999999999, so it rounds to 1.02. */
  private def roundHalfAway(x: Double, scale: Int): Double = {
    val m = math.pow(10, scale)
    val a = math.abs(x * m)
    val whole = math.floor(a)
    val r = math.copySign(if (a - whole >= 0.5) whole + 1 else whole, x) / m
    if (r.isNaN || r.isInfinite) x else r
  }

  /** `ROUND(100.0 * affected / total, 2)` in double arithmetic. */
  private def percentage(affected: Long, total: Long): Double =
    roundHalfAway(100.0 * affected / total, 2)

  /** Earliest/latest of the non-null timestamps, None when all are null. */
  private def earliest(ts: Seq[Timestamp]): Option[Timestamp] =
    ts.filter(_ != null).reduceOption((a, b) => if (b.before(a)) b else a)
  private def latest(ts: Seq[Timestamp]): Option[Timestamp] =
    ts.filter(_ != null).reduceOption((a, b) => if (b.after(a)) b else a)

  /** Run the full suite in two Spark actions over `df` (persist it when
    * loading follows: both stages consume it).
    *
    * Action 1 is one aggregate per (sensor, type) pair (row, null and
    * violation counts, timestamp bounds, value/battery partial sums,
    * anomaly-flag counts), collected as one row per pair. The driver
    * rolls those rows up into the scalars (P8, A4-A6, A11), the
    * missing/anomaly profiles (A8, A9), the coverage (A10) and the grid
    * bounds; it adds the partial sums in (sensor, type) order and rounds
    * like the reference's DuckDB `ROUND` (half away from zero of
    * x * 10^scale in double arithmetic).
    * Action 2 is the gap pass (A7) over those bounds as literals; it is
    * skipped when no timestamp is non-null (no grid, no gaps). Score and
    * assessment (A12, A13) are driver-side. */
  def collectMetrics(cfg: PipelineConfig)(df: DataFrame): ValidationResult = {
    val br = cfg.batteryRange
    val hasFlag = df.columns.contains("anomalous_reading")
    val flag = col("anomalous_reading")
    val pairs = df.groupBy(col(sensor.id), col(sensor.typ))
      .agg(
        count(lit(1)),
        count(when(col(sensor.ts).isNull, 1)),
        count(when(col(sensor.value).isNull, 1)),
        count(when(col(battery).isNull, 1)),
        count(when(col(battery) < br.min || col(battery) > br.max, 1)),
        count(when(Transforms.outOfRange(cfg.ranges, sensor), 1)),
        min(col(sensor.ts)),
        max(col(sensor.ts)),
        sum(col(sensor.value).cast("double")),
        count(col(sensor.value)),
        sum(col(battery).cast("double")),
        count(col(battery)),
        if (hasFlag) count(flag) else lit(0L),
        if (hasFlag) count(when(flag, 1)) else lit(0L))
      .collect().toSeq
      .map { r =>
        def partial(i: Int): Double = if (r.isNullAt(i)) 0.0 else r.getDouble(i)
        PairStats(r.get(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
          r.getTimestamp(8), r.getTimestamp(9), partial(10), r.getLong(11),
          partial(12), r.getLong(13), r.getLong(14), r.getLong(15))
      }
      .sorted(Ordering.by[PairStats, Any](_.id)(keyOrder)
        .orElseBy(_.typ: Any)(keyOrder))

    val byType = pairs.groupBy(_.typ).toSeq
    val missing = byType.map { case (typ, ps) =>
      val total = ps.map(_.rows).sum
      val affected = ps.map(_.nullValues).sum
      TypeProfile(typ, total, affected, percentage(affected, total))
    }.sorted(profileOrder)
    // Types with no non-null flag (every type without the column) drop out.
    val anomalies = byType.flatMap { case (typ, ps) =>
      val total = ps.map(_.flagged).sum
      val affected = ps.map(_.anomalous).sum
      if (total == 0) None
      else Some(TypeProfile(typ, total, affected, percentage(affected, total)))
    }.sorted(profileOrder)
    val coverage = pairs.groupBy(_.id).toSeq
      .map { case (id, ps) =>
        val batteries = ps.map(_.batteries).sum
        (id, SensorCoverage(String.valueOf(id), ps.count(_.typ != null),
          ps.map(_.rows).sum,
          earliest(ps.map(_.minTs)).orNull, latest(ps.map(_.maxTs)).orNull,
          if (batteries == 0) None
          else Some(roundHalfAway(ps.map(_.batterySum).sum / batteries, 1))))
      }
      .sorted(Ordering.by[(Any, SensorCoverage), Long](_._2.totalReadings).reverse
        .orElseBy(_._1)(keyOrder))
      .map(_._2)

    val minTs = earliest(pairs.map(_.minTs))
    val maxTs = latest(pairs.map(_.maxTs))
    // No non-null timestamp: no grid, so no gap pass.
    val gaps = (for (lo <- minTs; hi <- maxTs) yield
      gapTotals(cfg.validation.expectedFrequencyHours,
        _.withColumn("min_ts", lit(lo)).withColumn("max_ts", lit(hi)))(df)
        .collect().toSeq
        .sorted(Ordering.by[Row, Long](_.getLong(2)).reverse
          .orElseBy(_.get(0))(keyOrder).orElseBy(_.getString(1): Any)(keyOrder))
        .map(r => SensorGap(Option(r.get(0)).map(String.valueOf).orNull,
          r.getString(1), r.getLong(2), r.getTimestamp(3), r.getTimestamp(4))))
      .getOrElse(Nil)

    val totalGapHours = gaps.map(_.missingHours).sum
    val score = qualityScore(missing, anomalies, totalGapHours, cfg)
    val issues = assess(missing, anomalies, gaps, cfg)
    val values = pairs.map(_.values).sum
    val batteries = pairs.map(_.batteries).sum

    val metrics = QualityMetrics(
      totalRecords = pairs.map(_.rows).sum,
      nullTimestamps = pairs.map(_.nullTimestamps).sum,
      invalidValues = pairs.map(_.nullValues).sum,
      invalidBatteries = pairs.map(_.nullBatteries).sum,
      rangeViolations = cfg.ranges.keys.map(typ =>
        typ -> pairs.filter(_.typ == typ).map(_.rangeViolations).sum).toMap,
      batteryViolations = pairs.map(_.batteryViolations).sum,
      distinctSensors = pairs.map(_.id).filter(_ != null).distinct.size.toLong,
      timeRange = (minTs.orNull, maxTs.orNull),
      missingProfile = missing,
      anomalyProfile = anomalies,
      coverage = coverage,
      gaps = gaps,
      totalMissingHours = totalGapHours,
      avgValue = if (values == 0) Double.NaN
        else roundHalfAway(pairs.map(_.valueSum).sum / values, 2),
      avgBattery = if (batteries == 0) Double.NaN
        else roundHalfAway(pairs.map(_.batterySum).sum / batteries, 1))

    ValidationResult(
      passed = issues.isEmpty,
      totalRecords = metrics.totalRecords,
      issuesFound = issues,
      qualityScore = score,
      metrics = Some(metrics))
  }

  /** S10 — long-format data-quality report (reference validation.py:487-595):
    * one row per (category, metric, value). */
  private[graft] def reportLines(result: ValidationResult): Seq[(String, String, String)] = {
    val m = result.metrics.get
    val rows = Seq.newBuilder[(String, String, String)]
    rows += (("overall", "total_records", m.totalRecords.toString))
    rows += (("overall", "quality_score", result.qualityScore.toString))
    rows += (("overall", "passed", result.passed.toString))
    rows += (("overall", "distinct_sensors", m.distinctSensors.toString))
    rows += (("overall", "avg_value", m.avgValue.toString))
    rows += (("overall", "avg_battery", m.avgBattery.toString))
    m.missingProfile.foreach(p =>
      rows += (("missing_values", p.readingType, s"${p.percentage}")))
    m.anomalyProfile.foreach(p =>
      rows += (("anomalies", p.readingType, s"${p.percentage}")))
    rows += (("time_gaps", "total_missing_hours", m.totalMissingHours.toString))
    m.gaps.foreach(g =>
      rows += (("time_gaps", s"${g.sensorId}/${g.readingType}", g.missingHours.toString)))
    m.coverage.foreach(cv =>
      rows += (("sensor_coverage", cv.sensorId, cv.totalReadings.toString)))
    result.issuesFound.foreach(i => rows += (("issues", "issue", i)))
    rows.result()
  }

  /** S10 sink — one stable CSV file at `path` (reference
    * reports/data_quality_report.csv), written on the driver through
    * the path's Hadoop FileSystem, no Spark job. Header, then one line
    * per report row, quoted as pandas writes RFC 4180: a field holding
    * a comma, quote or line break is quoted with inner quotes doubled;
    * null is empty. A directory left at `path` by an older run is
    * replaced. */
  def writeReport(result: ValidationResult, path: String)(
      implicit spark: SparkSession): Unit = {
    def field(v: String): String =
      if (v == null) ""
      else if (v.exists(ch => ch == ',' || ch == '"' || ch == '\n' || ch == '\r'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    val csv = (("category", "metric", "value") +: reportLines(result))
      .map { case (c, m, v) => Seq(c, m, v).map(field).mkString("", ",", "\n") }
      .mkString
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) fs.delete(p, true)
    val out = fs.create(p, true)
    try out.write(csv.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
