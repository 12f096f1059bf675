package graft.validate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.{PipelineConfig, ReadingCols, ValueRange}
import graft.model._

/** Data-quality validation suite: every DuckDB SQL query from the
  * reference's ValidationComponent (src/components/validation.py)
  * re-expressed as a lazy DataFrame aggregate. Each builder returns a
  * small DataFrame; `collectMetrics` triggers them and assembles the
  * driver-side QualityMetrics/ValidationResult.
  */
object Validation {

  /** W2+J2+J3 — per-pair maximal MISSING-hour ranges against the
    * reference's expected grid (validation.py:247-285): logically,
    * DISTINCT (sensor, type) x generate_series(min_ts, max_ts, f hours)
    * anti-joined with the observed hours. The grid instants are
    * min_ts + k*f hours — they carry min_ts's sub-hour offset, and a
    * grid row is missing when no observation shares its hour-truncated
    * slot.
    *
    * Physically the grid is NEVER materialized — at 100 TB, pairs x
    * hours is trillions of rows. Instead one lead() window over the
    * distinct observed hours per pair yields each maximal missing range
    * directly: interior gaps from consecutive observed hours more than
    * one step apart, plus the leading/trailing regions against the
    * global bounds. Output: one row per range —
    * (id, typ, start_h, end_h, offset_us) in hour-truncated space, with
    * the sub-hour grid offset carried for reconstruction. */
  private def missingRanges(
      frequencyHours: Int,
      cols: ReadingCols)(df: DataFrame): DataFrame = {
    val stepUs = frequencyHours * 3600000000L
    val step = expr(s"INTERVAL $frequencyHours HOUR")
    // Grid anchor = hour-truncated min_ts; offset = min_ts's sub-hour
    // part; top_h = anchor of the LAST grid instant <= max_ts.
    val bounds = df
      .agg(min(col(cols.ts)).as("min_ts"), max(col(cols.ts)).as("max_ts"))
      .select(
        date_trunc("hour", col("min_ts")).as("min_h"),
        (unix_micros(col("min_ts")) -
          unix_micros(date_trunc("hour", col("min_ts")))).as("offset_us"),
        timestamp_micros(
          unix_micros(date_trunc("hour", col("min_ts"))) +
            floor((unix_micros(col("max_ts")) - unix_micros(col("min_ts")))
              / stepUs).cast("long") * stepUs).as("top_h"))
    val observed = df
      .select(col(cols.id), col(cols.typ),
        date_trunc("hour", col(cols.ts)).as("h"))
      .distinct()
      .crossJoin(broadcast(bounds))
    // Observed hours that land on a grid slot (off-grid hours exist only
    // when min_ts is not step-aligned with the observation's hour).
    val onGrid = observed.filter(
      col("h") <= col("top_h") &&
        (unix_micros(col("h")) - unix_micros(col("min_h"))) % stepUs === 0)
    val wOrd = Window.partitionBy(col(cols.id), col(cols.typ)).orderBy(col("h"))
    val wAll = Window.partitionBy(col(cols.id), col(cols.typ))
      .orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranges = onGrid
      .withColumn("next_h", lead(col("h"), 1).over(wOrd))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("max_obs", max(col("h")).over(wAll))
      .select(col(cols.id), col(cols.typ), col("offset_us"),
        explode(array_compact(array(
          // leading region: grid start up to the first observed hour
          when(col("rn") === 1 && col("h") > col("min_h"),
            struct(col("min_h").as("start_h"), (col("h") - step).as("end_h"))),
          // interior gap after this observed hour
          when(col("next_h") > col("h") + step,
            struct((col("h") + step).as("start_h"),
              (col("next_h") - step).as("end_h"))),
          // trailing region: after the last observed hour to grid top
          when(col("next_h").isNull && col("max_obs") < col("top_h"),
            struct((col("max_obs") + step).as("start_h"),
              col("top_h").as("end_h")))))).as("r"))
      .select(col(cols.id), col(cols.typ),
        col("r.start_h").as("start_h"), col("r.end_h").as("end_h"),
        col("offset_us"))
    // Pairs whose every observed hour falls off-grid (reachable only
    // with non-aligned bounds): the whole grid is missing for them.
    val emptyPairs = observed.select(col(cols.id), col(cols.typ)).distinct()
      .join(onGrid.select(col(cols.id), col(cols.typ)).distinct(),
        Seq(cols.id, cols.typ), "left_anti")
      .crossJoin(broadcast(bounds))
      .select(col(cols.id), col(cols.typ),
        col("min_h").as("start_h"), col("top_h").as("end_h"),
        col("offset_us"))
    ranges.union(emptyPairs)
  }

  /** J3 — missing readings, one row per missing grid instant (reference
    * validation.py:273-285). Materializes ONLY the missing hours
    * (explode over the gap ranges), never the full expected grid. */
  def missingReadings(
      frequencyHours: Int,
      cols: ReadingCols)(df: DataFrame): DataFrame =
    missingRanges(frequencyHours, cols)(df)
      .select(col(cols.id), col(cols.typ), col("offset_us"),
        explode(expr(
          s"sequence(start_h, end_h, interval $frequencyHours hour)"))
          .as("expected_hour"))
      .withColumn("expected_time",
        timestamp_micros(unix_micros(col("expected_hour")) + col("offset_us")))
      .drop("offset_us")

  /** A7 — gap aggregation: per (sensor, type) count + first/last missing
    * grid instant, descending (reference validation.py:286-316).
    * Aggregates the gap ranges directly — per-pair arithmetic only, no
    * per-missing-hour rows anywhere in the plan. */
  def gapReport(
      frequencyHours: Int,
      cols: ReadingCols)(df: DataFrame): DataFrame = {
    val stepUs = frequencyHours * 3600000000L
    missingRanges(frequencyHours, cols)(df)
      .groupBy(col(cols.id), col(cols.typ))
      .agg(
        sum(((unix_micros(col("end_h")) - unix_micros(col("start_h")))
          / stepUs).cast("long") + 1L).cast("long").as("missing_hours"),
        timestamp_micros(min(unix_micros(col("start_h"))) +
          first(col("offset_us"))).as("first_missing"),
        timestamp_micros(max(unix_micros(col("end_h"))) +
          first(col("offset_us"))).as("last_missing"))
      .orderBy(desc("missing_hours"), col(cols.id), col(cols.typ))
  }

  /** A8 — missing-value profile per reading type (reference
    * validation.py:343-366). */
  def missingProfile(cols: ReadingCols)(df: DataFrame): DataFrame =
    df.groupBy(col(cols.typ))
      .agg(
        count(lit(1)).as("total_readings"),
        sum(when(col(cols.value).isNull, 1).otherwise(0)).as("missing_count"),
        round(lit(100.0) * sum(when(col(cols.value).isNull, 1).otherwise(0))
          / count(lit(1)), 2).as("missing_percentage"))
      .orderBy(desc("missing_percentage"), col(cols.typ))

  /** A9 — anomaly profile per reading type (reference validation.py:369-393). */
  def anomalyProfile(cols: ReadingCols)(df: DataFrame): DataFrame =
    df.filter(col("anomalous_reading").isNotNull)
      .groupBy(col(cols.typ))
      .agg(
        count(lit(1)).as("total_readings"),
        sum(when(col("anomalous_reading"), 1).otherwise(0)).as("anomaly_count"),
        round(lit(100.0) * sum(when(col("anomalous_reading"), 1).otherwise(0))
          / count(lit(1)), 2).as("anomaly_percentage"))
      .orderBy(desc("anomaly_percentage"), col(cols.typ))

  /** A10 — per-sensor coverage (reference validation.py:396-419). */
  def sensorCoverage(cols: ReadingCols)(df: DataFrame): DataFrame =
    df.groupBy(col(cols.id))
      .agg(
        countDistinct(col(cols.typ)).as("reading_types"),
        count(lit(1)).as("total_readings"),
        min(col(cols.ts)).as("first_reading"),
        max(col(cols.ts)).as("last_reading"),
        round(avg(col(cols.battery)), 1).as("avg_battery"))
      .orderBy(desc("total_readings"), col(cols.id))

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

  /** A13 — threshold assessment (reference validation.py:448-485). */
  def assess(
      missing: Seq[TypeProfile],
      anomalies: Seq[TypeProfile],
      gaps: Seq[SensorGap],
      cfg: PipelineConfig): Seq[String] = {
    val issues = Seq.newBuilder[String]
    missing.filter(_.percentage > cfg.validation.maxMissingPercentage).foreach(p =>
      issues += s"High missing values for ${p.readingType}: ${p.percentage}%")
    anomalies.filter(_.percentage > cfg.validation.maxAnomalyPercentage).foreach(p =>
      issues += s"High anomaly rate for ${p.readingType}: ${p.percentage}%")
    gaps.filter(_.missingHours > cfg.validation.maxGapHours).foreach(g =>
      issues += s"Data gap for ${g.sensorId}/${g.readingType}: ${g.missingHours} missing hours")
    issues.result()
  }

  /** Run the full suite: triggers the small aggregates (each collapses to
    * a handful of rows — the only driver-side materialization), then the
    * driver-side score + assessment. `df` should be cached by the caller
    * when loading follows (both stages consume it). */
  def collectMetrics(cfg: PipelineConfig)(df: DataFrame): ValidationResult = {
    val c = cfg.cols
    // Single-pass scalar stats (SURVEY §7.4 item 8, the reference's
    // observe()-style consolidation): the five GLOBAL aggregates —
    // type/range/battery violation counts (A4/A5/P8, reference
    // validation.py:136-210), time range (A6, :229-239), overall stats
    // (A11, :422-438) — collapse into ONE df.agg(...), so one job and
    // one scan produce every scalar instead of five. At 100 TB on an uncached frame that
    // is the difference between one and five full passes. The per-type /
    // per-sensor profiles below keep their own jobs (different grouping
    // keys); the suite runs 5 actions total, not 9.
    val br = cfg.batteryRange
    val rangeTypes = cfg.ranges.keys.toSeq.sorted
    val rangeCounts = cfg.ranges.toSeq.sortBy(_._1).map { case (typ, r) =>
      count(when(col(c.typ) === typ &&
        (col(c.value) < r.min || col(c.value) > r.max), 1)).as(s"rv_$typ")
    }
    val scalarExprs = Seq(
      count(when(col(c.ts).isNull, 1)).as("null_timestamps"),
      count(when(col(c.value).isNull, 1)).as("invalid_values"),
      count(when(col(c.battery).isNull, 1)).as("invalid_batteries"),
      count(when(
        col(c.battery) < br.min || col(c.battery) > br.max,
        1)).as("battery_violations"),
      min(col(c.ts)).as("min_ts"),
      max(col(c.ts)).as("max_ts"),
      count(lit(1)).as("total_records"),
      countDistinct(col(c.id)).as("unique_sensors"),
      round(avg(col(c.value)), 2).as("avg_value"),
      round(avg(col(c.battery)), 1).as("avg_battery")) ++ rangeCounts
    val sc = df.agg(scalarExprs.head, scalarExprs.tail: _*).head()
    def scL(n: String): Long = sc.getLong(sc.fieldIndex(n))
    def scD(n: String): Double = {
      val i = sc.fieldIndex(n)
      if (sc.isNullAt(i)) Double.NaN else sc.getDouble(i)
    }

    val missing = missingProfile(c)(df).collect().toSeq.map(r => TypeProfile(
      r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val anomalies =
      (if (df.columns.contains("anomalous_reading"))
        anomalyProfile(c)(df).collect().toSeq else Nil).map(r => TypeProfile(
        r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val gaps = gapReport(cfg.validation.expectedFrequencyHours, c)(df)
      .collect().toSeq.map(r => SensorGap(
        r.get(0).toString, r.getString(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4)))
    val coverage = sensorCoverage(c)(df).collect().toSeq.map(r => SensorCoverage(
      r.get(0).toString, r.getLong(1), r.getLong(2),
      r.getTimestamp(3), r.getTimestamp(4),
      Option(r.get(5)).map(_.toString.toDouble)))

    val totalGapHours = gaps.map(_.missingHours).sum
    val score = qualityScore(missing, anomalies, totalGapHours, cfg)
    val issues = assess(missing, anomalies, gaps, cfg)

    val rangeViolationMap = rangeTypes.map(t => t -> scL(s"rv_$t")).toMap

    val metrics = QualityMetrics(
      totalRecords = scL("total_records"),
      nullTimestamps = scL("null_timestamps"),
      invalidValues = scL("invalid_values"),
      invalidBatteries = scL("invalid_batteries"),
      rangeViolations = rangeViolationMap,
      batteryViolations = scL("battery_violations"),
      distinctSensors = scL("unique_sensors"),
      timeRange = (
        sc.getTimestamp(sc.fieldIndex("min_ts")),
        sc.getTimestamp(sc.fieldIndex("max_ts"))),
      missingProfile = missing,
      anomalyProfile = anomalies,
      coverage = coverage,
      gaps = gaps,
      totalMissingHours = totalGapHours,
      avgValue = scD("avg_value"),
      avgBattery = scD("avg_battery"))

    ValidationResult(
      passed = issues.isEmpty,
      totalRecords = metrics.totalRecords,
      issuesFound = issues,
      qualityScore = score,
      metrics = Some(metrics))
  }

  /** S10 — long-format data-quality report (reference validation.py:487-595):
    * one row per (category, metric, value). Built as a DataFrame so it can
    * be written with the CSV sink. */
  def reportRows(result: ValidationResult)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
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
    rows.result().toDF("category", "metric", "value")
  }

  /** S10 sink — single stable CSV file (reference reports/data_quality_report.csv). */
  def writeReport(result: ValidationResult, path: String)(
      implicit spark: SparkSession): Unit =
    reportRows(result).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)
}
