package graft.config

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.MissingNode
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

/** Inclusive validity range for a reading type.
  * Reference: config/default.yaml:29-38, src/config/models.py:59-62. */
final case class ValueRange(min: Double, max: Double) {
  require(min <= max, s"range min $min > max $max")
}

/** Linear calibration `value * multiplier + offset`, keyed by reading type.
  * Reference: config/default.yaml:41-47, src/config/models.py:65-68. */
final case class Calibration(multiplier: Double, offset: Double)

/** Parquet sink settings. Reference: config/default.yaml:49-54.
  * `mode` is `overwrite` (dynamic: only the partitions a batch touches
  * are replaced) or `append`; the sink rejects any other value.
  * The in-file row order is not a setting: the sink derives it
  * (the partition columns, then the reading key sensor_id,
  * reading_type, timestamp, then every other column), so a file's
  * bytes depend only on its rows. */
final case class WriteConfig(
    compression: String = "zstd",
    partitionBy: Seq[String] = Seq("date", "sensor_id"),
    mode: String = "overwrite")

/** Transformation stage knobs. Reference: config/default.yaml:57-60. */
final case class TransformConfig(
    zScoreThreshold: Double = 3.0,
    rollingWindowDays: Int = 7,
    outlierHandling: String = "flag") {
  /** Trailing row-count frame: 7 days x 24 hourly readings = 168 rows
    * (reference transformation.py:262-264 — row-count, not time-range). */
  def rollingWindowRows: Int = rollingWindowDays * 24
}

/** Validation thresholds. Reference: config/default.yaml:62-66. */
final case class ValidationConfig(
    maxMissingPercentage: Double = 20.0,
    maxAnomalyPercentage: Double = 10.0,
    expectedFrequencyHours: Int = 1,
    maxGapHours: Double = 1.0)

/** Ingestion settings. Reference: config/default.yaml:68-70. */
final case class IngestionConfig(
    incrementalMode: Boolean = true,
    checkpointFile: String = ".checkpoint")

/** File-system layout. Reference: config/default.yaml:8-13,
  * src/config/models.py DataPaths. */
final case class PathsConfig(
    dataRaw: String = "data/raw",
    dataProcessed: String = "data/processed",
    dqReportCsv: String = "reports/data_quality_report.csv")

/** Column-name binding for the stages the query catalogue also runs
  * over the synthetic `events` table (calibration, time shift, date,
  * range and z-score flags, bucketed rolling average). The pipeline
  * itself binds [[ReadingCols.sensor]], the reference's fixed record
  * sensor_id/timestamp/reading_type/value (src/models/data.py:12-18). */
final case class ReadingCols(
    id: String = "sensor_id",
    ts: String = "timestamp",
    typ: String = "reading_type",
    value: String = "value")

object ReadingCols {
  val sensor: ReadingCols = ReadingCols()
  /** Binding for the synthetic `events` table. */
  val events: ReadingCols =
    ReadingCols(id = "user_id", ts = "ts", typ = "event_type", value = "value")
}

/** Full pipeline configuration.
  * Reference: src/config/models.py:112-141 + config/default.yaml. */
final case class PipelineConfig(
    timezone: String = "UTC+05:30",
    pipelineVersion: String = "1.0.0",
    ranges: Map[String, ValueRange] = PipelineConfig.defaultRanges,
    calibration: Map[String, Calibration] = PipelineConfig.defaultCalibration,
    batteryRange: ValueRange = ValueRange(0.0, 100.0),
    write: WriteConfig = WriteConfig(),
    transformation: TransformConfig = TransformConfig(),
    validation: ValidationConfig = ValidationConfig(),
    ingestion: IngestionConfig = IngestionConfig(),
    paths: PathsConfig = PathsConfig()) {

  /** "UTC+05:30" -> signed minutes east of UTC (330). Mirrors the
    * reference's offset parse (transformation.py:187-228). */
  def timezoneOffsetMinutes: Int = PipelineConfig.parseUtcOffset(timezone)
}

object PipelineConfig {

  /** Reference defaults: config/default.yaml:29-38. */
  val defaultRanges: Map[String, ValueRange] = Map(
    "temperature" -> ValueRange(-10.0, 60.0),
    "humidity" -> ValueRange(0.0, 100.0))

  /** Reference defaults: identity calibration (config/default.yaml:41-47). */
  val defaultCalibration: Map[String, Calibration] = Map(
    "temperature" -> Calibration(1.0, 0.0),
    "humidity" -> Calibration(1.0, 0.0))

  val default: PipelineConfig = PipelineConfig()

  private val offsetRe = """(?i)UTC([+-])(\d{1,2}):(\d{2})""".r

  def parseUtcOffset(tz: String): Int = tz.trim match {
    case "UTC" | "utc" => 0
    case offsetRe(sign, h, m) =>
      val v = h.toInt * 60 + m.toInt
      if (sign == "-") -v else v
    case other =>
      throw new IllegalArgumentException(s"unsupported timezone '$other'")
  }

  /** Load a reference-layout YAML config (config/default.yaml shape,
    * src/config/models.py:131-141 from_yaml). Jackson's YAML reader
    * parses it, so scalars get YAML 1.1 types as under the reference's
    * PyYAML: `yes`/`no` are booleans, `~` and `null` are null, and flow
    * lists and maps, folded and quoted scalars read as PyYAML reads
    * them. An empty file, an omitted section and a null value keep the
    * defaults; `ranges.battery_level` feeds `batteryRange` like the
    * reference's battery branch. The reference's `schema` section and
    * `paths.reports_dir` parse but are not read: ingest validates
    * against the fixed `graft.model.Schemas.raw`, and the report goes
    * to `paths.dq_report_csv`. The load fails with an
    * IllegalArgumentException naming `section.key` for a key in the
    * `write` or `transformation` section that is not read (a misspelt
    * or retired setting cannot parse and silently change nothing), and
    * for a value of the wrong shape for its key (a map or list where a
    * scalar is read, a scalar where a list or map is read). */
  def fromYaml(path: String): PipelineConfig = {
    val root = new ObjectMapper(new YAMLFactory()).readTree(new File(path))
    if (!root.isMissingNode && !root.isNull && !root.isObject)
      throw new IllegalArgumentException(s"$path: the top level must be a map")
    val top = new YamlMap(root, "", path)
    val d = default
    val ranges = top.map("ranges")
    val rangeOf = ranges.maps.map { case (k, r) =>
      k -> ValueRange(r.need("min"), r.need("max")) }.toMap
    val calibration = top.map("calibration")
    val write = top.map("write")
    write.onlyKnownKeys("compression", "partition_by", "mode")
    val tf = top.map("transformation")
    tf.onlyKnownKeys("z_score_threshold", "rolling_window_days", "outlier_handling")
    val v = top.map("validation")
    val ing = top.map("ingestion")
    val paths = top.map("paths")
    PipelineConfig(
      timezone = top.map("project").str("timezone").getOrElse(d.timezone),
      pipelineVersion = top.map("pipeline").str("version").getOrElse(d.pipelineVersion),
      ranges = if (ranges.present) rangeOf - "battery_level" else d.ranges,
      calibration =
        if (!calibration.present) d.calibration
        else calibration.maps.map { case (k, c) => k -> Calibration(
          c.num("multiplier").getOrElse(1.0), c.num("offset").getOrElse(0.0)) }.toMap,
      batteryRange = rangeOf.getOrElse("battery_level", d.batteryRange),
      write = WriteConfig(
        compression = write.str("compression").getOrElse(d.write.compression),
        partitionBy = write.list("partition_by").getOrElse(d.write.partitionBy),
        mode = write.str("mode").getOrElse(d.write.mode)),
      transformation = TransformConfig(
        zScoreThreshold = tf.num("z_score_threshold")
          .getOrElse(d.transformation.zScoreThreshold),
        rollingWindowDays = tf.num("rolling_window_days").map(_.toInt)
          .getOrElse(d.transformation.rollingWindowDays),
        outlierHandling = tf.str("outlier_handling")
          .getOrElse(d.transformation.outlierHandling)),
      validation = ValidationConfig(
        maxMissingPercentage = v.num("max_missing_percentage")
          .getOrElse(d.validation.maxMissingPercentage),
        maxAnomalyPercentage = v.num("max_anomaly_percentage")
          .getOrElse(d.validation.maxAnomalyPercentage),
        expectedFrequencyHours = v.num("expected_frequency_hours").map(_.toInt)
          .getOrElse(d.validation.expectedFrequencyHours),
        maxGapHours = v.num("max_gap_hours").getOrElse(d.validation.maxGapHours)),
      ingestion = IngestionConfig(
        incrementalMode = ing.bool("incremental_mode")
          .getOrElse(d.ingestion.incrementalMode),
        checkpointFile = ing.str("checkpoint_file")
          .getOrElse(d.ingestion.checkpointFile)),
      paths = PathsConfig(
        dataRaw = paths.str("data_raw").getOrElse(d.paths.dataRaw),
        dataProcessed = paths.str("data_processed").getOrElse(d.paths.dataProcessed),
        dqReportCsv = paths.str("dq_report_csv").getOrElse(d.paths.dqReportCsv)))
  }

  /** One map of a YAML config file at dotted path `name`. An absent or
    * null map reads as an empty one that is not `present`. A value of a
    * shape its reader does not take fails, named. */
  private final class YamlMap(node: JsonNode, name: String, file: String) {
    val present: Boolean = node.isObject
    private def at(k: String) = if (name.isEmpty) k else s"$name.$k"
    private def wrong(k: String, want: String): Nothing =
      throw new IllegalArgumentException(s"'${at(k)}' in $file must be $want")
    /** `k`'s value: None when the key is absent or its value null. */
    private def get(k: String): Option[JsonNode] =
      Option(node.get(k)).filterNot(_.isNull)
    private def keys: Seq[String] = node.fieldNames.asScala.toSeq

    def map(k: String): YamlMap = get(k) match {
      case Some(n) if !n.isObject => wrong(k, "a map")
      case n => new YamlMap(n.getOrElse(MissingNode.getInstance), at(k), file)
    }
    /** Every entry whose value is a non-null map, in file order. */
    def maps: Seq[(String, YamlMap)] =
      keys.map(k => k -> map(k)).filter(_._2.present)
    def str(k: String): Option[String] =
      get(k).map(n => if (n.isValueNode) n.asText else wrong(k, "a scalar"))
    def num(k: String): Option[Double] =
      str(k).map(_.toDoubleOption.getOrElse(wrong(k, "a number")))
    def bool(k: String): Option[Boolean] =
      str(k).map(_.toBooleanOption.getOrElse(wrong(k, "a boolean")))
    def list(k: String): Option[Seq[String]] = get(k).map { n =>
      if (!n.isArray) wrong(k, "a list")
      n.elements.asScala.map(e =>
        if (e.isValueNode && !e.isNull) e.asText
        else wrong(k, "a list of scalars")).toSeq
    }
    def need(k: String): Double = num(k).getOrElse(wrong(k, "set"))
    def onlyKnownKeys(known: String*): Unit =
      keys.find(!known.contains(_)).foreach(k =>
        throw new IllegalArgumentException(s"unknown key '${at(k)}' in $file"))
  }
}
