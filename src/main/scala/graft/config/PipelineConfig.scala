package graft.config

import java.nio.file.{Files, Paths}

/** Inclusive validity range for a reading type.
  * Reference: config/default.yaml:29-38, src/config/models.py:59-62. */
final case class ValueRange(min: Double, max: Double) {
  require(min <= max, s"range min $min > max $max")
  def contains(v: Double): Boolean = v >= min && v <= max
}

/** Linear calibration `value * multiplier + offset`, keyed by reading type.
  * Reference: config/default.yaml:41-47, src/config/models.py:65-68. */
final case class Calibration(multiplier: Double, offset: Double)

/** Parquet sink settings. Reference: config/default.yaml:49-54.
  * `sortWithin` (extension, default off) clusters rows inside each
  * output file by the given columns — tight parquet row-group min/max
  * stats make time-range scans skip whole row groups at 100 TB.
  * `zorderBy` (extension, default off, exactly two columns) clusters by
  * the Morton interleave of the pair instead — tight row-group stats in
  * BOTH dimensions for two-sided predicates (see q161/q162); it
  * composes after `sortWithin`'s leading partition columns.
  * `bucketBy`/`bucketCount` (extension, default off) additionally
  * bucket the curated output by the given key — the pipeline's own
  * output then inherits the co-located-join property (every downstream
  * join/aggregation keyed on the bucket columns reads matching buckets
  * with no exchange, see graft.operators.Bucketed). Bucketed output is
  * catalog-backed (Loader registers a table over the same path);
  * `sortWithin` becomes the in-bucket sort tail, `zorderBy` is
  * incompatible (bucket sort keys are plain columns), and overwrite
  * mode replaces touched partitions dynamically via insertInto. */
final case class WriteConfig(
    compression: String = "zstd",
    partitionBy: Seq[String] = Seq("date", "sensor_id"),
    mode: String = "overwrite",
    sortWithin: Seq[String] = Nil,
    zorderBy: Seq[String] = Nil,
    bucketBy: Seq[String] = Nil,
    bucketCount: Int = 0)

/** Transformation stage knobs. Reference: config/default.yaml:57-60. */
final case class TransformConfig(
    zScoreThreshold: Double = 3.0,
    rollingWindowDays: Int = 7,
    readingsPerDay: Int = 24,
    outlierHandling: String = "flag",
    /** Exact global-median fallback for battery imputation (pandas
      * parity). Set false at scale: the exact global percentile buffers
      * the whole table in one aggregation buffer; the approx sketch is
      * bounded and mergeable. Per-sensor medians stay exact either way. */
    exactGlobalMedian: Boolean = true,
    /** Guardrail on the exact path: even with `exactGlobalMedian=true`,
      * inputs whose plan-estimated size exceeds this many bytes take
      * the approx sketch — BY DEFAULT the pipeline never builds an
      * aggregation buffer holding a whole 100 TB table just because
      * nobody flipped a flag. The default (4 GiB of plan-estimated
      * input, i.e. the battery column's share is far smaller) is
      * orders of magnitude below where the exact buffer would hurt and
      * orders above any parity-checked SF. Raise to Long.MaxValue to
      * force exactness regardless of size. */
    exactGlobalMedianMaxBytes: Long = TransformConfig.DefaultExactGlobalMedianMaxBytes,
    /** When > 0, the rolling average runs in the bucketed two-pass form
      * (Transforms.rollingAvgBucketed) with this coarse bucket width:
      * no task ever sorts a key's full history, at the cost of one
      * extra aggregate pass. 0 = plain single-window form. The answer
      * is bit-identical either way. */
    rollingBucketSeconds: Long = 0L) {
  /** Trailing row-count frame: 7 days x 24 obs/day = 168 rows
    * (reference transformation.py:262-264 — row-count, not time-range). */
  def rollingWindowRows: Int = rollingWindowDays * readingsPerDay
}

object TransformConfig {
  /** See [[TransformConfig.exactGlobalMedianMaxBytes]]. */
  val DefaultExactGlobalMedianMaxBytes: Long = 4L << 30
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

/** Column-name binding so every stage works over any table shaped like
  * (id, timestamp, type, value[, battery]) — the reference hard-codes
  * sensor_id/timestamp/reading_type/value/battery_level
  * (src/models/data.py:12-18). */
final case class ReadingCols(
    id: String = "sensor_id",
    ts: String = "timestamp",
    typ: String = "reading_type",
    value: String = "value",
    battery: String = "battery_level")

object ReadingCols {
  val sensor: ReadingCols = ReadingCols()
  /** Binding for the synthetic `events` table. */
  val events: ReadingCols =
    ReadingCols(id = "user_id", ts = "ts", typ = "event_type",
      value = "value", battery = "value")
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
    paths: PathsConfig = PathsConfig(),
    cols: ReadingCols = ReadingCols.sensor) {

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
    * src/config/models.py:131-141 from_yaml). Parsed with the built-in
    * indentation-subset parser below — no external YAML dependency.
    * Any omitted section keeps its default; `ranges.battery_level`
    * feeds `batteryRange` like the reference's battery branch. The
    * reference's `schema` section and `paths.reports_dir` parse but are
    * not read: ingest validates against the fixed
    * `graft.model.Schemas.raw`, and the report goes to
    * `paths.dq_report_csv`. */
  def fromYaml(path: String): PipelineConfig = {
    val root = MiniYaml.parse(Files.readString(Paths.get(path)))
    var cfg = default

    def objOf(k: String): Option[MiniYaml.Obj] = root.get(k).collect {
      case o: MiniYaml.Obj => o
    }
    def str(o: MiniYaml.Obj, k: String): Option[String] = o.get(k).collect {
      case MiniYaml.Scalar(Some(v)) => v
    }
    def num(o: MiniYaml.Obj, k: String): Option[Double] = str(o, k).map(_.toDouble)
    def list(o: MiniYaml.Obj, k: String): Option[Seq[String]] = o.get(k).collect {
      case MiniYaml.Arr(items) => items.collect {
        case MiniYaml.Scalar(Some(v)) => v
      }
    }

    objOf("pipeline").foreach(p =>
      str(p, "version").foreach(v => cfg = cfg.copy(pipelineVersion = v)))
    objOf("project").foreach(p =>
      str(p, "timezone").foreach(v => cfg = cfg.copy(timezone = v)))
    objOf("paths").foreach { p =>
      var ps = cfg.paths
      str(p, "data_raw").foreach(v => ps = ps.copy(dataRaw = v))
      str(p, "data_processed").foreach(v => ps = ps.copy(dataProcessed = v))
      str(p, "dq_report_csv").foreach(v => ps = ps.copy(dqReportCsv = v))
      cfg = cfg.copy(paths = ps)
    }
    objOf("ranges").foreach { r =>
      val all = r.entries.collect { case (k, o: MiniYaml.Obj) =>
        k -> ValueRange(num(o, "min").get, num(o, "max").get)
      }
      all.find(_._1 == "battery_level").foreach(b =>
        cfg = cfg.copy(batteryRange = b._2))
      cfg = cfg.copy(ranges = all.filterNot(_._1 == "battery_level").toMap)
    }
    objOf("calibration").foreach { c =>
      cfg = cfg.copy(calibration = c.entries.collect {
        case (k, o: MiniYaml.Obj) => k -> Calibration(
          num(o, "multiplier").getOrElse(1.0), num(o, "offset").getOrElse(0.0))
      }.toMap)
    }
    objOf("write").foreach { w =>
      var wc = cfg.write
      str(w, "compression").foreach(v => wc = wc.copy(compression = v))
      list(w, "partition_by").foreach(v => wc = wc.copy(partitionBy = v))
      str(w, "mode").foreach(v => wc = wc.copy(mode = v))
      list(w, "sort_within").foreach(v => wc = wc.copy(sortWithin = v))
      list(w, "zorder_by").foreach(v => wc = wc.copy(zorderBy = v))
      list(w, "bucket_by").foreach(v => wc = wc.copy(bucketBy = v))
      str(w, "bucket_count").foreach(v => wc = wc.copy(bucketCount = v.toInt))
      cfg = cfg.copy(write = wc)
    }
    objOf("transformation").foreach { t =>
      var tc = cfg.transformation
      num(t, "z_score_threshold").foreach(v => tc = tc.copy(zScoreThreshold = v))
      num(t, "rolling_window_days").foreach(v => tc = tc.copy(rollingWindowDays = v.toInt))
      str(t, "outlier_handling").foreach(v => tc = tc.copy(outlierHandling = v))
      str(t, "exact_global_median").foreach(v => tc = tc.copy(exactGlobalMedian = v.toBoolean))
      str(t, "exact_global_median_max_bytes").foreach(v => tc = tc.copy(exactGlobalMedianMaxBytes = v.toLong))
      num(t, "rolling_bucket_seconds").foreach(v => tc = tc.copy(rollingBucketSeconds = v.toLong))
      cfg = cfg.copy(transformation = tc)
    }
    objOf("validation").foreach { v =>
      var vc = cfg.validation
      num(v, "max_missing_percentage").foreach(x => vc = vc.copy(maxMissingPercentage = x))
      num(v, "max_anomaly_percentage").foreach(x => vc = vc.copy(maxAnomalyPercentage = x))
      num(v, "expected_frequency_hours").foreach(x => vc = vc.copy(expectedFrequencyHours = x.toInt))
      num(v, "max_gap_hours").foreach(x => vc = vc.copy(maxGapHours = x))
      cfg = cfg.copy(validation = vc)
    }
    objOf("ingestion").foreach { i =>
      var ic = cfg.ingestion
      str(i, "incremental_mode").foreach(v => ic = ic.copy(incrementalMode = v.toBoolean))
      str(i, "checkpoint_file").foreach(v => ic = ic.copy(checkpointFile = v))
      cfg = cfg.copy(ingestion = ic)
    }
    cfg
  }
}

/** Minimal YAML-subset parser covering the reference's config layout:
  * nested maps by 2+-space indentation, scalar lists ("- item"),
  * quoted/unquoted scalars, `null`, and `#` comments. Deliberately NOT
  * a general YAML implementation — no anchors, no flow style, no
  * multi-line scalars — just enough to read config/default.yaml-shaped
  * files without adding a dependency. */
private[config] object MiniYaml {

  sealed trait Node
  /** Insertion-ordered mapping. */
  final case class Obj(entries: Vector[(String, Node)]) extends Node {
    def get(k: String): Option[Node] = entries.find(_._1 == k).map(_._2)
  }
  final case class Arr(items: Vector[Node]) extends Node
  /** Scalar; None encodes YAML null. */
  final case class Scalar(value: Option[String]) extends Node

  def parse(text: String): Obj = {
    val lines = text.linesIterator
      .map(stripComment)
      .filter(_.trim.nonEmpty)
      .map(l => (l.takeWhile(_ == ' ').length, l.trim))
      .toVector
    if (lines.isEmpty) Obj(Vector.empty)
    else parseBlock(lines, 0, lines.head._1)._1 match {
      case o: Obj => o
      case other => Obj(Vector("root" -> other))
    }
  }

  /** Cut an unquoted `#` comment (YAML: preceded by start-of-line or
    * whitespace). */
  private def stripComment(line: String): String = {
    var inQuote: Char = 0
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuote != 0) { if (c == inQuote) inQuote = 0 }
      else if (c == '"' || c == '\'') inQuote = c
      else if (c == '#' && (i == 0 || line.charAt(i - 1).isWhitespace))
        return line.take(i)
      i += 1
    }
    line
  }

  private def unquote(s: String): String =
    if (s.length >= 2 &&
      ((s.head == '"' && s.last == '"') || (s.head == '\'' && s.last == '\'')))
      s.substring(1, s.length - 1)
    else s

  private def scalar(s: String): Scalar =
    if (s == "null" || s == "~") Scalar(None) else Scalar(Some(unquote(s)))

  /** Parse the run of lines at exactly `indent` starting at `start`;
    * deeper lines belong to the entry opened just above. Returns the
    * node and the index of the first unconsumed line. */
  private def parseBlock(
      lines: Vector[(Int, String)],
      start: Int,
      indent: Int): (Node, Int) = {
    val n = lines.length
    if (lines(start)._2.startsWith("-")) {
      var i = start
      val items = Vector.newBuilder[Node]
      while (i < n && lines(i)._1 == indent && lines(i)._2.startsWith("-")) {
        items += scalar(lines(i)._2.drop(1).trim)
        i += 1
      }
      (Arr(items.result()), i)
    } else {
      var i = start
      val es = Vector.newBuilder[(String, Node)]
      while (i < n && lines(i)._1 == indent && !lines(i)._2.startsWith("-")) {
        val line = lines(i)._2
        val ci = line.indexOf(':')
        require(ci > 0, s"malformed YAML line: '$line'")
        val key = unquote(line.take(ci).trim)
        val rest = line.drop(ci + 1).trim
        if (rest.nonEmpty) { es += key -> scalar(rest); i += 1 }
        else {
          i += 1
          if (i < n && lines(i)._1 > indent) {
            val (child, ni) = parseBlock(lines, i, lines(i)._1)
            es += key -> child
            i = ni
          } else es += key -> Scalar(None)
        }
      }
      (Obj(es.result()), i)
    }
  }
}
