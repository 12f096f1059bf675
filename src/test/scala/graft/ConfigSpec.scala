package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

import graft.config._

/** YAML config loading parity with the reference's
  * PipelineConfig.from_yaml (src/config/models.py:131-141) over the
  * config/default.yaml layout. */
class ConfigSpec extends AnyFunSuite {

  private def write(content: String): Path = {
    val f = Files.createTempFile("graft-config", ".yaml")
    f.toFile.deleteOnExit()
    Files.writeString(f, content)
    f
  }

  /** Verbatim copy of the reference's config/default.yaml (incl.
    * comments, quoting style, trailing spaces, and the null run_id). */
  private val defaultYaml =
    """pipeline:
      |  name: "agricultural_sensor_pipeline"
      |  version: "1.0.0"
      |
      |project:
      |  timezone: "UTC+05:30"
      |  run_id: null  # optional identifier per run
      |
      |paths:
      |  data_raw: "data/raw"
      |  data_processed: "data/processed"
      |  reports_dir: "reports"
      |  dq_report_csv: "reports/data_quality_report.csv"
      |
      |schema:
      |  expected_columns:
      |    - sensor_id
      |    - timestamp
      |    - reading_type
      |    - value
      |    - battery_level
      |  types:
      |    sensor_id: "VARCHAR"
      |    timestamp: "TIMESTAMP"
      |    reading_type: "VARCHAR"
      |    value: "DOUBLE"
      |    battery_level: "DOUBLE"
      |
      |ranges:
      |  temperature:
      |    min: -10
      |    max: 60
      |  humidity:
      |    min: 0
      |    max: 100
      |  battery_level:
      |    min: 0
      |    max: 100
      |
      |# Simple per-reading_type sensor calibration
      |calibration:
      |  temperature:
      |    multiplier: 1.0
      |    offset: 0.0
      |  humidity:
      |    multiplier: 1.0
      |    offset: 0.0
      |
      |write:
      |  compression: "zstd"
      |  partition_by:
      |    - date  # derived from timestamp (YYYY-MM-DD)
      |    - sensor_id
      |  mode: "overwrite"  # or append
      |
      |
      |transformation:
      |  z_score_threshold: 3.0
      |  rolling_window_days: 7
      |  outlier_handling: "flag"  # flag or remove
      |
      |validation:
      |  max_missing_percentage: 20.0
      |  max_anomaly_percentage: 10.0
      |  expected_frequency_hours: 1
      |  max_gap_hours: 1.0
      |
      |ingestion:
      |  incremental_mode: true
      |  checkpoint_file: "data/.checkpoint"
      |""".stripMargin

  test("default.yaml copy yields PipelineConfig.default semantics") {
    val cfg = PipelineConfig.fromYaml(write(defaultYaml).toString)
    // Identical to the built-in defaults except the reference's
    // checkpoint path (data/.checkpoint vs bare .checkpoint): the
    // fixture's `schema:` section and `paths.reports_dir` parse and
    // change nothing (ingest validates against Schemas.raw).
    assert(cfg === PipelineConfig.default.copy(
      ingestion = IngestionConfig(
        incrementalMode = true, checkpointFile = "data/.checkpoint")))
    assert(cfg.timezoneOffsetMinutes === 330)
    assert(cfg.batteryRange === ValueRange(0.0, 100.0))
    assert(cfg.ranges === Map(
      "temperature" -> ValueRange(-10.0, 60.0),
      "humidity" -> ValueRange(0.0, 100.0)))
  }

  test("reference default.yaml itself loads when the tree is present") {
    val ref = java.nio.file.Paths.get("/root/reference/config/default.yaml")
    assume(Files.exists(ref), "reference tree not mounted")
    val cfg = PipelineConfig.fromYaml(ref.toString)
    assert(cfg.pipelineVersion === "1.0.0")
    assert(cfg.timezone === "UTC+05:30")
    assert(cfg.write.partitionBy === Seq("date", "sensor_id"))
    assert(cfg.ingestion.checkpointFile === "data/.checkpoint")
  }

  test("overrides apply and omitted sections keep defaults") {
    val cfg = PipelineConfig.fromYaml(write(
      """project:
        |  timezone: "UTC-03:00"
        |transformation:
        |  z_score_threshold: 2.5
        |  outlier_handling: remove
        |  rolling_window_days: 14
        |ranges:
        |  temperature:
        |    min: 5
        |    max: 45
        |""".stripMargin).toString)
    assert(cfg.timezoneOffsetMinutes === -180)
    assert(cfg.transformation.zScoreThreshold === 2.5)
    assert(cfg.transformation.outlierHandling === "remove")
    assert(cfg.transformation.rollingWindowDays === 14)
    assert(cfg.transformation.rollingWindowRows === 14 * 24)
    assert(cfg.ranges === Map("temperature" -> ValueRange(5.0, 45.0)))
    assert(cfg.write === WriteConfig()) // whole section omitted
    assert(cfg.validation === ValidationConfig())
  }

  test("a key the write or transformation section does not read fails " +
    "the load, named") {
    val f = write(
      """write:
        |  mode: overwrite
        |  zorder_by:
        |    - value
        |    - battery_level
        |""".stripMargin).toString
    val e = intercept[IllegalArgumentException](PipelineConfig.fromYaml(f))
    assert(e.getMessage.contains("write.zorder_by"))
    // the retired bucketed-sink keys are unknown too
    for ((key, value) <- Seq("bucket_by" -> "\n    - sensor_id",
        "bucket_count" -> " 4")) {
      val r = write(s"write:\n  mode: overwrite\n  $key:$value\n").toString
      val re = intercept[IllegalArgumentException](PipelineConfig.fromYaml(r))
      assert(re.getMessage.contains(s"unknown key 'write.$key'"))
    }
    val t = write(
      """transformation:
        |  outlier_handeling: remove
        |""".stripMargin).toString
    val te = intercept[IllegalArgumentException](PipelineConfig.fromYaml(t))
    assert(te.getMessage.contains("transformation.outlier_handeling"))
  }

  test("write.sort_within is an unknown key: the sink derives its " +
    "in-file order") {
    val f = write(
      """write:
        |  mode: overwrite
        |  sort_within:
        |    - timestamp
        |""".stripMargin).toString
    val e = intercept[IllegalArgumentException](PipelineConfig.fromYaml(f))
    assert(e.getMessage.contains("unknown key 'write.sort_within'"))
  }

  /** One YAML form: the file, the config field it sets, and what that
    * field must hold given PyYAML's parse of the same file. */
  private final case class Form(name: String, yaml: String,
      field: PipelineConfig => Any, expect: JsonNode => Any)

  private def text(j: JsonNode): String = j.asText
  private def at(path: String*)(j: JsonNode): JsonNode =
    path.foldLeft(j)(_.path(_))

  private val forms = Seq(
    Form("flow-style list", "write:\n  partition_by: [sensor_id]\n",
      _.write.partitionBy,
      j => at("write", "partition_by")(j).elements.asScala.map(text).toSeq),
    Form("flow-style map", "ranges:\n  temperature: {min: -5, max: 50}\n",
      _.ranges,
      j => at("ranges")(j).properties.asScala.map(e => e.getKey ->
        ValueRange(e.getValue.get("min").asDouble,
          e.getValue.get("max").asDouble)).toMap),
    Form("YAML 1.1 boolean yes", "ingestion:\n  incremental_mode: yes\n",
      _.ingestion.incrementalMode,
      j => at("ingestion", "incremental_mode")(j).asBoolean),
    Form("YAML 1.1 boolean off", "ingestion:\n  incremental_mode: off\n",
      _.ingestion.incrementalMode,
      j => at("ingestion", "incremental_mode")(j).asBoolean),
    Form("folded scalar", "pipeline:\n  version: >-\n    2.0.0\n",
      _.pipelineVersion, j => text(at("pipeline", "version")(j))),
    Form("single-quoted escape",
      "paths:\n  dq_report_csv: 'it''s.csv'\n",
      _.paths.dqReportCsv, j => text(at("paths", "dq_report_csv")(j))),
    Form("double-quoted escape",
      "paths:\n  dq_report_csv: \"r\\\"q.csv\"\n",
      _.paths.dqReportCsv, j => text(at("paths", "dq_report_csv")(j))),
    Form("# inside quotes",
      "paths:\n  data_raw: \"raw#1\"  # a comment\n  data_processed: 'p #2'\n",
      c => (c.paths.dataRaw, c.paths.dataProcessed),
      j => (text(at("paths", "data_raw")(j)),
        text(at("paths", "data_processed")(j)))),
    // a null value is an omitted one: the default stays
    Form("~ and null", "paths:\n  data_raw: ~\n  data_processed: null\n",
      c => (c.paths.dataRaw, c.paths.dataProcessed),
      j => {
        val p = at("paths")(j)
        assert(p.get("data_raw").isNull && p.get("data_processed").isNull)
        (PathsConfig().dataRaw, PathsConfig().dataProcessed)
      }),
    Form("empty file", "", identity,
      j => { assert(j.isNull); PipelineConfig.default }))

  test("every YAML form reads as PyYAML reads it") {
    val files = forms.map(f => write(f.yaml).toString)
    val parsed = PythonOracle.json(Seq("-c",
      "import json, sys, yaml\n" +
        "print(json.dumps([yaml.safe_load(open(p)) for p in sys.argv[1:]]))")
      ++ files: _*)
    forms.zip(files).zipWithIndex.foreach { case ((form, file), i) =>
      val cfg = PipelineConfig.fromYaml(file)
      assert(form.field(cfg) === form.expect(parsed.get(i)), form.name)
    }
  }

  test("a value of the wrong shape for its key fails the load, named") {
    for ((yaml, key) <- Seq(
        "write:\n  compression:\n    - zstd\n" -> "write.compression",
        "write:\n  partition_by: date\n" -> "write.partition_by",
        "ranges:\n  temperature: 5\n" -> "ranges.temperature",
        "ingestion:\n  incremental_mode: {on: true}\n" -> "ingestion.incremental_mode",
        "validation: 3\n" -> "validation")) {
      val e = intercept[IllegalArgumentException](
        PipelineConfig.fromYaml(write(yaml).toString))
      assert(e.getMessage.contains(s"'$key'"), yaml)
    }
  }
}
