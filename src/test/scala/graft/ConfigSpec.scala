package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.config._

/** YAML config loading parity with the reference's
  * PipelineConfig.from_yaml (src/config/models.py:131-141) over the
  * config/default.yaml layout. */
class ConfigSpec extends AnyFunSuite {

  private def write(content: String): Path = {
    val f = Files.createTempFile("graft-config", ".yaml")
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
        |  exact_global_median_max_bytes: 1048576
        |ranges:
        |  temperature:
        |    min: 5
        |    max: 45
        |""".stripMargin).toString)
    assert(cfg.timezoneOffsetMinutes === -180)
    assert(cfg.transformation.zScoreThreshold === 2.5)
    assert(cfg.transformation.outlierHandling === "remove")
    assert(cfg.transformation.rollingWindowDays === 7) // untouched
    assert(cfg.transformation.exactGlobalMedianMaxBytes === 1048576L)
    assert(cfg.ranges === Map("temperature" -> ValueRange(5.0, 45.0)))
    assert(cfg.write === WriteConfig()) // whole section omitted
    assert(cfg.validation === ValidationConfig())
  }
}
