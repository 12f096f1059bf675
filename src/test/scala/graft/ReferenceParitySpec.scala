package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.config.PipelineConfig
import graft.ingest.ParquetIngestor
import graft.model.Schemas
import graft.transform.Transforms
import graft.validate.Validation

/** Parity against the reference's own shipped demo run: ingest the raw
  * files from /root/reference/data/raw (copied to a scratch dir) through
  * the full transform + validation and assert the recorded goldens from
  * reports/data_quality_report.csv — 72 records, 5 sensors, 643 total
  * missing hours, 4/32 temperature and 9/40 humidity anomalies, the
  * 70-hour sensor_3 temperature gap. Skipped when the reference tree is
  * absent. */
class ReferenceParitySpec extends SparkSpec with TempPaths {

  private val refRaw = Paths.get("/root/reference/data/raw")

  /** The recorded demo run had 2023-06-01.parquet already checkpointed
    * (data/.checkpoint lists it from an earlier run) — its 72-record
    * goldens come from the 02/03/04 files; the three schema-broken
    * files exercise rejection. */
  private val demoFiles = Seq(
    "2023-06-02.parquet", "2023-06-03.parquet", "2023-06-04.parquet",
    "2023-06-05_missing_columns.parquet", "2023-06-06_extra_columns.parquet",
    "2023-06-07_wrong_types.parquet")

  private def copied(): String = {
    val dir = tempDir("graft-ref-raw")
    demoFiles.foreach { f =>
      Files.copy(refRaw.resolve(f), dir.resolve(f),
        StandardCopyOption.REPLACE_EXISTING)
    }
    dir.toString
  }

  test("reference demo data reproduces the recorded quality report") {
    assume(Files.isDirectory(refRaw), "reference tree not present")
    val cfg = PipelineConfig.default
    val dir = copied()

    val ing = ParquetIngestor.ingest(spark, dir, Schemas.raw)
    // 3 valid day files accepted; missing-column, extra-column and
    // wrong-type files rejected (reference ingestion.py:224-246)
    assert(ing.accepted.size === 3)
    assert(ing.skipped.size === 3)

    val transformed = ing.data.get.transform(Transforms.pipeline(cfg))
    val result = Validation.collectMetrics(cfg)(transformed)
    val m = result.metrics.get

    assert(m.totalRecords === 72) // report: overall/total_records
    assert(m.distinctSensors === 5) // report: overall/unique_sensors
    assert(m.totalMissingHours === 643) // report: time_gaps/total_missing_hours

    val anomalies = m.anomalyProfile.map(p =>
      p.readingType -> (p.affected, p.totalReadings)).toMap
    assert(anomalies("temperature") === ((4L, 32L))) // 4 out of 32
    assert(anomalies("humidity") === ((9L, 40L))) // 9 out of 40

    assert(m.batteryViolations === 2) // issue_3: 2 battery out of range

    // complete gap list parity with the recorded significant_gaps
    // (_validation_metadata.json)
    val gaps = m.gaps.map(g => (g.sensorId, g.readingType, g.missingHours))
    assert(gaps === Seq(
      ("sensor_3", "temperature", 70L), ("sensor_3", "humidity", 68L),
      ("sensor_1", "humidity", 66L), ("sensor_2", "temperature", 66L),
      ("sensor_4", "temperature", 66L), ("sensor_1", "temperature", 65L),
      ("sensor_2", "humidity", 63L), ("sensor_4", "humidity", 62L),
      ("sensor_5", "temperature", 60L), ("sensor_5", "humidity", 57L)))
    assert(m.gaps.head.firstMissing.toString.startsWith("2023-06-02 06:45:00"))

    // per-sensor coverage incl. battery averages AFTER exact-median
    // imputation (pandas .median() parity, recorded to 1 decimal)
    val cov = m.coverage.map(c =>
      c.sensorId -> (c.totalReadings, c.avgBattery.get)).toMap
    assert(cov("sensor_5") === ((27L, 61.6)))
    assert(cov("sensor_2") === ((14L, 64.1)))
    assert(cov("sensor_4") === ((14L, 53.0)))
    assert(cov("sensor_1") === ((12L, 51.6)))
    assert(cov("sensor_3") === ((5L, 76.2)))

    // overall statistics as recorded (rounded 2 / 1 decimals)
    assert(m.avgValue === 44.29)
    assert(m.avgBattery === 59.8)

    assert(!result.passed) // demo run fails thresholds (anomaly % > 10)
  }
}
