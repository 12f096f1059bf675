package graft.model

import org.apache.spark.sql.types._

/** Canonical schemas + driver-side result models.
  * Reference: src/models/data.py:12-36, config/default.yaml:15-27. */
object Schemas {

  /** Raw sensor reading schema (reference SensorReading,
    * src/models/data.py:12-18). */
  val raw: StructType = StructType(Seq(
    StructField("sensor_id", StringType),
    StructField("timestamp", TimestampType),
    StructField("reading_type", StringType),
    StructField("value", DoubleType),
    StructField("battery_level", DoubleType)))

  /** Columns that must be non-null for a row to survive cleaning
    * (reference transformation.py:120-122). */
  val criticalColumns: Seq[String] =
    Seq("sensor_id", "timestamp", "reading_type", "value")
}

/** Ingest file counters, mirroring the reference stats dict
  * (ingestion.py:35-42). The record count is not one of them: a batch
  * is counted once written, through `ParquetIngestor.Result.commit`. */
final case class IngestionStats(
    filesDiscovered: Long = 0,
    filesProcessed: Long = 0,
    filesSkipped: Long = 0,
    filesFailed: Long = 0)

/** One detected coverage gap (reference validation.py:286-316). */
final case class SensorGap(
    sensorId: String,
    readingType: String,
    missingHours: Long,
    firstMissing: java.sql.Timestamp,
    lastMissing: java.sql.Timestamp)

/** Per-reading-type profile rows (reference validation.py:343-393). */
final case class TypeProfile(
    readingType: String,
    totalReadings: Long,
    affected: Long,
    percentage: Double)

/** Per-sensor coverage (reference validation.py:396-419). */
final case class SensorCoverage(
    sensorId: String,
    readingTypes: Long,
    totalReadings: Long,
    firstReading: java.sql.Timestamp,
    lastReading: java.sql.Timestamp,
    avgBattery: Option[Double])

/** Collected quality metrics (reference quality_metrics dict,
  * validation.py:56-124). */
final case class QualityMetrics(
    totalRecords: Long,
    nullTimestamps: Long,
    invalidValues: Long,
    invalidBatteries: Long,
    rangeViolations: Map[String, Long],
    batteryViolations: Long,
    distinctSensors: Long,
    timeRange: (java.sql.Timestamp, java.sql.Timestamp),
    missingProfile: Seq[TypeProfile],
    anomalyProfile: Seq[TypeProfile],
    coverage: Seq[SensorCoverage],
    gaps: Seq[SensorGap],
    totalMissingHours: Long,
    avgValue: Double,
    avgBattery: Double)

/** Reference ValidationResult (src/models/data.py:21-26). */
final case class ValidationResult(
    passed: Boolean,
    totalRecords: Long,
    issuesFound: Seq[String],
    qualityScore: Double,
    metrics: Option[QualityMetrics])

/** Reference PipelineResult (src/models/data.py:29-36). */
final case class PipelineResult(
    success: Boolean,
    recordsIngested: Long,
    recordsStored: Long,
    qualityScore: Double,
    issues: Seq[String],
    outputPath: String)

/** Storage layout stats (reference loading.py:238-273). */
final case class StorageStats(
    totalFiles: Long,
    totalBytes: Long,
    partitions: Long)
