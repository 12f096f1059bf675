package graft.load

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType, StringType}

import graft.Session
import graft.config.PipelineConfig
import graft.model.{StorageStats, ValidationResult}

/** Hive-partitioned zstd Parquet sink + storage-side type optimization +
  * per-batch validation metadata (reference src/components/loading.py).
  */
object Loader {

  /** Scoped around the overwrite, so it replaces only the partitions
    * it writes. */
  private val dynamicOverwrite =
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic"

  /** P10 — storage type optimization (reference loading.py:139-175):
    * measurement doubles -> float32, counters -> int32. Parquet
    * dictionary encoding (on by default) replaces pandas categories. */
  def optimizeTypes(df: DataFrame): DataFrame = {
    val floatCols = Seq("value", "battery_level", "daily_avg_value",
      "rolling_avg_value", "quality_score").filter(df.columns.contains)
    val intCols = Seq("total_issues").filter(df.columns.contains)
    val f = floatCols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(FloatType)))
    intCols.foldLeft(f)((d, c) => d.withColumn(c, col(c).cast(IntegerType)))
  }

  /** P11 — batch-constant metadata columns (reference loading.py:119-131). */
  def addMetadata(
      result: ValidationResult,
      version: String,
      validationTimestamp: String)(df: DataFrame): DataFrame =
    df.withColumn("data_quality_passed", lit(result.passed))
      .withColumn("validation_timestamp", lit(validationTimestamp))
      .withColumn("pipeline_version", lit(version))
      .withColumn("quality_score", lit(result.qualityScore))
      .withColumn("total_issues", lit(result.issuesFound.size))

  /** The one in-file row order of the sink: the partition columns,
    * then the reading key (sensor_id, reading_type, timestamp), then
    * every other column in schema order, each only where present. A
    * total order, so a file's bytes depend on its rows alone, never on
    * shuffle arrival order; the key-first order also tightens
    * row-group min/max for scans that filter on sensor, type or time. */
  private def inFileOrder(cfg: PipelineConfig, df: DataFrame): Seq[String] =
    (cfg.write.partitionBy ++ Seq("sensor_id", "reading_type", "timestamp") ++
      df.columns).distinct.filter(df.columns.contains)

  /** S8 — partitioned write. `overwrite` maps to DYNAMIC partition
    * overwrite = PyArrow's delete_matching (replace only touched
    * partitions, reference loading.py:196-224); `append` maps to
    * SaveMode.Append; any other mode fails before anything is written.
    * The hive partition value of `date` is its yyyy-MM-dd string.
    *
    * Write width: the rows are hash-partitioned on the partition
    * columns into exactly `spark.sql.shuffle.partitions` tasks, so each
    * output directory gets one file (the reference wrote 24 files for
    * 72 rows; at 100 TB an unrepartitioned write explodes into
    * task-count x partition-count small files). The count is fixed
    * because AQE would otherwise merge a small batch's exchange into a
    * single partition, and one task would write every directory while
    * the other cores idle; a fixed count is never merged, and a big
    * batch was never merged below it anyway. Each task's rows are
    * sorted by [[inFileOrder]]: that order already satisfies the
    * writer's partition-column sort, so it replaces that sort instead
    * of adding one, and no exchange. */
  def write(cfg: PipelineConfig, outPath: String)(df: DataFrame): Unit = {
    val mode = cfg.write.mode
    require(mode == "overwrite" || mode == "append",
      s"write.mode must be 'overwrite' or 'append', got: '$mode'")
    val parts = cfg.write.partitionBy
    val dated =
      if (parts.contains("date")) df.withColumn("date", col("date").cast(StringType))
      else df
    val repartitioned = dated.repartition(
      df.sparkSession.sessionState.conf.defaultNumShufflePartitions,
      parts.map(col): _*)
    val writer = repartitioned
      .sortWithinPartitions(inFileOrder(cfg, repartitioned).map(col): _*)
      .write
      .partitionBy(parts: _*)
      .option("compression", cfg.write.compression)
    Session.withConf(df.sparkSession, dynamicOverwrite) {
      writer.mode(mode).parquet(outPath)
    }
  }

  /** S12 — storage stats over the output tree (reference
    * loading.py:238-273): every `*.parquet` file whose name does not
    * start with `_`, its bytes, and one partition per parent directory.
    *
    * The walk uses `listStatus`, never `listFiles`: `listFiles` builds a
    * `LocatedFileStatus` per file, which asks for the file's permission,
    * and without Hadoop's native library the local file system starts a
    * shell process for each of those (about 3 ms per file). */
  def storageStats(spark: SparkSession, outPath: String): StorageStats = {
    val p = new Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return StorageStats(0, 0, 0)
    var files = 0L
    var bytes = 0L
    var partitions = 0L
    val dirs = scala.collection.mutable.Stack(p)
    while (dirs.nonEmpty) {
      val (sub, leaves) = fs.listStatus(dirs.pop()).partition(_.isDirectory)
      sub.foreach(d => dirs.push(d.getPath))
      val parquet = leaves.filter { s =>
        val name = s.getPath.getName
        name.endsWith(".parquet") && !name.startsWith("_")
      }
      files += parquet.length
      bytes += parquet.map(_.getLen).sum
      if (parquet.nonEmpty) partitions += 1
    }
    StorageStats(files, bytes, partitions)
  }

  /** S9 — `_validation_metadata.json` beside the data
    * (reference loading.py:275-303). */
  def writeMetadata(
      spark: SparkSession,
      outPath: String,
      result: ValidationResult,
      stats: StorageStats,
      recordsStored: Long,
      validationTimestamp: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("validation_timestamp", validationTimestamp)
    root.put("data_quality_passed", result.passed)
    root.put("quality_score", result.qualityScore)
    root.put("total_issues", result.issuesFound.size)
    val issues = root.putArray("issues")
    result.issuesFound.foreach(issues.add)
    val ss = root.putObject("storage_stats")
    ss.put("records_stored", recordsStored)
    ss.put("total_files", stats.totalFiles)
    ss.put("total_bytes", stats.totalBytes)
    ss.put("partitions", stats.partitions)
    val p = new Path(outPath, "_validation_metadata.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter.writeValueAsBytes(root))
    finally out.close()
  }

  /** S11 — read-back with real partition pruning (the reference reads
    * everything then filters in pandas, loading.py:338-372; Catalyst
    * prunes `date=`/`sensor_id=` directories instead). */
  def readBack(
      spark: SparkSession,
      outPath: String,
      date: Option[String] = None,
      sensorId: Option[String] = None): DataFrame = {
    var df = spark.read.parquet(outPath)
    date.foreach(d => df = df.filter(col("date") === d))
    sensorId.foreach(s => df = df.filter(col("sensor_id") === s))
    df
  }
}
