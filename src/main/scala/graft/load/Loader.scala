package graft.load

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType, StringType}

import graft.Session
import graft.config.PipelineConfig
import graft.model.{StorageStats, ValidationResult}

/** Hive-partitioned zstd Parquet sink + storage-side type optimization +
  * per-batch validation metadata (reference src/components/loading.py).
  */
object Loader {

  /** Scoped around each overwrite that must replace only the
    * partitions it writes. */
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

  /** S8 — partitioned write. `overwrite` maps to DYNAMIC partition
    * overwrite = PyArrow's delete_matching (replace only touched
    * partitions, reference loading.py:196-224); `append` maps to
    * SaveMode.Append. A repartition on the partition keys bounds the
    * files-per-partition (the reference wrote 24 files for 72 rows;
    * at 100 TB unrepartitioned writes explode into task-count x
    * partition-count small files). */
  def write(cfg: PipelineConfig, outPath: String)(df: DataFrame): Unit = {
    if (cfg.write.bucketBy.nonEmpty) return writeBucketed(cfg, outPath)(df)
    val parts = cfg.write.partitionBy
    val partCols = parts.map(col)
    val repartitioned = parts
      .foldLeft(df) { (d, p) =>
        if (p == "date") d.withColumn("date", col("date").cast(StringType)) else d
      }
      .repartition(partCols: _*)
    // Optional in-file clustering: sorting rows within each output task
    // tightens parquet row-group min/max statistics on the sort keys,
    // so time-range scans skip whole row groups at read time — a data-
    // skipping win that costs one in-memory sort per write task, no
    // extra shuffle (sortWithinPartitions is a narrow transformation).
    // The partition columns lead the sort order: FileFormatWriter
    // requires tasks sorted by partition columns and would insert its
    // own sort (destroying the clustering) if the ordering didn't
    // already satisfy that requirement.
    // zorderBy (exactly two columns) appends the Morton interleave of
    // the pair as the trailing sort key — row groups become tight in
    // BOTH dimensions, so two-sided range predicates skip row groups
    // that a single-column sort cannot (measured by q162: 9x fewer
    // rows scanned on the synthetic fact table). Same narrow
    // sortWithinPartitions — no extra shuffle.
    val sortKeys: Seq[Column] = {
      val z = cfg.write.zorderBy match {
        case Seq(a, b) => Seq(graft.plans.ZOrder16.zorder16(col(a), col(b)))
        case Nil => Nil
        case other => sys.error(
          s"write.zorder_by needs exactly 2 columns, got: $other")
      }
      (parts ++ cfg.write.sortWithin).map(col) ++ z
    }
    val prepared =
      if (cfg.write.sortWithin.isEmpty && cfg.write.zorderBy.isEmpty)
        repartitioned
      else repartitioned.sortWithinPartitions(sortKeys: _*)
    val writer = prepared.write
      .partitionBy(parts: _*)
      .option("compression", cfg.write.compression)
      .option("parquet.enable.dictionary", "true")
    val mode = cfg.write.mode match {
      case "overwrite" => "overwrite"
      case _ => "append"
    }
    Session.withConf(df.sparkSession, dynamicOverwrite) {
      writer.mode(mode).parquet(outPath)
    }
  }

  /** Existing curated data at `outPath`? Probed through the Hadoop
    * FileSystem of the path's own scheme (like [[storageStats]]) — a
    * java.nio probe would answer FALSE for any hdfs:// or s3a:// path,
    * and the fresh-catalog guard below would then take the CREATE
    * branch (mode overwrite) over a directory full of previously
    * landed output. */
  private def hasParquetFiles(spark: SparkSession, outPath: String): Boolean = {
    val p = new Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext) {
      val s = it.next()
      val nm = s.getPath.getName
      if (s.isFile && nm.endsWith(".parquet") &&
        !nm.startsWith("_") && !nm.startsWith(".")) found = true
    }
    found
  }

  /** The bucket layout a curated sink was WRITTEN under, persisted
    * beside the data (`_graft_bucket_spec.json`). The spec otherwise
    * exists only as session-catalog metadata: a fresh JVM re-registering
    * the table would stamp the CURRENT config's spec onto whatever
    * files exist, and if bucket_count/bucket_by changed between
    * sessions Spark would trust the bogus metadata — exchange-free
    * joins then silently return wrong rows (keys hash to buckets that
    * don't match the file tags). Persisting the written spec turns that
    * into a loud re-register failure. */
  private final case class BucketSpecOnDisk(
      bucketBy: Seq[String], bucketCount: Int, sortedBy: Seq[String],
      partitionBy: Seq[String])

  private def bucketSpecPath(outPath: String) =
    new Path(outPath, "_graft_bucket_spec.json")

  private def writeBucketSpec(spark: SparkSession, outPath: String,
      spec: BucketSpecOnDisk): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    val bb = root.putArray("bucket_by"); spec.bucketBy.foreach(bb.add)
    root.put("bucket_count", spec.bucketCount)
    val sb = root.putArray("sorted_by"); spec.sortedBy.foreach(sb.add)
    val pb = root.putArray("partition_by"); spec.partitionBy.foreach(pb.add)
    val p = bucketSpecPath(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter.writeValueAsBytes(root))
    finally out.close()
  }

  private def readBucketSpec(spark: SparkSession,
      outPath: String): Option[BucketSpecOnDisk] = {
    val p = bucketSpecPath(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val bytes =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](8192)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        buf.toByteArray
      } finally in.close()
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(bytes)
    import scala.jdk.CollectionConverters._
    def arr(k: String): Seq[String] =
      Option(root.get(k)).map(_.elements.asScala.map(_.asText).toSeq)
        .getOrElse(Nil)
    Some(BucketSpecOnDisk(arr("bucket_by"),
      Option(root.get("bucket_count")).map(_.asInt).getOrElse(0),
      arr("sorted_by"), arr("partition_by")))
  }

  /** Advisory single-writer lease for the bucketed sink. The bucketed
    * write sequence (existence probe → spec check/register → write →
    * spec marker) is not atomic: two simultaneous writers can both see
    * "no table, no files", both take the CREATE branch, and interleave
    * mode(overwrite) output — or one appends while the other
    * overwrites. The lease makes the race loud instead of silent: a
    * `_graft_bucket_lock` marker is created atomically
    * (create-if-absent; atomic on HDFS and local filesystems — object
    * stores without atomic create narrow the window but keep the loud
    * failure for any overlap longer than one round-trip) and deleted
    * in a finally.
    *
    * CONTRACT: one writer per curated path at a time. A writer that
    * DIED between create and delete leaves a stale lock; the error
    * message carries the lock's pid/timestamp so an operator can
    * verify the writer is gone and delete the marker. This sink
    * deliberately does NOT auto-expire leases — guessing wrong about a
    * slow-but-alive writer corrupts the table the lease exists to
    * protect. */
  private def bucketLockPath(outPath: String) =
    new Path(outPath, "_graft_bucket_lock")

  private def acquireBucketLease(spark: SparkSession, outPath: String): Unit = {
    val p = bucketLockPath(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    val out =
      try fs.create(p, false) // overwrite=false: atomic create-if-absent
      catch {
        case e: java.io.IOException =>
          val held = try {
            val in = fs.open(p)
            try {
              val buf = new Array[Byte](256)
              val n = in.read(buf)
              if (n > 0) new String(buf, 0, n, "UTF-8") else ""
            } finally in.close()
          } catch { case _: Throwable => "" }
          sys.error(
            s"bucketed curated sink at $outPath is locked by a " +
              s"concurrent writer ($held). The sink is single-writer: " +
              "wait for it to finish, or — if it crashed and left this " +
              s"lease stale — verify the process is gone and delete $p. " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage})")
      }
    try out.write(
      s"""{"pid":${ProcessHandle.current.pid},"acquired_utc_ms":${System.currentTimeMillis}}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  private def releaseBucketLease(spark: SparkSession, outPath: String): Unit = {
    val p = bucketLockPath(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, false)
  }

  /** Deterministic catalog name for a bucketed curated sink at a path —
    * the bucket spec only exists as catalog metadata, so bucketed
    * output is table-backed (files still land at `outPath`). */
  def curatedTableName(outPath: String): String = {
    val h = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(outPath) & 0x7fffffff)
    s"graft_curated_$h"
  }

  /** The curated output as the catalog-backed table the bucketed sink
    * registered — reading via the TABLE (not the bare path) is what
    * gives downstream joins/aggregations the exchange-free plan; a bare
    * `spark.read.parquet(outPath)` sees the same rows but no bucket
    * metadata. */
  def readBackBucketed(spark: SparkSession, outPath: String): DataFrame =
    spark.table(curatedTableName(outPath))

  /** Bucketed variant of the curated sink (WriteConfig.bucketBy):
    * partitions prune scans, buckets pre-pay the shuffle — every
    * downstream join/aggregation keyed on the bucket columns reads
    * co-located buckets with no exchange (the q193/q197 property, now
    * on the pipeline's own output). Routed through `repartition(n,
    * bucketCols)` so each task owns one bucket and each partition
    * directory gets exactly one file per bucket. `sortWithin` becomes
    * the in-bucket sort tail (the bucketed writer owns the task sort
    * order — partition cols, bucket id, sortBy — so the plain sink's
    * sortWithinPartitions clustering would be destroyed; sortBy is the
    * supported way to cluster inside bucketed files). Mode semantics
    * match the plain sink: `append` accumulates batches (one more file
    * per bucket each — compact via graft.operators.Bucketed's policy),
    * `overwrite` replaces only touched partitions (dynamic overwrite
    * through insertInto once the table exists). */
  private def writeBucketed(cfg: PipelineConfig, outPath: String)(
      df: DataFrame): Unit = {
    val parts = cfg.write.partitionBy
    val bucketCols = cfg.write.bucketBy
    val n = cfg.write.bucketCount
    require(n > 0, s"write.bucket_count must be > 0 with write.bucket_by set")
    require(bucketCols.intersect(parts).isEmpty,
      s"bucket columns $bucketCols must be disjoint from partition columns $parts")
    require(cfg.write.zorderBy.isEmpty,
      "write.zorder_by is incompatible with write.bucket_by (bucket sort " +
        "keys are plain columns); use sort_within for the in-bucket tail")
    val spark = df.sparkSession
    // Single-writer lease around the whole probe→register→write→marker
    // sequence — see [[acquireBucketLease]] for the contract.
    acquireBucketLease(spark, outPath)
    try {
    val prepared = parts
      .foldLeft(df) { (d, p) =>
        if (p == "date") d.withColumn("date", col("date").cast(StringType)) else d
      }
      .repartition(n, bucketCols.map(col): _*)
    val sortCols = (bucketCols ++ cfg.write.sortWithin).distinct
    val name = curatedTableName(outPath)
    // The catalog is session-scoped but the OUTPUT is not: a fresh JVM
    // whose catalog lacks the table must NOT treat existing curated
    // output as absent — the create branch writes mode(overwrite) and
    // would wipe every previously landed partition on the first
    // "append" after a restart. Re-register the table over the
    // existing files instead (DDL with the same partition/bucket spec
    // + partition recovery), then take the normal append/overwrite
    // path. This is also what makes readBackBucketed work across
    // sessions once any write has run.
    val specNow = BucketSpecOnDisk(bucketCols, n, sortCols, parts)
    if (!spark.catalog.tableExists(name) && hasParquetFiles(spark, outPath)) {
      // Never stamp the CURRENT config's bucket spec onto files whose
      // layout it cannot vouch for: the persisted spec is the proof.
      // Absent marker = data this sink did not write (or a pre-marker
      // layout) — refuse loudly rather than register metadata that
      // would make exchange-free joins silently wrong; a changed spec
      // fails the same way instead of mis-tagging every bucket.
      readBucketSpec(spark, outPath) match {
        case None => sys.error(
          s"curated output at $outPath has parquet files but no " +
            "_graft_bucket_spec.json — cannot prove the on-disk bucket " +
            "layout matches write.bucket_by, and registering a wrong " +
            "spec silently corrupts every exchange-free join. Rewrite " +
            "with write.mode=overwrite into an empty directory, or " +
            "restore the marker if the files are known-good.")
        case Some(disk) if disk != specNow => sys.error(
          s"curated output at $outPath was written under bucket spec " +
            s"$disk but the current config requests $specNow — " +
            "re-registering would tag files with a layout they were " +
            "not written under (silently wrong join results). Compact/" +
            "rewrite the output under the new spec instead.")
        case _ => ()
      }
      val ddlCols = prepared.schema.toDDL
      val partClause =
        if (parts.nonEmpty) s"PARTITIONED BY (${parts.mkString(", ")})" else ""
      spark.sql(
        s"""CREATE TABLE `$name` ($ddlCols) USING parquet
           |$partClause
           |CLUSTERED BY (${bucketCols.mkString(", ")})
           |SORTED BY (${sortCols.mkString(", ")})
           |INTO $n BUCKETS
           |LOCATION '$outPath'""".stripMargin)
      if (parts.nonEmpty) spark.catalog.recoverPartitions(name)
    }
    if (!spark.catalog.tableExists(name)) {
      prepared.write
        .partitionBy(parts: _*)
        .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
        .sortBy(sortCols.head, sortCols.tail: _*)
        .option("compression", cfg.write.compression)
        .option("parquet.enable.dictionary", "true")
        .option("path", outPath)
        .mode("overwrite")
        .saveAsTable(name)
      writeBucketSpec(spark, outPath, specNow)
    } else if (cfg.write.mode != "overwrite") {
      prepared.write
        .partitionBy(parts: _*)
        .bucketBy(n, bucketCols.head, bucketCols.tail: _*)
        .sortBy(sortCols.head, sortCols.tail: _*)
        .option("compression", cfg.write.compression)
        .mode("append")
        .saveAsTable(name)
    } else {
      // Dynamic partition overwrite of an existing bucketed table goes
      // through insertInto (positional — reorder to the table schema;
      // the bucket spec comes from the catalog metadata).
      val tableCols = spark.table(name).columns
      val missing = tableCols.filterNot(prepared.columns.contains)
      require(missing.isEmpty,
        s"batch is missing columns ${missing.mkString(",")} of curated table $name")
      val aligned = prepared.select(tableCols.map(col): _*)
      Session.withConf(spark, dynamicOverwrite) {
        aligned.write.mode("overwrite").insertInto(name)
      }
    }
    } finally releaseBucketLease(spark, outPath)
  }

  /** S12 — storage stats via recursive listing (reference loading.py:238-273). */
  def storageStats(spark: SparkSession, outPath: String): StorageStats = {
    val p = new Path(outPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return StorageStats(0, 0, 0)
    val it = fs.listFiles(p, true)
    var files = 0L
    var bytes = 0L
    val partitions = scala.collection.mutable.Set.empty[String]
    while (it.hasNext) {
      val s = it.next()
      val name = s.getPath.getName
      if (s.isFile && name.endsWith(".parquet") && !name.startsWith("_")) {
        files += 1
        bytes += s.getLen
        partitions += s.getPath.getParent.toString
      }
    }
    StorageStats(files, bytes, partitions.size)
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

  /** Small-file compaction: rewrite a partitioned dataset with one file
    * per partition directory (or a byte-targeted count). Incremental
    * loads accumulate a file per batch per partition; at 100 TB the
    * periodic compactor keeps scan task counts bounded. Uses dynamic
    * partition overwrite so only rewritten partitions change. */
  def compact(
      spark: SparkSession,
      path: String,
      partitionCols: Seq[String],
      compression: String = "zstd"): Unit = {
    val df = spark.read.parquet(path)
    Session.withConf(spark, dynamicOverwrite) {
      df.repartition(partitionCols.map(col): _*)
        .sortWithinPartitions(partitionCols.map(col): _*)
        .write
        .partitionBy(partitionCols: _*)
        .option("compression", compression)
        .mode("overwrite")
        .parquet(path)
    }
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
