package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.graft.ListenerDrain
import org.apache.spark.sql.types._

import graft.ingest.{Checkpoint, ParquetIngestor, SchemaCompat}
import graft.model.Schemas

class IngestionSpec extends SparkSpec with TempPaths {
  import spark.implicits._

  private def tmpDir(): String =
    tempDir("graft-ing").toString

  private def writeRaw(dir: String, name: String, rows: Int = 5): Unit =
    (1 to rows).map(i =>
      (s"sensor_$i", java.sql.Timestamp.valueOf(f"2023-06-01 ${i % 24}%02d:00:00"),
        "temperature", 20.0 + i, 90.0))
      .toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level")
      .coalesce(1).write.mode("append").parquet(s"$dir/stage_$name")
      // move the part file up as a named file
  private def promote(dir: String, name: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new Path(s"$dir/stage_$name"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new Path(s"$dir/$name"))
    fs.delete(new Path(s"$dir/stage_$name"), true)
  }
  private def addFile(dir: String, name: String, rows: Int = 5): Unit = {
    writeRaw(dir, name, rows); promote(dir, name)
  }

  test("schema compat lattice: timestamp units, float widening, string spellings") {
    assert(SchemaCompat.compatible(TimestampNTZType, TimestampType))
    assert(SchemaCompat.compatible(FloatType, DoubleType))
    assert(SchemaCompat.compatible(VarcharType(10), StringType))
    assert(!SchemaCompat.compatible(StringType, DoubleType))
    assert(!SchemaCompat.compatible(LongType, TimestampType))
  }

  test("schema diff: missing/extra columns reject, order does not matter") {
    val expected = Schemas.raw
    val reordered = StructType(expected.fields.reverse)
    assert(SchemaCompat.diff(reordered, expected).isEmpty)
    val missing = StructType(expected.fields.dropRight(1))
    assert(SchemaCompat.diff(missing, expected)
      .exists(_.contains("missing column battery_level")))
    val extra = StructType(expected.fields :+ StructField("location", StringType))
    assert(SchemaCompat.diff(extra, expected)
      .exists(_.contains("extra column location")))
  }

  test("checkpoint: load of corrupt/absent file degrades to empty") {
    val dir = tmpDir()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Checkpoint.load(fs, new Path(s"$dir/nope.json")) === Checkpoint.empty)
    Files.writeString(java.nio.file.Paths.get(s"$dir/bad.json"), "{not json")
    assert(Checkpoint.load(fs, new Path(s"$dir/bad.json")) === Checkpoint.empty)
  }

  test("checkpoint round-trip preserves files and stats") {
    val dir = tmpDir()
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cp = Checkpoint(Set("a.parquet", "b.parquet"), "2023-06-01T00:00:00Z",
      Map("files_processed" -> 2L))
    Checkpoint.save(fs, new Path(s"$dir/cp.json"), cp)
    assert(Checkpoint.load(fs, new Path(s"$dir/cp.json")) === cp)
  }

  test("ingest: accepts valid files, skips wrong-schema, isolates corrupt") {
    val dir = tmpDir()
    addFile(dir, "2023-06-01.parquet")
    addFile(dir, "2023-06-02.parquet")
    // wrong schema: value as string
    Seq(("s1", "x")).toDF("sensor_id", "value")
      .coalesce(1).write.parquet(s"$dir/stage_2023-06-03.parquet")
    promote(dir, "2023-06-03.parquet")
    Files.writeString(java.nio.file.Paths.get(s"$dir/2023-06-04.parquet"), "garbage")

    val res = ParquetIngestor.ingest(spark, dir, Schemas.raw)
    assert(res.stats.filesDiscovered === 4)
    assert(res.accepted.toSet === Set("2023-06-01.parquet", "2023-06-02.parquet"))
    assert(res.skipped === Seq("2023-06-03.parquet"))
    assert(res.failed.map(_._1) === Seq("2023-06-04.parquet"))
    assert(res.data.get.count() === 10)
    assert(res.data.get.schema.fieldNames.toSeq === Schemas.raw.fieldNames.toSeq)
  }

  test("ingest launches no Spark job: every probe is a driver-side footer read") {
    val dir = tmpDir()
    addFile(dir, "2023-06-01.parquet")
    addFile(dir, "2023-06-02.parquet")
    Seq(("s1", "x")).toDF("sensor_id", "value")
      .coalesce(1).write.parquet(s"$dir/stage_2023-06-03.parquet")
    promote(dir, "2023-06-03.parquet")
    Files.writeString(java.nio.file.Paths.get(s"$dir/2023-06-04.parquet"), "garbage")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val res =
      try {
        val r = ParquetIngestor.ingest(spark, dir, Schemas.raw)
        ListenerDrain(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get === 0)
    assert(res.accepted === Seq("2023-06-01.parquet", "2023-06-02.parquet"))
    assert(res.skipped === Seq("2023-06-03.parquet"))
    assert(res.failed.map(_._1) === Seq("2023-06-04.parquet"))
  }

  test("ingest: TIMESTAMP(NANOS) files mixing FLOAT and DOUBLE value read " +
    "as one batch, truncated to microseconds") {
    import NanosParquet._
    val dir = tmpDir()
    // 2023-06-01T00:00:00.123456789Z in nanoseconds
    val ns = 1685577600L * 1000000000L + 123456789L
    def cols(value: org.apache.parquet.schema.PrimitiveType) = Seq(
      string("sensor_id"), nanos("timestamp"), string("reading_type"),
      value, double("battery_level"))
    NanosParquet.write(s"$dir/2023-06-01.parquet", cols(float("value")),
      Seq(Seq("s1", ns, "temperature", 21.5f, 90.0)))
    NanosParquet.write(s"$dir/2023-06-02.parquet", cols(double("value")),
      Seq(Seq("s2", ns + 86400L * 1000000000L, "humidity", 55.25, 80.0)))

    val res = ParquetIngestor.ingest(spark, dir, Schemas.raw)
    assert(res.accepted === Seq("2023-06-01.parquet", "2023-06-02.parquet"))
    val df = res.data.get
    assert(df.schema("timestamp").dataType === TimestampType)
    assert(df.schema("value").dataType === DoubleType)
    val rows = df.orderBy("sensor_id")
      .selectExpr("sensor_id", "unix_micros(timestamp)", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val us = 1685577600L * 1000000L + 123456L
    assert(rows === Seq(("s1", us, 21.5), ("s2", us + 86400L * 1000000L, 55.25)))
  }

  test("ingest: incremental mode skips files only after commit()") {
    val dir = tmpDir()
    addFile(dir, "2023-06-01.parquet")
    addFile(dir, "2023-06-02.parquet")
    val cpPath = s"$dir/.checkpoint"
    val r1 = ParquetIngestor.ingest(spark, dir, Schemas.raw, Some(cpPath))
    assert(r1.stats.filesProcessed === 2)

    // No commit yet (downstream "failed") -> the same files are retried.
    val retry = ParquetIngestor.ingest(spark, dir, Schemas.raw, Some(cpPath))
    assert(retry.stats.filesProcessed === 2)

    r1.commit(r1.data.get.count())
    val r2 = ParquetIngestor.ingest(spark, dir, Schemas.raw, Some(cpPath))
    assert(r2.stats.filesProcessed === 0)
    assert(r2.data.isEmpty)

    // Committed checkpoint carries the real record count.
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cp = Checkpoint.load(fs, new Path(cpPath))
    assert(cp.lastRunStats("records_ingested") === 10L)

    addFile(dir, "2023-06-05.parquet", rows = 3)
    val r3 = ParquetIngestor.ingest(spark, dir, Schemas.raw, Some(cpPath))
    assert(r3.accepted === Seq("2023-06-05.parquet"))
    assert(r3.data.get.count() === 3)
  }

  test("crash between write and commit: re-run re-ingests without duplicating output") {
    // The deferred-commit contract (Result.commit) and the dynamic-
    // overwrite sink have to compose: a crash AFTER Loader.write but
    // BEFORE ing.commit leaves the checkpoint untouched, so the next
    // run retries the same files — and because the sink overwrites the
    // batch's partitions instead of appending, the retry REPLACES the
    // orphaned output rather than doubling it. End-to-end exactly-once
    // from at-least-once retries plus an idempotent sink.
    import graft.config.PipelineConfig
    import graft.load.Loader
    import graft.transform.Transforms
    val raw = tmpDir()
    val out = s"${tmpDir()}/processed"
    addFile(raw, "2023-06-01.parquet")
    addFile(raw, "2023-06-02.parquet", rows = 3)
    val cfg = PipelineConfig.default
    val cpPath = s"$raw/.checkpoint"

    // RUN 1 — simulated crash: ingest, transform, WRITE... then die
    // before commit().
    val ing1 = ParquetIngestor.ingest(spark, raw, Schemas.raw, Some(cpPath))
    Loader.write(cfg, out)(
      ing1.data.get.transform(Transforms.pipeline(cfg)))
    val fs = new Path(raw).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Checkpoint.load(fs, new Path(cpPath)).processedFiles.isEmpty)
    // Materialize the crash-state profile NOW — the rerun below
    // replaces the underlying files.
    val afterCrash = spark.read.parquet(out)
    val rowsAfterCrash = afterCrash.count()
    assert(rowsAfterCrash > 0)
    val perPartCrash = afterCrash.groupBy($"date", $"sensor_id").count()
      .collect().map(r => (r.get(0).toString, r.get(1).toString) -> r.getLong(2)).toMap

    // RUN 2 — the retry: same files come back (not silently dropped),
    // the write lands on the same partitions, commit succeeds.
    val ing2 = ParquetIngestor.ingest(spark, raw, Schemas.raw, Some(cpPath))
    assert(ing2.accepted.toSet ===
      Set("2023-06-01.parquet", "2023-06-02.parquet"))
    Loader.write(cfg, out)(
      ing2.data.get.transform(Transforms.pipeline(cfg)))
    ing2.commit(ing2.data.get.count())

    // Idempotent: identical row count, no per-partition doubling.
    val afterRerun = spark.read.parquet(out)
    assert(afterRerun.count() === rowsAfterCrash)
    val perPart = afterRerun.groupBy($"date", $"sensor_id").count()
      .collect().map(r => (r.get(0).toString, r.get(1).toString) -> r.getLong(2)).toMap
    assert(perPart === perPartCrash)

    // RUN 3 — nothing left to do.
    val ing3 = ParquetIngestor.ingest(spark, raw, Schemas.raw, Some(cpPath))
    assert(ing3.data.isEmpty && ing3.stats.filesProcessed === 0)
  }

  test("ingest: parallel probe over many files keeps isolation and order") {
    val dir = tmpDir()
    // 24 good files, 3 corrupt, 2 schema-broken — more files than the
    // probe pool has threads, so the parallel path genuinely fans out.
    (1 to 24).foreach(i => addFile(dir, f"2023-07-$i%02d.parquet", rows = 3))
    (1 to 3).foreach { i =>
      Files.write(java.nio.file.Paths.get(dir, s"corrupt_$i.parquet"),
        s"not parquet $i".getBytes)
    }
    (1 to 2).foreach { i =>
      Seq((s"s$i", 1.0)).toDF("sensor_id", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/stage_bad$i.parquet")
      promote(dir, s"bad$i.parquet")
    }
    val r = ParquetIngestor.ingest(spark, dir, Schemas.raw)
    assert(r.accepted.size === 24)
    assert(r.accepted === r.accepted.sorted) // deterministic name order
    assert(r.failed.size === 3)
    assert(r.skipped.size === 2)
    assert(r.data.get.count() === 72L)
  }

  test("ingest: commit is a no-op in full-reload mode") {
    val dir = tmpDir()
    addFile(dir, "2023-06-01.parquet")
    val cpPath = s"$dir/.checkpoint"
    val r = ParquetIngestor.ingest(spark, dir, Schemas.raw, Some(cpPath),
      incremental = false)
    r.commit(5L)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Checkpoint.load(fs, new Path(cpPath)) === Checkpoint.empty)
  }
}
