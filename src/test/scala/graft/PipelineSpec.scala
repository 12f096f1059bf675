package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}

import graft.ingest.Checkpoint
import graft.load.Loader

/** Drives the production entry, `Pipeline.run`, end to end over a
  * one-file raw directory: ingest → transform → validate → load, the
  * metadata and checkpoint commit, the incremental rerun and the
  * forced full reload. */
class PipelineSpec extends SparkSpec with TempPaths {
  import spark.implicits._

  /** Every regular file under `root` by relative path, with its bytes. */
  private def snapshot(root: Path): Map[String, Seq[Byte]] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString ->
        Files.readAllBytes(f).toSeq).toMap
    finally files.close()
  }

  test("Pipeline.run: load, metadata, checkpoint, incremental rerun, " +
    "forced full reload") {
    val raw = tempDir("graft-pipe-raw").toString
    val out = tempDir("graft-pipe-out").toString + "/out"
    Seq(
      ("s1", java.sql.Timestamp.valueOf("2023-06-01 10:00:00"), "temperature", 25.0, 90.0),
      ("s1", java.sql.Timestamp.valueOf("2023-06-01 12:00:00"), "temperature", 26.0, 91.0),
      ("s2", java.sql.Timestamp.valueOf("2023-06-01 11:00:00"), "humidity", 65.0, 80.0))
      .toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level")
      .coalesce(1).write.parquet(s"$raw/2023-06-01.parquet.dir")
    // promote the part file to a day-named .parquet file
    val fs = new HPath(raw).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new HPath(s"$raw/2023-06-01.parquet.dir"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    fs.rename(part, new HPath(s"$raw/2023-06-01.parquet"))
    fs.delete(new HPath(s"$raw/2023-06-01.parquet.dir"), true)

    val r1 = Pipeline.run(spark, raw, out)
    assert(r1.success)
    assert(r1.recordsIngested === 3)
    assert(r1.recordsStored === 3)

    val meta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(out, "_validation_metadata.json").toFile)
    assert(meta.get("storage_stats").get("records_stored").asLong === 3L)

    val cp = Checkpoint.load(fs, new HPath(s"$raw/.checkpoint"))
    assert(cp.processedFiles === Set("2023-06-01.parquet"))

    assert(Loader.readBack(spark, out, sensorId = Some("s1")).count() === 2)

    // incremental rerun: nothing new to ingest, nothing rewritten
    val stored = snapshot(Paths.get(out))
    val r2 = Pipeline.run(spark, raw, out)
    assert(r2.success)
    assert(r2.recordsIngested === 0)
    assert(snapshot(Paths.get(out)) === stored)

    val r3 = Pipeline.run(spark, raw, out, forceFullReload = true)
    assert(r3.success)
    assert(r3.recordsIngested === 3)
  }

  test("Pipeline.main rejects a flag that has no value, before any " +
    "session starts") {
    for (flag <- Seq("--config", "--raw", "--out", "--report")) {
      val e = intercept[RuntimeException](
        Pipeline.main(Array("--force-full-reload", flag)))
      assert(e.getMessage === s"missing value for $flag")
    }
    assert(!spark.sparkContext.isStopped)
  }
}
