package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType}

import graft.config.PipelineConfig
import graft.load.Loader
import graft.model.{StorageStats, ValidationResult}

class LoaderSpec extends SparkSpec with TempPaths {
  import spark.implicits._

  private def transformed() = Seq(
    ("s1", java.sql.Timestamp.valueOf("2023-06-01 10:00:00"), "temperature",
      25.5, 90.0, java.sql.Date.valueOf("2023-06-01"), 25.5, 25.5, false),
    ("s2", java.sql.Timestamp.valueOf("2023-06-02 10:00:00"), "humidity",
      60.0, 80.0, java.sql.Date.valueOf("2023-06-02"), 60.0, 60.0, true))
    .toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level",
      "date", "daily_avg_value", "rolling_avg_value", "anomalous_reading")

  private val vr = ValidationResult(passed = true, 2, Nil, 98.5, None)

  test("P10 type optimization casts floats and ints") {
    val df = Loader.optimizeTypes(
      Loader.addMetadata(vr, "1.0.0", "2023-06-01T00:00:00Z")(transformed()))
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("value") === FloatType)
    assert(types("battery_level") === FloatType)
    assert(types("daily_avg_value") === FloatType)
    assert(types("quality_score") === FloatType)
    assert(types("total_issues") === IntegerType)
  }

  test("P11 metadata columns are batch-constant") {
    val df = Loader.addMetadata(vr, "1.0.0", "T0")(transformed())
    val rows = df.select("data_quality_passed", "pipeline_version",
      "quality_score", "total_issues").distinct().collect()
    assert(rows.length === 1)
    assert(rows.head.getString(1) === "1.0.0")
  }

  test("S8 partitioned write produces hive layout with zstd; S12 stats see it") {
    val out = tempDir("graft-load").toString + "/out"
    val cfg = PipelineConfig.default
    val prepared = Loader.optimizeTypes(
      Loader.addMetadata(vr, "1.0.0", "T0")(transformed()))
    Loader.write(cfg, out)(prepared)

    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("date="))
    assert(dirs.toSet === Set("date=2023-06-01", "date=2023-06-02"))
    val leaf = new java.io.File(s"$out/date=2023-06-01/sensor_id=s1")
    assert(leaf.isDirectory)
    assert(leaf.listFiles().exists(f => f.getName.endsWith(".zstd.parquet") ||
      f.getName.endsWith(".parquet")))

    val stats = Loader.storageStats(spark, out)
    assert(stats.totalFiles >= 2)
    assert(stats.partitions === 2)
    assert(stats.totalBytes > 0)
  }

  test("S8 dynamic overwrite replaces only matching partitions") {
    val out = tempDir("graft-load2").toString + "/out"
    val cfg = PipelineConfig.default
    Loader.write(cfg, out)(transformed())
    // second batch touches only 2023-06-01/s1 with a new value
    val update = transformed().filter($"sensor_id" === "s1")
      .withColumn("value", lit(99.0))
    Loader.write(cfg, out)(update)
    val back = spark.read.parquet(out)
    assert(back.count() === 2) // s2 partition untouched, s1 replaced
    val s1 = back.filter($"sensor_id" === "s1").select("value").as[Double].head()
    assert(s1 === 99.0)
  }

  test("write.mode other than overwrite/append fails in both sinks, " +
    "before anything is written") {
    for (bad <- Seq("Overwrite", "appendd", "")) {
      val out = tempDir("graft-badmode").toString + "/out"
      val cfg = PipelineConfig.default.copy(
        write = PipelineConfig.default.write.copy(mode = bad))
      val e = intercept[IllegalArgumentException] {
        Loader.write(cfg, out)(transformed())
      }
      assert(e.getMessage.contains(s"'$bad'"))
      assert(!new java.io.File(out).exists())
    }
  }

  /** `n` rows over 2 dates x 2 sensors x 2 reading types, timestamps
    * out of order, and pairs of rows that agree on (sensor, type,
    * timestamp) and differ only in value — so only a total in-file
    * order fixes where each row lands. */
  private def shuffledReadings(n: Int) = (0 until n).map { i =>
    val day = 1 + i % 2
    (s"s${1 + (i / 2) % 2}", java.sql.Timestamp.valueOf(
      f"2023-06-0$day ${(i * 7) % 24}%02d:${(i * 13) % 60}%02d:00"),
      if ((i / 4) % 2 == 0) "temperature" else "humidity",
      (i % 7).toDouble, 90.0 - i % 3, java.sql.Date.valueOf(s"2023-06-0$day"),
      0.0, 0.0, false)
  }

  private val readingCols = Seq("sensor_id", "timestamp", "reading_type",
    "value", "battery_level", "date", "daily_avg_value", "rolling_avg_value",
    "anomalous_reading")

  test("default sink sorts each file by (date, sensor_id, reading_type, " +
    "timestamp)") {
    val out = tempDir("graft-infile-order").toString
    val df = shuffledReadings(400).toDF(readingCols: _*).repartition(3)
    Loader.write(PipelineConfig.default, out)(df)
    // each physical file must be internally sorted (this is also what
    // tightens the parquet row-group min/max stats for skipping)
    val byFile = spark.read.parquet(out)
      .select(input_file_name().as("f"), col("date"), col("sensor_id"),
        col("reading_type"), col("timestamp"))
      .collect().groupBy(_.getString(0))
    assert(byFile.size === 4) // one file per (date, sensor) partition
    byFile.values.foreach { rs =>
      val keys = rs.map(r => (r.get(1).toString, r.getString(2),
        r.getString(3), r.getTimestamp(4).getTime)).toSeq
      assert(keys === keys.sorted, "file not internally sorted")
    }
  }

  test("two loads of the same rows in different partitionings write " +
    "byte-identical files") {
    val rows = shuffledReadings(400)
    def load(df: org.apache.spark.sql.DataFrame): Map[String, Array[Byte]] = {
      val out = tempDir("graft-bytes").toString + "/out"
      Loader.write(PipelineConfig.default, out)(Loader.optimizeTypes(
        Loader.addMetadata(vr, "1.0.0", "2023-06-03T00:00:00Z")(df)))
      val root = java.nio.file.Paths.get(out)
      scala.util.Using.resource(Files.walk(root))(_.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
        .groupBy(p => root.relativize(p.getParent).toString)
        .map { case (dir, files) =>
          assert(files.size === 1, s"$dir holds ${files.size} files")
          dir -> Files.readAllBytes(files.head)
        }
    }
    val spread = load(rows.toDF(readingCols: _*).repartition(4))
    val reversed = load(rows.reverse.toDF(readingCols: _*).coalesce(1))
    assert(spread.size === 4)
    assert(spread.keySet === reversed.keySet)
    spread.foreach { case (dir, bytes) =>
      assert(java.util.Arrays.equals(bytes, reversed(dir)),
        s"$dir differs between the loads")
    }
  }

  test("the write runs one task per shuffle partition, however small the " +
    "batch, and still leaves one file per directory") {
    val out = tempDir("graft-load-width").resolve("out")
    // (stage, partition) of every result task; the exchange's map
    // tasks are not result tasks
    val writeTasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask")
          writeTasks.add((e.stageId, e.taskInfo.partitionId))
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      Session.withConf(spark, "spark.sql.shuffle.partitions" -> "3") {
        Loader.write(PipelineConfig.default, out.toString)(
          shuffledReadings(400).toDF(readingCols: _*))
      }
      ListenerDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val tasks = writeTasks.asScala.toSeq
    assert(tasks.map(_._1).distinct.size === 1) // one write stage
    assert(tasks.map(_._2).sorted === Seq(0, 1, 2))
    val perDir = parquetFiles(out).groupBy(_.getParent).values.map(_.size)
    assert(perDir.toSeq === Seq.fill(4)(1))
  }

  test("storageStats counts what a walk of the tree counts: *.parquet " +
    "files not named _*, one partition per directory holding one") {
    val out = tempDir("graft-load-stats").resolve("out")
    Loader.write(PipelineConfig.default, out.toString)(
      shuffledReadings(400).toDF(readingCols: _*))
    Files.writeString(out.resolve("date=2023-06-01/sensor_id=s1/notes.txt"), "x")
    Files.writeString(out.resolve("date=2023-06-01/_staged.parquet"), "x")
    Files.writeString(out.resolve("_SUCCESS"), "")
    Files.createDirectories(out.resolve("date=2023-06-09/sensor_id=s9"))
    assert(scala.util.Using.resource(Files.walk(out))(_.iterator().asScala
      .exists(_.getFileName.toString.endsWith(".parquet.crc"))))

    val walked = parquetFiles(out)
    assert(Loader.storageStats(spark, out.toString) === StorageStats(
      walked.size, walked.map(Files.size).sum, walked.map(_.getParent).distinct.size))
    assert(walked.size === 4)
  }

  /** Every `*.parquet` file under `root` whose name does not start with
    * `_`. */
  private def parquetFiles(root: java.nio.file.Path): Seq[java.nio.file.Path] =
    scala.util.Using.resource(Files.walk(root))(_.iterator().asScala.filter { p =>
      val name = p.getFileName.toString
      Files.isRegularFile(p) && name.endsWith(".parquet") && !name.startsWith("_")
    }.toSeq)

  test("S11 read-back prunes partitions") {
    val out = tempDir("graft-load3").toString + "/out"
    Loader.write(PipelineConfig.default, out)(transformed())
    val pruned = Loader.readBack(spark, out, date = Some("2023-06-01"))
    assert(pruned.count() === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }
}
