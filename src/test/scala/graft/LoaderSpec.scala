package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, IntegerType}

import graft.config.PipelineConfig
import graft.load.Loader
import graft.model.ValidationResult

class LoaderSpec extends SparkSpec {
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
    val out = Files.createTempDirectory("graft-load").toString + "/out"
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
    val out = Files.createTempDirectory("graft-load2").toString + "/out"
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
    val bucketed = PipelineConfig.default.write.copy(
      partitionBy = Seq("date"), bucketBy = Seq("sensor_id"), bucketCount = 4)
    for (sink <- Seq(PipelineConfig.default.write, bucketed);
         bad <- Seq("Overwrite", "appendd", "")) {
      val out = Files.createTempDirectory("graft-badmode").toString + "/out"
      val cfg = PipelineConfig.default.copy(write = sink.copy(mode = bad))
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
    val out = Files.createTempDirectory("graft-infile-order").toString
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
      val out = Files.createTempDirectory("graft-bytes").toString + "/out"
      Loader.write(PipelineConfig.default, out)(Loader.optimizeTypes(
        Loader.addMetadata(vr, "1.0.0", "2023-06-03T00:00:00Z")(df)))
      import scala.jdk.CollectionConverters._
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

  test("bucketed sink: downstream sensor-keyed aggregation reads the " +
    "curated table with no exchange; dynamic overwrite still partition-scoped") {
    val out = Files.createTempDirectory("graft-bucketed-sink").toString + "/out"
    // partition by date only, bucket by the join/agg key (a column
    // cannot be both a partition and a bucket column)
    val cfg = PipelineConfig.default.copy(write =
      PipelineConfig.default.write.copy(
        partitionBy = Seq("date"),
        bucketBy = Seq("sensor_id"), bucketCount = 4))
    Loader.write(cfg, out)(transformed())

    val back = Loader.readBackBucketed(spark, out)
    assert(back.count() === 2)
    val agg = back.groupBy($"sensor_id")
      .agg(count(lit(1)).as("n"), sum($"value").as("v"))
    assert(agg.collect().length === 2)
    val plan = agg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"),
      s"bucket-keyed agg over the curated output shuffled:\n$plan")

    // the files are plain hive-partitioned parquet on disk — a bare
    // path read sees identical rows (just without bucket metadata)
    assert(spark.read.parquet(out).count() === 2)

    // dynamic overwrite through the bucketed path: replace only the
    // touched partition, keep the bucket property
    val update = transformed().filter($"sensor_id" === "s1")
      .withColumn("value", lit(99.0))
    Loader.write(cfg, out)(update)
    val after = Loader.readBackBucketed(spark, out)
    assert(after.count() === 2) // 06-02 partition untouched, 06-01 replaced
    assert(after.filter($"sensor_id" === "s1")
      .select("value").as[Double].head() === 99.0)
    val agg2 = after.groupBy($"sensor_id").agg(count(lit(1)).as("n"))
    val plan2 = agg2.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    agg2.collect()
    assert(!plan2.contains("Exchange"),
      s"bucket property lost after dynamic overwrite:\n$plan2")

    // fresh-catalog survival: a new JVM's catalog lacks the table, but
    // the OUTPUT exists — the sink must re-register over the files and
    // keep accumulating, never take the create branch's full overwrite
    // (simulated by dropping only the catalog entry)
    spark.sql(s"DROP TABLE `${Loader.curatedTableName(out)}`")
    val appendCfg = cfg.copy(write = cfg.write.copy(mode = "append"))
    Loader.write(appendCfg, out)(transformed())
    val accumulated = Loader.readBackBucketed(spark, out)
    assert(accumulated.count() === 4, "fresh-catalog append wiped the output")
    val agg3 = accumulated.groupBy($"sensor_id").agg(count(lit(1)).as("n"))
    agg3.collect()
    val plan3 = agg3.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan3.contains("Exchange"),
      s"bucket property lost after re-registration:\n$plan3")

    // bucket_by without a count is rejected loudly
    intercept[IllegalArgumentException] {
      Loader.write(cfg.copy(write = cfg.write.copy(bucketCount = 0)),
        out)(transformed())
    }
  }

  test("bucketed sink: single-writer lease — a held lock fails the " +
    "write loudly, a finished write releases it, a failed write too") {
    val out = Files.createTempDirectory("graft-bucketed-lease").toString + "/out"
    val cfg = PipelineConfig.default.copy(write =
      PipelineConfig.default.write.copy(
        partitionBy = Seq("date"),
        bucketBy = Seq("sensor_id"), bucketCount = 4))
    // simulate a concurrent writer: its lease marker is present
    val lock = new org.apache.hadoop.fs.Path(out, "_graft_bucket_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(lock.getParent)
    val o = fs.create(lock, false)
    o.write("""{"pid":424242,"acquired_utc_ms":0}""".getBytes("UTF-8"))
    o.close()
    val e = intercept[RuntimeException] {
      Loader.write(cfg, out)(transformed())
    }
    assert(e.getMessage.contains("locked by a concurrent writer"))
    assert(e.getMessage.contains("424242")) // holder's pid surfaces
    assert(fs.exists(lock), "the contending writer must NOT steal the lease")
    // the holder finishes: lease released, our write proceeds and
    // releases its own lease afterwards
    fs.delete(lock, false)
    Loader.write(cfg, out)(transformed())
    assert(!fs.exists(lock), "lease not released after a successful write")
    assert(Loader.readBackBucketed(spark, out).count() === 2)
    // a FAILING write also releases (the lease is in a finally): the
    // spec-drift rejection path throws after acquisition
    val drift = cfg.copy(write = cfg.write.copy(bucketCount = 8))
    spark.sql(s"DROP TABLE `${Loader.curatedTableName(out)}`")
    intercept[RuntimeException] { Loader.write(drift, out)(transformed()) }
    assert(!fs.exists(lock), "lease leaked after a failed write")
  }

  test("bucketed sink: cross-session re-registration validates the " +
    "persisted bucket spec and fails loudly on drift or a missing marker") {
    val out = Files.createTempDirectory("graft-bucketed-spec").toString + "/out"
    val cfg = PipelineConfig.default.copy(write =
      PipelineConfig.default.write.copy(
        partitionBy = Seq("date"),
        bucketBy = Seq("sensor_id"), bucketCount = 4))
    Loader.write(cfg, out)(transformed())
    // the written layout is recorded beside the data
    assert(Files.exists(java.nio.file.Paths.get(out, "_graft_bucket_spec.json")))

    // fresh catalog + CHANGED bucket count: re-registering would stamp
    // 8-bucket metadata onto 4-bucket files — exchange-free joins
    // would silently read wrong buckets, so the sink must refuse.
    spark.sql(s"DROP TABLE `${Loader.curatedTableName(out)}`")
    val drifted = cfg.copy(write = cfg.write.copy(
      bucketCount = 8, mode = "append"))
    val e1 = intercept[RuntimeException] {
      Loader.write(drifted, out)(transformed())
    }
    assert(e1.getMessage.contains("written under bucket spec"))
    // ...and the data underneath was not touched by the refusal
    assert(spark.read.parquet(out).count() === 2)

    // marker missing (data of unknown layout): refuse rather than
    // vouch for a spec the sink cannot prove.
    Files.delete(java.nio.file.Paths.get(out, "_graft_bucket_spec.json"))
    val e2 = intercept[RuntimeException] {
      Loader.write(cfg.copy(write = cfg.write.copy(mode = "append")),
        out)(transformed())
    }
    assert(e2.getMessage.contains("no _graft_bucket_spec.json"))

    // the refusal applies to overwrite mode too: fresh-catalog dynamic
    // overwrite KEEPS untouched partitions, which requires trusting
    // their layout — unprovable without the marker (full replacement =
    // delete the dir first)
    val e3 = intercept[RuntimeException] {
      Loader.write(cfg, out)(transformed())
    }
    assert(e3.getMessage.contains("no _graft_bucket_spec.json"))

    // matching spec + intact marker: the normal re-register path
    // still works (the r13 fresh-catalog contract is unchanged)
    val out2 = Files.createTempDirectory("graft-bucketed-spec2").toString + "/o"
    Loader.write(cfg, out2)(transformed())
    spark.sql(s"DROP TABLE `${Loader.curatedTableName(out2)}`")
    Loader.write(cfg.copy(write = cfg.write.copy(mode = "append")),
      out2)(transformed())
    assert(Loader.readBackBucketed(spark, out2).count() === 4)
  }

  test("q201: the curated bucketed landing aggregates on the bucket key " +
    "with zero exchange") {
    val q = graft.queries.RelationalQueries.queries("q201_curated_bucketed")(
      spark, "/root/testdata/sf0.001")
    assert(q.count() > 0)
    val fin = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fin.contains("Exchange"),
      s"bucket-keyed aggregation over the pipeline's own bucketed " +
        s"output shuffled:\n$fin")
  }

  test("S11 read-back prunes partitions") {
    val out = Files.createTempDirectory("graft-load3").toString + "/out"
    Loader.write(PipelineConfig.default, out)(transformed())
    val pruned = Loader.readBack(spark, out, date = Some("2023-06-01"))
    assert(pruned.count() === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"))
  }
}
