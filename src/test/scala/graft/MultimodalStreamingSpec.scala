package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.streaming.Streaming

class MultimodalStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("multimodal: binary payload plumbing and deterministic features") {
    val df = Seq((1L, "hello world"), (2L, "")).toDF("id", "payload")
    val media = Multimodal.asMediaTable(df, "id", "payload")
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).byte_len === 11)
    assert(feats(1L).header_byte === 'h'.toInt)
    assert(feats(2L).byte_len === 0)
    assert(feats(2L).header_byte === -1)
    // determinism across repartitionings
    val feats2 = Multimodal.extractFeatures(
      media.repartition(7)).collect().map(f => f.media_id -> f.checksum).toMap
    assert(feats2(1L) === feats(1L).checksum)
  }

  test("multimodal: real header parse yields PNG/JPEG/GIF dimensions") {
    def be32(v: Int) = Array[Byte](
      (v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def be16(v: Int) = Array[Byte]((v >>> 8).toByte, v.toByte)
    val png = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte) ++ be32(13) ++ "IHDR".getBytes ++
      be32(640) ++ be32(480) ++ Array[Byte](8, 6, 0, 0, 0)
    // SOI, APP0 (len 4), SOF0: len 17, precision 8, height 480, width 640
    val jpeg = Array(0xff, 0xd8, 0xff, 0xe0, 0x00, 0x04, 0x00, 0x00,
      0xff, 0xc0, 0x00, 0x11, 0x08).map(_.toByte) ++
      be16(480) ++ be16(640) ++ Array[Byte](3)
    val gif = "GIF89a".getBytes ++
      Array[Byte](0x40, 0x01, 0xc8.toByte, 0x00) // 320 x 200 little-endian
    def le32(v: Int) = Array[Byte](
      v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    val bmp = "BM".getBytes ++ le32(1000) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(800) ++ le32(-600) // top-down: negative height
    assert(Multimodal.parseImageHeader(png) === Some(("png", 640, 480)))
    assert(Multimodal.parseImageHeader(jpeg) === Some(("jpeg", 640, 480)))
    assert(Multimodal.parseImageHeader(gif) === Some(("gif", 320, 200)))
    assert(Multimodal.parseImageHeader(bmp) === Some(("bmp", 800, 600)))
    assert(Multimodal.parseImageHeader("not an image".getBytes) === None)
    assert(Multimodal.parseImageHeader("BMx".getBytes) === None) // short BM

    // end-to-end through the distributed feature extractor
    val media = Seq(
      Multimodal.MediaRow(1L, "image", png, "image/png"),
      Multimodal.MediaRow(2L, "image", jpeg, "image/jpeg"),
      Multimodal.MediaRow(3L, "image", "plain bytes".getBytes, "fake/raw"))
      .toDS()
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).format === "png")
    assert((feats(1L).width, feats(1L).height) === (640, 480))
    assert(feats(2L).format === "jpeg")
    assert((feats(2L).width, feats(2L).height) === (640, 480))
    // unrecognized payloads carry SENTINEL dimensions, never fabricated
    // measurement-shaped values
    assert(feats(3L).format === "unknown")
    assert((feats(3L).width, feats(3L).height) === (-1, -1))
  }

  test("multimodal: real WAV header parse yields channels/rate/duration") {
    def le16(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte)
    def le32(v: Int) = Array[Byte](
      v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    // canonical 44-byte PCM header: 2ch, 44100 Hz, 16-bit, 88200 data
    // bytes = exactly 500 ms
    val wav = "RIFF".getBytes ++ le32(36 + 88200) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(44100 * 4) ++ le16(4) ++ le16(16) ++
      "data".getBytes ++ le32(88200)
    assert(Multimodal.parseWavHeader(wav) === Some((2, 44100, 16, 88200L)))
    // an extra chunk before fmt/data must be walked over, not rejected
    val padded = "RIFF".getBytes ++ le32(200) ++ "WAVE".getBytes ++
      "LIST".getBytes ++ le32(4) ++ "INFO".getBytes ++
      wav.drop(12)
    assert(Multimodal.parseWavHeader(padded) === Some((2, 44100, 16, 88200L)))
    assert(Multimodal.parseWavHeader("RIFFxxxxAVI ".getBytes) === None)
    assert(Multimodal.parseWavHeader("too short".getBytes) === None)
    // adversarial chunk sizes must terminate (r6 advice): 0xFFFFFFF8
    // makes the word-aligned Int advance exactly 0 — previously an
    // infinite loop; 0xFFFFFFFF wraps negative. Both must return None,
    // not hang the executor task.
    for (evil <- Seq(0xFFFFFFF8, 0xFFFFFFFF, 0x7FFFFFFF)) {
      val corrupt = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
        "JUNK".getBytes ++ le32(evil) ++ new Array[Byte](24)
      assert(Multimodal.parseWavHeader(corrupt) === None)
    }
    // ...but an oversized trailing data chunk AFTER both chunks are
    // found must still parse (fabricated headers carry no PCM body).
    val headerOnly = "RIFF".getBytes ++ le32(36) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(44100 * 4) ++ le16(4) ++ le16(16) ++
      "data".getBytes ++ le32(0xFFFFFFF0)
    assert(Multimodal.parseWavHeader(headerOnly) ===
      Some((2, 44100, 16, 0xFFFFFFF0L & 0xFFFFFFFFL)))

    val media = Seq(
      Multimodal.MediaRow(1L, "audio", wav, "audio/wav"),
      Multimodal.MediaRow(2L, "audio", "not audio at all".getBytes, "raw"))
      .toDS()
    val info = Multimodal.audioInfo(media).collect()
    assert(info.map(_.media_id).toSeq === Seq(1L)) // non-WAV rows drop
    assert(info.head.channels === 2)
    assert(info.head.sample_rate === 44100)
    assert(info.head.bits_per_sample === 16)
    assert(info.head.duration_ms === 500L)
  }

  /** Build a P6 payload: header + the given raster bytes. */
  private def ppm(w: Int, h: Int, pix: Array[Byte], maxval: Int = 255,
      header: String = null): Array[Byte] = {
    val hdr = Option(header).getOrElse(s"P6\n$w $h\n$maxval\n")
    hdr.getBytes("US-ASCII") ++ pix
  }

  test("multimodal: PPM header parse — whitespace forms, comments, rejects") {
    val pix = Array.fill[Byte](2 * 2 * 3)(7)
    // canonical header
    assert(Multimodal.parsePpmHeader(ppm(2, 2, pix)) ===
      Some((2, 2, 255, 11))) // "P6\n2 2\n255\n" is 11 header bytes
    // comments and mixed whitespace between tokens (netpbm-legal)
    val weird = ppm(2, 2, pix,
      header = "P6 # a comment\n 2\t# another\n2 \r\n255\n")
    assert(Multimodal.parsePpmHeader(weird).map(t => (t._1, t._2, t._3)) ===
      Some((2, 2, 255)))
    // rejects: wrong magic, 2-byte maxval, zero dims, truncated header
    assert(Multimodal.parsePpmHeader(ppm(2, 2, pix,
      header = "P5\n2 2\n255\n")) === None)
    assert(Multimodal.parsePpmHeader(ppm(2, 2, pix,
      header = "P6\n2 2\n65535\n")) === None)
    assert(Multimodal.parsePpmHeader(ppm(2, 2, pix,
      header = "P6\n0 2\n255\n")) === None)
    assert(Multimodal.parsePpmHeader("P6\n2 2".getBytes) === None)
  }

  test("multimodal: resizePpm is an exact integer box filter") {
    // 4x2 image, factor 2 -> 2x1. Channel values chosen so the
    // floor-mean is hand-checkable per block and channel.
    // Block A pixels (R,G,B): (0,10,255) (1,20,255) (4,30,254) (7,40,252)
    //   -> R (0+1+4+7)/4 = 3, G (10+20+30+40)/4 = 25, B 1016/4 = 254
    // Block B pixels: (100,0,1) (101,1,2) (102,2,3) (107,3,6)
    //   -> R 410/4 = 102 (floor of 102.5), G 6/4 = 1, B 12/4 = 3
    val pix = Array[Int](
      0, 10, 255, 1, 20, 255, 100, 0, 1, 101, 1, 2, // row 0
      4, 30, 254, 7, 40, 252, 102, 2, 3, 107, 3, 6 // row 1
    ).map(_.toByte)
    val media = Seq(
      Multimodal.MediaRow(1L, "image", ppm(4, 2, pix), "image/ppm"),
      Multimodal.MediaRow(2L, "image", "not an image".getBytes, "raw"))
      .toDS()
    val out = Multimodal.resizePpm(media, factor = 2).collect()
    assert(out.map(_.media_id).toSeq === Seq(1L)) // non-PPM rows drop
    val r = out.head
    assert(r.declared_format === "ppm;resized/2")
    val Some((ow, oh, m, off)) = Multimodal.parsePpmHeader(r.payload)
    assert((ow, oh, m) === ((2, 1, 255)))
    assert(r.payload.drop(off).map(_ & 0xff).toSeq ===
      Seq(3, 25, 254, 102, 1, 3))
    // odd margins truncate: 5x3 at factor 2 -> 2x1 (not 3x2)
    val pix53 = Array.tabulate[Byte](5 * 3 * 3)(i => (i % 251).toByte)
    val m53 = Seq(Multimodal.MediaRow(3L, "image", ppm(5, 3, pix53),
      "image/ppm")).toDS()
    val Some((w2, h2, _, _)) = Multimodal.parsePpmHeader(
      Multimodal.resizePpm(m53, factor = 2).collect().head.payload)
    assert((w2, h2) === ((2, 1)))
    // truncated raster is excluded, never half-summed
    val trunc = Seq(Multimodal.MediaRow(4L, "image",
      ppm(4, 2, pix).dropRight(5), "image/ppm")).toDS()
    assert(Multimodal.resizePpm(trunc, factor = 2).isEmpty)
    // ppmInfo round-trips the resized asset
    val info = Multimodal.ppmInfo(
      Multimodal.resizePpm(media, factor = 2)).collect().head
    assert(info.width === 2 && info.height === 1)
    assert(info.pix_sum === (3 + 25 + 254 + 102 + 1 + 3).toLong)
  }

  test("multimodal: sampleFrames walks a concatenated P6 stream") {
    // three frames of DIFFERENT dimensions (the offset walk must use
    // each frame's own raster size), stride 2 keeps frames 0 and 2
    val f0 = ppm(2, 1, Array[Byte](1, 2, 3, 4, 5, 6))
    val f1 = ppm(1, 1, Array[Byte](9, 9, 9))
    val f2 = ppm(1, 2, Array[Byte](10, 20, 30, 40, 50, 60))
    val media = Seq(
      Multimodal.MediaRow(1L, "video", f0 ++ f1 ++ f2, "video/ppm-stream"))
      .toDS()
    val frames = Multimodal.sampleFrames(media, stride = 2)
      .orderBy("frame_no").collect()
    assert(frames.map(_.getInt(1)).toSeq === Seq(0, 2))
    assert(frames.map(r => (r.getInt(2), r.getInt(3))).toSeq ===
      Seq((2, 1), (1, 2)))
    assert(frames.map(_.getLong(5)).toSeq === Seq(21L, 210L))
    // a truncated trailing frame stops the walk; prior frames emit
    val cut = Seq(Multimodal.MediaRow(2L, "video",
      f0 ++ f1 ++ f2.dropRight(2), "video/ppm-stream")).toDS()
    val partial = Multimodal.sampleFrames(cut, stride = 1)
      .orderBy("frame_no").collect()
    assert(partial.map(_.getInt(1)).toSeq === Seq(0, 1))
  }

  test("streaming: a runToCompletion result stays readable until " +
    "Session.release deletes its backing dir") {
    val stream = Streaming.eventsStream(
      spark, "/root/testdata/sf0.001/events.parquet")
    val frame = Streaming.runToCompletion(
      spark, Streaming.hourlyAgg(stream), "spec_release")
    val n = frame.count()
    assert(n > 0)
    // routing through localCheckpoint leaves the result dir in place
    val routed = frame.localCheckpoint()
    assert(routed.count() === n)
    assert(frame.count() === n)
    val dirs = frame.inputFiles
      .map(f => java.nio.file.Paths.get(new java.net.URI(f)).getParent)
      .distinct
    assert(dirs.length === 1)
    assert(java.nio.file.Files.isDirectory(dirs.head))
    val first = Session.release(spark)
    assert(!java.nio.file.Files.exists(dirs.head),
      "Session.release left the result dir")
    assert(first.persistentRdds === 0 && !first.cacheNonEmpty)
    // a second release is a no-op: nothing left to free, nothing fails
    val second = Session.release(spark)
    assert(second.persistentRdds === 0 && !second.cacheNonEmpty)
  }

  test("streaming: hourly windowed agg equals batch group-by") {
    val stream = Streaming.eventsStream(spark, "/root/testdata/sf0.001/events.parquet")
    val result = Streaming.runToCompletion(
      spark, Streaming.hourlyAgg(stream), "spec_hourly")
    val batch = graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "events")
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss")
        .as("hour_start"), $"event_type")
      .agg(count(lit(1)).as("n_events"))
    val streamed = result.select($"hour_start", $"event_type", $"n_events")
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
  }

  test("streaming: hourlyAgg RAISES at the Long micro-unit domain edge " +
    "instead of silently dropping the row") {
    // Under non-ANSI, |value| > ~9.2e12 would cast to NULL micro-units
    // and sum() would silently skip it — a silently-short published
    // sum. The projection guard turns that into a loud failure at the
    // offending row; values AT the domain edge still aggregate.
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val inDomain = Seq((ts, "a", 9.2e12), (ts, "a", -9.2e12), (ts, "a", 1.5))
      .toDF("ts", "event_type", "value")
    val ok = Streaming.hourlyAgg(inDomain).collect()
    assert(ok.length === 1 && ok.head.getAs[Long]("n_events") === 3L)
    val outOfDomain = Seq((ts, "a", 1.0), (ts, "a", 9.3e12))
      .toDF("ts", "event_type", "value")
    val e = intercept[Exception] {
      Streaming.hourlyAgg(outOfDomain).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("exceeds the exact Long micro-unit")))
    // NULL values still pass through as skipped-by-sum, not as errors.
    val withNull = Seq((ts, "a", Some(2.0)), (ts, "a", None))
      .toDF("ts", "event_type", "value")
    val r = Streaming.hourlyAgg(withNull).collect().head
    assert(r.getAs[Long]("n_events") === 2L)
    assert(r.getAs[Double]("sum_value") === 2.0)
  }

  test("streaming: runToCompletion over an empty source yields an " +
    "empty frame with the query's schema") {
    // The harness sink lands per-batch parquet; a drain that emits
    // nothing leaves no files (parquet cannot carry a schema-only
    // dir), so the no-files branch must hand back a readable empty
    // frame rather than a scan error.
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft-empty-src")
    graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "events")
      .filter(lit(false))
      .coalesce(1).write.mode("overwrite")
      .parquet(src.resolve("ev").toString)
    val stream = Streaming.eventsStream(spark, src.resolve("ev").toString)
    val result = Streaming.runToCompletion(
      spark, Streaming.hourlyAgg(stream), "spec_empty")
    assert(result.columns.toSeq ===
      Seq("hour_start", "event_type", "n_events", "sum_value"))
    assert(result.count() === 0)
    Streaming.deleteRecursively(src)
  }

  test("streaming: hourly agg through a parquet file sink (append mode) matches batch") {
    // The documented at-scale shape for q44's aggregation: watermarked
    // append mode into a FileStreamSink — finalized windows land as
    // parquet, state is bounded by the watermark, nothing is collected
    // to the driver. The memory-sink runToCompletion helper is the
    // ORACLE harness; this is the production pattern.
    import java.nio.file.Files
    val src = Files.createTempDirectory("graft-fsrc")
    Files.createSymbolicLink(src.resolve("part-0.parquet"),
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"))
    // Sentinel event far in the future: pushes the watermark past every
    // real hourly window so append mode finalizes and emits all of
    // them. Its own (still-open) window is never emitted. The sentinel
    // file must carry the SAME parquet ts type as the real events file
    // (the stream source reads both under one schema), so match the
    // probed type: raw nanos-longs for legacy data, timestamp otherwise.
    val sentinelUs = 1893456000L * 1000000L // 2030-01-01 in micros
    val sentDir = Files.createTempDirectory("graft-fsent")
    val eventsTsType = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet").schema("ts").dataType
    Seq((999999L, sentinelUs, 0L, "__sentinel__", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", eventsTsType match {
        case org.apache.spark.sql.types.LongType => $"ts" * 1000L
        case t => timestamp_micros($"ts").cast(t)
      })
      .coalesce(1).write.mode("overwrite").parquet(sentDir.toString)
    locally {
      import scala.jdk.CollectionConverters._
      val part = Files.list(sentDir).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(part, src.resolve("part-1.parquet"))
    }
    val out = Files.createTempDirectory("graft-fout").toString
    val cp = Files.createTempDirectory("graft-fcp").toString
    val q = Streaming.hourlyAgg(
      Streaming.eventsStream(spark, src.toString)).writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(out)
      .select($"hour_start", $"event_type", $"n_events", $"sum_value")
    val batch = graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "events")
      .groupBy(date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm:ss")
        .as("hour_start"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum($"value".cast(org.apache.spark.sql.types.DecimalType(20, 6)))
          .cast("double").as("sum_value"))
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).count() === 0)
    Streaming.deleteRecursively(src)
    Streaming.deleteRecursively(sentDir)
  }

  test("streaming: incremental corpus dedup classifies micro-batches against the growing index") {
    // The streaming form of q160's growing-corpus ingest: each
    // micro-batch classifies against the corpus-so-far (exact hash +
    // LSH probe) and then joins it. foreachBatch keeps the index on
    // disk between batches — the production shape for continuous
    // training-data ingest.
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import graft.operators.Dedup
    val docs = graft.queries.CoreQueries
      .t(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text")
    val seed = docs.filter($"doc_id" < 20)
    val a = docs.filter($"doc_id" >= 20 && $"doc_id" < 35)
    val b = docs.filter($"doc_id" >= 35 && $"doc_id" < 50)
    val corpusDir = Files.createTempDirectory("graft-inc-corpus").toString
    val srcDir = Files.createTempDirectory("graft-inc-src")
    val outDir = Files.createTempDirectory("graft-inc-out").toString
    val cp = Files.createTempDirectory("graft-inc-cp").toString
    seed.write.mode("overwrite").parquet(corpusDir)
    def addFile(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("graft-inc-w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      Files.copy(part, srcDir.resolve(name))
    }
    addFile(a, "part-0.parquet")
    Thread.sleep(1200) // distinct mtimes -> deterministic batch order
    addFile(b, "part-1.parquet")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
      .writeStream
      .option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         _: Long) =>
          val corpus = spark.read.parquet(corpusDir)
          Dedup.dedupAgainst(corpus, batch, "doc_id", "text",
            k = 8, bands = 4, shingleN = 1, threshold = 0.5)
            .write.mode("append").parquet(outDir)
          batch.write.mode("append").parquet(corpusDir)
      }
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(outDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batchEquiv = Dedup.dedupAgainst(seed, a, "doc_id", "text",
      k = 8, bands = 4, shingleN = 1, threshold = 0.5)
      .unionByName(Dedup.dedupAgainst(seed.unionByName(a), b,
        "doc_id", "text", k = 8, bands = 4, shingleN = 1, threshold = 0.5))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed.size === 30)
    assert(streamed === batchEquiv)
    assert(streamed.map(_._2).subsetOf(Set("exact_dup", "near_dup", "unique")))
    // the corpus dir grew: seed + both batches are in the index now
    assert(spark.read.parquet(corpusDir).count() === 50)
    Streaming.deleteRecursively(srcDir)
  }

  test("streaming: sensor ingest drains raw files through transform to partitioned parquet") {
    val raw = java.nio.file.Files.createTempDirectory("graft-sraw").toString
    val out = java.nio.file.Files.createTempDirectory("graft-sout").toString + "/data"
    val cp = java.nio.file.Files.createTempDirectory("graft-scp").toString
    Seq(
      ("s1", java.sql.Timestamp.valueOf("2023-06-01 10:00:00"), "temperature", 25.0, 90.0),
      ("s1", java.sql.Timestamp.valueOf("2023-06-01 11:00:00"), "temperature", 26.0, 91.0),
      ("s2", java.sql.Timestamp.valueOf("2023-06-01 10:30:00"), "humidity", 60.0, 80.0))
      .toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level")
      .coalesce(1).write.mode("overwrite").parquet(raw)

    val cfg = graft.config.PipelineConfig.default
    val q = Streaming.sensorIngest(spark, raw, out, cfg, cp)
    q.awaitTermination(60000)
    val stored = spark.read.parquet(out)
    assert(stored.count() === 3)
    assert(stored.columns.contains("rolling_avg_value"))
    // partition layout batch_id=/date=/sensor_id= — batch_id leads so a
    // foreachBatch REPLAY overwrites its own partitions idempotently
    val dirs = new java.io.File(out).listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("batch_id=")))
    val batch0 = new java.io.File(s"$out/${dirs.filter(_.startsWith("batch_id=")).min}")
      .listFiles().map(_.getName)
    assert(batch0.exists(_.startsWith("date=2023-06-01")))

    // second run with no new files ingests nothing (source log checkpoint)
    val q2 = Streaming.sensorIngest(spark, raw, out, cfg, cp)
    q2.awaitTermination(60000)
    assert(spark.read.parquet(out).count() === 3)

    // third run after a NEW file lands: exactly the new rows append —
    // checkpoint recovery neither reprocesses old files nor loses new.
    Seq(
      ("s3", java.sql.Timestamp.valueOf("2023-06-02 09:00:00"),
        "temperature", 22.0, 85.0),
      ("s3", java.sql.Timestamp.valueOf("2023-06-02 10:00:00"),
        "temperature", 23.0, 84.0))
      .toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level")
      .coalesce(1).write.mode("append").parquet(raw)
    val q3 = Streaming.sensorIngest(spark, raw, out, cfg, cp)
    q3.awaitTermination(60000)
    val after = spark.read.parquet(out)
    assert(after.count() === 5)
    assert(after.filter($"sensor_id" === "s3").count() === 2)
    assert(after.filter($"sensor_id" === "s1").count() === 2) // no re-ingest
  }

  test("streaming: foreachBatch replay with the same batchId is idempotent") {
    // foreachBatch is at-least-once: a crash between landBatch's write
    // and the streaming commit re-delivers the SAME batch with the SAME
    // batchId. batch_id-keyed dynamic overwrite makes the replay
    // replace the orphaned output instead of appending to it — while a
    // DIFFERENT batch sharing the same (date, sensor_id) partitions
    // appends untouched alongside.
    val out = java.nio.file.Files.createTempDirectory("graft-sland").toString + "/data"
    val cfg = graft.config.PipelineConfig.default
    val batch = Seq(
      ("s1", java.sql.Timestamp.valueOf("2023-06-01 10:00:00"), "temperature", 25.0, 90.0),
      ("s2", java.sql.Timestamp.valueOf("2023-06-01 11:00:00"), "temperature", 26.0, 91.0))
      .toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level")
    Streaming.landBatch(batch, 0L, cfg, out)
    val once = spark.read.parquet(out).count()
    Streaming.landBatch(batch, 0L, cfg, out) // the replay
    assert(spark.read.parquet(out).count() === once)
    // a genuinely new batch into the SAME dates/sensors adds rows
    Streaming.landBatch(batch, 1L, cfg, out)
    assert(spark.read.parquet(out).count() === 2 * once)
  }

  test("streaming: flatMapGroupsWithState running totals equal batch totals") {
    val stream = Streaming.eventsStream(spark, "/root/testdata/sf0.001/events.parquet")
    val updates = Streaming.runToCompletion(
      spark, Streaming.runningUserTotals(spark, stream), "spec_running",
      outputMode = "append")
    // last update per user carries the final running totals
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"userId").orderBy($"nEvents".desc)
    val finals = updates
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter($"rn" === 1)
    val batch = graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "events")
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val mismatch = finals.join(batch, finals("userId") === batch("user_id"))
      .filter($"nEvents" =!= $"n").count()
    assert(mismatch === 0)
    assert(finals.count() === batch.count())
  }

  test("streaming: dropDuplicates with watermark dedups within the horizon") {
    val stream = Streaming.eventsStream(spark,
      "/root/testdata/sf0.001/events.parquet", watermark = "48 hours")
    val deduped = stream
      .dropDuplicates("event_id")
      .groupBy().agg(count(lit(1)).as("n"))
    val out = Streaming.runToCompletion(spark, deduped, "spec_streamdedup")
    // event_id is unique in the source -> dedup keeps all 1000
    assert(out.head.getLong(0) === 1000L)
  }

  test("streaming: stream-static broadcast join enriches events") {
    val stream = Streaming.eventsStream(spark, "/root/testdata/sf0.001/events.parquet")
    // static dimension: per-user tier from the customer table shape
    val dim = spark.range(0, 200).select(
      $"id".as("user_id"),
      (pmod($"id", lit(3))).cast("int").as("tier"))
    val joined = stream.join(
      org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
      .groupBy($"tier").agg(count(lit(1)).as("n"))
    val out = Streaming.runToCompletion(spark, joined, "spec_dimjoin")
    assert(out.agg(sum($"n")).head.getLong(0) === 1000L)
    assert(out.count() === 3) // all users matched a tier
  }

  test("streaming: stream-stream interval join equals the batch interval join") {
    val path = "/root/testdata/sf0.001/events.parquet"
    def typed(t: String) =
      Streaming.eventsStream(spark, path).filter($"event_type" === t)
    val joined = Streaming.intervalJoin(
      typed("view"), typed("click"), "user_id", "ts", "30 minutes")
      .select($"l_event_id", $"r_event_id")
    val out = Streaming.runToCompletion(
      spark, joined, "spec_ssjoin", outputMode = "append")
      .as[(Long, Long)].collect().toSet

    val ev = graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "events")
    val v = ev.filter($"event_type" === "view")
      .select($"user_id".as("k"), $"ts".as("l_ts"), $"event_id".as("l_event_id"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("ck"), $"ts".as("r_ts"), $"event_id".as("r_event_id"))
    val batch = v.join(c, $"k" === $"ck" &&
        $"r_ts" >= $"l_ts" && $"r_ts" <= $"l_ts" + expr("interval 30 minutes"))
      .select($"l_event_id", $"r_event_id")
      .as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty)
    assert(out === batch)
  }

  test("streaming: dropDuplicatesWithinWatermark emits exactly the distinct key set") {
    val stream = Streaming.eventsStream(spark, "/root/testdata/sf0.001/events.parquet")
    val deduped = stream
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select($"user_id", $"event_type")
    val out = Streaming.runToCompletion(
      spark, deduped, "spec_wm_dedup", outputMode = "append")
      .as[(Long, String)].collect()
    val batch = graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "events")
      .select($"user_id", $"event_type").distinct()
      .as[(Long, String)].collect()
    // every key emitted exactly once (no duplicate survived, none lost)
    assert(out.length === out.toSet.size)
    assert(out.toSet === batch.toSet)
  }

  test("streaming: running totals micro-unit sums equal the batch decimal sum") {
    val stream = Streaming.eventsStream(spark, "/root/testdata/sf0.001/events.parquet")
    val updates = Streaming.runToCompletion(
      spark, Streaming.runningUserTotals(spark, stream), "spec_micros",
      outputMode = "append")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"userId").orderBy($"nEvents".desc)
    val finals = updates
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"userId".as("user_id"), $"sumValueMicros")
    val batch = graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "events")
      .groupBy($"user_id")
      .agg((sum($"value".cast("decimal(20,6)")) * lit(1000000L))
        .cast("long").as("exact_us"))
    val mismatch = finals.join(batch, "user_id")
      .filter($"sumValueMicros" =!= $"exact_us").count()
    assert(mismatch === 0)
  }

  test("streaming: session windows bound per-user activity") {
    val stream = Streaming.eventsStream(spark, "/root/testdata/sf0.001/events.parquet")
    val sessions = Streaming.runToCompletion(
      spark, Streaming.sessionCounts(stream), "spec_sessions")
    assert(sessions.count() > 0)
    val total = sessions.agg(sum("n_events")).head.getLong(0)
    assert(total === 1000L) // every event lands in exactly one session
  }
}
