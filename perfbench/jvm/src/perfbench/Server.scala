package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter, StringWriter}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{CurationPipeline, Pipeline}
import graft.config.PipelineConfig
import graft.ingest.ParquetIngestor
import graft.load.Loader
import graft.model.Schemas
import graft.operators.{Curation, Dedup, Similarity}
import graft.transform.Transforms
import graft.validate.Validation

/** Command server the benchmark harness drives over stdin/stdout: one
  * JSON request per line in, one `@@PB {json}` reply line out. Each
  * request is one call into the engine's public entry points, timed
  * here around that call only. Everything else the JVM prints goes to
  * stderr, so the reply channel stays clean.
  *
  * Requests (`cmd`): session, pipeline, readback, curate, lookup, gc,
  * trace_start, trace_stop, quit. With `"traced": true`,
  * pipeline and curate make the same calls `Pipeline.run` and
  * `CurationPipeline.curate` make, each inside a span, forcing every
  * stage in turn. */
object Server {
  private val mapper = new ObjectMapper()
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None

  def main(args: Array[String]): Unit = {
    val replies = new PrintWriter(System.out, true, StandardCharsets.UTF_8)
    System.setOut(System.err)
    val in = new BufferedReader(new InputStreamReader(System.in, StandardCharsets.UTF_8))
    var line = in.readLine()
    var done = false
    while (!done && line != null) {
      val req = mapper.readTree(line)
      val reply = mapper.createObjectNode()
      try {
        done = handle(req, reply)
        reply.put("ok", true)
      } catch {
        case e: Throwable =>
          val sw = new StringWriter()
          e.printStackTrace(new PrintWriter(sw))
          reply.put("ok", false)
          reply.put("error", sw.toString)
      }
      replies.println("@@PB " + mapper.writeValueAsString(reply))
      if (!done) line = in.readLine()
    }
    if (spark != null) spark.stop()
  }

  private def str(req: JsonNode, k: String): String = req.get(k).asText
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def handle(req: JsonNode, reply: ObjectNode): Boolean = {
    val traced = req.path("traced").asBoolean(false)
    str(req, "cmd") match {
      case "session" =>
        val b = SparkSession.builder()
        req.get("conf").properties.asScala.foreach(e => b.config(e.getKey, e.getValue.asText))
        spark = b.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        reply.put("spark_version", spark.version)
      case "pipeline" =>
        val report = str(req, "report")
        val force = req.get("force").asBoolean
        val (r, wall) = tracer.filter(_ => traced) match {
          case Some(tr) => timed(tracedPipeline(tr, str(req, "raw"), str(req, "out"), report, force, reply))
          case None => timed(Pipeline.run(spark, str(req, "raw"), str(req, "out"),
            Some(report), PipelineConfig.default, force))
        }
        reply.put("wall_s", wall)
        reply.put("success", r.success)
        reply.put("records_ingested", r.recordsIngested)
        reply.put("records_stored", r.recordsStored)
        reply.put("quality_score", r.qualityScore)
        reply.put("issues", r.issues.size)
      case "readback" =>
        val (rows, wall) = tracer.filter(_ => traced) match {
          case Some(tr) => timed(tr.span("load.read") {
            val df = Loader.readBack(spark, str(req, "out"),
              Some(str(req, "date")), Some(str(req, "sensor")))
            val n = df.collect().length
            tr.count("rows_returned", n)
            n
          })
          case None => timed(Loader.readBack(spark, str(req, "out"),
            Some(str(req, "date")), Some(str(req, "sensor"))).collect().length)
        }
        reply.put("wall_s", wall)
        reply.put("rows", rows)
      case "curate" =>
        // Reading the inputs is timed too, as in CurationPipeline.main.
        val (docs, emb, out) = (str(req, "docs"), str(req, "emb"), str(req, "out"))
        val (r, wall) = tracer.filter(_ => traced) match {
          case Some(tr) => timed(tracedCurate(tr, docs, emb, out, reply))
          case None => timed {
            val r = CurationPipeline.curate(
              spark.read.parquet(docs), Some(spark.read.parquet(emb)))
            r.corpus.write.mode("overwrite").parquet(s"$out/corpus_clean")
            r.manifest.write.mode("overwrite").parquet(s"$out/pack_manifest")
            r
          }
        }
        r.corpus.unpersist()
        reply.put("wall_s", wall)
        reply.put("n_input", r.nInput)
        reply.put("n_after_exact", r.nAfterExact)
        reply.put("n_after_near", r.nAfterNearDup)
        reply.put("n_after_semantic", r.nAfterSemantic)
      case "lookup" =>
        val id = req.get("doc_id").asLong
        val (rows, wall) = timed(spark.read.parquet(str(req, "path"))
          .filter(col("doc_id") === id).collect().length)
        reply.put("wall_s", wall)
        reply.put("rows", rows)
      case "gc" =>
        // Full collections with pauses in between, in which Spark's
        // context cleaner drops the blocks and files of collected
        // broadcasts and shuffles, until two rounds in a row free less
        // than 1 MB: the cleaner is then done, and what is in use is
        // live. On a slow host the cleaner can take seconds after an
        // op of a few hundred jobs.
        val heap = java.lang.management.ManagementFactory.getMemoryMXBean
        def usedMb = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
        var (used, still, rounds) = (usedMb, 0, 1)
        while (still < 2 && rounds < 20) {
          Thread.sleep(200)
          val now = usedMb
          still = if (used - now < 1.0) still + 1 else 0
          used = now
          rounds += 1
        }
        reply.put("live_mb", used)
      case "trace_start" =>
        val tr = new Tracer(spark, str(req, "run_id"))
        tr.start()
        tracer = Some(tr)
      case "trace_stop" =>
        reply.set[ObjectNode]("trace", tracer.get.stop())
        tracer = None
      case "quit" =>
        return true
    }
    false
  }

  /** Pipeline.run's call sequence, one span per stage. The transformed
    * frame is counted right after it is persisted, so transform work is
    * booked to the transform span rather than to the first validation
    * aggregate. */
  private def tracedPipeline(tr: Tracer, rawDir: String, outPath: String,
      reportPath: String, force: Boolean, reply: ObjectNode): graft.model.PipelineResult = {
    implicit val s: SparkSession = spark
    val cfg = PipelineConfig.default
    tr.span("pipeline") {
      val ing = tr.span("ingest") {
        val ing = ParquetIngestor.ingest(spark, rawDir, Schemas.raw,
          checkpointPath = Some(s"$rawDir/${cfg.ingestion.checkpointFile}"),
          incremental = cfg.ingestion.incrementalMode && !force)
        tr.count("files_discovered", ing.stats.filesDiscovered)
        tr.count("files_probed", ing.accepted.size + ing.skipped.size + ing.failed.size)
        ing
      }
      val acc = reply.putArray("accepted"); ing.accepted.foreach(acc.add)
      val sk = reply.putArray("skipped"); ing.skipped.foreach(sk.add)
      val fl = reply.putArray("failed"); ing.failed.foreach(f => fl.add(f._1))
      ing.data match {
        case None => graft.model.PipelineResult(success = true, 0, 0, 100.0, Seq.empty, outPath)
        case Some(raw) =>
          val rawObs = new Observation("perfbench_ingested")
          val transformed = tr.span("transform") {
            val t = raw.observe(rawObs, count(lit(1)).as("rows"))
              .transform(Transforms.pipeline(cfg))
              .persist(StorageLevel.MEMORY_AND_DISK)
            tr.count("output_records", t.count())
            tr.count("input_records", rawObs.get("rows").asInstanceOf[Long])
            t
          }
          try {
            val result = tr.span("validate") { Validation.collectMetrics(cfg)(transformed) }
            tr.span("validate.report") { Validation.writeReport(result, reportPath) }
            val ts = java.time.Instant.now.toString
            val storedObs = new Observation("perfbench_stored")
            tr.span("load.write") {
              val prepared = transformed
                .transform(Loader.addMetadata(result, cfg.pipelineVersion, ts))
                .transform(Loader.optimizeTypes)
                .observe(storedObs, count(lit(1)).as("rows"))
              Loader.write(cfg, outPath)(prepared)
            }
            val stats = tr.span("load.stats") { Loader.storageStats(spark, outPath) }
            val stored = storedObs.get("rows").asInstanceOf[Long]
            tr.span("load.metadata") {
              Loader.writeMetadata(spark, outPath, result, stats, stored, ts)
            }
            tr.span("ingest.commit") { ing.commit(rawObs.get("rows").asInstanceOf[Long]) }
            graft.model.PipelineResult(success = true, result.totalRecords, stored,
              result.qualityScore, result.issuesFound, outPath)
          } finally transformed.unpersist()
      }
    }
  }

  /** CurationPipeline.curate with its default settings plus the
    * survivor and manifest writes, one span per stage. The exact stage
    * collects its survivor ids instead of only counting them, so the
    * harness can check that stage's output exactly. The LSH candidate
    * profile runs after the timed tree, as a root span of its own, on
    * the same exact-stage survivors. */
  private def tracedCurate(tr: Tracer, docsPath: String, embPath: String,
      out: String, reply: ObjectNode): CurationPipeline.Result = {
    val idCol = "doc_id"
    val textCol = "text"
    val mem = StorageLevel.MEMORY_AND_DISK
    val (r, docs) = tr.span("pipeline") {
      val docs = spark.read.parquet(docsPath)
      val embAll = spark.read.parquet(embPath)
      val nInput = docs.count()
      val (afterExact, exactIds) = tr.span("dedup.exact") {
        val keepExact = docs
          .select(col(idCol), Dedup.normalizedHash(col(textCol)).as("h"))
          .groupBy(col("h")).agg(min(col(idCol)).as(idCol))
          .select(col(idCol))
        val a = docs.join(keepExact, idCol).persist(mem)
        (a, a.select(col(idCol)).collect().map(_.getLong(0)))
      }
      val ids = reply.putArray("after_exact_ids")
      exactIds.sorted.foreach(ids.add)
      val pairs = tr.span("dedup.lsh") {
        val p = Dedup.minhashLsh(afterExact, idCol, textCol,
          k = 16, bands = 4, shingleN = 3, threshold = 0.9)
        tr.count("pairs", p.count())
        p
      }
      val (afterNear, nNear) = tr.span("dedup.components") {
        val dropNear = Dedup.connectedComponents(pairs.select(col("id_a"), col("id_b")))
          .filter(col("id") =!= col("label"))
          .select(col("id").as(idCol))
        val a = afterExact.join(dropNear, Seq(idCol), "left_anti").persist(mem)
        (a, a.count())
      }
      afterExact.unpersist()
      val (kept, nSem) = tr.span("similarity.semantic") {
        val emb = embAll.join(
          afterNear.select(col(idCol).as("vec_id")), Seq("vec_id"), "left_semi")
        val dropped = Similarity.semanticDedup(emb, "vec_id", "embedding",
          k = 16, iters = 2, threshold = 0.97, maxCellSize = 4096)
          .filter(col("dropped")).select(col("vid").as(idCol))
        val k = afterNear.join(dropped, Seq(idCol), "left_anti").persist(mem)
        (k, k.count())
      }
      afterNear.unpersist()
      val manifest = Curation.packingManifest(
        kept.withColumn("shard", pmod(xxhash64(col(idCol)), lit(64))),
        "shard", idCol, textCol, capacity = 2048)
      tr.span("corpus.write") { kept.write.mode("overwrite").parquet(s"$out/corpus_clean") }
      tr.span("curation.pack") { manifest.write.mode("overwrite").parquet(s"$out/pack_manifest") }
      (CurationPipeline.Result(kept, manifest, nInput, exactIds.length, nNear, nSem), docs)
    }
    tr.span("dedup.lsh_profile") {
      val survivors = spark.createDataFrame(
        reply.get("after_exact_ids").elements.asScala
          .map(n => Tuple1(n.asLong)).toSeq).toDF(idCol)
      val p = Dedup.lshCandidateProfile(docs.join(survivors, idCol), idCol, textCol,
        k = 16, bands = 4, shingleN = 3).head()
      tr.count("raw_candidates", p.getAs[Long]("raw_candidates"))
      tr.count("distinct_pairs", p.getAs[Long]("distinct_pairs"))
    }
    r
  }
}
