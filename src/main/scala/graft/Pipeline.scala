package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

import graft.config.PipelineConfig
import graft.ingest.ParquetIngestor
import graft.load.Loader
import graft.model.{PipelineResult, Schemas}
import graft.transform.Transforms
import graft.validate.Validation

/** End-to-end orchestrator (reference src/main.py:61-130): ingest ->
  * transform -> validate -> load. Where the reference fully materializes
  * six pandas copies, this composes ONE lazy Catalyst plan with exactly
  * three action groups: validation metric collection, the report write,
  * and the partitioned data write — with the transformed frame persisted
  * because validation (many small aggregates) and loading both consume it.
  */
object Pipeline {

  /** CLI entry mirroring the reference runner (src/main.py): load the
    * YAML config, resolve data paths from it, run the pipeline once.
    *
    *   runMain graft.Pipeline [--config cfg.yaml] [--raw DIR]
    *     [--out DIR] [--report PATH] [--force-full-reload]
    *
    * Flags override the config's `paths` section; with no flags at all
    * the built-in defaults (the reference's default.yaml values) apply. */
  def main(args: Array[String]): Unit = {
    var cfgPath, raw, out, report: Option[String] = None
    var force = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--config" => cfgPath = Some(args(i + 1)); i += 2
        case "--raw" => raw = Some(args(i + 1)); i += 2
        case "--out" => out = Some(args(i + 1)); i += 2
        case "--report" => report = Some(args(i + 1)); i += 2
        case "--force-full-reload" => force = true; i += 1
        case other => sys.error(s"unknown argument: $other")
      }
    }
    val cfg = cfgPath.map(PipelineConfig.fromYaml).getOrElse(PipelineConfig.default)
    val spark = Session.start(Session.pipeline())
    try {
      val result = run(spark,
        raw.getOrElse(cfg.paths.dataRaw),
        out.getOrElse(cfg.paths.dataProcessed),
        Some(report.getOrElse(cfg.paths.dqReportCsv)),
        cfg, force)
      println(s"PIPELINE: success=${result.success} " +
        s"ingested=${result.recordsIngested} stored=${result.recordsStored} " +
        s"score=${result.qualityScore} issues=${result.issues.size} " +
        s"out=${result.outputPath}")
    } finally spark.stop()
  }

  def run(
      spark: SparkSession,
      rawDir: String,
      outPath: String,
      reportPath: Option[String] = None,
      cfg: PipelineConfig = PipelineConfig.default,
      forceFullReload: Boolean = false): PipelineResult = {
    implicit val s: SparkSession = spark

    val ing = ParquetIngestor.ingest(
      spark, rawDir, Schemas.raw,
      checkpointPath = Some(s"$rawDir/${cfg.ingestion.checkpointFile}"),
      incremental = cfg.ingestion.incrementalMode && !forceFullReload)

    ing.data match {
      case None =>
        PipelineResult(success = true, 0, 0, 100.0, Seq.empty, outPath)
      case Some(raw) =>
        // observe(): the raw (pre-clean) row count rides whichever action
        // first materializes the plan — no extra scan. It feeds the
        // checkpoint's records_ingested after a successful load.
        val rawObs = new org.apache.spark.sql.Observation("graft_ingested")
        val transformed = raw
          .observe(rawObs,
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1)).as("rows"))
          .transform(Transforms.pipeline(cfg))
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val result = Validation.collectMetrics(cfg)(transformed)
          reportPath.foreach(p => Validation.writeReport(result, p))

          val ts = java.time.Instant.now.toString
          // observe(): stored-row count rides the write job itself —
          // no separate count() action (SURVEY §7.4 hard part 8).
          val storedObs = new org.apache.spark.sql.Observation("graft_stored")
          val prepared = transformed
            .transform(Loader.addMetadata(result, cfg.pipelineVersion, ts))
            .transform(Loader.optimizeTypes)
            .observe(storedObs,
              org.apache.spark.sql.functions.count(
                org.apache.spark.sql.functions.lit(1)).as("rows"))
          Loader.write(cfg, outPath)(prepared)

          val stats = Loader.storageStats(spark, outPath)
          val stored = storedObs.get("rows").asInstanceOf[Long]
          Loader.writeMetadata(spark, outPath, result, stats, stored, ts)

          // Only now — data validated, written, and metadata recorded —
          // mark the batch's files as processed. A failure above leaves
          // the checkpoint untouched, so the next run retries the files
          // instead of silently dropping them.
          ing.commit(rawObs.get("rows").asInstanceOf[Long])

          PipelineResult(
            success = true,
            recordsIngested = result.totalRecords,
            recordsStored = stored, // exact post-outlier-mode count
            qualityScore = result.qualityScore,
            issues = result.issuesFound,
            outputPath = outPath)
        } finally transformed.unpersist()
    }
  }
}
