package graft

/** End-to-end drive of the full pipeline over a raw sensor directory:
  * `Test/runMain graft.PipelineDemo <rawDir> <outDir> [reportDir]`.
  * Exercises ingest (schema rejection, corrupt-file isolation,
  * checkpoint), transform, validation, partitioned load, and the
  * pruned read-back, on `Pipeline.main`'s session settings. */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val rawDir = args(0)
    val outDir = args(1)
    val reportDir = if (args.length > 2) Some(args(2)) else None

    val spark = Session.start(Session.pipeline(), logLevel = "ERROR")

    val r1 = Pipeline.run(spark, rawDir, outDir, reportDir)
    println(s"RUN1: success=${r1.success} ingested=${r1.recordsIngested} " +
      s"stored=${r1.recordsStored} score=${r1.qualityScore} issues=${r1.issues.size}")

    val r2 = Pipeline.run(spark, rawDir, outDir, None)
    println(s"RUN2(incremental): ingested=${r2.recordsIngested}")

    val rb = graft.load.Loader.readBack(spark, outDir,
      date = Some("2023-06-01"), sensorId = Some("sensor_1"))
    println("READBACK rows=" + rb.count())
    rb.explain()
    spark.stop()
  }
}
