package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built, the one way to scope a
  * session setting, and the one release of what a finished query left
  * behind ([[release]]).
  *
  * Profiles are plain key/value maps so an entry's settings can be
  * compared, printed and extended without a session:
  *   - [[engine]]: the query surface — Bench, Verify, Explain and the
  *     test suites run on exactly the settings Bench measures;
  *   - [[scale]]: [[engine]] plus ScaleBench's deep-scale headroom;
  *   - [[pipeline]] / [[curation]]: the production entries
  *     (`Pipeline.main`, `CurationPipeline.main`). The benchmark under
  *     `perfbench/` mirrors these two maps key for key; SessionSpec
  *     pins the match.
  *
  * Cores come from SPARK_GRAFT_CPUS, else the host's core count; the
  * master from SPARK_MASTER, else `local[cores]`. */
object Session {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def master(cores: Int): String =
    sys.env.getOrElse("SPARK_MASTER", s"local[$cores]")

  def engine(cores: Int = cpus): Map[String, String] = Map(
    "spark.master" -> master(cores),
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // The SQL/status listeners retain per-execution plan graphs even
    // with the UI off; cap retention so a 70-query run doesn't hoard
    // plan strings on the driver.
    "spark.sql.ui.retainedExecutions" -> "8",
    "spark.ui.retainedJobs" -> "100",
    "spark.ui.retainedStages" -> "100",
    // collect_list/collect_set and other object-buffer aggregations
    // (q137's per-doc vocab lists, sketch buffers) fall back to
    // sort-based object aggregation after only 128 in-memory groups
    // by default — millions of tiny groups then pay a sort (and at
    // x1000, gigabytes of sorter spill) for no memory benefit.
    // Measured A/B at 4096 vs the 128-group default at sf0.1: q137
    // 2.94→2.47 s, q103 2.41→2.03, q36 1.59→1.16, q63 1.75→1.36.
    // 65536 — NOT higher — is deliberate: when a partition's key
    // count approaches its row count, a big object map only churns
    // allocations before emitting one state per row anyway; falling
    // back to the sorter early IS the right behavior there (measured
    // on the r11 x1000 changelog: 14.6 s / 8 s GC at 65536 vs
    // 24-27 s / 140+ s GC at 1M). ScaleBench needs the headroom too:
    // a multi-replica input partition holds one key-set per replica
    // file, so partial aggregates see thousands of local groups. r15
    // re-ran 65536 vs 8388608 on its triangles x100 (the partial
    // adjacency aggregate sees ~350k distinct src per task): a null
    // result — min-run task time 911 s vs 910 s, task_cpu 875 s vs
    // 879 s, identical 3.3 GB spill. The truly hot high-cardinality
    // aggregates (cdc_apply's argmax, the exact percentiles) don't ride
    // this knob at all anymore — they are declarative/primitive and
    // plan as plain HashAggregate (see ArgMaxPackedAgg).
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    // Let AQE re-plan partitioning UNDER cached plans (off by default
    // upstream because a cache consumer that relied on the cached
    // partitioning may see an extra exchange). The iterative graph
    // operators persist/localCheckpoint node- and edge-sized frames
    // every round, and with this off each cached frame FREEZES the
    // pre-AQE 32-partition shuffle layout — every subsequent round
    // then fans 32+ tiny tasks per job over a 5 MB frame and pays
    // scheduler/launch overhead as wall time. With AQE sizing cached
    // output by bytes (the same advisory-size policy as everywhere
    // else), measured at sf0.1: q171 3.5→1.4 s (summed task time
    // 37 s→0.7 s), q158 4.9→3.7 s, q175 2.1→1.2 s; no query regressed
    // in the full-suite A/B. At 100 TB the advisory size keeps
    // partition counts proportional to data, which is the
    // scale-correct layout for cached intermediates too.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  def scale(cores: Int = cpus): Map[String, String] = engine(cores) ++ Map(
    // Partition-count headroom for the deep scale points: a fixed 32
    // shuffle partitions is right at sf0.1 but caps post-shuffle
    // parallelism AND balloons per-task state at x100 (triangles'
    // 90M-edge adjacency build: 213 MB sorter spill + 11 s GC in 32
    // tasks). Planning shuffles WIDE and letting AQE coalesce by its
    // 64 MB advisory target is the standard Spark sizing discipline —
    // small shapes still collapse to a handful of partitions, big
    // shapes keep per-task state bounded. This is exactly the knob a
    // 1000-executor deployment sets (initialPartitionNum ~= 2-3x total
    // cores); the sf0.1 Bench keeps plain `cores` because its data
    // never outgrows it.
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      sys.env.getOrElse("SPARK_GRAFT_SCALE_INIT_PARTS", "256"),
    // Shuffle/spill scratch on tmpfs when the host has one: the x100
    // graph shapes move ~7 GB of shuffle per run, and on a single
    // virtio disk that IO is both the wall-clock floor and the
    // dominant run-to-run variance (shared-host IO weather measured
    // the same plan at 43 s and 107 s). A real cluster provisions
    // node-local disks for exactly this traffic; tmpfs is the scale
    // harness's equivalent. Falls back to the default temp dir when
    // /dev/shm is absent.
    "spark.local.dir" -> {
      // user-qualified for the same reason as Bucketed.storageRoot:
      // /dev/shm is shared across OS users, and a second user's run
      // could not write blockmgr subdirs into the first user's dir.
      val shm = java.nio.file.Paths.get("/dev/shm")
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm))
        java.nio.file.Files.createDirectories(shm.resolve(
          s"graft-scale-local-${System.getProperty("user.name", "anon")}"))
          .toString
      else System.getProperty("java.io.tmpdir")
    })

  /** `Pipeline.main`: the reference's sensor ETL entry. Dynamic
    * partition overwrite session-wide, so an incremental load replaces
    * only the partitions it writes. */
  def pipeline(cores: Int = cpus): Map[String, String] = Map(
    "spark.app.name" -> "graft-pipeline",
    "spark.master" -> master(cores),
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic")

  /** `CurationPipeline.main`: the corpus curation quickstart. */
  def curation(cores: Int = cpus): Map[String, String] = Map(
    "spark.master" -> master(cores),
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def start(settings: Map[String, String],
      logLevel: String = "WARN"): SparkSession = {
    val spark = settings
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Runs `body` with `settings` applied to the session, then puts
    * every key back — its earlier value if it had one, unset if it did
    * not — whether `body` returns or throws. */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(
      body: => T): T = {
    val before = spark.conf.getAll
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally settings.foreach { case (k, _) =>
      before.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
    }
  }

  /** What [[release]] could not free: the surviving broadcast block
    * ids, the persistent RDD count, and whether the cache still holds
    * a plan. */
  final case class Residue(
      broadcastBlocks: Seq[String],
      persistentRdds: Int,
      cacheNonEmpty: Boolean) {
    def isEmpty: Boolean =
      broadcastBlocks.isEmpty && persistentRdds == 0 && !cacheNonEmpty
  }

  /** Frees everything a finished query left behind in this JVM — the
    * query harnesses' one release step between queries. Every
    * `Streaming.runToCompletion` result dir is deleted, so call it only
    * once no returned frame is still in use.
    *
    * Without it, broadcast hash relations from ~70 queries pile up in
    * the block manager and the tail of a bench run measures GC pressure
    * instead of plan cost (r2: q61 111 s in-suite vs 3.1 s isolated).
    * Broadcasts and shuffle state are reference-tracked: only a GC lets
    * Spark's ContextCleaner find them, and it removes them
    * asynchronously. So the barrier polls the block manager (bounded)
    * until the removal has happened — a fixed sleep raced the cleaner
    * and let a heavy query's debris bleed into the next measurement
    * (r9's q143) — then GCs once more to reclaim what the removal
    * freed. A caller that still holds a query's frame pins that plan's
    * broadcasts, which then survive as residue. */
  def release(spark: SparkSession): Residue = {
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    // Terminated StreamExecutions stay registered for
    // awaitAnyTermination and pin their final micro-batch's executed
    // plan — broadcasts included.
    spark.streams.resetTerminated()
    spark.catalog.listTables().collect()
      .filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // A stopped query's state-store providers otherwise stay loaded,
    // each holding its operator's keyed state, until the maintenance
    // task gets to them.
    org.apache.spark.sql.GraftColumnBridge.unloadStateStores()
    streaming.Streaming.releaseResults()
    def liveBroadcasts() = org.apache.spark.SparkEnv.get.blockManager
      .getMatchingBlockIds(_.isBroadcast)
    System.gc()
    var waitedMs = 0
    while (liveBroadcasts().nonEmpty && waitedMs < 2000) {
      Thread.sleep(25)
      waitedMs += 25
      if (waitedMs % 500 == 0) System.gc() // re-enqueue stragglers
    }
    System.gc()
    Residue(liveBroadcasts().map(_.name).toSeq,
      spark.sparkContext.getPersistentRDDs.size,
      !org.apache.spark.sql.GraftColumnBridge.cacheIsEmpty(spark))
  }
}
