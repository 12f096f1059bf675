package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and emits machine-readable JSON.
  *
  * Output contract (what a driver/CI parses):
  *   - stdout line 1: the FULL summary JSON (total, per-query medians,
  *     errors, regressions, per-query detail for the heavy tail). Also persisted to bench_summary.json.
  *   - stdout line 2 (last): a compact bounded-size summary (top-15
  *     slowest + counts) that survives size-bounded tail capture.
  *   - stderr: one progress JSON line per query as it completes, so a
  *     crashed run still attributes cost. Progress lines are NOT on
  *     stdout so the parseable summary is literally the first stdout
  *     line.
  *   - exit status: 0 on a clean run, 3 when any query errored. The
  *     summary JSON (stdout + bench_summary.json) is always emitted
  *     BEFORE exiting, so the artifact of record lands parseable either
  *     way — consumers gating on exit status see a broken build as
  *     broken, consumers parsing the JSON read the errors map.
  *
  * Forcing policy (round 10): every query materializes through the
  * `noop` DSv2 sink, not count(). A count() lets the optimizer —
  * correctly — skip work that cannot change cardinality: unused window
  * columns, projection-only expression chains, whole global aggregates
  * (folded to their constant 1-row shape). Under count() the bench was
  * silently measuring scans for projection-shaped queries; the noop
  * write evaluates every output column with no sink IO, so a query's
  * number is its work. This re-based all per-query times once; the
  * medians before/after are not comparable across that boundary.
  *
  * Measurement policy: single-shot wall-time cannot adjudicate noise vs
  * regression for persist/broadcast/spill-heavy queries (r7: the driver
  * measured q158 at 40.7 s where the identical build measured ~11 s —
  * the spread IS the phenomenon). So any query whose previous committed
  * time exceeds 1 s — or whose first sample this run does, or which a
  * named-subset run names — is run THREE times and reported as
  * {runs, median, min} ([[threeSamples]]); regressions compare
  * MEDIANS. Each run also snapshots per-task executor metrics (shuffle
  * read/write bytes, memory/disk spill, GC ms, peak execution memory)
  * via a SparkListener, so a slow sample is attributable to spill/GC
  * pressure rather than guessed at.
  *
  * Between queries the harness frees everything a query can leave
  * behind in a shared JVM with [[Session.release]] and counts what
  * survives its barrier in `leak_checks`.
  *
  * Quiet-box adjudication (r17): after a full run, every machine-
  * flagged regression re-runs in a FRESH forked JVM (same options and
  * classpath, only the flagged names as args — a targeted child run
  * never writes bench_summary.json and never re-isolates) and the
  * verdict lands in the artifact as isolated_sec/isolated_task_ms/
  * isolated_task_cpu_ms/isolated_os_load/isolated_verdict per flagged query plus a
  * top-level "isolated" map. The recurring ambient 1.1-1.3x suite
  * drift then adjudicates from the committed artifact alone. Since
  * r19 the child's own os_load gates the verdict ("quiet" vs
  * "load-contaminated", threshold cpus/4) with ONE retry on a loaded
  * sample, and task_cpu_ms rides along — CPU cycles are insensitive
  * to both stall inflation and the fresh-vs-warm JVM wall gap that
  * make isolated WALLS structurally higher for catalog/JIT-heavy
  * queries (q201's fresh-JVM floor is ~2x its warm in-suite time at
  * IDENTICAL cpu). GRAFT_BENCH_ISOLATE=0 opts out.
  *
  * Bench times the queries only. The pipeline's end-to-end figure
  * (`Pipeline.run`, ingest through load) is perfbench's `sensor_batch`
  * workload (perfbench/METRICS.md).
  */
object Bench {

  /** Parses the isolated-adjudication child's stdout into per-query
    * verdicts. Returns (oks, errs): oks maps a flagged name to its
    * isolated (sec, task_time_ms, os_load); errs maps a name to WHY no
    * isolated time may be recorded for it — the child reported it in
    * its errors map (exit 3), it was missing from the child's queries,
    * or the child emitted no summary line at all. A flagged query that
    * THREW in the child must land in errs, never in oks: its
    * time-to-failure would read as a clean fast sample and wrongly
    * acquit a real regression. Object-level (not main-local) so the
    * parse is unit-testable without forking a JVM. */
  private[graft] def parseIsolated(
      stdout: String,
      names: Seq[String],
      exitCode: Int): (Map[String, (Double, String, String, String)], Map[String, String]) = {
    val line = stdout.linesIterator
      .find(_.startsWith("{\"metric\":\"total\"")).getOrElse("")
    if (line.isEmpty)
      return (Map.empty,
        names.map(_ -> s"no child summary line (exit=$exitCode)").toMap)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(line)
    val oks = Map.newBuilder[String, (Double, String, String, String)]
    val errs = Map.newBuilder[String, String]
    names.foreach { name =>
      val childErr = root.path("errors").path(name)
      val sec = root.path("queries").path(name)
      if (childErr.isTextual)
        errs += name ->
          s"child errored (exit=$exitCode): ${childErr.asText().take(160)}"
      else if (!sec.isNumber)
        errs += name -> s"missing from child output (exit=$exitCode)"
      else {
        val m = root.path("details").path(name).path("metrics")
        def num(f: String): String = {
          val v = m.path(f)
          if (v.isNumber) v.asText() else "null"
        }
        // task_cpu_ms rides along since r19: CPU cycles are the one
        // counter that is insensitive to BOTH stall-time inflation
        // (os timesharing, GC) and the fresh-vs-warm JVM wall gap, so
        // it is the series a downstream diff should adjudicate on (the
        // r18 q201 flag would have self-acquitted from it: isolated
        // cpu 7.9 s vs the baseline's 8.3 s with the walls 2x apart).
        oks += name -> ((sec.asDouble, num("task_time_ms"),
          num("task_cpu_ms"), num("os_load")))
      }
    }
    (oks.result(), errs.result())
  }

  /** Quiet-box verdict for an isolated child sample: the adjudication
    * method's premise is that the fresh-JVM re-run happened on an
    * otherwise-idle box, and the r18 round committed an isolated
    * sample taken at os_load 15.2 that the diff tooling then printed
    * as a confirmation — the one thing the isolation exists to
    * prevent. A 1-minute load average above a quarter of the core
    * count means the sample competed for CPU and its wall cannot
    * acquit or convict; "unknown" when the child could not read the
    * gauge. Pure and object-level so the threshold is unit-tested. */
  private[graft] def isolationVerdict(osLoad: String, cpus: Int): String =
    osLoad.toDoubleOption match {
      case None => "unknown"
      case Some(l) if l <= cpus * 0.25 => "quiet"
      case Some(_) => "load-contaminated"
    }

  /** Whether a query reports the median of three samples instead of
    * its first. In a named-subset run (`runMain graft.Bench <names>`)
    * every named query does: such a run exists to measure those
    * queries, and one cold sample of a sub-second query is mostly JIT
    * and first-touch cost. In the full suite a query does when its
    * first sample or its committed previous time exceeds 1 s (one
    * sample per heavy query records GC/IO spikes as plan cost — r3:
    * q39 53.4 s in one suite run vs 3.0 s identical build), or when
    * its first sample would flag as a regression (>2x prev and
    * >0.5 s worse): single-shot jitter was the last source of
    * unreproducible flags
    * (r8: q120 0.52→1.08, q167 0.73→1.60). Pure and object-level so
    * the rule is unit-tested. */
  private[graft] def threeSamples(
      subset: Boolean, first: Double, prev: Option[Double]): Boolean =
    subset || first > 1.0 || prev.exists(_ > 1.0) ||
      prev.exists(p => p > 0 && first > 2 * p && first - p > 0.5)

  /** The previous summary at `path` as this run's regression baseline,
    * or why it cannot be one: a summary from another SF, core count or
    * forcing basis does not compare like with like (the r9→r10
    * count()→noop re-basing once flagged every honest median as a
    * regression). An absent `basis` reads as "noop" (r10's own noop-era
    * summary predates the tag); an absent `cpus` cannot match. */
  private[graft] def baseline(path: java.nio.file.Path, sf: String,
      basis: String, cpus: Int): Either[String, Map[String, Double]] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isRegularFile(path)) Left(s"no $path")
    else scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(path.toFile)).toOption.filter(_.isObject)
      .toRight(s"$path does not parse as a JSON object").flatMap { root =>
      def field(k: String) = root.path(k).asText()
      if (field("sf") != sf) Left(s"sf ${field("sf")} != $sf")
      else if (!root.path("basis").isMissingNode && field("basis") != basis)
        Left(s"basis ${field("basis")} != $basis")
      else if (!root.path("cpus").isInt) Left("no cpus field")
      else if (root.path("cpus").asInt != cpus)
        Left(s"cpus ${root.path("cpus").asInt} != $cpus")
      else {
        val q = root.path("queries")
        Right(q.fieldNames.asScala.collect {
          case k if q.get(k).isNumber => k -> q.get(k).asDouble
        }.toMap)
      }
    }
  }

  /** JVM JIT compiler bean (None when compile-time monitoring is
    * unsupported). Cumulative ms spent in compiler threads — per-run
    * deltas are recorded in details as runs_jit_ms. */
  private val jitBean =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)

  /** Code-cache + metaspace occupancy (MB used / MB max for the three
    * CodeHeap pools summed, plus Metaspace used). The r14 adjudication
    * gap: q188's in-suite task time grew run-over-run (20.5 -> 35.1 s
    * on untouched code, flat GC, flat shuffle) with no counter that
    * could tell "code cache pressure de-optimized the hot loops" from
    * weather. A full code cache disables further compilation and hot
    * methods of LATER queries run interpreted/profiled — the exact
    * failure sized at 512 MB in build.sbt; this records whether a
    * suite actually approaches that ceiling, per query. */
  private def codeHeapMb(): (Double, Double, Double) = {
    import scala.jdk.CollectionConverters._
    var used, max, meta = 0.0
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .foreach { p =>
        val n = p.getName
        if (n.startsWith("CodeHeap")) {
          used += p.getUsage.getUsed / 1048576.0
          // getMax is -1 when the pool is unbounded/undefined — clamp so
          // the artifact's max can't silently go negative and be misread
          // as a real measurement by the adjudication counters.
          max += math.max(0L, p.getUsage.getMax) / 1048576.0
        } else if (n == "Metaspace") meta = p.getUsage.getUsed / 1048576.0
      }
    (math.rint(used * 10) / 10, math.rint(max * 10) / 10,
      math.rint(meta * 10) / 10)
  }

  /** Sums task-level executor metrics between reset() and snapshot().
    * Queries run one at a time, so everything the listener sees between
    * the two calls belongs to the in-flight query. Registered once;
    * listener callbacks are async, so snapshot() waits for the listener
    * bus to drain before reading.
    */
  final class MetricsListener extends SparkListener {
    private var shufRead, shufWrite, memSpill, diskSpill = 0L
    private var gcMs, peakMem, nTasks, taskMs, cpuNs = 0L
    override def onTaskEnd(end: SparkListenerTaskEnd): Unit = synchronized {
      val m = end.taskMetrics
      if (m != null) {
        shufRead += m.shuffleReadMetrics.totalBytesRead
        shufWrite += m.shuffleWriteMetrics.bytesWritten
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
        gcMs += m.jvmGCTime
        peakMem = math.max(peakMem, m.peakExecutionMemory)
        nTasks += 1
        taskMs += m.executorRunTime
        cpuNs += m.executorCpuTime
      }
    }
    def reset(): Unit = synchronized {
      shufRead = 0; shufWrite = 0; memSpill = 0; diskSpill = 0
      gcMs = 0; peakMem = 0; nTasks = 0; taskMs = 0; cpuNs = 0
    }
    def json(): String = synchronized {
      def mb(b: Long): Double = math.rint(b / 1048.576) / 1000 // MB, 3dp
      // task_time_ms (summed executor run time) is the adjudicator for
      // wall-time moves: a slow sample with FLAT task time is driver-
      // side or ambient-JVM cost, not a plan regression (r9's q143
      // flags were unadjudicable without it).
      // task_cpu_ms: executorRunTime is ELAPSED wall inside the task,
      // so on a shared box it inflates when something else steals the
      // cores — r14's q188 flag (task time 20.5 -> 35.1 s on untouched
      // code, flat GC/shuffle; unreproducible in isolation or in r15's
      // re-run) was exactly that shape, but without CPU time recorded
      // it took a full re-run to adjudicate. run >> cpu = starvation
      // weather; run ~ cpu and both high = real work.
      s"""{"shuffle_read_mb":${mb(shufRead)},"shuffle_write_mb":${mb(shufWrite)},"spill_mem_mb":${mb(memSpill)},"spill_disk_mb":${mb(diskSpill)},"gc_ms":$gcMs,"peak_task_mem_mb":${mb(peakMem)},"tasks":$nTasks,"task_time_ms":$taskMs,"task_cpu_ms":${cpuNs / 1000000}}"""
    }
    def taskTimeMs(): Long = synchronized(taskMs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus
    val spark = Session.start(Session.engine(cpus))
    val metrics = new MetricsListener
    spark.sparkContext.addSparkListener(metrics)

    def progress(line: String): Unit = { System.err.println(line); System.err.flush() }

    // Warmup: JIT + codegen + parquet reader init, not counted. Covers
    // the codepaths the first measured queries otherwise pay for:
    // hash aggregation with decimal sums, window sort+frame, broadcast
    // hash join, and both big tables' readers (q01 measured 1.9 s as
    // the first query vs 1.3 s mid-run before the wider warmup).
    spark.range(1000000L).selectExpr("sum(id)").collect()
    queries.CoreQueries.t(spark, sfDir, "lineitem").count()
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val ev = queries.CoreQueries.t(spark, sfDir, "events")
      ev.groupBy(col("event_type"))
        .agg(sum(col("value").cast("decimal(20,6)")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      ev.limit(50000)
        .withColumn("r", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"))))
        .agg(max(col("r"))).collect()
      ev.join(broadcast(ev.groupBy(col("event_type")).count()),
        Seq("event_type")).agg(count(lit(1))).collect()
      // Graph closure codepath: collect_list+sort_array aggregation and
      // the native SortedLongIntersectCount two-pointer codegen. q158's
      // FIRST sample was 2-3x its warm runs (r9 driver: 29.96 vs 8.99 s)
      // and per-run task-time attribution shows the excess INSIDE tasks
      // — interpreted/un-JITed generated code, paid by whichever
      // measured query hits the path first. The warmup graph is sized
      // (~60k edges, adjacency arrays ~30 longs) so the closure loops
      // actually reach C2 compilation, not just class loading; ~1.5 s
      // once, off the clock.
      graft.operators.Graph.trianglesProfile(
        spark.range(120000L)
          .selectExpr(
            "pmod(xxhash64(id), 2000) AS u",
            "pmod(xxhash64(id * 2 + 1), 2000) AS v")
          .filter(col("u") < col("v")).distinct()).collect()
      // Streaming codepaths: micro-batch planner, state-store init +
      // commit, session-window merge and streaming-agg codegen. The
      // streaming queries' FIRST sample otherwise pays ~2-3 s of
      // class-load + JIT that no batch warmup touches (measured: q141
      // first run 4.4 s vs 2.1 s warm, q44 3.9 vs 1.1). A tiny synthetic
      // events dir exercises both stateful operators off the clock.
      val wdir = streaming.Streaming.scratchDir("graft-warm-stream")
      spark.range(20000L).selectExpr(
        "id AS event_id",
        "timestamp_micros(1500000000000000 + id * 60000000) AS ts",
        "pmod(id, 50) AS user_id",
        "'a' AS event_type", "CAST(id AS DOUBLE) AS value", "'' AS props")
        .coalesce(1).write.mode("overwrite").parquet(s"$wdir/ev")
      streaming.Streaming.runToCompletion(spark,
        streaming.Streaming.sessionCounts(
          streaming.Streaming.eventsStream(spark, s"$wdir/ev")),
        "warm_sessions").count()
      streaming.Streaming.runToCompletion(spark,
        streaming.Streaming.hourlyAgg(
          streaming.Streaming.eventsStream(spark, s"$wdir/ev")),
        "warm_hourly").count()
      // Iterative-peel codepath (degree agg + broadcast semi-joins +
      // localCheckpoint): q171's runs carried 2.8-4.3 s of JIT delta on
      // EVERY sample in r10 — the peel loop's generated classes never
      // got hot before measurement, and on a shared local[32] box the
      // C2 threads compete with task threads for the same cores, so
      // compile time IS wall time. Same synthetic graph as above.
      graft.operators.Graph.kcorePeel(
        spark.range(120000L)
          .selectExpr(
            "pmod(xxhash64(id), 2000) AS u",
            "pmod(xxhash64(id * 2 + 1), 2000) AS v")
          .filter(col("u") < col("v")).distinct(),
        k = 8, rounds = 2).collect()
      streaming.Streaming.deleteRecursively(wdir)
    }
    // Every warm-up frame was counted and none escapes the block above.
    Session.release(spark)
    // JIT settle: after the targeted warmups, re-run a cheap
    // representative mix until the JVM's compile-time delta per pass
    // drops below threshold (bounded passes). The first measured
    // queries otherwise absorb whatever C2 re-profiling the warmup
    // itself triggered — on local[32] the compiler threads steal task
    // cores, so un-settled JIT shows up as inflated wall with flat
    // shuffle/GC (the r10 q171 signature).
    locally {
      var pass = 0
      var delta = Long.MaxValue
      while (pass < 5 && delta > 400) {
        val j0 = jitBean.map(_.getTotalCompilationTime).getOrElse(0L)
        spark.range(2000000L)
          .selectExpr("id % 97 AS k", "id AS v")
          .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
          .write.mode("overwrite").format("noop").save()
        // The settle passes sleep briefly so background compilation
        // queued by the pass lands inside this pass's delta.
        Thread.sleep(150)
        delta = jitBean.map(_.getTotalCompilationTime).getOrElse(0L) - j0
        pass += 1
      }
      progress(s"""{"warmup":"jit_settle","passes":$pass,"last_delta_ms":$delta}""")
    }
    // Phase recording starts with the first measurement; each one
    // drains it once.
    util.Trace.enabled = true

    // Leak accounting across the whole run: every measurement ends in
    // Session.release, and whatever survives its bounded barrier is a
    // counted artifact in the summary (plus one stderr line naming the
    // surviving broadcast blocks) instead of ambient slowdown
    // attributed to the next query.
    var leakNonzero, leakMaxBroadcast, leakCacheNonEmpty, leakRdds = 0L
    def release(after: String): Unit = {
      val r = Session.release(spark)
      if (!r.isEmpty) {
        leakNonzero += 1
        leakMaxBroadcast = math.max(leakMaxBroadcast, r.broadcastBlocks.size.toLong)
        if (r.cacheNonEmpty) leakCacheNonEmpty += 1
        leakRdds += r.persistentRdds
        progress(s"""{"leak":{"after":"$after","broadcast_blocks":${r.broadcastBlocks.map("\"" + _ + "\"").mkString("[", ",", "]")},"persistent_rdds":${r.persistentRdds},"cache_nonempty":${r.cacheNonEmpty}}}""")
      }
    }

    def r4(sec: Double): Double = math.rint(sec * 10000) / 10000

    // Previous run's per-query times: the committed bench_summary.json,
    // read BEFORE this run overwrites it.
    val basis = "noop"
    val (prevTimes, gate) =
      baseline(java.nio.file.Paths.get("bench_summary.json"), sfDir, basis, cpus) match {
        case Right(b) => (b, s"armed (${b.size} queries)")
        case Left(why) => (Map.empty[String, Double], s"disarmed ($why)")
      }
    progress(s"gate: $gate")
    def prevTag(name: String): String =
      prevTimes.get(name).map(p => s""","prev":$p""").getOrElse("")

    val selected =
      if (args.nonEmpty) SparkEntry.queries.filter(q => args.contains(q._1))
      else SparkEntry.queries
    // A throwing query must surface as a FAILURE, not a fast timing: the
    // per-query line carries "err" and the summary lists it. The run
    // CONTINUES past a failure (one broken query must not cost the other
    // 180 their measurements) and the summary always lands before the
    // process exits — nonzero, if anything errored (see the contract in
    // the object doc; r8: an artifact-less rc=1 nearly cost the round
    // its bench numbers, hence summary-first).
    def esc(s: String): String = {
      val sb = new StringBuilder(s.length + 8)
      s.foreach {
        case '\\' => sb.append("\\\\")
        case '"' => sb.append("\\\"")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      sb.toString
    }
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Per-query detail for multi-sample queries: runs, median, min, and
    // the executor metrics of the median run — committed alongside the
    // headline medians so a flagged regression arrives with its own
    // spill/GC evidence.
    val details = scala.collection.mutable.LinkedHashMap[String, String]()
    val all = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      var lastErr: Option[String] = None
      var lastPlanMs = 0L
      def once(): (Double, String, Long, Long, Long) = {
        metrics.reset()
        lastPlanMs = -1L // stays -1 when the query fails before planning
        // JIT compile-time delta per run: on a 32-thread local box the
        // C2 compiler threads COMPETE with task threads for cores, so a
        // compilation storm (first execution of a query's generated
        // code, or re-profiling after it goes hot) inflates task time
        // with zero GC and zero spill — exactly the signature that made
        // r9/r10 repeat-run medians hard to adjudicate (isolated q123:
        // task_ms [5.7k, 20.6k, 10.6k] on an identical plan). Recording
        // the delta lets a slow sample self-identify as compile-bound.
        val jit0 = jitBean.map(_.getTotalCompilationTime).getOrElse(0L)
        val t0 = System.nanoTime()
        lastErr =
          try {
            // The result frame is deliberately a nulled-out var: its
            // QueryExecution pins the executed plan's broadcast
            // variables, and a stack-reachable reference during
            // Session.release keeps the ContextCleaner from collecting
            // them (observed: 2 broadcast blocks surviving the
            // barrier on exactly the queries measured last).
            //
            // Forced through the noop sink, NOT count(): Catalyst is
            // (correctly) aggressive about work that cannot affect a
            // count — unused window columns are pruned, projection-only
            // expression chains collapse to the scan, and
            // count-over-global-aggregate folds to a constant. Under
            // count() a projection query like zorder or simhash was
            // measuring little more than its scan (discovered via the
            // as-of pair: the window form "ran" 25x faster than its
            // actual work). The noop write materializes EVERY output
            // column with no sink cost, so the artifact measures the
            // query, not the optimizer's ability to skip it.
            // plan_ms: everything BEFORE the sink action — the fn()
            // call (which for iterative operators like kcorePeel runs
            // its internal jobs, and for pure-lazy queries is just
            // plan construction) plus analysis/optimization/physical
            // planning, forced via executedPlan (under AQE that is the
            // pre-execution adaptive root; runtime re-planning still
            // lands in execution time). Splits wall into attributable
            // driver-side fixed cost vs cluster execution: r10's
            // q19/q21 "regressions" took a round of adjudication to
            // trace to driver overhead that this field now measures.
            var df = fn(spark, sfDir)
            df.queryExecution.executedPlan
            lastPlanMs = (System.nanoTime() - t0) / 1000000
            df.write.mode("overwrite").format("noop").save()
            df = null
            None
          }
          catch {
            case e: Throwable =>
              Some(e.getClass.getSimpleName + ": " +
                Option(e.getMessage).getOrElse("").take(200))
          }
        val sec = r4((System.nanoTime() - t0) / 1e9)
        // Streaming queries report driver-side setup separately from
        // micro-batch execution plus per-trigger batch accounting;
        // iterative operators report per-round phase wall times. Both
        // splice into this run's metrics object so they travel with
        // whichever sample becomes the median.
        val traced = util.Trace.drainJson() match {
          case "" => ""
          case t => "," + t
        }
        val m = metrics.json()
        val (ccUsed, ccMax, metaUsed) = codeHeapMb()
        // os_load: the host's 1-min load average at sample end. On a
        // shared box, load >> this JVM's own core use marks the sample
        // as contention weather (pairs with task_cpu_ms above).
        // getSystemLoadAverage returns -1.0 on unsupported platforms —
        // record null there so an absent measurement can't be misread
        // as a (negative) real one.
        val osLoadRaw = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
        val osLoad =
          if (osLoadRaw < 0) "null"
          else (math.rint(osLoadRaw * 10) / 10).toString
        val ccJson = s""","code_cache_mb":$ccUsed,"code_cache_max_mb":$ccMax,"metaspace_mb":$metaUsed,"os_load":$osLoad"""
        val merged = m.dropRight(1) + traced + ccJson + "}"
        val taskMs = metrics.taskTimeMs()
        val jitMs = jitBean.map(_.getTotalCompilationTime).getOrElse(0L) - jit0
        release(name)
        (sec, merged, taskMs, jitMs, lastPlanMs)
      }
      val (first, firstM, firstT, firstJ, firstP) = once()
      val sec = lastErr match {
        case Some(m) =>
          errors += name -> m
          progress(s"""{"query":"$name","sec":$first,"err":"${esc(m)}"}""")
          first
        case None if threeSamples(args.nonEmpty, first, prevTimes.get(name)) =>
          val (s2, m2, t2, j2, p2) = once()
          val err2 = lastErr
          val (s3, m3, t3, j3, p3) = once()
          val err3 = lastErr
          // A re-run that THROWS must fail the query, not contribute its
          // time-to-failure as a fast sample: a transient error in run 2
          // would otherwise publish as a clean 'speedup' (median of the
          // broken runs), leave the errors map empty, and exit 0.
          (err2 orElse err3).foreach { m =>
            errors.getOrElseUpdate(name, m)
            progress(s"""{"query":"$name","sec":$first,"err":"${esc(m)}"}""")
          }
          val runs = Seq((first, firstM), (s2, m2), (s3, m3)).sortBy(_._1)
          val med = runs(1)._1
          // runs_task_ms is per-run summed executor time, SAME ORDER as
          // runs: a cold first sample with inflated task time is
          // JIT/codegen warming inside tasks; inflated wall with flat
          // task time is driver/ambient. runs_jit_ms is the JVM's
          // compile-time delta per run — a slow sample with a large
          // delta is compiler threads stealing cores, not the plan.
          // The artifact self-adjudicates.
          val detail =
            s""""runs":[$first,$s2,$s3],"runs_task_ms":[$firstT,$t2,$t3],"runs_jit_ms":[$firstJ,$j2,$j3],"runs_plan_ms":[$firstP,$p2,$p3],"median":$med,"min":${runs.head._1},"metrics":${runs(1)._2}"""
          details += name -> detail
          progress(s"""{"query":"$name","sec":$med,$detail${prevTag(name)}}""")
          med
        case None =>
          // Single-run query: commit its run + full executor metrics to
          // details anyway — every entry in the artifact then carries
          // shuffle/GC/task/JIT/plan attribution, so a cross-round diff
          // of ANY query self-adjudicates (slow sample with a large JIT
          // delta = compiler noise; flat task time with inflated wall =
          // driver/ambient) without a re-run. Queries that would flag a
          // regression, ran >1 s, or were named, get the 3-run median.
          details += name -> s""""runs":[$first],"runs_task_ms":[$firstT],"runs_jit_ms":[$firstJ],"runs_plan_ms":[$firstP],"median":$first,"min":$first,"metrics":$firstM"""
          progress(s"""{"query":"$name","sec":$first${prevTag(name)}}""")
          first
      }
      name -> sec
    }

    val qs = all.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors
      .map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    // Failed stages report the sentinel -1.0; summing it would
    // understate the published total by 1 s per failure.
    val total = r4(all.map(_._2).filter(_ >= 0).sum)
    // Machine-flagged regressions vs the previous committed run: >2x
    // AND >0.5 s absolute (the absolute floor keeps sub-second jitter
    // on fast queries from flagging). Heavy-tail entries compare
    // median-vs-previous-median, so a flagged entry here reproduced
    // across 3 runs — it is a regression, not a one-sample spike.
    val regressions = all.flatMap { case (k, v) =>
      prevTimes.get(k).collect {
        case p if p > 0 && v > 2 * p && v - p > 0.5 => k -> ((p, v))
      }
    }
    val regJson = regressions
      .map { case (k, (p, v)) => "\"" + k + "\":[" + p + "," + v + "]" }
      .mkString("{", ",", "}")
    // Quiet-box adjudication pass (r17): every machine-flagged
    // regression re-runs ISOLATED in a FRESH JVM after the suite — same
    // JVM options and classpath as this process, only the flagged query
    // names as args (a child with args never writes
    // bench_summary.json or re-isolates). A fresh JVM removes
    // everything the in-suite sample cannot shed: accumulated
    // code-cache/metaspace, G1 region history, megamorphic call sites
    // trained by 200 other queries. The result
    // lands in the artifact as isolated_sec (+ the child's own
    // task/os_load counters), so the recurring ambient 1.1-1.3x suite
    // drift (r14/r16) adjudicates from the committed artifact alone
    // instead of costing a round of re-run prose. Opt out with
    // GRAFT_BENCH_ISOLATE=0.
    val (isolated, isolatedErrs):
        (Map[String, (Double, String, String, String)], Map[String, String]) =
      if (args.nonEmpty || regressions.isEmpty ||
        sys.env.get("GRAFT_BENCH_ISOLATE").contains("0"))
        (Map.empty, Map.empty)
      else try {
        import scala.jdk.CollectionConverters._
        def forkOnce(): (Map[String, (Double, String, String, String)],
            Map[String, String]) = {
          // Shed the parent's weight BEFORE forking: the child competes
          // with this JVM's resident set on a memory-constrained host, so
          // release first (the local[*] session itself stays up —
          // stopping it would kill the summary emission below, and its
          // executors are idle while we wait).
          try release("isolate") catch { case _: Throwable => () }
          val javaBin = java.nio.file.Paths
            .get(System.getProperty("java.home"), "bin", "java").toString
          val jvmArgs = java.lang.management.ManagementFactory
            .getRuntimeMXBean.getInputArguments.asScala.toSeq
          val cmd = Seq(javaBin) ++ jvmArgs ++
            Seq("-cp", System.getProperty("java.class.path"), "graft.Bench") ++
            regressions.map(_._1)
          progress(s"""{"isolate":"start","n":${regressions.size}}""")
          val pb = new ProcessBuilder(cmd: _*)
          pb.redirectError(ProcessBuilder.Redirect.DISCARD)
          val proc = pb.start()
          // Drain stdout concurrently: the child's full summary JSON can
          // exceed the pipe buffer, and an undrained pipe deadlocks the
          // child against waitFor.
          val outBuf = new java.io.ByteArrayOutputStream()
          val drainer = new Thread(() => proc.getInputStream.transferTo(outBuf))
          drainer.setDaemon(true)
          drainer.start()
          val finished =
            proc.waitFor(20, java.util.concurrent.TimeUnit.MINUTES)
          if (!finished) proc.destroyForcibly()
          drainer.join(5000)
          val exit = if (finished) proc.exitValue() else -1
          parseIsolated(outBuf.toString("UTF-8"), regressions.map(_._1), exit)
        }
        val first = forkOnce()
        // Quiet-box premise check (r19): an isolated sample taken on a
        // loaded box proves nothing — the r18 artifact committed one at
        // os_load 15.2 and it cost a round of adjudication. One retry
        // when any sample came back contaminated; per query the QUIETER
        // attempt is kept (lower child os_load), and the verdict field
        // spliced below says whether even that one met the premise.
        val contaminated = first._1.values.exists { case (_, _, _, l) =>
          isolationVerdict(l, cpus) == "load-contaminated" }
        if (!contaminated) first
        else {
          progress(s"""{"isolate":"retry","reason":"load-contaminated"}""")
          val second = forkOnce()
          def loadOf(t: (Double, String, String, String)): Double =
            t._4.toDoubleOption.getOrElse(Double.MaxValue)
          val oks = (first._1.keySet ++ second._1.keySet).map { k =>
            k -> ((first._1.get(k), second._1.get(k)) match {
              case (Some(a), Some(b)) => if (loadOf(a) <= loadOf(b)) a else b
              case (Some(a), None) => a
              case (None, Some(b)) => b
              case (None, None) => throw new IllegalStateException(k)
            })
          }.toMap
          (oks, (first._2 ++ second._2) -- oks.keySet)
        }
      } catch {
        case e: Throwable =>
          progress(s"""{"isolate":"failed","err":"${esc(e.toString.take(200))}"}""")
          (Map.empty, Map.empty)
      }
    // Splice each isolated verdict into the flagged query's detail so
    // the per-query record is self-contained...
    isolated.foreach { case (name, (sec, taskMs, cpuMs, osLoad)) =>
      details.get(name).foreach { d =>
        details(name) =
          d + s""","isolated_sec":$sec,"isolated_task_ms":$taskMs,"isolated_task_cpu_ms":$cpuMs,"isolated_os_load":$osLoad,"isolated_verdict":"${isolationVerdict(osLoad, cpus)}""""
      }
    }
    // A child-side FAILURE is an annotation, never a time: recording a
    // time-to-failure as isolated_sec would read as a clean fast run
    // and wrongly acquit a real regression.
    isolatedErrs.foreach { case (name, err) =>
      details.get(name).foreach { d =>
        details(name) = d + s""","isolated_err":"${esc(err)}""""
      }
    }
    // ...and as a top-level map for the compact tail.
    val isoJson = (isolated
      .map { case (k, (sec, t, c, l)) =>
        "\"" + k + s"""\":{"sec":$sec,"task_ms":$t,"task_cpu_ms":$c,"os_load":$l,"verdict":"${isolationVerdict(l, cpus)}"}""" } ++
      isolatedErrs.map { case (k, e) =>
        "\"" + k + s"""\":{"err":"${esc(e)}"}""" })
      .mkString("{", ",", "}")
    val detJson = details
      .map { case (k, v) => "\"" + k + "\":{" + v + "}" }
      .mkString("{", ",", "}")
    val prevTotal = r4(all.flatMap(x => prevTimes.get(x._1)).sum)
    // Inter-query hygiene over the whole run: n_nonzero counts
    // releases that still saw residue AFTER the bounded
    // cleanup barrier. All-zero = every measurement started from a
    // clean block manager / cache manager.
    val leakJson =
      s"""{"n_nonzero":$leakNonzero,"max_broadcast_blocks":$leakMaxBroadcast,"cache_nonempty":$leakCacheNonEmpty,"persistent_rdds":$leakRdds}"""
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","basis":"$basis","queries":$qs,"sf":"$sfDir","cpus":$cpus,"gate":"${esc(gate)}","errors":$errJson,"prev_total":$prevTotal,"regressions":$regJson,"isolated":$isoJson,"leak_checks":$leakJson,"details":$detJson}"""
    // stdout line 1: the full summary (progress went to stderr, so this
    // is literally the first stdout line — parse it directly).
    println(fullLine)
    // Only a FULL run may replace the committed baseline: a targeted
    // `runMain graft.Bench q158 ...` iteration run would otherwise
    // overwrite bench_summary.json with a 3-query map and silently
    // disable the regression gate for every other query.
    if (args.isEmpty) try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_summary.json"),
        (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // read-only cwd must not kill bench
    // stdout line 2 (LAST): a compact, bounded-size summary — total,
    // errors, the top-15 slowest — so a size-bounded TAIL capture
    // still carries the headline numbers, never a mid-JSON cut.
    val slowAll = all.filter(_._2 >= 0.5).sortBy(-_._2)
    val slow = slowAll.take(15)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val fastN = all.count(_._2 < 0.5)
    val fastSum = r4(all.filter(v => v._2 < 0.5 && v._2 >= 0).map(_._2).sum)
    println(s"""{"metric":"summary","total_sec":$total,"basis":"$basis","n_queries":${all.size},"sf":"$sfDir","gate":"${esc(gate)}","n_errors":${errors.size},"error_queries":${errors.keys.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")},"slow_queries_sec":$slow,"slow_omitted":${math.max(0, slowAll.size - 15)},"fast_queries":{"n":$fastN,"sum_sec":$fastSum},"n_regressions_vs_prev":${regressions.size},"regressions_vs_prev":$regJson,"isolated":$isoJson,"leak_checks":$leakJson,"full_summary_file":"bench_summary.json"}""")
    System.out.flush()
    spark.stop()
    // Exit-status contract (object doc): the artifact above already
    // landed, so failing the process cannot cost the round its numbers.
    if (errors.nonEmpty) sys.exit(3)
  }
}
