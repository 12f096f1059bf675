package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Session

/** Structured Streaming surface. The reference is batch-only (its
  * "incremental" is file-name checkpointing, SURVEY §2.7); this module
  * subsumes that contract with a FileStreamSource + windowed event-time
  * aggregation — the shape a continuously-landing 100 TB feed needs:
  * source files discovered incrementally (Spark's own checkpoint),
  * watermarked state bounded per window, output append-only.
  */
object Streaming {

  /** Events schema as the stream source sees it, with `ts` declared as
    * whatever the parquet footers actually hold — the data has shipped
    * both as TIMESTAMP(NANOS) (surfaces as LongType nanos under
    * nanosAsLong; converted after read) and TIMESTAMP(MICROS) tz-naive
    * (surfaces as TIMESTAMP_NTZ in Spark 4; cast to TimestampType under
    * the pinned UTC session). A FileStreamSource needs the schema up
    * front, so the type is probed with one driver-side batch read of
    * the same directory (footer metadata only — no data scan). */
  private def eventsRawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Per-path cache of the resolved (source dir, ts physical type).
    * The footer probe and the scratch symlink dir are driver-side FIXED
    * costs paid per eventsStream call — they never amortize over batch
    * size, so on a harness running dozens of streaming queries over the
    * same path they dominate measured latency (r9: q141's 2x driver-run
    * medians tracked exactly this setup, not micro-batch throughput).
    * One probe per path per JVM; the scratch dir is reused until exit.
    * Known limit of the per-JVM cache: rewriting a probed path IN PLACE
    * with a different ts physical encoding is not picked up (the stale
    * type would mis-convert event times). Testdata paths are immutable
    * within a round; anything that rewrites encodings mid-JVM must use
    * a fresh path or a fresh session. */
  private val sourceCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, DataType, Long)]()

  /** Total source bytes of the streams built since the last
    * runToCompletion (max across sources — a join's two legs read the
    * same table), used there to size STATE partitions by data volume
    * rather than core count. */
  private val pendingSourceBytes = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Recursive byte size of a source dir (driver-side, once per path
    * per JVM — cached alongside the ts-type probe). Symlinked single
    * files resolve to the target's size. The walk stream is closed
    * explicitly — Files.walk holds a directory handle per open level
    * until closed, and a leaked handle per probed path would outlive
    * the (cached) call. */
  private def dirBytes(dir: String): Long =
    try {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(
        Files.walk(java.nio.file.Paths.get(dir))) { walk =>
        walk.iterator().asScala
          .filter(p => Files.isRegularFile(p))
          .map(p => try Files.size(p) catch { case _: Exception => 0L })
          .sum
      }
    } catch { case _: Exception => 0L }

  /** Driver-side setup nanos accrued by eventsStream since the last
    * runToCompletion — drained into that run's setup_sec so the bench
    * can report setup separately from micro-batch execution. */
  private val pendingSetupNs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Streaming DataFrame over an events path (directory, or a single
    * parquet file — FileStreamSource requires a directory, so a file
    * path gets symlinked into a scratch dir) with proper event-time
    * column and a watermark. */
  def eventsStream(
      spark: SparkSession,
      path: String,
      watermark: String = "2 hours"): DataFrame = {
    val t0 = System.nanoTime()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val (dir, tsType, srcBytes) = sourceCache.computeIfAbsent(path, { p =>
      // A ".parquet" path can be a single FILE (testdata ships tables
      // that way; FileStreamSource needs a directory, so symlink it
      // into a scratch dir) or a DIRECTORY of part files (any
      // Spark-written table, e.g. the scale replicas) — dispatch on
      // what is actually on disk, not on the suffix.
      val d =
        if (p.endsWith(".parquet") &&
            !Files.isDirectory(java.nio.file.Paths.get(p))) {
          val sd = scratchDir("graft-stream-src")
          Files.createSymbolicLink(
            sd.resolve("part-0.parquet"), java.nio.file.Paths.get(p))
          sd.toString
        } else p
      (d, spark.read.parquet(d).schema("ts").dataType, dirBytes(d))
    })
    pendingSourceBytes.updateAndGet(b => math.max(b, srcBytes))
    val raw = spark.readStream
      .schema(eventsRawSchema(tsType))
      .parquet(dir)
    val withTs = tsType match {
      case LongType => // legacy TIMESTAMP(NANOS) read as nanos-longs
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => // TIMESTAMP or TIMESTAMP_NTZ: same instant under UTC
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
    pendingSetupNs.addAndGet(System.nanoTime() - t0)
    withTs.withWatermark("ts", watermark)
  }

  /** Documents schema for the streaming quality-scoring feed. */
  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming DataFrame over a documents path (directory or single
    * parquet file — same symlink dispatch as [[eventsStream]]). No
    * event-time column and no watermark: the scoring consumers are
    * STATELESS projections, so nothing needs time-based eviction. */
  def docsStream(spark: SparkSession, path: String): DataFrame = {
    val t0 = System.nanoTime()
    val (dir, _, srcBytes) = sourceCache.computeIfAbsent(path, { p =>
      val d =
        if (p.endsWith(".parquet") &&
            !Files.isDirectory(java.nio.file.Paths.get(p))) {
          val sd = scratchDir("graft-stream-src")
          Files.createSymbolicLink(
            sd.resolve("part-0.parquet"), java.nio.file.Paths.get(p))
          sd.toString
        } else p
      (d, StringType, dirBytes(d))
    })
    pendingSourceBytes.updateAndGet(b => math.max(b, srcBytes))
    val df = spark.readStream.schema(docsSchema).parquet(dir)
    pendingSetupNs.addAndGet(System.nanoTime() - t0)
    df
  }

  /** STREAMING-side classifier inference — semantically identical to
    * [[graft.operators.Curation.classifierScore]] (same buckets, same
    * integer micro-unit dot product, same truncating mean) but computed
    * ROW-LOCALLY so it runs as a stateless append-mode projection:
    * documents score as they arrive, zero aggregation state, batch
    * splits cannot change the answer. The batch form explodes features
    * and re-aggregates by id — on a stream that per-doc aggregation
    * would hold keyed state for every document ever seen; here the
    * weight table rides ONE static 1-row sorted (bucket, weight) array
    * column (bounded by nBuckets ≤ 2^20 — a trained model, ≤ ~16 MB)
    * through a stream-static join, and the dot product folds the row's
    * own feature array through the compiled binary-search
    * [[graft.plans.SortedKvLookupSum]] (Long accumulator — exact in
    * the same |sum| < 2^63 micro-unit domain the rest of the streaming
    * surface documents). Docs with NULL text are unscored, matching
    * the batch operator's explode semantics. */
  def classifierScoreStream(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      nBuckets: Int = 1024,
      seed: Int = 7,
      n: Int = 1,
      biasMicro: Long = 0L): DataFrame = {
    require(nBuckets > 0 && nBuckets <= (1 << 20),
      s"nBuckets must be in [1, 2^20], got $nBuckets")
    require(n > 0, s"n must be positive, got $n")
    // The weight table lands as ONE sorted (bucket, weight) struct array
    // — NOT a map: Catalyst's GetMapValue is a linear scan with an
    // interpreted per-key equality, so the per-token probe cost was
    // O(nBuckets) (measured ~2 s of task CPU at sf0.1 against a mere
    // 1024-entry map). The compiled SortedKvLookupSum fold binary-
    // searches the same entries — identical sums, O(log nBuckets)
    // probes, and the r19 plan: one static aggregate + stream-static
    // broadcast + a codegen'd projection.
    // Duplicate bucket ids previously failed LOUDLY (map_from_entries'
    // duplicate-key exception); the sorted-array binary search would
    // silently resolve a duplicate to an arbitrary entry (r19 ADVICE) —
    // so the contract stays enforced: the 1-row model build raises when
    // the caller-supplied table repeats a bucket.
    val wkv = weights.agg(
      sort_array(collect_list(struct(
        col("bucket").cast(LongType).as("b"),
        col("weight_micro").cast(LongType).as("w")))).as("__kv0"))
      .select(when(
        size(col("__kv0")) ===
          size(array_distinct(transform(col("__kv0"), x => x.getField("b")))),
        col("__kv0"))
        .otherwise(raise_error(lit(
          "classifierScoreStream: duplicate bucket ids in weights")))
        .as("__wkv"))
    // Tokens staged to a column before any shingle lambda (shinglesOf
    // scaladoc): with n > 1 an inlined tokens(text) would re-split the
    // document once per shingle inside the transform lambda —
    // O(tokens^2) splits per row (r20; dormant here, every current
    // caller passes n = 1, where the staged column collapses away).
    val feats =
      if (n == 1) col("__t")
      else graft.functions.text.shinglesOf(col("__t"), n)
    docs
      .crossJoin(wkv)
      .select(col(idCol),
        graft.functions.text.tokens(col(textCol)).as("__t"), col("__wkv"))
      .select(col(idCol), feats.as("__f"), col("__wkv"))
      .filter(col("__f").isNotNull)
      .withColumn("n_features", size(col("__f")).cast(LongType))
      // the bucket is the batch path's md5Hash32 verbatim: conv()
      // yields a STRING, so the BIGINT cast must precede the modulo
      // (an uncast string % int would coerce through double); a null
      // feature's null bucket is a miss (+0), the coalesce semantics
      // of the replaced map fold.
      .withColumn("__sum", graft.plans.SortedKvLookupSum(
        expr(s"""transform(__f, w ->
                |  CAST(conv(substr(md5(concat('$seed:', w)), 1, 8),
                |            16, 10) AS BIGINT) % $nBuckets)""".stripMargin),
        col("__wkv")))
      .select(col(idCol), col("n_features"),
        col("__sum").as("score_sum_micro"),
        (lit(biasMicro) + expr("__sum div n_features"))
          .as("score_micro"))
  }

  /** STREAMING-side perplexity-proxy scoring — semantically identical
    * to [[graft.operators.Ranking.perplexityProxy]] (same add-one-
    * smoothed integer surprisal surrogate, same V >= 1 floor, same
    * truncating mean; docs with < 2 tokens unscored) computed
    * row-locally: the model's bigram/prefix tables land as TWO static
    * 1-row SORTED struct-array columns plus the vocab scalar (the model
    * corpus is the small trusted slice by the batch operator's
    * contract), and each arriving document folds its own consecutive
    * token pairs through the compiled binary-search fold
    * [[graft.plans.BigramSurprisalSum]] — stateless, append-mode,
    * batch-split-invariant. Pair keys: "w1 w2" — tokens are
    * whitespace-split so the single-space join is unambiguous. */
  def perplexityProxyStream(
      docs: DataFrame,
      model: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    // Model tables land as SORTED (key, count) struct arrays, not maps:
    // GetMapValue linear-scans the map per probe with interpreted
    // UTF8String equality — at sf0.1 (5k docs x ~50 bigrams against a
    // ~1.4k-entry model) that was ~3x10^8 interpreted compares and
    // 22 s of task CPU for a query whose real work is milliseconds.
    // The compiled BigramSurprisalSum fold binary-searches the same
    // entries (sort_array's struct order IS UTF8String byte order) —
    // identical sums, O(pairs x log model) per row. The one-row model
    // frame is SHARED with the batch operator
    // (Ranking.bigramModelTables), so stream == batch is one code
    // path, not a parity claim.
    docs
      .crossJoin(graft.operators.Ranking.bigramModelTables(model, textCol))
      .select(col(idCol),
        graft.functions.text.tokens(col(textCol)).as("__t"),
        col("__pa"), col("__fa"), col("__v"))
      .filter(size(col("__t")) >= 2)
      .withColumn("n_pairs", (size(col("__t")) - 1).cast(LongType))
      .withColumn("__sum", graft.plans.BigramSurprisalSum(
        col("__t"), col("__pa"), col("__fa"), col("__v")))
      .select(col(idCol), col("n_pairs"),
        col("__sum").as("sum_surprisal_micro"),
        expr("__sum div n_pairs").as("ppl_proxy_micro"))
  }

  /** Hourly tumbling-window aggregation per event type: counts + exact
    * sum, carried as integer micro-units in a Long (the same
    * double->decimal(20,6) cast as the batch surface rounds each value,
    * then the sum is order-independent integer addition — exact, and
    * the final divide-back yields the identical correctly-rounded
    * double the decimal-sum formulation produced). The Long buffer is
    * WHY: sum(decimal(20,6)) has a precision-30 buffer, which UnsafeRow
    * stores as bytes — every one of the N per-row buffer updates in the
    * partial aggregate allocates BigDecimals, and at 100M rows that
    * churn WAS the GC bill (x1000: 6.3 s GC, the last shape above the
    * 5 s line). A Long buffer updates allocation-free inside codegen;
    * only the per-row cast still allocates (short-lived young-gen).
    * Domain: exact while a group's |sum| < 2^63 micro-units (~9.2e12
    * in value units) — the same contract runningUserTotals carries.
    * The PER-VALUE domain edge is guarded loudly: under non-ANSI, a
    * single |value| > ~9.2e12 would cast to NULL and silently drop
    * from the sum (the decimal-sum form kept it), so the projection
    * raises instead — the stream fails visibly at the offending row
    * rather than publishing a silently-short sum (StreamingSpec pins
    * this). A group SUM past 2^63 micro-units remains the documented
    * wrap domain, same as runningUserTotals. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .select(col("ts"), col("event_type"),
        expr(
          """if(value IS NOT NULL AND
             abs(CAST(value AS DECIMAL(20,6))) > 9223372036854.775807,
             CAST(raise_error(concat(
               'hourlyAgg: |value| exceeds the exact Long micro-unit ',
               'domain (~9.2e12)')) AS BIGINT),
             CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT))""")
          .as("value_us"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value_us")).as("sum_us"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n_events"),
        (col("sum_us").cast(DecimalType(38, 6)) / lit(1000000L))
          .cast("double").as("sum_value"))

  /** TEST/ORACLE HARNESS ONLY — NOT a production pattern. Runs a
    * streaming query over a static directory to completion and hands
    * back its full output as a DataFrame, so the oracle can verify
    * streaming semantics against a plain batch query. Production
    * streaming goes through `sensorIngest` (caller-managed checkpoint,
    * real sink) — copy THAT, not this.
    *
    * Sink: foreachBatch writing parquet to a tmpfs scratch dir —
    * complete mode overwrites per trigger (final emission wins),
    * append/update modes append — and the result is a lazy scan of
    * those files. NOT the memory sink: that materializes every output
    * row TWICE on the driver (boxed sink rows, then the detach pass),
    * and for output that grows with the data it dominates both wall
    * and GC while measuring nothing about the operator (x1000
    * stream_dedup, 7.5M output rows: 16.5 s wall / 17.2 s GC via the
    * memory sink vs 8.2 s / 2.4 s via this sink — the distributed
    * parquet write IS the production-shaped landing path). Result
    * files live until `graft.Session.release` (the harnesses call it
    * once each query's frame is consumed) or, as a backstop, JVM exit;
    * the scratch checkpoint is torn down before returning, so repeated
    * runs in one JVM — the bench harness runs 150+ queries
    * back-to-back — leave no sink or state-store residue behind.
    * Setup vs micro-batch time and per-trigger accounting go to
    * [[graft.util.Trace]]. */
  def runToCompletion(
      spark: SparkSession,
      agg: DataFrame,
      name: String,
      outputMode: String = "complete",
      requireSingleBatch: Boolean = false): DataFrame = {
    val setup0 = System.nanoTime()
    // Scratch state off the disk: every state-store commit writes delta
    // files under the checkpoint, and on a harness running stateful
    // queries back-to-back that IO is the dominant (and noisiest) part
    // of micro-batch time. The checkpoint is torn down below, so tmpfs
    // loses nothing a disk would have kept.
    val checkpoint = scratchDir(s"graft-stream-$name")
    // A bounded drain in complete mode re-emits the ENTIRE sink from
    // state on the watermark-advance no-data batch — a full state scan
    // plus session re-sort that produces exactly the rows the data batch
    // already produced. Complete-mode output never depends on watermark
    // advancement, so skip it for this run only: append paths elsewhere
    // (sensorIngest consumers) do need no-data batches.
    // STATE partitions sized by source volume, not core count. Every
    // stateful task pays a fixed per-store cost (provider registration
    // is a coarse JVM-wide lock; load + commit serialize behind it), so
    // a stream-stream join at the session's core-derived 32 partitions
    // opens 32x4 stores per trigger and the lock queue IS the batch
    // time for bounded replays (measured at sf0.1: q185 batch 3.7 s /
    // 80 s task time at 32 partitions vs 1.75 s / 5.4 s at 8 — the
    // data is 0.6 MB). Scale policy: one state partition per ~32 MB of
    // per-trigger source, floor 8 so skew has room, ceiling at the
    // session setting so a genuinely large replay (the x1000 scale
    // harness: multi-GB) keeps full parallelism. The conf is set for
    // the duration of this run only and affects only this query's
    // fresh checkpoint — production streams (sensorIngest,
    // caller-managed checkpoints) are untouched.
    // Scratch-state I/O without checksum siblings: Hadoop's default
    // LocalFileSystem writes a .crc beside every file and verifies on
    // read — for the state-store deltas and sink files of a drain whose
    // checkpoint lives on tmpfs and is deleted seconds later, that
    // doubles the file operations of every store commit for durability
    // the data never needs (q185's one batch: 32 store instances x
    // (delta + crc + rename), commitTimeMs 3.6 s summed for 0.6 MB of
    // state). RawLocalFileSystem skips the checksum layer; the cache
    // bypass makes the setting take effect for THIS query's hadoopConf
    // snapshot without disturbing the session's cached FileSystem.
    // Durable production checkpoints (sensorIngest, caller-managed
    // paths) take the session defaults untouched.
    val shufKey = "spark.sql.shuffle.partitions"
    val sessionShuf =
      spark.conf.getOption(shufKey).flatMap(_.toIntOption).getOrElse(200)
    val srcB = pendingSourceBytes.getAndSet(0L)
    val statePartitions =
      if (srcB <= 0) sessionShuf
      else math.max(1, math.min(sessionShuf,
        math.max(8, (srcB / (32L << 20)).toInt)))
    // State store provider: deliberately the default HDFS-backed one.
    // The obvious "scale" move — RocksDBStateStoreProvider — was
    // measured WORSE on this harness's drain-everything replay shape
    // (x1000 stream_dedup: 45-61 s wall / 27.6 s GC vs 16.5 / 17.2
    // on the default): every one of the 100M per-row store lookups
    // pays key serialization + a JNI hop + result byte[] churn,
    // which swamps the off-heap benefit when a whole corpus hammers
    // the store in one micro-batch. The on-heap map was never the GC
    // driver anyway — the memory-sink drain was (see the foreachBatch
    // sink below: fixing it cut x1000 GC 17.2 s → ~2.4 s with this
    // default provider). RocksDB earns its keep on long-LIVED state
    // (days of watermarked keys on an unbounded feed, state ≫ heap);
    // production deployments choose it per-checkpoint via
    // spark.sql.streaming.stateStore.providerClass on their own
    // streams (sensorIngest takes the session's setting untouched).
    // If start/processAllAvailable/stop throws, withConf still puts the
    // session confs back (append-mode consumers elsewhere NEED no-data
    // batches — leaving it off silently suppresses their watermark-close
    // emissions) and the OUTER finally still removes the tmpfs
    // checkpoint + memory-sink view, so failed runs do not accumulate.
    val outDir = scratchDir(s"graft-stream-out-$name")
    resultDirs.add(outDir)
    try Session.withConf(spark,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
        shufKey -> statePartitions.toString,
        "spark.hadoop.fs.file.impl" -> "org.apache.hadoop.fs.RawLocalFileSystem",
        "spark.hadoop.fs.file.impl.disable.cache" -> "true") {
      val q = agg.writeStream
        .outputMode(outputMode)
        .option("checkpointLocation", checkpoint.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // Complete mode re-emits the whole result every trigger —
          // the latest emission replaces prior ones; append/update
          // emit increments that accumulate. Exact-once here rests on
          // the harness's single uninterrupted drain (no mid-run
          // failure/replay), which requireSingleBatch additionally
          // pins for the order-sensitive oracles.
          val mode = if (outputMode == "complete") "overwrite" else "append"
          batch.write.mode(mode).parquet(outDir.toString)
        }
        .start()
      val setupNs = pendingSetupNs.getAndSet(0L) + (System.nanoTime() - setup0)
      val stream0 = System.nanoTime()
      try q.processAllAvailable()
      finally q.stop()
      // Per-trigger accounting from the query's own progress history
      // (kept by the engine; default retention 100 trailing progresses
      // — far above anything a bounded drain produces).
      val progs = q.recentProgress.toSeq
      val nData = progs.count(_.numInputRows > 0)
      val batchMs = progs.map(p =>
        Option(p.durationMs.get("triggerExecution"))
          .map(_.longValue).getOrElse(0L))
      graft.util.Trace.stream(setupNs, System.nanoTime() - stream0,
        batchMs, nData, statePartitions)
      // Oracle shapes whose batch answer only equals the streaming one
      // when the whole static replay drains in ONE micro-batch (e.g.
      // stream dedup == DISTINCT: a key recurring beyond the watermark
      // across batches would legitimately re-emit) pin the invariant
      // here — a future trigger/maxFilesPerTrigger change then fails
      // loudly at the source instead of as an opaque oracle hash
      // mismatch.
      if (requireSingleBatch && nData != 1)
        throw new IllegalStateException(
          s"$name: expected the static source to drain in exactly one " +
            s"data micro-batch (batch==oracle equivalence depends on " +
            s"it) but observed $nData")
      // Lazy scan over the landed files — no driver materialization,
      // no detach pass. A drain that emitted nothing leaves no files
      // (parquet cannot carry a schema-only dir), so hand back an
      // empty frame with the query's schema instead of a scan error.
      val hasFiles = scala.util.Using.resource(Files.list(outDir))(
        _.anyMatch(p => p.getFileName.toString.endsWith(".parquet")))
      if (hasFiles) spark.read.parquet(outDir.toString)
      else {
        // No files -> the returned frame is a LocalRelation that
        // references no path; free the dir now.
        resultDirs.remove(outDir)
        deleteRecursively(outDir)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          agg.schema)
      }
    } finally {
      deleteRecursively(checkpoint)
      // Unload this run's state-store providers. A stopped query's
      // providers otherwise stay registered (each holding its operator's
      // full keyed state in memory) until the maintenance task gets to
      // them — on a harness running many short stateful queries in one
      // JVM they accumulate into exactly the kind of ambient heap drag
      // that made r9's driver-run streaming medians unreproducible.
      org.apache.spark.sql.GraftColumnBridge.unloadStateStores()
    }
  }

  /** Result dirs handed out by [[runToCompletion]] — they must outlive
    * the call (the returned frame scans them lazily), so they are
    * deleted by [[releaseResults]]: from `graft.Session.release` once a
    * harness has consumed its query's frame, and at JVM exit as a
    * backstop. Bounded by queries-per-JVM x output size; all on tmpfs. */
  private val resultDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      releaseResults()
    }, "graft-stream-result-sweep"))
  }

  /** Delete every outstanding runToCompletion result dir now. Any frame
    * still scanning one can no longer be read, so callers release only
    * once no returned frame is in use. */
  private[graft] def releaseResults(): Unit = {
    var d = resultDirs.poll()
    while (d != null) { deleteRecursively(d); d = resultDirs.poll() }
  }

  /** Scratch directory for DISPOSABLE stream state (harness checkpoints,
    * symlink source dirs): tmpfs when the host has one, so state-store
    * commit IO never touches the disk, falling back to the regular temp
    * root. Durable checkpoints (sensorIngest) take a caller-provided
    * path — never this. */
  def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm))
      Files.createTempDirectory(shm, prefix)
    else Files.createTempDirectory(prefix)
  }

  /** Best-effort recursive delete for scratch stream dirs. */
  def deleteRecursively(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
    } catch { case _: Exception => () }

  /** Per-user session counts via event-time windows with a gap — the
    * stateful-processing shape (session windows bound state by the
    * watermark at scale). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        col("user_id"), col("n_events"))

  /** Custom keyed state via flatMapGroupsWithState: per-user running
    * totals emitted on every micro-batch update. The state (count + sum
    * + last seen event time) is the engine-managed store shape —
    * checkpointed, recovered, and bounded by watermark/timeout at
    * scale. The value sum is carried as exact DECIMAL(20,6) micro-units
    * in a Long — order-independent integer addition, so the running
    * total is deterministic under any partitioning / batch split AND
    * bit-comparable against a batch GROUP BY in another engine (the
    * same integer-exact trick as q178/q181; a Double accumulator would
    * drift with reduction order). */
  final case class UserRunning(nEvents: Long, sumMicros: Long, lastTs: Long)
  final case class UserUpdate(userId: Long, nEvents: Long, sumValueMicros: Long)

  def runningUserTotals(
      spark: SparkSession,
      events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    // value -> exact micro-units through Spark's own double->decimal
    // cast (the cast DuckDB mirrors bit-for-bit; q44's sum rides it).
    val typed = events
      .select(
        col("user_id"),
        (col("value").cast(DecimalType(20, 6)) * lit(1000000L))
          .cast(LongType).as("value_us"),
        unix_micros(col("ts")).as("ts_us"))
      .as[(Long, Long, Long)]
    typed
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[UserRunning]) => {
          val prev = state.getOption.getOrElse(UserRunning(0L, 0L, Long.MinValue))
          var n = prev.nEvents
          var s = prev.sumMicros
          var last = prev.lastTs
          rows.foreach { case (_, v, t) =>
            n += 1; s += v; last = math.max(last, t)
          }
          state.update(UserRunning(n, s, last))
          Iterator.single(UserUpdate(userId, n, s))
        })
      .toDF()
  }

  /** Stream-stream interval join (the attribution/enrichment shape:
    * "right events landing within `maxDelay` after a matching left
    * event"). Inputs must already carry watermarks (eventsStream does)
    * — the event-time tag survives the column prefixing, and
    * re-watermarking here would be a disallowed redefinition. The join
    * carries an explicit time-range condition — that range is what lets
    * the engine evict per-key state as the watermark advances, keeping
    * state bounded on an unbounded feed (an equality-only stream-stream
    * join would hold both sides forever). Inner join, so rows emit as
    * soon as they match — no watermark wait on the output path. */
  def intervalJoin(
      lhs: DataFrame,
      rhs: DataFrame,
      keyCol: String,
      tsCol: String,
      maxDelay: String): DataFrame = {
    def side(df: DataFrame, p: String) =
      df.columns.foldLeft(df)((d, c) => d.withColumnRenamed(c, s"$p$c"))
    side(lhs, "l_").join(
      side(rhs, "r_"),
      expr(s"l_$keyCol = r_$keyCol AND r_$tsCol >= l_$tsCol" +
        s" AND r_$tsCol <= l_$tsCol + interval $maxDelay"))
  }

  /** Lands ONE micro-batch of the sensor-ingest stream idempotently:
    * the batch runs through the full transform pipeline and writes
    * with `batch_id` PREPENDED to the partition columns under dynamic
    * partition overwrite. foreachBatch is at-least-once — a crash
    * after this write but before the streaming commit REPLAYS the
    * batch with the SAME batchId, and the replay then overwrites
    * exactly the `batch_id=N` partitions the orphaned attempt wrote
    * (plain append mode would double them). Different batches never
    * clobber each other even when they share (date, sensor_id),
    * because batch_id leads the partition path. This is the streaming
    * counterpart of the batch pipeline's write-then-commit contract
    * (see IngestionSpec "crash between write and commit"). */
  def landBatch(
      batch: DataFrame,
      batchId: Long,
      cfg: graft.config.PipelineConfig,
      outPath: String): Unit = {
    val transformed = batch.transform(
      graft.transform.Transforms.pipeline(cfg))
      .withColumn("batch_id", lit(batchId))
    val writeCfg = cfg.copy(write = cfg.write.copy(
      mode = "overwrite",
      partitionBy = "batch_id" +: cfg.write.partitionBy))
    graft.load.Loader.write(writeCfg, outPath)(transformed)
  }

  /** Streaming replacement for the reference's file-name checkpoint
    * ingestion (SURVEY §2.7): a FileStreamSource over the raw sensor
    * directory discovers new files incrementally (Spark's own
    * compacted source log replaces the JSON checkpoint), pushes every
    * micro-batch through the full transform pipeline, and lands it via
    * `landBatch` — batchId-keyed dynamic overwrite, so the
    * at-least-once foreachBatch replay contract composes to
    * exactly-once output. `Trigger.AvailableNow` drains what exists
    * and stops — the exact batch-incremental contract, with
    * streaming-grade exactly-once file tracking. */
  def sensorIngest(
      spark: SparkSession,
      rawDir: String,
      outPath: String,
      cfg: graft.config.PipelineConfig,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = spark.readStream
      .schema(graft.model.Schemas.raw)
      .option("maxFilesPerTrigger", "16")
      .parquet(rawDir)
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        landBatch(batch, batchId, cfg, outPath)
      }
      .start()
  }
}
