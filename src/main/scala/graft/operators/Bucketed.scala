package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.streaming.Streaming

/** Bucketed storage: the co-located fact-to-fact join strategy.
  *
  * Broadcast covers small dimension tables; bucketing covers the joins
  * where BOTH sides are big. Writing a table once with
  * `bucketBy(n, key).sortBy(key)` pre-pays the shuffle: every later
  * equi-join or aggregation keyed on the bucket columns reads matching
  * buckets directly — zero exchange on either side, and zero sort when
  * each bucket is a single file (Spark's v1 bucketed scan only trusts
  * the written sort order in that case; [[save]] is the one writer that
  * guarantees it).
  *
  * At 100 TB this turns the nightly "join the 40 TB fact against the
  * 20 TB fact" from two full shuffles PER QUERY into one shuffle PER
  * LOAD, amortized across every downstream join, aggregation, and
  * incremental merge keyed on the same columns.
  */
object Bucketed {

  /** Filesystem root for this engine's bucketed copies: under the JVM
    * temp dir but qualified by the OS user — /tmp is shared across
    * users, and an unqualified fixed path would make a second user's
    * harness collide with (and fail overwriting) the first user's
    * files. The per-JVM footprint reuse the fixed path buys is
    * per-user anyway (a fresh session always rebuilds). */
  def storageRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft-bucketed-" +
      System.getProperty("user.name", "anon")

  /** Scale-derived bucket count: one bucket per ~`targetBytes` of
    * source (the guide's 128 MB-1 GB output-file target, entered at
    * 64 MB so growth has headroom), clamped to [min, max]. At sf0.1
    * (a 10 MB lineitem) this floors at 8 — a fixed 32 put one
    * lifecycle run at ~160 sub-MB files whose writer/commit overhead
    * WAS the query (r19 baseline: q200 28 s of task CPU for ~25 MB of
    * parquet); at production scale the same formula grows the count
    * with the data, which is the layout a 100 TB fact table needs
    * anyway. Both sides of a colocated join must derive from the SAME
    * size basis (bucket counts must match) — callers pass the larger
    * side's bytes for both. */
  def bucketCountFor(bytes: Long, min: Int = 8, max: Int = 4096): Int = {
    val targetBytes = 64L << 20
    math.max(min, math.min(max.toLong,
      (bytes + targetBytes - 1) / targetBytes).toInt)
  }

  /** Source bytes for [[bucketCountFor]] callers: recursive regular-file
    * sum, correct for BOTH single-file parquet and directory-style
    * (multi-file) datasets — `new File(path).length()` returns 0 for a
    * missing path and a meaningless ~4 KB for a directory, silently
    * collapsing the derived bucket count to the minimum (r19 ADVICE).
    * A source that measures 0 bytes is a caller bug, not a sizing
    * decision — fail loudly. */
  def sourceBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    val bytes =
      if (java.nio.file.Files.isDirectory(p))
        scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
          import scala.jdk.CollectionConverters._
          st.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(f => try java.nio.file.Files.size(f)
            catch { case _: Exception => 0L })
            .sum
        }
      else if (java.nio.file.Files.isRegularFile(p)) java.nio.file.Files.size(p)
      else 0L
    require(bytes > 0, s"bucket sizing source has no bytes: $path")
    bytes
  }

  /** Deterministic catalog name for the bucketed copy of `table` keyed
    * by source dir + bucket spec, so distinct SF dirs (or bucket
    * layouts) in one session never collide. */
  def tableName(dir: String, table: String, bucketCols: Seq[String],
      nBuckets: Int): String = {
    val h = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(
        s"$dir|${bucketCols.mkString(",")}|$nBuckets") & 0x7fffffff)
    s"graft_bkt_${table}_${nBuckets}b_$h"
  }

  /** Current on-disk location of an [[ensure]]d table in THIS JVM:
    * `$storageRoot/$name` until a [[compactIfNeeded]] rewrite moves it
    * to a generation path (the catalog tracks the move; this map just
    * saves a round trip through catalog metadata). */
  private val tableLoc = scala.collection.mutable.Map.empty[String, String]
  private val compactGen = new java.util.concurrent.atomic.AtomicLong(0L)
  private def location(name: String): String =
    tableLoc.getOrElse(name, s"$storageRoot/$name")

  private def dataFiles(loc: String): Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(loc)
    if (!java.nio.file.Files.isDirectory(root)) Seq.empty
    else scala.util.Using.resource(java.nio.file.Files.walk(root)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) &&
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }.toSeq
    }
  }

  /** The one bucketed write: `df` into catalog table `name`, bucketed
    * and sorted by `bucketCols` (hive-partitioned by `partitionBy` when
    * given), at `path` or, for an append, the table's own location.
    * Repartitioning by the bucket expression first is the rule every
    * layout here relies on: `repartition(n, cols)` and the bucket-id
    * assignment use the same `Pmod(Murmur3Hash(cols), n)` routing, so
    * each write task holds exactly one bucket and writes exactly one
    * file per bucket (per partition directory). */
  private[operators] def save(df: DataFrame, name: String,
      bucketCols: Seq[String], nBuckets: Int, mode: String,
      path: Option[String] = None, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.repartition(nBuckets, bucketCols.map(col): _*)
      .write.format("parquet")
      .partitionBy(partitionBy: _*)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .mode(mode)
    path.fold(w)(w.option("path", _)).saveAsTable(name)
  }

  /** Materialize (once per session) a bucketed, per-bucket-sorted copy
    * of `src` and return it as a catalog-backed DataFrame. Memoized via
    * the session catalog, so the pre-paid shuffle+write happens on the
    * first call only; every later call is a metadata lookup. The files
    * land under the JVM temp dir (external table), not the warehouse,
    * and `overwrite` makes crashed leftovers harmless. Single-writer
    * assumption: the fixed path lets successive engine JVMs reuse the
    * same disk footprint (each rewrites on first use — a fresh catalog
    * cannot prove the files' provenance), so two CONCURRENT JVMs
    * pointed at the same source dir would race the write; run one
    * engine process at a time, as the bench/verify harnesses do.
    */
  def ensure(s: SparkSession, dir: String, table: String,
      bucketCols: Seq[String], nBuckets: Int)(src: => DataFrame): DataFrame =
    synchronized {
      require(bucketCols.nonEmpty, "bucketCols must be non-empty")
      // SPARK-28595 gated the bucketed scan's sort-order reporting
      // behind this conf (a multi-file bucket cannot guarantee global
      // order without a merge, and Spark stopped promising it by
      // default). The tables written here are exactly one sorted file
      // per bucket — the case the reporting is both correct and free
      // for, and the only case Spark reports ordering for even with
      // the conf on — so enable it for the session: downstream SMJs
      // on these tables then skip the redundant per-bucket sort.
      s.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      // Companion session policy (SPARK-31350, off by default): when
      // two tables bucket the same key at DIFFERENT counts — a table
      // re-bucketed wider as it grew, joined against an older layout —
      // read k adjacent buckets of the wider side per task instead of
      // shuffling both sides (ratio-capped by
      // coalesceBucketsInJoin.maxBucketRatio, default 4; a coalesced
      // side has >1 file per read-bucket, so it re-sorts — exchange
      // elimination is the win that matters). Both policies live HERE,
      // set once and idempotently when a bucketed layout enters the
      // session, so join helpers stay side-effect-free and the only
      // affected plans are joins of tables this operator wrote.
      s.conf.set("spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
      val name = tableName(dir, table, bucketCols, nBuckets)
      if (!s.catalog.tableExists(name)) {
        val loc = s"$storageRoot/$name"
        // sweep stale compaction generations a crashed previous JVM
        // may have left beside the base path
        val rootDir = java.nio.file.Paths.get(storageRoot)
        if (java.nio.file.Files.isDirectory(rootDir)) {
          import scala.jdk.CollectionConverters._
          scala.util.Using.resource(java.nio.file.Files.list(rootDir))(
            _.iterator().asScala
              .filter(_.getFileName.toString.startsWith(s"$name-g"))
              .toSeq.foreach(Streaming.deleteRecursively))
        }
        save(src, name, bucketCols, nBuckets, "overwrite", Some(loc))
        tableLoc(name) = loc
      }
      s.table(name)
    }

  /** Incremental load into an [[ensure]]d bucketed table: append a
    * batch under the SAME bucket spec, so co-location survives daily
    * loads — every bucket gains one file per appended batch, and
    * key-aligned joins stay exchange-free (the SMJ re-sorts each
    * multi-file bucket locally; that re-sort is linear per-task work,
    * the exchange it replaces is the cluster-wide cost). Callers who
    * accumulate many small batches compact by re-running [[ensure]]
    * over the unioned source into a fresh layout.
    *
    * SESSION-SCOPED CACHE semantics, like everything this object
    * writes: the table is a derived layout over the immutable source
    * parquet under `dir`, not primary storage. A NEW session's first
    * ensure() rebuilds the layout from source (a fresh catalog cannot
    * prove the on-disk files' provenance), which discards any batches
    * a previous session appended — so appended data must always remain
    * re-derivable from the source dir, and a caller appending anything
    * else is using the wrong tool (that is primary storage, Loader's
    * job). */
  def append(s: SparkSession, dir: String, table: String,
      bucketCols: Seq[String], nBuckets: Int)(batch: DataFrame): DataFrame =
    synchronized {
      val name = tableName(dir, table, bucketCols, nBuckets)
      require(s.catalog.tableExists(name),
        s"append target $name not in this session's catalog — call " +
          "ensure() first (NOTE: ensure rebuilds the layout from the " +
          "source dir; batches appended by a PREVIOUS session are " +
          "discarded — this table is a session-scoped derived cache, " +
          "not primary storage)")
      save(batch, name, bucketCols, nBuckets, "append")
      s.table(name)
    }

  /** Compaction trigger for the incremental-load path: every
    * [[append]] batch adds one file to each bucket its keys hash to,
    * so after many small batches a bucket holds N files — the scan
    * stops reporting sort order (Spark only trusts single-file
    * buckets), every downstream SMJ pays an N-way per-task re-sort
    * that grows with N, and the sort-free property [[ensure]] bought
    * is lost. Once ANY bucket exceeds
    * `maxFilesPerBucket` (counted per bucket from the writer's file
    * tags, so skewed/low-cardinality keys cannot hide a hot bucket
    * behind empty ones), rewrite the table once (same bucket spec,
    * back to one sorted file per bucket) into a fresh generation path
    * and re-point the catalog name; under the threshold this is a
    * metadata check. The threshold is the policy knob a nightly loader
    * tunes: rewrite cost is one full pass over the table, amortized
    * against every join/agg between compactions. Same single-writer
    * contract as [[ensure]]. */
  def compactIfNeeded(s: SparkSession, dir: String, table: String,
      bucketCols: Seq[String], nBuckets: Int,
      maxFilesPerBucket: Int = 4): DataFrame = synchronized {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    val name = tableName(dir, table, bucketCols, nBuckets)
    require(s.catalog.tableExists(name),
      s"compaction target $name not in this session's catalog — call " +
        "ensure() first")
    val loc = location(name)
    // The policy is per-BUCKET, so count per bucket: with skewed or
    // low-cardinality keys a batch only lands files in the buckets its
    // keys hash to, and a total-count trigger would let a hot bucket
    // accumulate far past the threshold while empty buckets dilute the
    // average. Spark's bucketed writer tags each file with its bucket
    // id ("..._00003.c000..."); files without a parseable tag count as
    // a shared pseudo-bucket (conservative: can only fire earlier).
    val bucketTag = "_(\\d{5})\\.".r
    val maxPerBucket = dataFiles(loc)
      .groupBy(p => bucketTag.findFirstMatchIn(p.getFileName.toString)
        .map(_.group(1)).getOrElse("untagged"))
      .values.map(_.size).maxOption.getOrElse(0)
    if (maxPerBucket <= maxFilesPerBucket) s.table(name)
    else {
      // Read the FILES, not the catalog entry, so the snapshot plan is
      // independent of the table we are about to drop and re-create.
      val snapshot = s.read.parquet(loc)
      s.sql(s"DROP TABLE `$name`")
      val newLoc = s"$storageRoot/$name-g${compactGen.incrementAndGet()}"
      save(snapshot, name, bucketCols, nBuckets, "overwrite", Some(newLoc))
      tableLoc(name) = newLoc
      Streaming.deleteRecursively(java.nio.file.Paths.get(loc))
      s.table(name)
    }
  }

  /** Drop an [[ensure]]d table from the session catalog AND delete its
    * files. For run-scoped layouts (a query demonstrating the
    * ensure+append load end-to-end must start from a clean slate on
    * every run, or the memoized ensure would double the appended
    * batch); no-op when the table does not exist. */
  def drop(s: SparkSession, dir: String, table: String,
      bucketCols: Seq[String], nBuckets: Int): Unit = synchronized {
    val name = tableName(dir, table, bucketCols, nBuckets)
    if (s.catalog.tableExists(name)) s.sql(s"DROP TABLE `$name`")
    Streaming.deleteRecursively(java.nio.file.Paths.get(location(name)))
    tableLoc.remove(name)
  }

  /** Equi-join two bucketed tables on their bucket key with the plan
    * pinned to sort-merge (`hint("merge")`): size-based planning would
    * broadcast a small side and bypass the bucket layout, which is the
    * wrong template for the big-big case this operator exists for. On
    * co-bucketed inputs the resulting SMJ has no exchange and no sort —
    * callers can assert that via the executed plan.
    */
  def colocatedJoin(left: DataFrame, right: DataFrame, cond: Column): DataFrame =
    left.hint("merge").join(right, cond)
}
