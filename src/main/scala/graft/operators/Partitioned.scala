package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Hive-partitioned storage: the scan-elimination counterpart to
  * [[Bucketed]]. Bucketing removes the per-query SHUFFLE for key-aligned
  * joins; partitioning removes the per-query SCAN of partitions a query
  * cannot match. Static filters on the partition column prune at
  * planning time; the interesting 100 TB case is DYNAMIC partition
  * pruning (DPP): when the partition values to keep are only known at
  * runtime — "reprocess the days some dimension/aggregate selects" —
  * Spark turns the broadcast side of the join into a pruning subquery
  * and the fact scan skips non-matching partitions entirely
  * (`PartitionFilters: [... dynamicpruningexpression(...)]`).
  *
  * Two conditions make DPP fire reliably, both encoded in the q195
  * query shape rather than left to chance: the dim side must carry a
  * selective Filter that Catalyst cannot propagate to the fact side as
  * a static predicate (a HAVING over an aggregate qualifies; a plain
  * filter on the join column would be inferred across the join and
  * prune statically), and the join must plan as broadcast-hash — DPP
  * defaults to reusing the broadcast (`reuseBroadcastOnly`), and an
  * aggregate's size estimate never auto-broadcasts, so the dim needs
  * an explicit `broadcast()`.
  *
  * Degraded path (dim too big to broadcast, join plans as SMJ), pinned
  * by PartitionedSpec: under the default `reuseBroadcastOnly=true`
  * there is no broadcast to reuse, so PlanDynamicPruningFilters
  * rewrites the planted filter to literal true — a full scan, never a
  * wrong answer. Setting `spark.sql.optimizer.dynamicPartitionPruning.
  * reuseBroadcastOnly=false` restores pruning by running the dim side
  * as its own subquery — the right trade when the dim aggregate is
  * cheap relative to the fact partitions it eliminates (the usual
  * 100 TB case), and the wrong one when the dim is itself a heavy scan
  * that the main join would have evaluated anyway; Spark's default is
  * conservative, so the engine leaves it session-level rather than
  * forcing it per-query.
  */
object Partitioned {

  /** Per-OS-user filesystem root, same rationale as
    * [[Bucketed.storageRoot]]: /tmp is shared across users and an
    * unqualified fixed path would collide a second user's harness with
    * the first's files. */
  def storageRoot: String =
    s"${System.getProperty("java.io.tmpdir")}/graft-partitioned-" +
      System.getProperty("user.name", "anon")

  /** Deterministic catalog name for the partitioned copy, keyed by
    * source dir + partition column so distinct SF dirs coexist. */
  def tableName(dir: String, table: String, partCol: String): String = {
    val h = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s"$dir|$partCol")
        & 0x7fffffff)
    s"graft_part_${table}_${partCol}_$h"
  }

  /** Materialize (once per session) a hive-partitioned copy of `src` —
    * which must already carry the partition column — and return it as a
    * catalog-backed DataFrame. Memoized via the session catalog; files
    * under the JVM temp dir, `overwrite` makes crashed leftovers
    * harmless (same single-writer assumption as [[Bucketed.ensure]]:
    * one engine JVM at a time, as the harnesses run). Partition-column
    * values round-trip through directory names, so keep the column a
    * simple scalar (date, string, int). */
  def ensure(s: SparkSession, dir: String, table: String, partCol: String)(
      src: => DataFrame): DataFrame = synchronized {
    val name = tableName(dir, table, partCol)
    if (!s.catalog.tableExists(name)) {
      src.write.format("parquet")
        .partitionBy(partCol)
        .option("path", s"$storageRoot/$name")
        .mode("overwrite")
        .saveAsTable(name)
    }
    s.table(name)
  }

  /** The standard lakehouse layout: partitioned by a coarse scan-
    * elimination column AND bucketed by the join/aggregation key —
    * partition pruning (static or dynamic) decides which directories
    * are read, bucketing makes whatever survives join/aggregate
    * exchange-free on the bucket key, in the same scan. The bucket sort
    * order is NOT trusted on read here (each bucket spans one file per
    * selected partition directory, and Spark only trusts single-file
    * buckets), so downstream SMJs re-sort — exchange elimination is
    * the part that matters at scale. Writes through [[Bucketed.save]],
    * so each partition directory holds one file per bucket. Same
    * memoization/single-writer contract as [[ensure]]; q197 (events by
    * day) and q201 (the curated events by local date) land here.
    */
  def ensureBucketed(s: SparkSession, dir: String, table: String,
      partCol: String, bucketCols: Seq[String], nBuckets: Int)(
      src: => DataFrame): DataFrame = synchronized {
    require(bucketCols.nonEmpty && !bucketCols.contains(partCol),
      "bucket columns must be non-empty and disjoint from the partition column")
    val name = tableName(dir, table,
      s"${partCol}_${bucketCols.mkString("_")}_${nBuckets}b")
    if (!s.catalog.tableExists(name)) {
      Bucketed.save(src, name, bucketCols, nBuckets, "overwrite",
        Some(s"$storageRoot/$name"), Seq(partCol))
    }
    s.table(name)
  }
}
