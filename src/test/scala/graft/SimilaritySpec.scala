package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, TakeOrderedAndProjectExec}
import org.apache.spark.sql.functions._

import graft.ingest.RawParquet
import graft.operators.Similarity

/** Semantic-dedup skew guard (Similarity.semanticDedup maxCellSize):
  * the pair stage is an equi-join on the k-means cell, so one huge cell
  * is the operator's documented failure mode — these tests pin down the
  * two guard tiers (sign sub-bucket, then id-hash salt) with
  * adversarially-shaped cells and assert the candidate-pair bound the
  * scaladoc promises. The k-means behind it is pinned against q131's
  * and q183's DuckDB oracle SQL on adversarial inputs, and its eager
  * contract (actions, plan leaves, cached checkpoints) by plan pins. */
class SimilaritySpec extends SparkSpec with PlanPins with TempPaths {

  private def vecDF(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  /** Candidate pairs the guarded pair-join would score:
    * Σ over final buckets of n_b·(n_b-1)/2. */
  private def candidatePairs(cells: DataFrame): Long =
    cells.groupBy(col("centroid_id"), col("sub_sign"), col("sub_salt"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(expr("CAST(n * (n - 1) / 2 AS BIGINT)"))).head.getLong(0)

  test("guard with a loose cap is plumbing-identical to no guard") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 200L).map(i =>
      i -> Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val base = Similarity.semanticDedup(
      vecDF(rows), "vec_id", "embedding", k = 4, iters = 2, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val loose = Similarity.semanticDedup(
      vecDF(rows), "vec_id", "embedding", k = 4, iters = 2, threshold = 0.8,
      maxCellSize = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(loose === base)
  }

  test("oversized diverse-sign cell: sign sub-bucket bounds pairs, keeps exact dups") {
    // One k-means cell (k=1) of 512 vectors whose first 4 dimensions
    // encode i%16 as a sign pattern — diverse orthants, so the sign
    // tier alone can split the cell. A spike dimension keeps unrelated
    // vectors dissimilar. Two exact copies planted (copy shares the
    // original's orthant by construction).
    val cap = 40
    def v(i: Long): Array[Float] = {
      val a = Array.fill(16)(0.1f)
      (0 until 4).foreach(b => a(b) = if (((i >> b) & 1L) == 1L) 1f else -1f)
      a(5 + (i % 11).toInt) = 10f
      a
    }
    val originals = (0L until 510L).map(i => i -> v(i))
    val planted = Seq(510L -> v(0L), 511L -> v(1L)) // exact dups of 0 and 1
    val df = vecDF(originals ++ planted)
    val cells = Similarity.cellAssignments(
      df, "vec_id", "embedding", k = 1, iters = 1, maxCellSize = cap)
    // 512/40 -> 4 sign bits -> 16 sub-buckets of ~32: under the cap, so
    // the salt tier stays out (every bucket one salt).
    val buckets = cells.groupBy(col("sub_sign"), col("sub_salt"))
      .agg(count(lit(1)).as("n")).collect()
    assert(buckets.length === 16)
    assert(buckets.map(_.getLong(2)).max <= cap)
    val pairs = candidatePairs(cells)
    assert(pairs <= 512L * cap) // the documented bound
    assert(pairs < 512L * 511 / 2 / 5) // >5x below the unguarded n^2/2
    // Exact duplicates share the sign pattern -> same bucket -> found.
    val dropped = Similarity.semanticDedup(
      df, "vec_id", "embedding", k = 1, iters = 1, threshold = 0.999,
      maxCellSize = cap)
      .filter(col("dropped")).select(col("vid"))
      .collect().map(_.getLong(0)).toSet
    assert(dropped.contains(510L) && dropped.contains(511L))
    // Soundness: the guard can only MISS pairs, never invent them.
    val unguarded = Similarity.semanticDedup(
      df, "vec_id", "embedding", k = 1, iters = 1, threshold = 0.999)
      .filter(col("dropped")).select(col("vid"))
      .collect().map(_.getLong(0)).toSet
    assert(dropped.subsetOf(unguarded))
  }

  test("degenerate same-sign cell: salt tier hard-bounds pairs") {
    // The sign tier's worst case: 300 vectors, ALL in one orthant (all
    // dimensions positive), one cell — sub_sign cannot split anything,
    // so the salt tier must. 100 exact copies each of 3 distinct
    // vectors: within-salt search still collapses copies; survivors are
    // bounded by (#salts x #distinct) instead of #distinct — the
    // documented recall cost of the hard bound.
    val cap = 50
    def v(j: Int): Array[Float] =
      Array.tabulate(16)(d => 0.5f + 0.05f * ((d * (j + 1)) % 7))
    val rows = (0L until 300L).map(i => i -> v((i % 3).toInt))
    val df = vecDF(rows)
    val cells = Similarity.cellAssignments(
      df, "vec_id", "embedding", k = 1, iters = 1, maxCellSize = cap)
    val bySalt = cells.groupBy(col("sub_salt"))
      .agg(count(lit(1)).as("n")).collect()
    assert(bySalt.length === 6) // ceil(300/50) salts
    assert(cells.select(col("sub_sign")).distinct().count() === 1)
    // Hash-uniform salts: no group should be grossly over n/salts.
    assert(bySalt.map(_.getLong(1)).max <= 2L * cap)
    val pairs = candidatePairs(cells)
    assert(pairs <= 300L * cap) // documented: ~n*maxCellSize/2, assert 2x slack
    assert(pairs < 300L * 299 / 2 / 2) // well under unguarded n^2/2
    val survivors = Similarity.semanticDedup(
      df, "vec_id", "embedding", k = 1, iters = 1, threshold = 0.999,
      maxCellSize = cap)
      .filter(!col("dropped")).count()
    // Unguarded keeps exactly 3 (one per distinct vector); guarded
    // keeps at most one per (salt, distinct vector).
    assert(survivors <= 6L * 3)
    assert(survivors >= 3L)
  }

  /** Small `embeddings` tables, each written to its own directory as
    * `embeddings.parquet`, by case name. Ids 0-7 are q131/q183's k = 8
    * initial centroids; a centroid past those that should not matter
    * sits far away. */
  private lazy val kmeansCases: Map[String, String] = {
    def far(i: Long): (Long, Array[Float]) = i -> Array(100f * i, 100f, 1f, 0f)
    val cases = Seq(
      // Fewer rows than centroids: six singleton cells.
      "six rows, k = 8" -> (0L until 6L).map(i =>
        i -> Array(i.toFloat, (i * i % 5).toFloat, 1f, -1f)),
      // Centroid 1 keeps itself and id 8 in round 1; the round-1 means
      // then pull id 1 to centroid 0 and id 8 to centroid 2.
      "centroid emptied after round 1" -> (Seq(
        0L -> Array(0f, -1f, 0f, 0f), 1L -> Array(0f, 0f, 0f, 0f),
        2L -> Array(0f, 6.2f, 0f, 0f)) ++ (3L until 8L).map(far) ++ Seq(
        8L -> Array(0f, 3f, 0f, 0f),
        9L -> Array(1f, -0.6f, 0f, 0f), 10L -> Array(-1f, -0.6f, 0f, 0f),
        11L -> Array(1f, 3.4f, 0f, 0f), 12L -> Array(-1f, 3.4f, 0f, 0f))),
      // Ids 8 and 9 are exactly as far from centroid 0 as from 1.
      "exact d2 tie" -> (Seq(
        0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(-1f, 0f, 0f, 0f)) ++
        (2L until 8L).map(far) ++ Seq(
        8L -> Array(0f, 1f, 0f, 0f), 9L -> Array(0f, -1f, 0f, 0f))),
      // Id 1 duplicates id 0 (an initial centroid with no member in
      // round 1); 8 duplicates 0, 10 duplicates 9 and 11 duplicates 2.
      "duplicate vectors" -> (Seq(
        0L -> Array(0.5f, 0.5f, 0f, 0f), 1L -> Array(0.5f, 0.5f, 0f, 0f)) ++
        (2L until 8L).map(far) ++ Seq(
        8L -> Array(0.5f, 0.5f, 0f, 0f), 9L -> Array(0.25f, -0.5f, 1f, 0f),
        10L -> Array(0.25f, -0.5f, 1f, 0f), 11L -> Array(200f, 100f, 1f, 0f))),
      "empty table" -> Seq.empty[(Long, Array[Float])])
    cases.map { case (name, rows) =>
      name -> new java.io.File(
        PythonOracle.parquet(spark, vecDF(rows), tempDir("graft-oracle"),
          "embeddings")).getParent
    }.toMap
  }

  private val kmeansQueries = Seq("q131_kmeans", "q183_semantic_dedup")

  /** Every (case, query) through the DuckDB oracle, in one run. */
  private lazy val kmeansOracle = PythonOracle.oracle(
    for ((name, dir) <- kmeansCases.toSeq; q <- kmeansQueries)
      yield PythonOracle.sql(s"$q on $name",
        Map("embeddings" -> s"$dir/embeddings.parquet"),
        SparkEntry.oracleSql(q), "UTC"))

  /** A query's rows over one case's table, as sorted text. */
  private def engineRows(q: String, name: String): Seq[Seq[String]] =
    SparkEntry.queries(q)(spark, kmeansCases(name)).collect().toSeq
      .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString(","))

  test("q131 and q183 equal their oracle SQL on adversarial k-means inputs") {
    for ((name, _) <- kmeansCases; q <- kmeansQueries) withClue(s"$q on $name: ") {
      val duck = kmeansOracle(s"$q on $name").get("rows").elements.asScala.toSeq
        .map(_.elements.asScala.toSeq.map(v => if (v.isNull) "null" else v.asText))
        .sortBy(_.mkString(","))
      assert(engineRows(q, name) === duck)
    }
    // Each table shows what it is named for (q131 rows are
    // centroid_id, n_members, sum_d2_e6).
    def members(name: String): Map[String, String] =
      engineRows("q131_kmeans", name).map(r => r(0) -> r(1)).toMap
    assert(members("six rows, k = 8") === (0 until 6).map(i => s"$i" -> "1").toMap)
    assert(!members("centroid emptied after round 1").contains("1"))
    assert(members("exact d2 tie")("0") === "3") // 0, 8 and 9: the lower id wins
    assert(!members("duplicate vectors").contains("1"))
    assert(engineRows("q183_semantic_dedup", "duplicate vectors")
      .map(_(2).toLong).sum === 4L) // ids 1, 8, 10 and 11
    assert(engineRows("q131_kmeans", "empty table").isEmpty)
  }

  test("plan pin: q131 reads embeddings once and keeps no top-k in its plan") {
    val q = SparkEntry.queries("q131_kmeans")(spark, kmeansCases("duplicate vectors"))
    q.collect()
    val plan = q.queryExecution.executedPlan
    assert(leafScans(plan)
      .count(_ == classOf[FileSourceScanExec].getSimpleName) === 1, plan)
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.isEmpty, plan)
  }

  test("plan pin: semanticDedup runs at most iters + 2 actions and returns " +
      "a frame that scans no parquet file") {
    val emb = RawParquet.table(spark,
      s"${kmeansCases("centroid emptied after round 1")}/embeddings.parquet")
    for (cap <- Seq(Int.MaxValue, 4)) withClue(s"maxCellSize $cap: ") {
      var out: DataFrame = null
      val ran = actionsOf {
        out = Similarity.semanticDedup(emb, "vec_id", "embedding",
          k = 8, iters = 2, threshold = 0.3, maxCellSize = cap)
      }
      assert(ran.size <= 2 + 2, ran.map(_._1))
      assert(out.count() === 13)
      val plan = out.queryExecution.executedPlan
      assert(!leafScans(plan).contains(
        classOf[FileSourceScanExec].getSimpleName), plan)
    }
  }

  test("semanticDedup leaves one checkpointed RDD cached") {
    val emb = RawParquet.table(spark,
      s"${kmeansCases("duplicate vectors")}/embeddings.parquet")
    for (cap <- Seq(Int.MaxValue, 4)) withClue(s"maxCellSize $cap: ") {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val out = Similarity.semanticDedup(emb, "vec_id", "embedding",
        k = 8, iters = 2, threshold = 0.3, maxCellSize = cap)
      val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(added.size === 1, added)
      // The released pre-guard checkpoint is not read again.
      assert(out.count() === 12)
      added.foreach(id => spark.sparkContext.getPersistentRDDs(id).unpersist())
    }
  }
}
