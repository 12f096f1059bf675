package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, DoubleType, StructField, StructType}

import graft.functions.embeddings

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; the query side is
  * broadcast so the corpus is scanned once, no shuffle of the corpus).
  * Scale path: sign-bucket (IVF-style) search — both sides are
  * partitioned by a coarse quantizer and only same-cell pairs are
  * scored, turning O(nq * n) into O(nq * n / cells) at a recall cost.
  */
object Similarity {

  /** Exact brute-force top-k: every query vector against the full
    * corpus. `queries` is expected to be small (it is broadcast). Rank
    * ties break on neighbor id for determinism. */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", embeddings.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** IVF-style bucketed top-k: search only within the query's sign-
    * pattern cell. Approximate — recall depends on how many near
    * neighbors share the cell — but the join is an equi-join on the
    * bucket, so it scales as a hash shuffle instead of a cross join. */
  def bucketedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 3,
      signBits: Int = 8): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      embeddings.signBucket(col(vecCol), signBits).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      embeddings.signBucket(col(vecCol), signBits).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", embeddings.cosine(col("qv"), col("cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Quantized brute-force top-k: vectors are absmax-int8-quantized
    * FIRST, then scored with pure integer dot products — the codes
    * shuffle/broadcast 4x fewer bytes than float32 and the scoring
    * arithmetic is exact integers (no float accumulation at all until
    * the final cosine normalization). The scale path for re-ranking
    * pipelines: quantized recall pass here, exact `bruteForceTopK` on
    * the survivors. Output carries the exact integer dot alongside the
    * quantized cosine. */
  def quantizedTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5): DataFrame = {
    // Self-norms are computed ONCE per input row, before the join:
    // the query side materializes at broadcast build, the corpus side
    // in the stream-side projection (CollapseProject cannot merge a
    // projection across a join). Per PAIR only the single cross-dot
    // fold runs — vs 4 folds/pair if cosine recomputed dot and both
    // norms inside the join output projection. At 100 TB corpus scale
    // the per-pair term dominates everything else in this operator.
    val q = queries.select(col(idCol).as("query_id"),
        embeddings.quantizeInt8(col(vecCol)).as("qq"))
      .withColumn("na", embeddings.intDot(col("qq"), col("qq")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        embeddings.quantizeInt8(col(vecCol)).as("qc"))
      .withColumn("nb", embeddings.intDot(col("qc"), col("qc")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("int_dot", embeddings.intDot(col("qq"), col("qc")))
      .withColumn("qcos", when(col("na") > 0 && col("nb") > 0,
        col("int_dot").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("qcos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("int_dot"), col("qcos"))
  }

  /** Lloyd's k-means iterations over an embedding column — the
    * clustering pass behind semantic dedup / topic sharding / diversity
    * sampling of a training corpus. Deterministic and engine-exact:
    *
    *  - init: the k lowest-id vectors (no RNG);
    *  - E-step: squared euclidean distance d2 = <v,v> - 2<v,c> + <c,c>
    *    from strict left-fold dots, argmin with a centroid-id
    *    tie-break;
    *  - M-step: per-dimension mean as a DECIMAL sum with ONE IEEE
    *    division, array rebuilt in dimension order.
    *
    * Eager: the centroids live on the driver. The init collects the k
    * lowest-id rows (one action) and each M-step collects its k*dims
    * means (one aggregate action per iteration after the first), so
    * building the result runs `iters` actions and every round's
    * centroids are a k-row local relation. Means are computed by Spark
    * and only collected, so the arithmetic is the same as a lazily
    * composed plan's; a centroid that lost every member drops out. The
    * returned assignment (id, centroid_id, d2) is one E-step over one
    * scan of `df` against broadcast local centroids — no k-means
    * lineage, however often the caller reads it.
    *
    * E-step allocation discipline: the self-dots <v,v> and <c,c> are
    * hoisted OUT of the pair projection (computed once per corpus row
    * / per centroid, the quantizedTopK pattern), and the one
    * per-(row, centroid) dot runs through the native zero-allocation
    * DoubleVecDot. The earlier aggregate(zip_with(...)) composition
    * evaluated three dots per pair, each allocating a zipped
    * intermediate array — at x1000 (2M vectors x k centroids x 3)
    * that churn was most of the shape's 9.9 s GC. Same strict
    * left-fold element order, so d2 is bit-identical.
    */
  def lloydIterations(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 2): DataFrame = {
    require(iters >= 1, s"iters must be at least 1, got $iters")
    val spark = df.sparkSession
    def dotD(a: Column, b: Column): Column = graft.plans.DoubleVecDot(a, b)
    val v = df.select(col(idCol).as("vid"),
        embeddings.toDouble(col(vecCol)).as("v"))
      .withColumn("vv", dotD(col("v"), col("v")))
    val centSchema = StructType(Seq(
      StructField("centroid_id", v.schema("vid").dataType),
      StructField("cv", ArrayType(DoubleType))))
    def centroids(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(rows.asJava, centSchema)
        .withColumn("cc", dotD(col("cv"), col("cv")))
    def eStep(cent: DataFrame): DataFrame = {
      val w = Window.partitionBy(col("vid"))
        .orderBy(col("d2"), col("centroid_id"))
      v.crossJoin(broadcast(cent))
        .withColumn("d2",
          col("vv") - lit(2) * dotD(col("v"), col("cv")) + col("cc"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vid"), col("centroid_id"), col("v"), col("d2"))
    }
    var cent = centroids(
      v.orderBy(col("vid")).limit(k).select(col("vid"), col("v")).collect().toSeq)
    for (_ <- 1 until iters) {
      val means = eStep(cent)
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("centroid_id"), col("dim"))
        .agg((sum(col("x").cast(DecimalType(20, 6))).cast("double") /
          count(col("x"))).cast("double").as("m"))
        .collect()
      cent = centroids(means.groupBy(_.get(0)).values.toSeq.map { ms =>
        val byDim = ms.sortBy(_.getInt(1))
        Row(byDim.head.get(0), byDim.map(_.get(2)).toSeq)
      })
    }
    eStep(cent).select(col("vid"), col("centroid_id"), col("d2"))
  }

  /** SemDeDup-style semantic dedup: k-means-cluster the embeddings
    * (deterministic Lloyd, `lloydIterations`), then hunt near-
    * duplicates ONLY within a cluster — `dropped` marks every vector
    * that has cosine > `threshold` with a LOWER-id vector in its
    * cluster (lower id survives; deterministic on any partitioning
    * because the comparison is a total order and the cosine arithmetic
    * is the strict sequential fold both engines share).
    *
    * This is the scale shape of embedding dedup on a 100 TB corpus:
    * the pairwise stage is an equi-join on the cluster id, so candidate
    * pairs are Σ_c |c|² instead of N² — the clustering pass (linear,
    * broadcast centroids) buys a quadratic-term cap, exactly the
    * SemDeDup argument.
    *
    * Skewed/huge clusters are the known failure mode: one cell of size
    * n still pays n²/2 pairs. `maxCellSize` arms a two-tier guard
    * (see [[cellAssignments]]): cells over the cap are refined by a
    * sign-pattern sub-bucket (recall-preserving — near-duplicates share
    * orthants with high probability), and any sub-bucket STILL over the
    * cap — the degenerate case where a huge cell shares one sign
    * pattern — is split by a deterministic id-hash salt, which hard-
    * bounds candidate pairs at ~N·maxCellSize/2 total at the documented
    * recall cost of missing cross-salt pairs. Default = no guard:
    * exact cell semantics (the oracle-checked configuration).
    *
    * Eager up to the pair stage: building the result runs the
    * k-means actions and checkpoints of [[cellAssignments]] (at most
    * iters + 2 actions). Both pair-join sides and the merge-back read
    * that one checkpointed frame, so the returned plan scans no source
    * file; its checkpoint stays cached until the returned frame is
    * garbage-collected (Spark's context cleaner then drops it).
    *
    * Returns (vid, centroid_id, dropped). */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 2,
      threshold: Double = 0.3,
      maxCellSize: Int = Int.MaxValue): DataFrame = {
    val av = cellAssignments(df, idCol, vecCol, k, iters, maxCellSize)
    val dropped = av.as("a").join(av.as("b"),
      col("a.centroid_id") === col("b.centroid_id") &&
        col("a.sub_sign") === col("b.sub_sign") &&
        col("a.sub_salt") === col("b.sub_salt") &&
        col("a.vid") < col("b.vid"))
      .filter(embeddings.cosine(col("a.v"), col("b.v")) > threshold)
      .select(col("b.vid").as("vid")).distinct()
    av.join(dropped.withColumn("dropped", lit(true)), Seq("vid"), "left")
      .select(col("vid"), col("centroid_id"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
  }

  /** Cluster assignment for [[semanticDedup]]'s pair stage, with the
    * skew guard applied when `maxCellSize` is set. Returns
    * (vid, centroid_id, sub_sign, sub_salt, v) — the pair join
    * equi-joins on (centroid_id, sub_sign, sub_salt).
    *
    * Eager: runs [[lloydIterations]]' actions, then localCheckpoints
    * the final assignment joined with its float vectors once. Without
    * the guard that checkpoint is the result. With it, the guard's
    * size aggregates and the sub-bucket keys read that checkpoint, the
    * guarded frame is checkpointed once, and the first checkpoint is
    * released: one checkpointed RDD stays cached either way.
    *
    * Guard mechanics (per cell of size n > maxCellSize):
    *  1. sub_sign: the low `ceil(log2(n / maxCellSize))` bits (≤16) of
    *     the 16-bit sign-pattern bucket — the minimal orthant split
    *     that brings the EXPECTED sub-bucket under the cap. Recall-
    *     preserving for near-duplicates, which agree on signs.
    *  2. sub_salt: sub-buckets still over the cap (all rows share a
    *     sign pattern — near-identical vectors, which an upstream
    *     exact/normalized dedup pass collapses in a real pipeline) get
    *     `pmod(xxhash64(vid), ceil(n_sb / maxCellSize))` — a lossy hard
    *     bound: within each salt the search is complete, cross-salt
    *     pairs are sacrificed, and candidate pairs are capped at
    *     ~n_sb·maxCellSize/2 instead of n_sb²/2.
    *
    * Skew-safety of the guard itself: group sizes come from groupBy
    * aggregations (map-side combined; the per-cell table is k rows and
    * broadcast, the per-sub-bucket table is ≤ N/maxCellSize rows and
    * left to AQE) — never from a window over the cell, which would sort
    * the whole skewed cell into a single task, recreating the problem
    * the guard exists to solve. */
  def cellAssignments(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      maxCellSize: Int): DataFrame = {
    // 0 or negative would make the salt divisor ceil(n/cap) NULL/zero
    // downstream and silently empty the pair join — fail loudly instead.
    require(maxCellSize > 0, s"maxCellSize must be positive, got $maxCellSize")
    val owned = new Owned
    val assign = lloydIterations(df, idCol, vecCol, k, iters)
      .select(col("vid"), col("centroid_id"))
    // Raw float vectors: the pair stage scores through the native
    // float-array cosine (FloatVecCosine), same as bruteForceTopK.
    val v = df.select(col(idCol).as("vid"), col(vecCol).as("v"))
    if (maxCellSize == Int.MaxValue)
      owned.checkpoint(assign.join(v, "vid")
        .select(col("vid"), col("centroid_id"),
          lit(0L).as("sub_sign"), lit(0L).as("sub_salt"), col("v")))
    else {
      val av0 = owned.checkpoint(assign.join(v, "vid"))
      val cellSizes = av0.groupBy(col("centroid_id"))
        .agg(count(lit(1)).as("cell_n")) // exactly k rows
      val withSign = av0.join(broadcast(cellSizes), "centroid_id")
        .withColumn("sub_bits", greatest(lit(0),
          least(lit(16.0),
            ceil(log(2.0, col("cell_n").cast("double") / maxCellSize)))
            .cast("int")))
        // Masking the low b bits of the 16-bit bucket == signBucket
        // with b bits (bit i = sign of dimension i), so one bucket
        // computation serves every cell's adaptive split width.
        .withColumn("sub_sign",
          embeddings.signBucket(col("v"), 16)
            .bitwiseAND(expr("shiftleft(1L, sub_bits) - 1L")))
        .drop("cell_n", "sub_bits")
      val sbSizes = withSign
        .groupBy(col("centroid_id"), col("sub_sign"))
        .agg(count(lit(1)).as("sb_n"))
      val guarded = owned.checkpoint(
        withSign.join(sbSizes, Seq("centroid_id", "sub_sign"))
          .withColumn("sub_salt",
            pmod(xxhash64(col("vid")), greatest(lit(1L),
              ceil(col("sb_n").cast("double") / maxCellSize).cast("long"))))
          .select(col("vid"), col("centroid_id"),
            col("sub_sign"), col("sub_salt"), col("v")))
      owned.release(av0)
      guarded
    }
  }
}
