package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Oracle-checked queries for similarity search and embedding near-dup
  * over the `embeddings` table (vec_id, embedding: array<float>, label).
  * DuckDB's list_dot_product on double lists is a strict sequential
  * fold, matching Spark's `aggregate` — cosine values are bit-identical.
  */
object EmbeddingQueries {

  import CoreQueries.t
  import DuckSql.{dBucket, dVec}

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Brute-force exact cosine top-5 for a small query set (broadcast).
    "q40_embed_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        corpus = emb,
        queries = emb.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 5)
    }),

    // IVF-style sign-bucketed approximate top-3 (bucket-local search).
    "q41_embed_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bucketedTopK(
        corpus = emb,
        queries = emb.filter(col("vec_id") < 50),
        idCol = "vec_id", vecCol = "embedding", k = 3, signBits = 6)
    }),

    // Embedding near-duplicate pairs within sign buckets.
    "q42_embed_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDup(
        t(s, dir, "embeddings").filter(col("vec_id") < 500),
        idCol = "vec_id", vecCol = "embedding",
        threshold = 0.35, signBits = 6)
    }),

    // Quantized (absmax int8) brute-force top-3: integer-exact scoring
    // over 4x-smaller codes — the recall pass of a re-rank pipeline.
    "q76_embed_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // spread() the CORPUS side: the brute-force quantized scoring runs
      // its per-vector dot products inside the scan projection, and the
      // embeddings file scans as ~4 row-group tasks at sf0.1 — the
      // compute idled 28 of 32 cores (r19 verdict item 7). No-op at
      // scale per spread()'s guard; the 10-row query side stays as-is.
      Similarity.quantizedTopK(
        corpus = CoreQueries.spread(emb),
        queries = emb.filter(col("vec_id") < 10),
        idCol = "vec_id", vecCol = "embedding", k = 3)
    }),

    // Per-label centroid quality: mean intra-label cosine to the label
    // centroid — a batch "cluster cohesion" profile. The per-(label,dim)
    // sum accumulates as decimal (graft.functions.exact pattern) so the
    // value is independent of partial-aggregation order; the only IEEE
    // operation is the final square.
    "q45_label_cohesion" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      emb.select(col("label"), col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(count(lit(1)).as("n"),
          graft.functions.exact.sumExact(col("x").cast("double")).as("sx"))
        .groupBy(col("label"))
        .agg(max(col("n")).as("n_vectors"),
          sum((col("sx") * col("sx"))
            .cast(org.apache.spark.sql.types.DecimalType(30, 12)))
            .cast("double").as("centroid_sq_sum"))
        .select(col("label"), col("n_vectors"),
          floor(col("centroid_sq_sum") * 1000000).cast("long")
            .as("centroid_sq_sum_e6"))
    }),

    // Per-dimension corpus statistics (count, exact-decimal sum and
    // sum-of-squares) — the feature-scaling / whitening stats pass a
    // training pipeline runs before normalizing embeddings. Squares are
    // computed in DECIMAL (xd*xd is exact at scale 12), so the result
    // is partitioning- and engine-independent. Scale shape: posexplode
    // fans out rows×dims, but partial aggregation collapses each map
    // partition to one row per dim BEFORE the shuffle, so only
    // n_partitions×dims tiny rows ever move — the 64-key "skew" never
    // materializes.
    "q46_dim_stats" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      t(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        // DECIMAL(12,6), NOT (20,6): a (20,6)×(20,6) product needs
        // precision 41, and Spark's precision-loss rule would silently
        // round the square to scale 9 before the cast below. (12,6)
        // keeps the product at precision 25 scale 12 — exact.
        .withColumn("xd", col("x").cast("double").cast(DecimalType(12, 6)))
        .groupBy(col("dim").cast("int").as("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("xd")).as("sx"),
          sum(expr("CAST(xd * xd AS DECIMAL(30,12))")).as("sxx"))
        .select(col("dim"), col("n"),
          floor(col("sx") * 1000000).cast("long").as("sx_e6"),
          floor(col("sxx") * 1000000).cast("long").as("sxx_e6"))
    }),

    // Nearest-centroid assignment (the E-step of k-means / the "route
    // to topic shard" pass of corpus organization): every non-zero
    // vector joins the 8 broadcast centroid rows, argmax cosine with a
    // deterministic centroid-id tie-break, then a per-centroid profile.
    // Centroids broadcast; the corpus never shuffles until the final
    // 8-row aggregate. Cosine sums accumulate as decimal so the profile
    // is partitioning-independent.
    "q87_centroid_assign" -> ((s, dir) => {
      import graft.functions.embeddings
      val emb = t(s, dir, "embeddings")
        .filter(embeddings.dot(col("embedding"), col("embedding")) > 0)
      val cent = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("centroid_id"))
      emb.select(col("vec_id"), col("embedding").as("v"))
        .join(broadcast(cent))
        .withColumn("cos", embeddings.cosine(col("v"), col("cv")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy(col("centroid_id"))
        .agg(
          count(lit(1)).as("n_assigned"),
          floor(sum(col("cos").cast(
            org.apache.spark.sql.types.DecimalType(20, 6))) * 1000000)
            .cast("long").as("sum_cos_e6"),
          min(col("cos")).as("min_cos"),
          max(col("cos")).as("max_cos"))
    }),

    // Vector arithmetic (the embedding-algebra surface): pairwise
    // difference norm and midpoint norm between consecutive vectors —
    // zip_with element math with strict-left-fold sums, bit-identical
    // to DuckDB's indexed list_transform + list_dot_product.
    "q97_vector_math" -> ((s, dir) => {
      import graft.functions.embeddings.{arraySum, toDouble}
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 100)
      val l = emb.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      val r = emb.select((col("vec_id") - 1).as("id_a"),
        col("vec_id").as("id_b"), col("embedding").as("vb"))
      l.join(r, "id_a")
        .select(col("id_a"), col("id_b"),
          sqrt(arraySum(zip_with(toDouble(col("va")), toDouble(col("vb")),
            (a, b) => (a - b) * (a - b)))).as("dist_l2"),
          sqrt(arraySum(zip_with(toDouble(col("va")), toDouble(col("vb")),
            (a, b) => ((a + b) / 2) * ((a + b) / 2)))).as("midpoint_norm"))
    }),

    // Two full Lloyd iterations of k-means (E -> M -> E): the
    // clustering operator behind semantic dedup / topic sharding.
    // Deterministic init (8 lowest ids), decimal-exact M-step means,
    // distance argmin with id tie-break; output is the per-cluster
    // member count and decimal-accumulated inertia after the second
    // assignment. Centroids broadcast both rounds; the M-step shuffle
    // carries only (cluster, dim) partial sums.
    "q131_kmeans" -> ((s, dir) => {
      Similarity.lloydIterations(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 2)
        .groupBy(col("centroid_id"))
        .agg(
          count(lit(1)).as("n_members"),
          floor(sum(col("d2").cast(
            org.apache.spark.sql.types.DecimalType(20, 6))) * 1000000)
            .cast("long").as("sum_d2_e6"))
    }),

    // SemDeDup-style semantic dedup: k-means cluster (2 deterministic
    // Lloyd iterations), then near-dup pairs ONLY within a cluster —
    // cos > 0.3 with a lower-id cluster-mate drops a vector. The
    // cluster equi-join caps candidate pairs at Σ|c|² instead of N²;
    // output is the per-cluster survival profile. Floats cross the
    // engine boundary only through the cos > τ comparison, and the
    // cosine is the bit-identical sequential fold both engines share.
    "q183_semantic_dedup" -> ((s, dir) => {
      Similarity.semanticDedup(
          t(s, dir, "embeddings"), "vec_id", "embedding",
          k = 8, iters = 2, threshold = 0.3)
        .groupBy(col("centroid_id"))
        .agg(
          count(lit(1)).as("n_members"),
          sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"))
    }),

    // Higher-order-function scalar surface (transform / filter / exists
    // / zip_with / aggregate — all codegen'd lambdas, no UDFs): per
    // vector, element count, positives, strict-left-fold sum of
    // squares, max |x|, largest element, a reversed-vector dot
    // (zip_with over two arrays), and an existence predicate.
    "q84_array_hof" -> ((s, dir) => {
      val embD = graft.functions.embeddings.toDouble(col("embedding"))
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim_n"),
        size(filter(embD, x => x > 0)).cast("long").as("n_pos"),
        graft.functions.embeddings.arraySum(
          zip_with(embD, embD, (a, b) => a * b)).as("sum_sq"),
        array_max(transform(embD, x => abs(x))).as("max_abs"),
        array_max(embD).as("top1"),
        graft.functions.embeddings.arraySum(
          zip_with(embD, reverse(embD), (a, b) => a * b)).as("rev_dot"),
        exists(embD, x => abs(x) > lit(0.5)).as("has_big"))
    }))

  val oracle: Map[String, String] = Map(

    "q40_embed_topk" ->
      s"""WITH n AS (
         |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
         |  FROM (SELECT vec_id, $dVec AS e FROM embeddings)),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
         |  FROM n q, n c
         |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
         |    AND q.nrm > 0 AND c.nrm > 0),
         |r AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM p)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos
         |FROM r WHERE rank <= 5""".stripMargin,

    "q41_embed_ivf" ->
      s"""WITH n AS (
         |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm,
         |    ${dBucket(6)} AS bucket
         |  FROM (SELECT vec_id, $dVec AS e FROM embeddings)),
         |p AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.e, c.e) / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON q.bucket = c.bucket
         |  WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id
         |    AND q.nrm > 0 AND c.nrm > 0),
         |r AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM p)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos
         |FROM r WHERE rank <= 3""".stripMargin,

    "q42_embed_neardup" ->
      s"""WITH n AS (
         |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm,
         |    ${dBucket(6)} AS bucket
         |  FROM (SELECT vec_id, $dVec AS e FROM embeddings
         |        WHERE vec_id < 500))
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos
         |FROM n a JOIN n b ON a.bucket = b.bucket
         |WHERE a.vec_id < b.vec_id AND a.nrm > 0 AND b.nrm > 0
         |  AND list_dot_product(a.e, b.e) / (a.nrm * b.nrm) >= 0.35""".stripMargin,

    "q45_label_cohesion" ->
      """WITH dims AS (
        |  SELECT label, vec_id, dim - 1 AS dim, CAST(x AS DOUBLE) AS x
        |  FROM (SELECT label, vec_id,
        |          unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS dim
        |        FROM embeddings)),
        |per_dim AS (
        |  SELECT label, dim, count(*) AS n,
        |    CAST(sum(CAST(x AS DECIMAL(20,6))) AS DOUBLE) AS sx
        |  FROM dims GROUP BY label, dim)
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
        |  CAST(floor(CAST(sum(CAST(sx * sx AS DECIMAL(30,12))) AS DOUBLE)
        |    * 1000000) AS BIGINT) AS centroid_sq_sum_e6
        |FROM per_dim GROUP BY label""".stripMargin,

    "q46_dim_stats" ->
      """WITH dims AS (
        |  SELECT CAST(dim - 1 AS INT) AS dim,
        |    CAST(CAST(x AS DOUBLE) AS DECIMAL(20,6)) AS xd
        |  FROM (SELECT unnest(embedding) AS x,
        |          generate_subscripts(embedding, 1) AS dim
        |        FROM embeddings))
        |SELECT dim, count(*) AS n,
        |  CAST(floor(sum(xd) * 1000000) AS BIGINT) AS sx_e6,
        |  CAST(floor(sum(CAST(xd * xd AS DECIMAL(30,12))) * 1000000)
        |    AS BIGINT) AS sxx_e6
        |FROM dims GROUP BY dim""".stripMargin,

    // int8 codes as DOUBLE lists: every value is a small integer, so
    // list_dot_product sums are exact (integers < 2^53 in doubles) —
    // order-independent, engine-identical.
    "q76_embed_quantized" ->
      s"""WITH qz AS (
         |  SELECT vec_id,
         |    list_transform(e, x -> CASE WHEN s > 0
         |      THEN CAST(floor(x * 127.0 / s + 0.5) AS DOUBLE)
         |      ELSE 0.0 END) AS q
         |  FROM (SELECT vec_id, e,
         |          list_max(list_transform(e, x -> abs(x))) AS s
         |        FROM (SELECT vec_id, $dVec AS e FROM embeddings))),
         |p AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    CAST(list_dot_product(a.q, b.q) AS BIGINT) AS int_dot,
         |    CAST(list_dot_product(a.q, a.q) AS BIGINT) AS na,
         |    CAST(list_dot_product(b.q, b.q) AS BIGINT) AS nb
         |  FROM qz a, qz b
         |  WHERE a.vec_id < 10 AND b.vec_id <> a.vec_id),
         |r AS (
         |  SELECT query_id, neighbor_id, int_dot,
         |    CASE WHEN na > 0 AND nb > 0 THEN CAST(int_dot AS DOUBLE) /
         |      sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS qcos
         |  FROM p),
         |rk AS (
         |  SELECT query_id, neighbor_id, int_dot, qcos,
         |    row_number() OVER (PARTITION BY query_id
         |                       ORDER BY qcos DESC, neighbor_id) AS rank
         |  FROM r)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
         |  int_dot, qcos
         |FROM rk WHERE rank <= 3""".stripMargin,

    "q97_vector_math" ->
      s"""WITH n AS (
         |  SELECT vec_id, $dVec AS e FROM embeddings WHERE vec_id < 100),
         |p AS (
         |  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
         |    list_transform(generate_series(1, len(l.e)),
         |      i -> l.e[i] - r.e[i]) AS diff,
         |    list_transform(generate_series(1, len(l.e)),
         |      i -> (l.e[i] + r.e[i]) / 2) AS mid
         |  FROM n l JOIN n r ON r.vec_id = l.vec_id + 1)
         |SELECT id_a, id_b,
         |  sqrt(list_dot_product(diff, diff)) AS dist_l2,
         |  sqrt(list_dot_product(mid, mid)) AS midpoint_norm
         |FROM p""".stripMargin,

    "q87_centroid_assign" ->
      s"""WITH n AS (
         |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm
         |  FROM (SELECT vec_id, $dVec AS e FROM embeddings)
         |  WHERE list_dot_product(e, e) > 0),
         |cent AS (
         |  SELECT vec_id AS centroid_id, e AS ce, nrm AS cnrm
         |  FROM n WHERE vec_id < 8),
         |p AS (
         |  SELECT v.vec_id, c.centroid_id,
         |    list_dot_product(v.e, c.ce) / (v.nrm * c.cnrm) AS cos
         |  FROM n v, cent c),
         |r AS (
         |  SELECT vec_id, centroid_id, cos,
         |    row_number() OVER (PARTITION BY vec_id
         |                       ORDER BY cos DESC, centroid_id) AS rn
         |  FROM p)
         |SELECT centroid_id, count(*) AS n_assigned,
         |  CAST(floor(sum(CAST(cos AS DECIMAL(20,6))) * 1000000) AS BIGINT)
         |    AS sum_cos_e6,
         |  min(cos) AS min_cos, max(cos) AS max_cos
         |FROM r WHERE rn = 1
         |GROUP BY centroid_id""".stripMargin,

    "q131_kmeans" ->
      s"""WITH v AS (
         |  SELECT vec_id AS vid, $dVec AS v FROM embeddings),
         |c0 AS (
         |  SELECT vid AS centroid_id, v AS cv FROM v ORDER BY vid LIMIT 8),
         |p1 AS (
         |  SELECT vid, centroid_id, v,
         |    list_dot_product(v, v) - 2 * list_dot_product(v, cv)
         |      + list_dot_product(cv, cv) AS d2
         |  FROM v, c0),
         |a1 AS (
         |  SELECT vid, centroid_id, v,
         |    row_number() OVER (PARTITION BY vid
         |                       ORDER BY d2, centroid_id) AS rn
         |  FROM p1),
         |e1 AS (SELECT vid, centroid_id, v FROM a1 WHERE rn = 1),
         |md AS (
         |  SELECT centroid_id, dim,
         |    CAST(CAST(sum(CAST(x AS DECIMAL(20,6))) AS DOUBLE) / count(x)
         |      AS DOUBLE) AS m
         |  FROM (SELECT centroid_id,
         |          generate_subscripts(v, 1) - 1 AS dim,
         |          unnest(v) AS x
         |        FROM e1)
         |  GROUP BY centroid_id, dim),
         |c1 AS (
         |  SELECT centroid_id, list(m ORDER BY dim) AS cv
         |  FROM md GROUP BY centroid_id),
         |p2 AS (
         |  SELECT vid, centroid_id,
         |    list_dot_product(v, v) - 2 * list_dot_product(v, cv)
         |      + list_dot_product(cv, cv) AS d2
         |  FROM v, c1),
         |a2 AS (
         |  SELECT vid, centroid_id, d2,
         |    row_number() OVER (PARTITION BY vid
         |                       ORDER BY d2, centroid_id) AS rn
         |  FROM p2)
         |SELECT centroid_id, count(*) AS n_members,
         |  CAST(floor(sum(CAST(d2 AS DECIMAL(20,6))) * 1000000) AS BIGINT)
         |    AS sum_d2_e6
         |FROM a2 WHERE rn = 1
         |GROUP BY centroid_id""".stripMargin,

    "q183_semantic_dedup" ->
      s"""WITH v AS (
         |  SELECT vec_id AS vid, $dVec AS v FROM embeddings),
         |c0 AS (
         |  SELECT vid AS centroid_id, v AS cv FROM v ORDER BY vid LIMIT 8),
         |p1 AS (
         |  SELECT vid, centroid_id, v,
         |    list_dot_product(v, v) - 2 * list_dot_product(v, cv)
         |      + list_dot_product(cv, cv) AS d2
         |  FROM v, c0),
         |a1 AS (
         |  SELECT vid, centroid_id, v,
         |    row_number() OVER (PARTITION BY vid
         |                       ORDER BY d2, centroid_id) AS rn
         |  FROM p1),
         |e1 AS (SELECT vid, centroid_id, v FROM a1 WHERE rn = 1),
         |md AS (
         |  SELECT centroid_id, dim,
         |    CAST(CAST(sum(CAST(x AS DECIMAL(20,6))) AS DOUBLE) / count(x)
         |      AS DOUBLE) AS m
         |  FROM (SELECT centroid_id,
         |          generate_subscripts(v, 1) - 1 AS dim,
         |          unnest(v) AS x
         |        FROM e1)
         |  GROUP BY centroid_id, dim),
         |c1 AS (
         |  SELECT centroid_id, list(m ORDER BY dim) AS cv
         |  FROM md GROUP BY centroid_id),
         |p2 AS (
         |  SELECT vid, centroid_id,
         |    list_dot_product(v, v) - 2 * list_dot_product(v, cv)
         |      + list_dot_product(cv, cv) AS d2
         |  FROM v, c1),
         |a2 AS (
         |  SELECT vid, centroid_id,
         |    row_number() OVER (PARTITION BY vid
         |                       ORDER BY d2, centroid_id) AS rn
         |  FROM p2),
         |e2 AS (SELECT vid, centroid_id FROM a2 WHERE rn = 1),
         |n AS (
         |  SELECT vid, v, sqrt(list_dot_product(v, v)) AS nrm FROM v),
         |drops AS (
         |  SELECT DISTINCT b.vid AS bvid
         |  FROM e2 a JOIN e2 b ON a.centroid_id = b.centroid_id
         |    AND a.vid < b.vid
         |  JOIN n na ON na.vid = a.vid
         |  JOIN n nb ON nb.vid = b.vid
         |  WHERE na.nrm > 0 AND nb.nrm > 0
         |    AND list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) > 0.3)
         |SELECT centroid_id, count(*) AS n_members,
         |  CAST(sum(CASE WHEN drops.bvid IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dropped
         |FROM e2 LEFT JOIN drops ON e2.vid = drops.bvid
         |GROUP BY centroid_id""".stripMargin,

    "q84_array_hof" ->
      s"""SELECT vec_id,
         |  CAST(len(e) AS BIGINT) AS dim_n,
         |  CAST(len(list_filter(e, x -> x > 0)) AS BIGINT) AS n_pos,
         |  list_dot_product(e, e) AS sum_sq,
         |  list_max(list_transform(e, x -> abs(x))) AS max_abs,
         |  list_max(e) AS top1,
         |  list_dot_product(e, list_reverse(e)) AS rev_dot,
         |  len(list_filter(e, x -> abs(x) > 0.5)) > 0 AS has_big
         |FROM (SELECT vec_id, $dVec AS e FROM embeddings)""".stripMargin)
}
