package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{scrub, text}
import graft.operators.{Mining, Similarity}

/** Oracle-checked queries for the corpus-mining operator set
  * (graft.operators.Mining): bigram LM statistics, truncation-dup
  * groups, source overlap, the quality-gate funnel, ANN recall, the
  * cross-modal document-embedding join, PII density, shingle novelty,
  * and per-source length deciles. Numerics are integer counts and basis
  * points throughout, so every query is engine-exact.
  */
object MiningQueries {

  import CoreQueries.t
  import DuckSql.{dBucket, dHash32u, dShingles, dTok, dVec}

  /** Distinct 5-gram shingle hashes per (keyCol) row, as a CTE body. */
  private def dShingleHashes(key: String): String =
    s"""SELECT $key, unnest(list_distinct(
       |    list_transform(${dShingles(5)}, s -> ${dHash32u("s")}))) AS h
       |  FROM (SELECT $key, $dTok AS t FROM documents)""".stripMargin
  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString(", ")

  /** The q71 deterministic PII injection (doc_id % 7 == 0 docs get an
    * email + phone + IP suffix), shared by q107. */
  private[queries] def dirtyText = when(col("doc_id") % 7 === 0,
    concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com tel 555-"),
      (col("doc_id") % 9000 + 1000).cast("string"),
      lit(" host 10.0."), (col("doc_id") % 200).cast("string"),
      lit("."), (col("doc_id") * 7 % 250).cast("string")))
    .otherwise(col("text"))
  private val dDirty =
    """CASE WHEN doc_id % 7 = 0 THEN text || ' contact user' ||
      |      doc_id || '@example.com tel 555-' ||
      |      CAST(doc_id % 9000 + 1000 AS VARCHAR) ||
      |      ' host 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.' ||
      |      CAST(doc_id * 7 % 250 AS VARCHAR)
      |    ELSE text END""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Bigram LM table: the 20 highest-volume prefix tokens with their
    // most likely successor — deterministic order (volume desc, prefix
    // asc), ties on successor count break by token.
    "q101_bigram_next" -> ((s, dir) => {
      Mining.bigramNext(CoreQueries.spread(t(s, dir, "documents")), "text")
        .orderBy(col("prefix_n").desc, col("w1"))
        .limit(20)
    }),

    // Truncation-duplicate families: same 50-char prefix, more than one
    // distinct full text — what exact dedup misses.
    "q102_prefix_dup" -> ((s, dir) => {
      Mining.prefixDupGroups(CoreQueries.spread(t(s, dir, "documents")),
        "doc_id", "text", 50)
        .filter(col("n_distinct_full") >= 2)
    }),

    // Source-pair shingle containment matrix.
    "q103_source_overlap" -> ((s, dir) => {
      Mining.sourceOverlap(CoreQueries.spread(t(s, dir, "documents")),
        "source", "text", n = 5)
    }),

    // Quality-gate funnel: survivors of each successive curation gate
    // (length, stopword ratio, punctuation density, language known) —
    // integer cross-multiplied thresholds, one aggregation pass.
    "q104_quality_funnel" -> ((s, dir) => {
      val base = t(s, dir, "documents").select(
        length(col("text")).cast(LongType).as("n_chars"),
        text.tokenCount(col("text")).cast(LongType).as("n_words"),
        text.stopwordCount(col("text")).cast(LongType).as("n_stop"),
        text.punctCount(col("text")).cast(LongType).as("n_punct"),
        (text.langId(col("text")) =!= "und").as("lang_known"))
      val g1 = col("n_words") >= 5
      val g2 = g1 && col("n_stop") * 100 <= col("n_words") * 60
      val g3 = g2 && col("n_punct") * 10 <= col("n_chars")
      val g4 = g3 && col("lang_known")
      def n(c: org.apache.spark.sql.Column) =
        sum(when(c, 1L).otherwise(0L))
      base.agg(
        count(lit(1)).as("n_total"),
        n(g1).as("n_len_ok"),
        n(g2).as("n_stop_ok"),
        n(g3).as("n_punct_ok"),
        n(g4).as("n_lang_ok"))
    }),

    // ANN quality gate: recall of the sign-bucketed top-3 against the
    // exact top-3 for the same 50 query vectors.
    "q105_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 50)
      Mining.annRecall(
        exact = Similarity.bruteForceTopK(
          emb, qs, idCol = "vec_id", vecCol = "embedding", k = 3),
        approx = Similarity.bucketedTopK(
          emb, qs, idCol = "vec_id", vecCol = "embedding",
          k = 3, signBits = 6))
    }),

    // Cross-modal curation join: documents with an embedding row
    // (doc_id = vec_id), profiled per (lang, label).
    "q106_cross_modal" -> ((s, dir) => {
      t(s, dir, "documents")
        .join(t(s, dir, "embeddings"),
          col("doc_id") === col("vec_id"))
        .groupBy(col("lang"), col("label").cast(LongType).as("label"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"),
          min(col("doc_id")).as("min_doc"))
    }),

    // PII density by source (q71's deterministic injection): total
    // match counts per class and documents carrying any PII.
    "q107_pii_density" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"), dirtyText.as("dt"))
        .select(col("source"),
          scrub.countMatches(col("dt"), scrub.emailRe).as("e"),
          scrub.countMatches(col("dt"), scrub.phoneRe).as("p"),
          scrub.countMatches(col("dt"), scrub.ipRe).as("i"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("e")).cast(LongType).as("n_emails"),
          sum(col("p")).cast(LongType).as("n_phones"),
          sum(col("i")).cast(LongType).as("n_ips"),
          sum(when(col("e") + col("p") + col("i") > 0, 1L).otherwise(0L))
            .as("n_docs_with_pii"))
    }),

    // Per-document shingle novelty in doc_id order.
    "q108_shingle_novelty" -> ((s, dir) => {
      Mining.shingleNovelty(CoreQueries.spread(t(s, dir, "documents")),
        "doc_id", "text", n = 5)
        .withColumnRenamed("id", "doc_id")
    }),

    // Token co-occurrence lift for the 100 highest-document-frequency
    // tokens: observed pair-document count vs the independence
    // expectation, as basis points — the PMI-family statistic behind
    // collocation mining and topic drift checks, with the log dropped so
    // everything stays integer-exact. Pairs are generated per document
    // from the (≤100-token) vocab intersection with an array transform
    // — no token-level self-join of the corpus; the only corpus-wide
    // shuffles are the DF count and the (a,b) pair count. At 100 TB the
    // n_ab*N*10000 product moves to DECIMAL(38,0); plan shape unchanged.
    "q137_cooc_lift" -> ((s, dir) => {
      // localCheckpoint: the exploded token stream feeds BOTH the
      // df-count/vocab subtree (a broadcast build job) and the pair
      // expansion — as separate jobs they re-ran the scan + tokenize +
      // array_distinct twice (the spread exchange below the projection
      // is reusable, but the tokenize sits ABOVE it). Materializing the
      // compact (doc_id, distinct-token array) frame once halves the
      // tokenization work; at scale the frame is token-stream-sized
      // and the same single-materialization trade the dedup operators
      // already make.
      val toks = CoreQueries.spread(t(s, dir, "documents"))
        .select(col("doc_id"), array_distinct(text.tokens(col("text"))).as("ts"))
        .localCheckpoint()
      val ex = toks.select(col("doc_id"), explode(col("ts")).as("tok"))
      val dfreq = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val vocab = dfreq.orderBy(col("df").desc, col("tok")).limit(100)
      val pairs = ex.join(broadcast(vocab.select(col("tok"))), "tok")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("tok"))).as("ss"))
        .select(explode(expr(
          """flatten(transform(ss, (x, i) ->
            |  transform(slice(ss, i + 2, size(ss) - i - 1),
            |    y -> struct(x AS a, y AS b))))""".stripMargin)).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      val nTotal = t(s, dir, "documents").agg(count(lit(1)).as("n_total"))
      pairs
        .join(broadcast(vocab.select(col("tok").as("a"), col("df").as("df_a"))),
          "a")
        .join(broadcast(vocab.select(col("tok").as("b"), col("df").as("df_b"))),
          "b")
        .crossJoin(broadcast(nTotal))
        .select(col("a"), col("b"), col("n_ab"),
          expr("(n_ab * n_total * 10000) div (df_a * df_b)").as("lift_bp"))
        .orderBy(col("lift_bp").desc, col("a"), col("b"))
        .limit(50)
    }),

    // Per-source length deciles (ntile over n_chars, ties broken by
    // doc_id): the length-distribution profile that sizes chunking and
    // packing decisions. Partitioned by source, so the sort is
    // per-group, not global.
    "q109_length_deciles" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("decile", ntile(10).over(
          Window.partitionBy(col("source"))
            .orderBy(col("n_chars"), col("doc_id"))).cast(LongType))
        .groupBy(col("source"), col("decile"))
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).cast(LongType).as("sum_chars"))
    })
  )

  val oracle: Map[String, String] = Map(

    "q101_bigram_next" ->
      raw"""WITH tk AS (
           |  SELECT $dTok AS t FROM documents),
           |b AS (
           |  SELECT p['w1'] AS w1, p['w2'] AS w2 FROM (
           |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
           |      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
           |    FROM tk WHERE len(t) >= 2)),
           |cnt AS (
           |  SELECT w1, w2, count(*) AS pair_n FROM b GROUP BY 1, 2),
           |r AS (
           |  SELECT w1, w2, pair_n,
           |    row_number() OVER (PARTITION BY w1
           |      ORDER BY pair_n DESC, w2) AS rk,
           |    sum(pair_n) OVER (PARTITION BY w1) AS prefix_n
           |  FROM cnt)
           |SELECT w1, w2 AS next_w, CAST(pair_n AS BIGINT) AS pair_n,
           |  CAST(prefix_n AS BIGINT) AS prefix_n
           |FROM r WHERE rk = 1
           |ORDER BY prefix_n DESC, w1 LIMIT 20""".stripMargin,

    "q102_prefix_dup" ->
      """SELECT md5(substr(text, 1, 50)) AS prefix_hash,
        |  count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_distinct_full,
        |  min(doc_id) AS keep_id
        |FROM documents
        |GROUP BY 1
        |HAVING count(*) >= 2 AND count(DISTINCT md5(text)) >= 2""".stripMargin,

    "q103_source_overlap" ->
      s"""WITH sh AS (
         |  SELECT DISTINCT source, h FROM (${dShingleHashes("source")})),
         |tot AS (
         |  SELECT source, count(*) AS total FROM sh GROUP BY 1),
         |p AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
         |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b,
         |  CAST(shared AS BIGINT) AS shared,
         |  CAST(ta.total AS BIGINT) AS total_a,
         |  CAST(tb.total AS BIGINT) AS total_b,
         |  CAST(shared * 10000 // least(ta.total, tb.total) AS BIGINT)
         |    AS containment_bp
         |FROM p
         |JOIN tot ta ON ta.source = p.src_a
         |JOIN tot tb ON tb.source = p.src_b""".stripMargin,

    "q104_quality_funnel" -> {
      val stops = sqlList(text.stopwords)
      val allMarkers = sqlList(text.langMarkers.flatMap(_._2))
      s"""WITH m AS (
         |  SELECT
         |    CAST(length(text) AS BIGINT) AS n_chars,
         |    CAST(len($dTok) AS BIGINT) AS n_words,
         |    CAST(len(list_filter($dTok, x -> x IN ($stops))) AS BIGINT)
         |      AS n_stop,
         |    CAST(length(text) - length(regexp_replace(text,
         |      '[.,;:!?''"()\\-]', '', 'g')) AS BIGINT) AS n_punct,
         |    len(list_filter($dTok, x -> x IN ($allMarkers))) > 0
         |      AS lang_known
         |  FROM documents),
         |g AS (
         |  SELECT *,
         |    (n_words >= 5) AS g1,
         |    (n_words >= 5 AND n_stop * 100 <= n_words * 60) AS g2,
         |    (n_words >= 5 AND n_stop * 100 <= n_words * 60
         |      AND n_punct * 10 <= n_chars) AS g3
         |  FROM m)
         |SELECT count(*) AS n_total,
         |  CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
         |  CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_ok,
         |  CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS n_punct_ok,
         |  CAST(sum(CASE WHEN g3 AND lang_known THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_lang_ok
         |FROM g""".stripMargin
    },

    "q105_ann_recall" ->
      s"""WITH n AS (
         |  SELECT vec_id, e, sqrt(list_dot_product(e, e)) AS nrm,
         |    ${dBucket(6)} AS bucket
         |  FROM (SELECT vec_id, $dVec AS e FROM embeddings)),
         |ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
         |                 c.vec_id) AS rank
         |    FROM n q, n c
         |    WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id
         |      AND q.nrm > 0 AND c.nrm > 0)
         |  WHERE rank <= 3),
         |ap AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(q.e, c.e) / (q.nrm * c.nrm) DESC,
         |                 c.vec_id) AS rank
         |    FROM n q JOIN n c ON q.bucket = c.bucket
         |    WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id
         |      AND q.nrm > 0 AND c.nrm > 0)
         |  WHERE rank <= 3),
         |hits AS (
         |  SELECT count(*) AS hits FROM ex
         |  WHERE EXISTS (SELECT 1 FROM ap
         |    WHERE ap.query_id = ex.query_id
         |      AND ap.neighbor_id = ex.neighbor_id))
         |SELECT
         |  (SELECT count(DISTINCT query_id) FROM ex) AS n_queries,
         |  (SELECT count(*) FROM ex) AS exact_n,
         |  hits,
         |  CAST(hits * 10000 // (SELECT count(*) FROM ex) AS BIGINT)
         |    AS recall_bp
         |FROM hits""".stripMargin,

    "q106_cross_modal" ->
      """SELECT d.lang, CAST(e.label AS BIGINT) AS label,
        |  count(*) AS n_docs,
        |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
        |  min(d.doc_id) AS min_doc
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY 1, 2""".stripMargin,

    "q107_pii_density" ->
      raw"""WITH dirty AS (
           |  SELECT source, $dDirty AS dt FROM documents),
           |m AS (
           |  SELECT source,
           |    CAST(len(regexp_extract_all(dt,
           |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
           |      AS BIGINT) AS e,
           |    CAST(len(regexp_extract_all(dt, '\b\d{3}-\d{4}\b'))
           |      AS BIGINT) AS p,
           |    CAST(len(regexp_extract_all(dt,
           |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS i
           |  FROM dirty)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(e) AS BIGINT) AS n_emails,
           |  CAST(sum(p) AS BIGINT) AS n_phones,
           |  CAST(sum(i) AS BIGINT) AS n_ips,
           |  CAST(sum(CASE WHEN e + p + i > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_docs_with_pii
           |FROM m GROUP BY 1""".stripMargin,

    "q108_shingle_novelty" ->
      s"""WITH sh AS (${dShingleHashes("doc_id")}),
         |fs AS (
         |  SELECT h, min(doc_id) AS first_id FROM sh GROUP BY 1)
         |SELECT sh.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN fs.first_id = sh.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_novel,
         |  CAST(sum(CASE WHEN fs.first_id = sh.doc_id THEN 1 ELSE 0 END)
         |    * 10000 // count(*) AS BIGINT) AS novelty_bp
         |FROM sh JOIN fs ON sh.h = fs.h
         |GROUP BY 1""".stripMargin,

    "q109_length_deciles" ->
      """SELECT source, CAST(decile AS BIGINT) AS decile,
        |  count(*) AS n_docs,
        |  min(n_chars) AS min_chars,
        |  max(n_chars) AS max_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM (
        |  SELECT source, n_chars,
        |    ntile(10) OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS decile
        |  FROM documents)
        |GROUP BY 1, 2""".stripMargin,

    "q137_cooc_lift" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, list_distinct($dTok) AS ts FROM documents),
           |ex AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
           |dfreq AS (SELECT tok, count(*) AS df FROM ex GROUP BY 1),
           |vocab AS (SELECT tok, df FROM dfreq ORDER BY df DESC, tok
           |  LIMIT 100),
           |fl AS (SELECT doc_id, ex.tok FROM ex JOIN vocab
           |  ON ex.tok = vocab.tok),
           |pairs AS (
           |  SELECT x.tok AS a, y.tok AS b, count(*) AS n_ab
           |  FROM fl x JOIN fl y ON x.doc_id = y.doc_id AND x.tok < y.tok
           |  GROUP BY 1, 2
           |  HAVING count(*) >= 5),
           |n AS (SELECT count(*) AS n_total FROM documents)
           |SELECT a, b, CAST(n_ab AS BIGINT) AS n_ab,
           |  CAST((n_ab * n_total * 10000) // (da.df * db.df) AS BIGINT)
           |    AS lift_bp
           |FROM pairs
           |JOIN vocab da ON a = da.tok
           |JOIN vocab db ON b = db.tok
           |CROSS JOIN n
           |ORDER BY lift_bp DESC, a, b LIMIT 50""".stripMargin
  )
}
