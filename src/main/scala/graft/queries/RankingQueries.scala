package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ranking
import graft.plans.ZOrder16

/** Oracle entries for the retrieval-scoring family (operators.Ranking)
  * and the Z-order clustering expression: BM25 ranking, sketch-gated
  * exact heavy hitters, Morton interleave, encoding-quality profiling,
  * and bigram-LM fluency scoring.
  */
object RankingQueries {

  import CoreQueries.t
  import DuckSql.dTok

  /** Fixed query-term set for the BM25 oracle (mixed document
    * frequencies: common stopword-ish through mid-frequency content
    * words of the synthetic corpus). */
  private val bm25Terms = Seq("join", "vector", "stream", "the")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BM25 (rational, integer-exact variant) over the documents corpus.
    "q126_bm25" -> ((s, dir) => {
      Ranking.bm25(CoreQueries.spread(t(s, dir, "documents")),
        "doc_id", "text", bm25Terms)
        .withColumnRenamed("id", "doc_id")
    }),

    // Exact heavy hitters (freq > n/201) with the Misra-Gries
    // candidate pass (400 mergeable counters) + exact verify.
    "q127_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(graft.functions.text.tokens(col("text"))).as("w"))
      Ranking.heavyHitters(toks, "w", k = 200, sketchK = 400)
    }),

    // Morton (Z-order) interleave of two dimensions — the
    // multi-dimensional clustering key for data-skipping layouts.
    "q128_zorder" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        ZOrder16.zorder16(col("p_size"), col("p_partkey") % 256).as("z"))
    }),

    // Character-level encoding quality over a deterministically
    // dirtied corpus (every 7th doc gets a mojibake suffix: U+FFFD +
    // BEL + e-acute), mirrored in the oracle.
    "q129_char_quality" -> ((s, dir) => {
      val dirty = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit("�é")))
          .otherwise(col("text")))
      Ranking.charQuality(dirty, "doc_id", "text")
    }),

    // Bigram language-model fluency score in integer millionths.
    "q130_bigram_lm" -> ((s, dir) => {
      Ranking.bigramLmScore(CoreQueries.spread(t(s, dir, "documents")),
        "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    }),

    // CCNet-style perplexity-proxy scoring (Wenzek et al. 2020,
    // integer surrogate — Ranking.perplexityProxy scaladoc): the model
    // is the trusted doc_id % 19 == 0 slice's add-one-smoothed bigram
    // table; every document scores by its mean integer surprisal
    // surrogate 10^6*(1/p̂ - 1) — "filter the weird tail by LM score"
    // as one broadcast-join operator. The oracle rebuilds counts,
    // vocab, smoothing, and the HUGEINT mean from scratch.
    "q216_perplexity_proxy" -> ((s, dir) => {
      val docs = CoreQueries.spread(t(s, dir, "documents"))
      Ranking.perplexityProxy(
        docs, docs.filter(col("doc_id") % 19 === 0), "doc_id", "text")
    }),

    // CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    // §4.3) composed end-to-end on top of q216's scorer: score every
    // document against the trusted-slice bigram model, derive the
    // tercile cut VALUES from the score histogram (cumsum over
    // distinct integer scores — histogram-sized window state, never
    // document-sized), broadcast the one-row cut table, assign
    // buckets statelessly. The oracle rebuilds the scorer AND the
    // histogram/cut/assignment chain from scratch.
    "q221_ccnet_buckets" -> ((s, dir) => {
      val docs = CoreQueries.spread(t(s, dir, "documents"))
      Ranking.perplexityBuckets(
        Ranking.perplexityProxy(
          docs, docs.filter(col("doc_id") % 19 === 0), "doc_id", "text")
          .select(col("doc_id"), col("ppl_proxy_micro")),
        "doc_id", "ppl_proxy_micro")
    }),

    // Unicode-script profile — the multilingual-curation signal behind
    // "route this document to the right language pipeline": per-doc
    // character counts for five script classes via the same
    // count-by-removal regex trick as q129 (length difference after
    // regexp_replace — identical in Java regex and RE2, both
    // character-counting on UTF-8), rolled up to a 5-row corpus
    // profile. The synthetic corpus is ASCII, so deterministic
    // script snippets are injected in-plan (mirrored by the oracle,
    // q129-style) to make every class non-trivially populated. One
    // narrow codegen'd projection + one 5-group aggregate; nothing
    // text-sized ever shuffles (the explode carries (script, count)
    // pairs only).
    "q180_script_profile" -> ((s, dir) => {
      val base = t(s, dir, "documents").withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 5 === 0, lit(" привет мир"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit(" 你好世界")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0, lit(" αβγδ")).otherwise(lit(""))))
      def removed(p: String) =
        (length(col("text")) -
          length(regexp_replace(col("text"), p, ""))).cast("long")
      base.select(col("doc_id"),
        explode(map(
          lit("latin"), removed("[a-zA-Z]"),
          lit("digit"), removed("[0-9]"),
          lit("cyrillic"), removed("[Ѐ-ӿ]"),
          lit("cjk"), removed("[一-鿿]"),
          lit("greek"), removed("[Ͱ-Ͽ]"))).as(Seq("script", "n")))
        .groupBy(col("script"))
        .agg(sum(when(col("n") > 0, 1L).otherwise(0L)).as("n_docs_with"),
          sum(col("n")).as("total_chars"))
    }))

  val oracle: Map[String, String] = Map(

    "q126_bm25" ->
      raw"""WITH toks AS (
           |  SELECT doc_id AS id, $dTok AS t FROM documents),
           |lens AS (
           |  SELECT id, CAST(len(t) AS BIGINT) AS len FROM toks),
           |totals AS (
           |  SELECT count(*) AS n_docs, CAST(sum(len) AS BIGINT) AS n_tokens
           |  FROM lens),
           |occ AS (
           |  SELECT id, unnest(t) AS w FROM toks),
           |tf AS (
           |  SELECT id, w, count(*) AS tf FROM occ
           |  WHERE w IN ('join', 'vector', 'stream', 'the')
           |  GROUP BY id, w),
           |dft AS (SELECT w, count(*) AS df FROM tf GROUP BY w)
           |SELECT id AS doc_id,
           |  CAST(sum((2 * n_docs - 2 * df + 1) * (22 * n_tokens * tf) * 10000
           |    // ((2 * df + 1)
           |        * (10 * n_tokens * tf + 3 * n_tokens + 9 * len * n_docs)))
           |    AS BIGINT) AS bm25_scaled,
           |  count(*) AS n_terms_matched
           |FROM tf
           |JOIN dft USING (w)
           |JOIN lens USING (id), totals
           |GROUP BY id""".stripMargin,

    "q127_heavy_hitters" ->
      raw"""WITH toks AS (
           |  SELECT unnest($dTok) AS w FROM documents),
           |tot AS (SELECT count(*) AS total FROM toks)
           |SELECT w AS token, count(*) AS cnt, total
           |FROM toks, tot
           |GROUP BY w, total
           |HAVING count(*) * 201 > total""".stripMargin,

    "q128_zorder" ->
      """WITH b AS (
        |  SELECT p_partkey,
        |    CAST(p_size AS BIGINT) & 65535 AS vx,
        |    (p_partkey % 256) & 65535 AS vy
        |  FROM part),
        |s1 AS (SELECT p_partkey,
        |  ((vx | (vx << 8)) & 16711935) AS vx,
        |  ((vy | (vy << 8)) & 16711935) AS vy FROM b),
        |s2 AS (SELECT p_partkey,
        |  ((vx | (vx << 4)) & 252645135) AS vx,
        |  ((vy | (vy << 4)) & 252645135) AS vy FROM s1),
        |s3 AS (SELECT p_partkey,
        |  ((vx | (vx << 2)) & 858993459) AS vx,
        |  ((vy | (vy << 2)) & 858993459) AS vy FROM s2),
        |s4 AS (SELECT p_partkey,
        |  ((vx | (vx << 1)) & 1431655765) AS vx,
        |  ((vy | (vy << 1)) & 1431655765) AS vy FROM s3)
        |SELECT p_partkey, (vx | (vy << 1)) AS z FROM s4""".stripMargin,

    "q129_char_quality" ->
      raw"""WITH dirty AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 7 = 0
           |         THEN text || chr(65533) || chr(7) || chr(233)
           |         ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(length(text) - length(regexp_replace(text, chr(65533),
           |    '', 'g')) AS BIGINT) AS n_replacement,
           |  CAST(length(text) - length(regexp_replace(text,
           |    '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS BIGINT)
           |    AS n_control,
           |  CAST(length(text) - length(regexp_replace(text,
           |    '[^\x20-\x7E\t\n\r]', '', 'g')) AS BIGINT) AS n_nonascii,
           |  CAST(length(text) AS BIGINT) AS n_chars,
           |  CAST((length(text) - length(regexp_replace(text,
           |      '[^\x20-\x7E\t\n\r]', '', 'g'))) * 10000
           |    // length(text) AS BIGINT) AS nonascii_bp
           |FROM dirty""".stripMargin,

    "q180_script_profile" ->
      """WITH base AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' привет мир' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' 你好世界' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' αβγδ' ELSE '' END AS text
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g'))
        |      AS latin,
        |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
        |      AS digit,
        |    length(text) - length(regexp_replace(text, '[Ѐ-ӿ]', '', 'g'))
        |      AS cyrillic,
        |    length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g'))
        |      AS cjk,
        |    length(text) - length(regexp_replace(text, '[Ͱ-Ͽ]', '', 'g'))
        |      AS greek
        |  FROM base),
        |u AS (
        |  SELECT 'latin' AS script, latin AS n FROM p
        |  UNION ALL SELECT 'digit', digit FROM p
        |  UNION ALL SELECT 'cyrillic', cyrillic FROM p
        |  UNION ALL SELECT 'cjk', cjk FROM p
        |  UNION ALL SELECT 'greek', greek FROM p)
        |SELECT script,
        |  CAST(sum(CASE WHEN n > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_with,
        |  CAST(sum(n) AS BIGINT) AS total_chars
        |FROM u GROUP BY 1""".stripMargin,

    "q130_bigram_lm" ->
      raw"""WITH tk AS (
           |  SELECT doc_id AS id, $dTok AS t FROM documents),
           |pairs AS (
           |  SELECT id, p['w1'] AS w1, p['w2'] AS w2 FROM (
           |    SELECT id, unnest(list_transform(generate_series(1, len(t) - 1),
           |      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
           |    FROM tk WHERE len(t) >= 2)),
           |c2 AS (SELECT w1, w2, count(*) AS pair_n FROM pairs GROUP BY 1, 2),
           |c1 AS (SELECT w1, count(*) AS prefix_n FROM pairs GROUP BY 1),
           |scored AS (
           |  SELECT id, pair_n * 1000000 // prefix_n AS p_micro
           |  FROM pairs JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
           |SELECT id AS doc_id,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(p_micro) AS BIGINT) AS sum_p_micro,
           |  CAST(CAST(sum(p_micro) AS BIGINT) // count(*) AS BIGINT)
           |    AS avg_p_micro
           |FROM scored
           |GROUP BY id""".stripMargin,

    "q216_perplexity_proxy" ->
      raw"""WITH tk AS (
           |  SELECT doc_id, $dTok AS t FROM documents),
           |pairs AS (
           |  SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
           |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
           |      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
           |    FROM tk WHERE len(t) >= 2)),
           |mp AS (SELECT * FROM pairs WHERE doc_id % 19 = 0),
           |c2 AS (SELECT w1, w2, count(*) AS pair_n FROM mp GROUP BY 1, 2),
           |c1 AS (SELECT w1, count(*) AS prefix_n FROM mp GROUP BY 1),
           |v AS (SELECT count(DISTINCT w2) AS vv FROM mp),
           |scored AS (
           |  SELECT p.doc_id,
           |    (coalesce(prefix_n, 0) + vv) * 1000000
           |      // (coalesce(pair_n, 0) + 1) - 1000000 AS surp
           |  FROM pairs p
           |  LEFT JOIN c2 USING (w1, w2)
           |  LEFT JOIN c1 USING (w1)
           |  CROSS JOIN v)
           |SELECT doc_id,
           |  CAST(count(*) AS BIGINT) AS n_pairs,
           |  CAST(sum(CAST(surp AS HUGEINT)) AS BIGINT)
           |    AS sum_surprisal_micro,
           |  CAST(sum(CAST(surp AS HUGEINT)) // count(*) AS BIGINT)
           |    AS ppl_proxy_micro
           |FROM scored
           |GROUP BY doc_id""".stripMargin,

    "q221_ccnet_buckets" ->
      raw"""WITH tk AS (
           |  SELECT doc_id, $dTok AS t FROM documents),
           |pairs AS (
           |  SELECT doc_id, p['w1'] AS w1, p['w2'] AS w2 FROM (
           |    SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
           |      i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
           |    FROM tk WHERE len(t) >= 2)),
           |mp AS (SELECT * FROM pairs WHERE doc_id % 19 = 0),
           |c2 AS (SELECT w1, w2, count(*) AS pair_n FROM mp GROUP BY 1, 2),
           |c1 AS (SELECT w1, count(*) AS prefix_n FROM mp GROUP BY 1),
           |v AS (SELECT greatest(count(DISTINCT w2), 1) AS vv FROM mp),
           |surps AS (
           |  SELECT p.doc_id,
           |    (coalesce(prefix_n, 0) + vv) * 1000000
           |      // (coalesce(pair_n, 0) + 1) - 1000000 AS surp
           |  FROM pairs p
           |  LEFT JOIN c2 USING (w1, w2)
           |  LEFT JOIN c1 USING (w1)
           |  CROSS JOIN v),
           |doc_scored AS (
           |  SELECT doc_id,
           |    CAST(sum(CAST(surp AS HUGEINT)) // count(*) AS BIGINT)
           |      AS ppl
           |  FROM surps GROUP BY doc_id),
           |hist AS (SELECT ppl AS hv, count(*) AS c
           |         FROM doc_scored GROUP BY 1),
           |cum AS (SELECT hv, sum(c) OVER (ORDER BY hv) AS cm FROM hist),
           |nn AS (SELECT max(cm) AS n FROM cum),
           |cuts AS (SELECT
           |    min(CASE WHEN cm * 3 >= n THEN hv END) AS cut1,
           |    min(CASE WHEN cm * 3 >= 2 * n THEN hv END) AS cut2
           |  FROM cum, nn)
           |SELECT d.doc_id, d.ppl AS ppl_proxy_micro,
           |  CASE WHEN d.ppl <= cut1 THEN 'head'
           |       WHEN d.ppl <= cut2 THEN 'middle'
           |       ELSE 'tail' END AS bucket
           |FROM doc_scored d, cuts""".stripMargin)
}
