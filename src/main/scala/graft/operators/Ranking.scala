package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.text
import graft.plans.MisraGriesAgg

/** Retrieval-scoring and corpus-statistics operators: BM25 ranking,
  * sketch-gated exact heavy hitters, bigram language-model quality
  * scoring, and character-level encoding quality — the text-curation
  * scoring family, all in integer arithmetic so results are
  * partitioning- and engine-exact (see graft.functions.exact's
  * rationale; floats never survive an aggregation here).
  */
object Ranking {

  /** BM25 document ranking for a fixed term set, in the log-free
    * rational form: the classic idf `ln((N-df+0.5)/(df+0.5))` is
    * replaced by the rational odds `(2N-2df+1)/(2df+1)` (the same
    * monotone ordering in df — log is monotone — so rankings for a
    * single term agree; across terms the rational form weighs rare
    * terms more sharply). With k1 = 1.2 and b = 0.75 the per-term score
    *
    *   idf * tf*(k1+1) / (tf + k1*(1 - b + b*len/avgdl))
    *
    * clears to integers when multiplied through by 10*T (T = total
    * corpus tokens, avgdl = T/N):
    *
    *   score_t = (2N-2df+1) * 22*T*tf * SCALE
    *             div ((2df+1) * (10*T*tf + 3*T + 9*len*N)),  SCALE = 10000
    *
    * — pure int64 arithmetic, summed per document as integers: no
    * float aggregation anywhere, so the result is bit-identical on any
    * engine at any partitioning. (int64 bounds: safe while
    * N*T*tf*SCALE < 9e18; at extreme corpus sizes drop SCALE or
    * compute in decimal.)
    *
    * Plan shape: tokens explode once, filtered to the term set BEFORE
    * any shuffle (the filter prunes to matching tokens only); df is a
    * |terms|-row broadcast; totals are a 1-row broadcast; the only
    * data-sized shuffles key on (doc, term) and doc.
    */
  def bm25(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      terms: Seq[String]): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      text.tokens(col(contentCol)).as("t"))
    val lens = toks.select(col("id"), size(col("t")).cast(LongType).as("len"))
    val totals = lens.agg(
      count(lit(1)).as("n_docs"),
      sum(col("len")).as("n_tokens"))
    // len rides the occurrence explode instead of a separate lens join:
    // the output only contains docs with >= 1 matched term (the old
    // tf-lens join was inner), len is constant per doc so max() over
    // the (id, w) group reproduces it exactly, and the corpus is then
    // tokenized twice (corpus totals + term scan — the floor) instead
    // of three times (r20; the old lens branch re-tokenized for the
    // final join).
    val occ = toks
      .select(col("id"), size(col("t")).cast(LongType).as("len"),
        explode(col("t")).as("w"))
      .filter(col("w").isin(terms: _*))
    val tf = occ.groupBy(col("id"), col("w"))
      .agg(count(lit(1)).as("tf"), max(col("len")).as("len"))
    // vacuous tf/len references (counts >= 1, sizes >= 0) keep the df
    // branch's inner aggregate un-pruned so it reuses tf's exchange
    // instead of re-running the term scan (same reuse pin as the span
    // family's dup aggregate).
    val dft = tf.filter(col("tf") >= 1 && col("len") >= 0)
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dft), "w")
      .crossJoin(broadcast(totals))
      .withColumn("term_score",
        expr(s"""(2 * n_docs - 2 * df + 1) * (22 * n_tokens * tf) * 10000
                | div ((2 * df + 1)
                |      * (10 * n_tokens * tf + 3 * n_tokens + 9 * len * n_docs))
                |""".stripMargin).cast(LongType))
      .groupBy(col("id"))
      .agg(
        sum(col("term_score")).cast(LongType).as("bm25_scaled"),
        count(lit(1)).cast(LongType).as("n_terms_matched"))
  }

  /** Exact heavy hitters above the n/(k+1) frequency threshold, with a
    * Misra-Gries candidate pass: the sketch (native mergeable
    * TypedImperativeAggregate, sketchK >= k counters) yields a bounded
    * candidate array whose guarantee covers every true heavy hitter;
    * a semi-join re-counts ONLY candidate tokens exactly. The full
    * token vocabulary is never aggregated — at corpus scale the
    * grouped aggregation runs on a set bounded by sketchK, not by the
    * (billions-of-terms) vocabulary.
    */
  def heavyHitters(
      tokens: DataFrame,
      tokenCol: String,
      k: Int,
      sketchK: Int): DataFrame = {
    require(sketchK >= k, "sketchK must be >= k for the n/(k+1) guarantee")
    val w = tokens.select(col(tokenCol).as("w"))
    val cands = w.agg(MisraGriesAgg.misraGries(col("w"), sketchK).as("cands"))
      .select(explode(col("cands")).as("w"))
    val tot = w.agg(count(lit(1)).as("total"))
    w.join(broadcast(cands), Seq("w"), "left_semi")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(tot))
      .filter(col("cnt") * (k + 1) > col("total"))
      .select(col("w").as("token"), col("cnt"), col("total"))
  }

  /** Per-document bigram language-model score in integer millionths:
    * for each adjacent token pair, the corpus conditional probability
    * P(w2 | w1) = pairCount(w1,w2) / prefixCount(w1) floored to
    * millionths, then averaged per document by integer division — the
    * n-gram-LM fluency gate (KenLM-style filtering) without logs, so
    * every value is integer-exact. Adjacent pairs come from zip_with
    * over two array slices (no positional explode + self-join); the
    * count tables join back WITHOUT broadcast hints — they are
    * vocabulary-sized, and AQE broadcasts them only while genuinely
    * small.
    */
  def bigramLmScore(
      df: DataFrame,
      idCol: String,
      contentCol: String): DataFrame = {
    val pairs = df
      .select(col(idCol).as("id"), text.tokens(col(contentCol)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("id"), explode(expr(
        """zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),
          |  (a, b) -> named_struct('w1', a, 'w2', b))""".stripMargin)).as("p"))
      .select(col("id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    // (Measured r19: a localCheckpoint of `pairs` here was a WASH on
    // CPU — the (w1,w2) exchange is already shared between the pair
    // counts and the probe join via ReuseExchange, so only the (w1)
    // count subtree re-derives the pairs — and it cost wall on the
    // materialization barrier. Left lazy.)
    val c2 = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("pair_n"))
    // (Measured r20: deriving c1 FROM c2 — prefix_n = Σ_w2 pair_n — is
    // arithmetically exact but regressed task CPU 7.2 → 11.1 s: the c1
    // branch's c2 subtree did not stage-dedup against the join's c2
    // (identical ENSURE exchanges, no runtime reuse observed), so the
    // corpus explode still ran three times PLUS a duplicated (w1,w2)
    // aggregate. The vocabulary-sized c2 cannot be materialized by this
    // operator's own contract — the tables join back precisely because
    // they may exceed broadcast size at corpus scale. Kept as the plain
    // per-key aggregate.)
    val c1 = pairs.groupBy(col("w1"))
      .agg(count(lit(1)).as("prefix_n"))
    pairs
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .withColumn("p_micro", expr("pair_n * 1000000 div prefix_n"))
      .groupBy(col("id"))
      .agg(
        count(lit(1)).cast(LongType).as("n_pairs"),
        sum(col("p_micro")).cast(LongType).as("sum_p_micro"))
      .withColumn("avg_p_micro", expr("sum_p_micro div n_pairs").cast(LongType))
  }

  /** CCNet-style perplexity-proxy document scoring (Wenzek et al. 2020,
    * "CCNet: Extracting High Quality Monolingual Datasets from Web
    * Crawl Data", arXiv:1911.00359): score each document by how
    * SURPRISING its bigrams are under a language model trained on a
    * trusted corpus, then filter the weird tail. CCNet's model is a
    * Kneser-Ney LM and its score is per-token log-perplexity;
    * transcendental logs cannot be pinned across engines, so this
    * variant keeps the structure on exact integers (the DSIR
    * ratio-micro discipline): the model is the `model` corpus's
    * add-one-smoothed bigram table, a bigram's surprisal surrogate is
    *
    *   surprisal_micro(w1,w2)
    *     = (prefix_n + V) * 10^6 div (pair_n + 1)  -  10^6
    *
    * — exactly 10^6·(1/p̂ − 1) for the smoothed p̂ = (pair_n+1) /
    * (prefix_n+V), the first-order surrogate of −ln p̂, STRICTLY
    * monotone in p̂ at micro resolution (a spec pins the ordering
    * against a driver float −ln reference) — and the document score is
    * the mean surrogate over its bigrams, the log-perplexity analog.
    * V = the model's conditioned-vocabulary size (distinct following
    * words), the add-one event count. Bigrams or prefixes the model
    * never saw get pair_n = 0 / prefix_n = 0 — maximal surprisal at
    * that prefix, never a divide-by-zero (the +1/+V smoothing is
    * total).
    *
    * Scale shape: the model corpus is the small trusted slice (CCNet
    * trains on Wikipedia), so its bigram/prefix/vocab tables BROADCAST;
    * the corpus side is one narrow bigram explode, two broadcast left
    * joins, and one map-side-combined per-doc aggregate with a
    * DECIMAL(38,0) accumulator (surprisal is bounded by (prefix+V)·10^6
    * ~ 10^12-ish per bigram — a long doc of unseen bigrams would wrap
    * 64 bits). Nothing document-sized shuffles beyond (id, w1, w2).
    *
    * Documents with fewer than 2 tokens have no bigrams and are NOT
    * scored (same contract as [[bigramLmScore]] — a perplexity of
    * nothing is not 0, it is undefined). Output: (idCol, n_pairs,
    * sum_surprisal_micro, ppl_proxy_micro) with ppl_proxy_micro =
    * sum div n_pairs; 0 means "every bigram is the model's most
    * expected event", larger = weirder. */
  /* PRECONDITION (r19 ADVICE, shared with Dedup.simhash): `idCol` must
   * be unique per scored row — the r19 row-local fold emits one score
   * row per input row where the replaced groupBy(id) re-aggregation
   * merged duplicates. Engine callers score primary-keyed documents;
   * external callers must dedupe first. */
  def perplexityProxy(
      df: DataFrame,
      model: DataFrame,
      idCol: String,
      contentCol: String): DataFrame =
    df.select(col(idCol), text.tokens(col(contentCol)).as("__t"))
      .filter(size(col("__t")) >= 2)
      .crossJoin(broadcast(bigramModelTables(model, contentCol)))
      .withColumn("n_pairs", (size(col("__t")) - 1).cast(LongType))
      .withColumn("__sum", graft.plans.BigramSurprisalSum(
        col("__t"), col("__pa"), col("__fa"), col("__v")))
      .select(col(idCol), col("n_pairs"),
        col("__sum").as("sum_surprisal_micro"),
        expr("__sum div n_pairs").as("ppl_proxy_micro"))

  /** The broadcastable one-row bigram model frame shared by the batch
    * [[perplexityProxy]] and the streaming
    * [[graft.streaming.Streaming.perplexityProxyStream]]: sorted
    * (key, count) struct arrays for the pair ("w1 w2") and prefix (w1)
    * tables plus the V >= 1 vocab scalar, consumed by the compiled
    * binary-search fold [[graft.plans.BigramSurprisalSum]].
    *
    * Until r19 the batch side instead exploded the corpus's bigrams
    * through an interpreted zip_with(slice, slice, named_struct) (a
    * struct + two slice arrays allocated per pair, outside whole-stage
    * codegen), probed two broadcast joins per pair, and re-aggregated
    * by id — the corpus-sized groupBy(id) exchange being the one
    * shuffle of the operator. The row-local fold computes identical
    * sums (the streaming parity spec + oracle pin it) with ZERO
    * corpus-side shuffles — at 100 TB the per-doc score never leaves
    * the scan stage.
    *
    * greatest(V, 1): a DEGENERATE model (no document with >= 2 tokens)
    * has V = 0, and an un-floored V would score every bigram at a
    * constant -10^6 — below the documented minimum 0 ("most
    * expected"). With the floor the smoothing stays total and unseen
    * bigrams under an empty model read surprisal 0; any real model
    * (V >= 1) is numerically unchanged. */
  private[graft] def bigramModelTables(
      model: DataFrame, contentCol: String): DataFrame = {
    val mp = model
      .select(text.tokens(col(contentCol)).as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(expr(
        """zip_with(slice(__t, 1, size(__t) - 1), slice(__t, 2, size(__t) - 1),
          |  (a, b) -> named_struct('w1', a, 'w2', b))""".stripMargin)).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    // ONE tokenize+explode pass over the model slice (r20): the prefix
    // and vocab tables derive EXACTLY from the pair-count table —
    // prefix_n(w1) = Σ_w2 pair_n(w1,w2) (every bigram occurrence lands
    // in exactly one (w1,w2) group) and distinct-w2-over-pairs is the
    // same set as distinct-w2-over-occurrences — so only the pair
    // aggregate ever reads the corpus slice. The table is materialized
    // once (broadcast-bounded by the operator contract: the model is
    // the small trusted slice whose arrays land in one row) because its
    // three consumers sit under separate broadcast subqueries where the
    // adaptive stage cache does not dedup — the pre-r20 form tokenized
    // the model THREE times per query (q216/q220/q221 each).
    val pairCnt = mp.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    val pairArr = pairCnt
      .agg(sort_array(collect_list(struct(
        concat_ws(" ", col("w1"), col("w2")).as("k"), col("__n").as("n"))))
        .as("__pa"))
    val prefixArr = pairCnt.groupBy(col("w1"))
      .agg(sum(col("__n")).as("__pn"))
      .agg(sort_array(collect_list(struct(
        col("w1").as("k"), col("__pn").as("n")))).as("__fa"))
    val vocab = pairCnt.agg(
      greatest(countDistinct(col("w2")), lit(1L)).as("__v"))
    pairArr.crossJoin(prefixArr).crossJoin(vocab)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): split
    * a scored corpus into head / middle / tail by rank terciles of the
    * perplexity score — the paper's "keep the head, audit the middle,
    * drop the tail" curation split.
    *
    * Exact and distributed: rather than a global `ntile(3)` (a
    * single-partition window over every DOCUMENT — the anti-pattern at
    * 100 TB), the tercile cut VALUES are derived from the score
    * HISTOGRAM: group by integer score value, cumulative-sum the
    * counts with one ordered window over the histogram (histogram-sized
    * state — distinct integer scores, not documents), pick
    * cut1 = min v with 3·cum(v) ≥ n and cut2 = min v with
    * 3·cum(v) ≥ 2n (integer forms of cum ≥ ⌈n/3⌉ / ⌈2n/3⌉), then
    * broadcast the one-row cut table and assign buckets with a
    * stateless comparison — exactly how a production CCNet deployment
    * applies precomputed thresholds to each shard. Ties at a cut value
    * all land in the lower bucket (the value-threshold contract), so
    * bucket sizes are ≥ the tercile rank only up to ties —
    * deterministic, partitioning-independent, and mirrored verbatim by
    * the oracle.
    *
    * Output: (idCol, scoreCol, bucket ∈ head|middle|tail), one row per
    * scored document. */
  def perplexityBuckets(
      scored: DataFrame, idCol: String, scoreCol: String): DataFrame = {
    val v = col(scoreCol)
    // Cumulative counts over the score histogram by DISTRIBUTED
    // partition-offset cumsum (GlobalRank.withGlobalCumSum) — the old
    // sum().over(Window.orderBy(__v)) plus max().over(partitionBy())
    // pair funneled the whole histogram (distinct integer scores, which
    // can approach corpus scale) through one partition twice. The total
    // rides a broadcast one-row aggregate that reuses the histogram's
    // groupBy exchange.
    val hist = scored.groupBy(v.as("__v")).agg(count(lit(1)).as("__c"))
    val cum = graft.operators.GlobalRank.withGlobalCumSum(
      hist, Seq(col("__v")), col("__c"), "__cum")
    val nDf = hist.agg(sum(col("__c")).as("__n"))
    val cuts = cum.crossJoin(broadcast(nDf)).agg(
      min(when(col("__cum") * 3 >= col("__n"), col("__v"))).as("__cut1"),
      min(when(col("__cum") * 3 >= col("__n") * 2, col("__v")))
        .as("__cut2"))
    scored.crossJoin(broadcast(cuts))
      .select(col(idCol), v,
        when(v <= col("__cut1"), lit("head"))
          .when(v <= col("__cut2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Character-level encoding quality: replacement characters (U+FFFD,
    * the mojibake fingerprint), C0 control characters, and the
    * ASCII-printable ratio in basis points. Count-by-removal
    * (length difference after regexp_replace) works identically in
    * Java regex and RE2; a narrow codegen'd projection, zero shuffles.
    */
  def charQuality(df: DataFrame, idCol: String, contentCol: String): DataFrame = {
    val c = col(contentCol)
    def removedCount(pattern: String): Column =
      (length(c) - length(regexp_replace(c, pattern, ""))).cast(LongType)
    df.select(
        col(idCol),
        removedCount("�").as("n_replacement"),
        removedCount("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]").as("n_control"),
        removedCount("[^\\x20-\\x7E\\t\\n\\r]").as("n_nonascii"),
        length(c).cast(LongType).as("n_chars"))
      // nullif: an empty document reports NULL instead of an ANSI
      // divide-by-zero crash.
      .withColumn("nonascii_bp",
        expr("n_nonascii * 10000 div nullif(n_chars, 0)").cast(LongType))
  }
}
