package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.text
import graft.operators.Dedup

/** Oracle-checked queries for the text-analysis / dedup operator set
  * over the `documents` table. All hashing is md5-based so DuckDB
  * reproduces it exactly.
  */
object TextQueries {

  import CoreQueries.t
  import DuckSql.{dHash32, dHash32u, dShingles, dTok}

  /** DuckDB fragment: i-th minhash permutation of base-hash expr `h` —
    * the same (a*h+b) mod p constants as text.minhashPerm. */
  private def dPerm(i: Int, h: String): String = {
    val (a, b) = text.minhashPerm(i)
    s"($h * $a + $b) % ${text.minhashPrime}"
  }

  import CoreQueries.spread

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Exact dedup via content hash (hash-groupBy; SURVEY extension).
    "q30_doc_dedup_exact" -> ((s, dir) => {
      Dedup.exactByHash(t(s, dir, "documents"), "doc_id", "text")
    }),

    // Normalized exact dedup: lowercase / strip punctuation / collapse
    // whitespace before hashing — catches trivially-reformatted copies.
    "q70_normalized_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Dedup.normalizedHash(col("text")).as("norm_hash"))
        .groupBy(col("norm_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    // Token counting: whitespace + BPE-ish regex pre-tokenizer.
    "q31_token_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        text.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        text.bpeTokenCount(col("text")).cast(LongType).as("n_bpe_tokens"),
        length(col("text")).cast(LongType).as("n_chars"))
    }),

    // Quality scoring: integer counts + integer-arithmetic label rules
    // (no float thresholds -> no cross-engine rounding ambiguity).
    "q32_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        text.tokenCount(col("text")).cast(LongType).as("n_words"),
        text.stopwordCount(col("text")).cast(LongType).as("n_stopwords"),
        text.punctCount(col("text")).cast(LongType).as("n_punct"))
        .withColumn("quality_label",
          when(col("n_words") < 5, "too_short")
            .when(col("n_stopwords") * 100 > col("n_words") * 60, "boilerplate")
            .when(col("n_punct") * 10 > col("n_chars"), "noisy")
            .otherwise("ok"))
    }),

    // Language-ID heuristic: per-language marker-stopword counts, argmax.
    "q33_langid" -> ((s, dir) => {
      spread(t(s, dir, "documents"))
        .select(text.langId(col("text")).as("predicted_lang"))
        .groupBy(col("predicted_lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Document fingerprinting: min-md5 over word trigram shingles. The
    // token array is bound to a column first (r20): the inlined
    // fingerprint(text) form re-split the document once per shingle
    // inside the transform lambda — O(tokens^2) splits per row.
    "q34_fingerprint" -> ((s, dir) => {
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), text.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          text.fingerprintOf(col("t"), 3).as("fingerprint"))
    }),

    // MinHash signatures (k=8, word unigrams) as explicit columns.
    "q35_minhash_sig" -> ((s, dir) => {
      val sig = text.minhash(col("text"), 8, 1)
      spread(t(s, dir, "documents")).select(
        col("doc_id") +:
          (0 until 8).map(i => element_at(sig, i + 1).as(s"mh$i")): _*)
    }),

    // MinHash+LSH near-duplicate detection with exact-Jaccard verify,
    // on a bounded id range (high-overlap synthetic vocab would make the
    // full table quadratic at sf0.1 — the operator itself prunes by
    // band, but verification pairs here are dense by construction).
    "q36_minhash_dedup" -> ((s, dir) => {
      Dedup.minhashLsh(
        t(s, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", k = 8, bands = 4, shingleN = 1, threshold = 0.93)
        .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"))
    }),

    // LSH candidate-volume probe pinned cross-engine: raw band-join
    // candidates (before pair dedup), distinct pairs, and the largest
    // band bucket, against an independent DuckDB mirror of the SAME
    // banding (q36's minhash CTE chain). The probe is the "is my
    // corpus about to go quadratic in a band bucket" adjudicator —
    // this oracle proves its counts are the operator's counts.
    "q208_lsh_profile" -> ((s, dir) => {
      Dedup.lshCandidateProfile(
        t(s, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", k = 8, bands = 4, shingleN = 1)
    }),

    // Containment co-occurrence-mass probe pinned cross-engine:
    // Σ df(w)² (the containment join's exact output row count and
    // budget currency), the vocabulary size, and the df head, mirrored
    // by a direct DuckDB aggregate over the distinct (doc, token)
    // index. Word-level on purpose — the degenerate regime the
    // coMassBudget guard exists for (max_df here ≈ corpus docs).
    "q209_containment_mass" -> ((s, dir) =>
      Dedup.containmentCoMass(
        t(s, dir, "documents"), "doc_id", "text", shingle = 1)),

    // Direct n-gram (bigram) Jaccard pairs over a bounded id set.
    "q37_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(
        t(s, dir, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", n = 2, threshold = 0.05)
    }),

    // 60-bit SimHash per document.
    "q38_simhash" -> ((s, dir) => {
      Dedup.simhash(spread(t(s, dir, "documents")), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
    }),

    // SimHash near-dup pairs via 15-bit chunk buckets + Hamming verify.
    "q39_simhash_dup" -> ((s, dir) => {
      Dedup.simhashDup(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 16)
    }),

    // SimHash near-dup pairs via MULTI-BLOCK banding (the scale path:
    // C(6,3) tables keyed on 30 concatenated bits, so random-collision
    // candidates stay ~linear where q39's fixed 15-bit chunks go
    // quadratic past ~10^5 docs). Recall-COMPLETE for hamming <= 3 by
    // pigeonhole, which the oracle checks the strong way: an all-pairs
    // DuckDB cross join — any banding bug that drops a candidate pair
    // hash-mismatches.
    "q199_simhash_blocked" -> ((s, dir) => {
      Dedup.simhashDupBlocked(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
    }),

    // Corpus vocabulary with document frequency — the vocab-building /
    // IDF shape: explode distinct tokens per doc, aggregate df.
    "q49_term_df" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(text.tokens(col("text")))).as("term"))
        .groupBy(col("term"))
        // (doc_id, term) pairs are already distinct after
        // array_distinct, so a plain count IS the document frequency —
        // no second distinct-aggregate exchange.
        .agg(count(lit(1)).as("doc_freq"))
        .filter(col("doc_freq") >= 2)
    }),

    // Corpus length profile: exact quantiles of document length.
    "q50_length_profile" -> ((s, dir) => {
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        expr("percentile(n_chars, 0.25)").as("p25"),
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.75)").as("p75"),
        max(col("n_chars")).as("max_chars"))
    }),

    // Composite text-curation pipeline: exact dedup -> quality gate ->
    // language ID -> per-(lang, quality) corpus stats. The end-to-end
    // shape a training-data curation job runs, as ONE lazy plan.
    "q51_text_pipeline" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
      val deduped = docs.withColumn("__h", md5(col("text")))
        .withColumn("__rn", org.apache.spark.sql.expressions.Window
          .partitionBy(col("__h")).orderBy(col("doc_id")) match {
          case w => row_number().over(w)
        })
        .filter(col("__rn") === 1)
      deduped
        .withColumn("n_words", text.tokenCount(col("text")).cast(LongType))
        .withColumn("n_stop", text.stopwordCount(col("text")).cast(LongType))
        .filter(col("n_words") >= 5 &&
          col("n_stop") * 100 <= col("n_words") * 60)
        .withColumn("predicted_lang", text.langId(col("text")))
        .groupBy(col("predicted_lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast(LongType).as("total_words"),
          sum(col("n_chars")).cast(LongType).as("total_chars"))
    }),

    // TF-rarity ranking: top-3 terms per doc by term frequency weighted
    // by inverse document frequency (integer-safe score: tf/df double
    // division, no transcendental functions -> engine-identical).
    // (No spread here: the token stream feeds BOTH the tf and df
    // branches, so the extra exchange runs twice while the per-doc
    // window + vocab join dominate — measured 1.12 s plain vs 1.58 s
    // spread at sf0.1.)
    "q56_tf_rarity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val terms = docs.select(col("doc_id"),
        explode(text.tokens(col("text"))).as("term"))
      val tf = terms.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val df_ = terms.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy((col("tf").cast("double") / col("df")).desc,
          col("term"))
      // No broadcast hint: a document-frequency table is vocabulary-
      // sized — billions of terms at 100 TB would OOM the driver. AQE
      // broadcasts it at runtime when it is actually small.
      tf.join(df_, "term")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast(LongType).as("rnk"),
          col("term"), col("tf"), col("df"))
    }),

    // Deterministic hash sampling — the reproducible, cluster-stable
    // sampling method for training-data pipelines (no RNG state).
    "q57_hash_sample" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(
          conv(substring(md5(col("text")), 1, 4), 16, 10)
            .cast(LongType) % 10 === 0)
        .agg(
          count(lit(1)).as("n_sampled"),
          sum(col("n_chars")).cast(LongType).as("sampled_chars"))
    }),

    // Group-wise argmax: longest document per label lang.
    "q58_argmax_doc" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      t(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("lang"), col("doc_id"), col("n_chars"))
    }),

    // Native bottom-k (KMV) sketch aggregate: per source, the 8 smallest
    // distinct 32-bit content hashes — a mergeable set sketch computed by
    // the custom TypedImperativeAggregate (partition-order independent).
    "q59_bottomk_sketch" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("source"),
          text.md5Hash32(col("text"), 0).as("h"))
        .groupBy(col("source"))
        .agg(graft.plans.BottomKAgg.bottomK(col("h"), 8).as("sketch_arr"))
        .select(col("source"),
          concat_ws(",", transform(col("sketch_arr"), x => x.cast("string")))
            .as("sketch"))
    }),

    // Char-n-gram language-ID variant: trigram-occurrence argmax via
    // replace-length counting. Single-pass argmax (array_max over
    // struct(score, -pos, lang) in text.langIdNgram) — each score is
    // computed exactly once per row regardless of projection collapse.
    "q61_langid_ngram" -> ((s, dir) => {
      spread(t(s, dir, "documents"))
        .select(text.langIdNgram(col("text")).as("predicted_lang"))
        .groupBy(col("predicted_lang"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // Near-dup cluster resolution: MinHash pairs -> connected components
    // -> cluster label (canonical = min doc_id) + size per cluster.
    "q60_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashLsh(
        t(s, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", k = 8, bands = 4, shingleN = 1, threshold = 0.93)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(pairs)
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
    }),

    // Multimodal plumbing: opaque binary column + deterministic
    // byte-level features (length, md5) — the decode step itself is
    // stubbed (see graft.multimodal).
    "q43_binary_features" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        length(col("text").cast("binary")).cast(LongType).as("byte_len"),
        md5(col("text")).as("content_md5"))
    }),

    // Edit-distance verification primitive: exact Levenshtein over a
    // bounded candidate set (the final arbiter a near-dup pipeline
    // applies AFTER hash-based candidate generation — integer DP,
    // engine-identical). Quadratic per pair, so only ever run on
    // already-bucketed candidates.
    "q92_edit_distance" -> ((s, dir) => {
      val base = t(s, dir, "documents").filter(col("doc_id") < 60)
        .select(col("doc_id"), substring(col("text"), 1, 80).as("head"))
      base.as("l").join(base.as("r"),
        col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("id_a"), col("r.doc_id").as("id_b"),
          levenshtein(col("l.head"), col("r.head")).cast(LongType)
            .as("edit_dist"))
        .filter(col("edit_dist") <= 50)
    }),

    // Null-preserving explode (explode_outer): documents keep a row
    // even when their filtered token list is empty — the "no matches
    // still counts" semantics a plain explode silently drops. Tokens
    // are filtered to a rare marker set so empties genuinely occur.
    "q96_explode_outer" -> ((s, dir) => {
      val rare = Seq("window", "merge", "batch")
      t(s, dir, "documents")
        .select(col("doc_id"),
          filter(array_distinct(text.tokens(col("text"))),
            tk => tk.isin(rare.map(lit(_)): _*)).as("hits"))
        .select(col("doc_id"), explode_outer(col("hits")).as("hit"))
        .groupBy(col("hit"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"))
    }),

    // Inverted index: per term, document frequency plus the 10 lowest
    // posting doc_ids. The window's row_number bounds every aggregation
    // buffer BEFORE collect_list (a term's full posting list never sits
    // in one buffer), and the groupBy reuses the window's partitioning
    // — one shuffle total.
    "q79_postings" -> ((s, dir) => {
      val terms = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(text.tokens(col("text")))).as("term"))
      val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
      val wAll = Window.partitionBy(col("term"))
      terms
        .withColumn("rn", row_number().over(w))
        .withColumn("df", count(lit(1)).over(wAll))
        .filter(col("rn") <= 10)
        .groupBy(col("term"))
        .agg(
          max(col("df")).cast(LongType).as("df"),
          concat_ws(",", transform(
            array_sort(collect_list(col("doc_id"))),
            x => x.cast("string"))).as("postings"))
    }),

    // Prefix-filtering set-similarity self-join (PPJoin family): exact
    // token-Jaccard >= 0.95 pairs with zero false negatives — candidates
    // only from rarest-token prefixes (2-3 tokens at this threshold),
    // verification integer-exact. The oracle computes ALL pairs sharing
    // any token and filters on the same integer Jaccard, so a hash match
    // PROVES the prefix filter lost nothing. Like q37/q39 this runs on a
    // bounded slice: the synthetic corpus is pathologically self-similar
    // (57% of ALL pairs exceed Jaccard 0.6, and its "rare" tokens are
    // common), which makes ANY exact similarity join quadratic on it —
    // prefix filtering pays off on real corpora, where the prefix
    // inverted lists are short.
    "q138_prefix_join" -> ((s, dir) =>
      Dedup.prefixFilterPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", thresholdBp = 9500)),

    // The SHINGLED PPJoin — the form that scales on THIS corpus (and
    // any near-dup corpus): set elements are 3-word shingles hashed to
    // longs, so the vocabulary grows with the corpus, per-shingle df
    // stays small, and the output is the planted near-dups instead of
    // the word-level soup (q138's comment: 57% of ALL word-level pairs
    // exceed 0.6). Full table, no slice — candidates are prefix-
    // bounded. The oracle is an ALL-PAIRS DuckDB mirror over STRING
    // shingles (no prefix filter, no hashing), so both a dropped
    // candidate (prefix/length-filter bug) and an xxhash64 collision
    // hash-mismatch. ScaleBench's ppjoin_prefix deep shape runs this
    // exact form at a 500k-doc corpus.
    "q202_ppjoin_shingled" -> ((s, dir) =>
      Dedup.prefixFilterPairs(
        t(s, dir, "documents"),
        "doc_id", "text", thresholdBp = 6000, shingle = 3)),

    // PPJoin CANDIDATE semantics pinned cross-engine: q138/q202 check
    // the RESULT (all-pairs oracles catch recall bugs), but a filter
    // that silently prunes too little still hash-matches them while
    // quietly going quadratic. This oracle re-implements the whole
    // candidate ladder — global df-order, prefix length, length
    // filter, the r15 POSITIONAL filter — in DuckDB SQL and compares
    // exact candidate counts, so the pruning itself is the checked
    // contract. Word-level (shingle=1): word tokens order identically
    // in both engines; hashed shingles would not (xxhash64 longs sort
    // differently than shingle strings, so prefix sets would differ).
    "q203_ppjoin_candidates" -> ((s, dir) =>
      Dedup.prefixFilterCandidateProfile(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", thresholdBp = 6000, shingle = 1)),

    // SHINGLED directed containment — the scale form of q163 (r15):
    // set elements are hashed 3-word shingles, so containment means
    // A's PHRASES live in B (the real quote/excerpt signal), the
    // shingle vocabulary grows with the corpus (short inverted lists
    // where word-level has none), and the verify intersection is the
    // zero-allocation sorted-long two-pointer. Full table, no slice.
    // Oracle: all-pairs STRING-shingle DuckDB mirror (no prefix
    // filter, no hashing) — a recall bug or xxhash64 collision
    // mismatches, same contract as q202's.
    "q204_containment_shingled" -> ((s, dir) =>
      Dedup.containmentPairs(
        t(s, dir, "documents"),
        "doc_id", "text", thresholdBp = 6000, shingle = 3)),

    // Directed containment: docs whose token set is >=95% inside
    // another doc (quotes/excerpts/concatenations — high containment,
    // low Jaccard). Asymmetric prefix-filter candidates, exact verify,
    // then ONE row per contained doc — the curation decision (count of
    // containers + the strongest, ties to the smallest id) rather than
    // the raw pair list, which on this repetitive synthetic corpus is
    // tens of thousands of pairs.
    "q163_containment" -> ((s, dir) =>
      Dedup.containmentPairs(
        t(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", thresholdBp = 9500)
        .groupBy(col("id_a").as("doc_id"))
        .agg(count(lit(1)).as("n_containers"),
          max(struct(col("containment_bp").as("bp"),
            (-col("id_b")).as("nid"))).as("m"))
        .select(col("doc_id"), col("n_containers"),
          col("m.bp").as("best_bp"), (-col("m.nid")).as("best_container"))),

    // Canonical-representative selection for duplicate clusters: after
    // connected components resolves near-dup PAIRS into clusters, keep
    // the best member — longest doc, ties to the smallest id — the
    // step that turns dedup detection into an actual curation decision
    // (drop n_members-1 docs per cluster, keep keep_id).
    "q164_canonical" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        k = 8, bands = 4, shingleN = 1, threshold = 0.93)
        .select(col("id_a"), col("id_b"))
      val labels = Dedup.connectedComponents(pairs)
      labels
        .join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("label"))
            .orderBy(desc("n_chars"), col("id"))))
        .withColumn("n_members", count(lit(1)).over(
          Window.partitionBy(col("label"))))
        .filter(col("rk") === 1)
        .select(col("label").as("cluster_id"), col("id").as("keep_id"),
          col("n_members"), col("n_chars").as("keep_chars"))
    }),

    // Vocabulary-growth (Heaps-law) profile over 3-gram shingles: for
    // each corpus prefix bound n, the distinct-shingle vocabulary and
    // total shingle volume. The scale trick: vocab(n) = count of
    // shingles whose FIRST occurrence is below n — one groupBy(min)
    // over the shingle stream plus a 5-row conditional rollup, instead
    // of 5 separate count-distinct passes over growing prefixes.
    "q172_vocab_growth" -> ((s, dir) => {
      val bounds = Seq(100, 200, 300, 400, 500)
      val docs = spread(t(s, dir, "documents").select(col("doc_id"), col("text")))
      // The token array is bound to a column BEFORE the explode
      // (shinglesOf scaladoc): inside a Generate there is no
      // common-subexpression elimination, so the pre-r20 inlined
      // shingles(text, 3) re-split the WHOLE document once per shingle
      // — O(tokens^2) splits per doc, measured as ~38 s task CPU and
      // 18 s GC at sf0.1 vs ~1 s for the bound form.
      val firstSeen = docs
        .select(col("doc_id"), text.tokens(col("text")).as("t"))
        .select(col("doc_id"),
          explode(array_distinct(text.shinglesOf(col("t"), 3))).as("sv"))
        .groupBy(col("sv")).agg(min(col("doc_id")).as("fd"))
      // vocab(n) = |{sv : fd < n}| for the five bounds: five conditional
      // counts in ONE pass over the vocabulary-sized table — the
      // pre-r20 explode(ns) multiplied that table x5 ahead of a
      // groupBy(n) computing exactly these counts (guide §2.3,
      // aggregate before you shuffle). Same for the totals branch over
      // the corpus. Both aggregates produce one row; the 5-row output
      // is rebuilt by a constant-width struct explode at the end.
      val vocab5 = firstSeen.agg(
        count(when(col("fd") < bounds.head, 1)).as(s"v${bounds.head}"),
        bounds.tail.map(n =>
          count(when(col("fd") < n, 1)).as(s"v$n")): _*)
      // size(shingles(text, 3)) == max(1, tokens - 2) by the shingle
      // definition (len < n -> one joined shingle, else len - n + 1):
      // the totals branch needs only the COUNT, so it never builds the
      // shingle array at all — the corpus is shingled once (vocab
      // branch), tokenized-and-counted once (this branch). The isNotNull
      // gate preserves the identity for null text too (greatest SKIPS
      // nulls, so ungated it would turn a null doc's NULL into 1).
      val totals5 = docs.select(col("doc_id"),
        when(col("text").isNotNull,
          greatest(lit(1L),
            (text.tokenCount(col("text")) - lit(2)).cast(LongType))).as("c"))
        .agg(
          sum(when(col("doc_id") < bounds.head, col("c")))
            .as(s"t${bounds.head}"),
          bounds.tail.map(n =>
            sum(when(col("doc_id") < n, col("c"))).as(s"t$n")): _*)
      vocab5.crossJoin(totals5)
        .select(explode(array(bounds.map(n =>
          struct(lit(n.toLong).as("n_docs_bound"),
            col(s"v$n").as("vocab"),
            col(s"t$n").as("total_shingles"))): _*)).as("r"))
        .select(col("r.n_docs_bound").as("n_docs_bound"),
          col("r.vocab").as("vocab"),
          col("r.total_shingles").as("total_shingles"))
    }),

    // Boolean multi-term retrieval (conjunctive AND): docs containing
    // ALL query terms, scored by summed term frequency. The postings
    // shape at scale: the term filter cuts the exploded token stream to
    // query-term postings BEFORE any shuffle, the per-(doc, term) tf
    // aggregate is map-side combined, and the AND is a count of
    // distinct matched terms == |query| — no full-text second pass, no
    // join per term.
    "q168_bool_retrieval" -> ((s, dir) => {
      val qterms = Seq("dup", "vector", "key")
      t(s, dir, "documents")
        .select(col("doc_id"), explode(text.tokens(col("text"))).as("term"))
        .filter(col("term").isin(qterms: _*))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_matched"), sum(col("tf")).as("total_tf"))
        .filter(col("n_matched") === qterms.size)
        .select(col("doc_id"), col("total_tf"))
    }),

    // LSH recall gate — the dedup counterpart of q105's ANN gate: on a
    // bounded slice where exact all-pairs ground truth is computable,
    // measure what fraction of true >=0.93-Jaccard pairs the banded
    // MinHash probe actually surfaces (precision is 10000 by
    // construction — candidates are exact-verified). This is the gate
    // that licenses trusting the LSH path at corpus scale, where
    // ground truth is unaffordable.
    "q177_lsh_recall" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("doc_id") < 300)
      val base = docs.select(col("doc_id").as("id"),
        array_distinct(text.shingleHashes(col("text"), 1)).as("sh"))
      val truth = base.as("a").join(base.as("b"),
        col("a.id") < col("b.id"))
        .filter(
          size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
            size(array_union(col("a.sh"), col("b.sh"))) >= 0.93)
        .select(col("a.id"), col("b.id"))
      val lsh = Dedup.minhashLsh(docs, "doc_id", "text",
        k = 8, bands = 4, shingleN = 1, threshold = 0.93)
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
        .withColumn("recall_bp", expr("(n_lsh * 10000) div n_true"))
    }),

    // Sorted-neighborhood blocking: linear candidate generation for
    // shared-prefix duplicate families — one shuffle on the block
    // prefix, lead()-window comparisons, integer-bp exact Jaccard.
    "q167_sorted_neighborhood" -> ((s, dir) =>
      Dedup.sortedNeighborhoodPairs(
        t(s, dir, "documents"), "doc_id", "text",
        blockPrefixLen = 8, windowSize = 3, thresholdBp = 5000)),

    // Same cluster resolution as q60, but with the driver union-find
    // fast path DISABLED (driverEdgeThreshold = 0) so the oracle pins
    // the distributed iterative min-label propagation — the path that
    // actually runs on genuinely huge dup graphs — not just the
    // driver-side shortcut. Identical answer, different executor.
    "q165_cc_distributed" -> ((s, dir) => {
      val pairs = Dedup.minhashLsh(
        t(s, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", k = 8, bands = 4, shingleN = 1, threshold = 0.93)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(pairs, driverEdgeThreshold = 0L)
        .groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
    }),

    // Incremental corpus dedup: classify a NEW batch (doc_id in
    // [300, 500)) against the existing corpus (doc_id < 300) — exact
    // content-hash match, MinHash-LSH near-dup (band-bucket probe +
    // exact Jaccard verify), or unique. The growing-corpus ingest
    // shape: per-batch cost scales with the batch, never corpus².
    "q160_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.dedupAgainst(
        corpus = docs.filter(col("doc_id") < 300),
        incoming = docs.filter(col("doc_id") >= 300 && col("doc_id") < 500),
        "doc_id", "text", k = 8, bands = 4, shingleN = 1, threshold = 0.9)
        .withColumnRenamed("id", "doc_id")
    }),

    // WAV round-trip proof: fabricate REAL RIFF/WAVE containers in-plan
    // (hex-assembled little-endian header bytes, parameters derived from
    // doc_id), push them through the byte-level header parser
    // (Multimodal.audioInfo), and match an oracle that computes the same
    // fields ARITHMETICALLY — if the parser misread any offset or
    // endianness, every row would differ. The binary column never
    // shuffles wider than one header.
    "q148_audio_meta" -> ((s, dir) => {
      def le16(v: Column): Column = {
        val h = lpad(hex(v), 4, "0")
        concat(substring(h, 3, 2), substring(h, 1, 2))
      }
      def le32(v: Column): Column = {
        val h = lpad(hex(v), 8, "0")
        concat(substring(h, 7, 2), substring(h, 5, 2),
          substring(h, 3, 2), substring(h, 1, 2))
      }
      val params = t(s, dir, "documents").select(
        col("doc_id"),
        (lit(1) + col("doc_id") % 2).cast("int").as("ch"),
        (lit(8000) * (lit(1) + col("doc_id") % 3)).cast("int").as("rate"),
        (lit(8) * (lit(1) + col("doc_id") % 2)).cast("int").as("bits"),
        // long end-to-end: an int cast would wrap (non-ANSI) past 2^25
        // chars; the RIFF fields below take only the low 32 bits, which
        // is exactly what a real 32-bit RIFF size field can carry.
        (col("n_chars") * 64).cast("bigint").as("data_bytes"))
      def lo32(c: Column): Column = pmod(c, lit(4294967296L))
      val wav = params.select(col("doc_id"), unhex(concat(
        lit("52494646"), le32(lo32(col("data_bytes") + 36)), lit("57415645"),
        lit("666d7420"), le32(lit(16)), le16(lit(1)), le16(col("ch")),
        le32(col("rate")),
        le32(col("rate") * col("ch") * (col("bits") / 8).cast("int")),
        le16(col("ch") * (col("bits") / 8).cast("int")),
        le16(col("bits")),
        lit("64617461"), le32(lo32(col("data_bytes"))))).as("payload"))
      graft.multimodal.Multimodal.audioInfo(
        graft.multimodal.Multimodal.asMediaTable(
          wav, "doc_id", "payload", kind = "audio"))
        .toDF()
        .withColumnRenamed("media_id", "doc_id")
    }),

    // PPM round-trip + REAL pixel math: fabricate P6 images in-plan
    // (header + raster bytes, pixel i = (doc_id*3 + i) mod 256, odd
    // dimensions so the margin-drop path runs), box-filter downscale
    // by 2 (Multimodal.resizePpm — exact integer floor-means), then
    // re-parse the resized container (ppmInfo). The oracle computes
    // every output dimension and the full resized pixel SUM
    // arithmetically — any off-by-one in header parse, stride walk, or
    // block indexing shifts the sum.
    "q206_ppm_resize" -> ((s, dir) => {
      val dims = t(s, dir, "documents").select(
        col("doc_id"),
        (lit(7) + col("doc_id") % 5).cast("long").as("w"),
        (lit(5) + col("doc_id") % 4).cast("long").as("h"))
      val header = concat(lit("P6\n"), col("w").cast("string"), lit(" "),
        col("h").cast("string"), lit("\n255\n"))
      val pixHex = concat_ws("", transform(
        sequence(lit(0L), col("w") * col("h") * 3L - 1L),
        i => lpad(hex(pmod(col("doc_id") * 3L + i, lit(256L))), 2, "0")))
      val img = dims.select(col("doc_id"),
        concat(encode(header, "US-ASCII"), unhex(pixHex)).as("payload"))
      graft.multimodal.Multimodal.ppmInfo(
        graft.multimodal.Multimodal.resizePpm(
          graft.multimodal.Multimodal.asMediaTable(img, "doc_id", "payload"),
          factor = 2))
        .toDF()
        .withColumnRenamed("media_id", "doc_id")
    }),

    // PPM-stream frame sampling: fabricate concatenated P6 frames (the
    // image2pipe wire format; 3-7 frames per doc, frame f pixel i =
    // (doc_id + f*7 + i) mod 256), keep every 2nd frame
    // (Multimodal.sampleFrames' real header-walk — each frame's offset
    // advances by its own parsed raster size). Oracle mirrors the kept
    // frame set and each frame's pixel sum arithmetically.
    "q207_frame_sample" -> ((s, dir) => {
      val dims = t(s, dir, "documents").select(
        col("doc_id"),
        (lit(3) + col("doc_id") % 5).cast("long").as("nf"),
        (lit(3) + col("doc_id") % 3).cast("long").as("w"),
        (lit(2) + col("doc_id") % 2).cast("long").as("h"))
      val headerHex = hex(encode(concat(lit("P6\n"),
        col("w").cast("string"), lit(" "),
        col("h").cast("string"), lit("\n255\n")), "US-ASCII"))
      val framesHex = concat_ws("", transform(
        sequence(lit(0L), col("nf") - 1L),
        f => concat(headerHex, concat_ws("", transform(
          sequence(lit(0L), col("w") * col("h") * 3L - 1L),
          i => lpad(hex(pmod(col("doc_id") + f * 7L + i, lit(256L))),
            2, "0"))))))
      val vid = dims.select(col("doc_id"), unhex(framesHex).as("payload"))
      graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.asMediaTable(
          vid, "doc_id", "payload", kind = "video"),
        stride = 2)
        .withColumnRenamed("media_id", "doc_id")
    }))

  /** Shared CTE chain producing MinHash LSH candidate pairs with exact
    * Jaccard (over hashed-shingle sets) for doc_id < 300 (q36, q60). */
  private def minhashPairCtes: String =
    s"""base AS (
       |  SELECT doc_id, list_distinct(hs) AS shd,
       |    [${(0 until 8).map(i =>
      s"list_aggregate(list_transform(hs, h -> ${dPerm(i, "h")}), 'min')")
      .mkString(", ")}] AS sig
       |  FROM (SELECT doc_id,
       |          list_transform(sh, s -> ${dHash32u("s")}) AS hs
       |        FROM (SELECT doc_id, ${dShingles(1)} AS sh
       |              FROM (SELECT doc_id, $dTok AS t FROM documents
       |                    WHERE doc_id < 300)))),
       |banded AS (
       |  SELECT doc_id, shd, sig, b,
       |    array_to_string(sig[b*2+1:b*2+2], '_') AS band_key
       |  FROM base, (SELECT unnest(generate_series(0, 3)) AS b)),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM banded l JOIN banded r
       |    ON l.b = r.b AND l.band_key = r.band_key AND l.doc_id < r.doc_id),
       |scored AS (
       |  SELECT c.id_a, c.id_b,
       |    len(list_filter(generate_series(1, 8),
       |        i -> a.sig[i] = b.sig[i])) / 8.0 AS est_jaccard,
       |    len(list_intersect(a.shd, b.shd)) * 1.0
       |      / len(list_distinct(list_concat(a.shd, b.shd))) AS jaccard
       |  FROM cand c
       |  JOIN base a ON a.doc_id = c.id_a
       |  JOIN base b ON b.doc_id = c.id_b)""".stripMargin

  private def langNgramCase: String = {
    def cnt(p: String): String = {
      val q = p.replace("'", "''")
      s"CAST((length(g) - length(replace(g, '$q', ''))) / ${p.length} AS INT)"
    }
    val scores = text.charTrigramProfiles.map { case (lang, profile) =>
      lang -> profile.map(cnt).mkString(" + ")
    }
    val defs = scores.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")
    val best = "greatest(" + scores.map("s_" + _._1).mkString(", ") + ")"
    val cases = scores.map { case (l, _) =>
      s"WHEN s_$l = best AND best > 0 THEN '$l'"
    }.mkString(" ")
    s"""SELECT CASE $cases ELSE 'und' END AS predicted_lang
       |FROM (SELECT *, $best AS best FROM (
       |  SELECT $defs FROM (SELECT lower(text) AS g FROM documents)))""".stripMargin
  }

  private def langCase: String = {
    val scores = text.langMarkers.map { case (lang, m) =>
      val set = m.map(w => s"'$w'").mkString(", ")
      lang -> s"len(list_filter($dTok, x -> x IN ($set)))"
    }
    val defs = scores.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")
    val best = "greatest(" + scores.map("s_" + _._1).mkString(", ") + ")"
    val cases = scores.map { case (l, _) =>
      s"WHEN s_$l = best AND best > 0 THEN '$l'"
    }.mkString(" ")
    s"""SELECT CASE $cases ELSE 'und' END AS predicted_lang
       |FROM (SELECT *, $best AS best FROM (SELECT $defs FROM documents))""".stripMargin
  }

  val oracle: Map[String, String] = Map(

    "q30_doc_dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "q70_normalized_dedup" ->
      """SELECT md5(regexp_replace(trim(regexp_replace(lower(text),
        |    '[.,;:!?''"()\-]', '', 'g')), '\s+', ' ', 'g')) AS norm_hash,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q31_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($dTok) AS BIGINT) AS n_tokens,
         |  CAST(len(regexp_extract_all(text,
         |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars
         |FROM documents""".stripMargin,

    "q32_quality" ->
      s"""SELECT doc_id, n_chars, n_words, n_stopwords, n_punct,
         |  CASE WHEN n_words < 5 THEN 'too_short'
         |       WHEN n_stopwords * 100 > n_words * 60 THEN 'boilerplate'
         |       WHEN n_punct * 10 > n_chars THEN 'noisy'
         |       ELSE 'ok' END AS quality_label
         |FROM (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len($dTok) AS BIGINT) AS n_words,
         |  CAST(len(list_filter($dTok, x -> x IN (${text.stopwords.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS n_stopwords,
         |  CAST(length(text) - length(regexp_replace(text,
         |    '[.,;:!?''"()\\-]', '', 'g')) AS BIGINT) AS n_punct
         |FROM documents)""".stripMargin,

    "q33_langid" ->
      s"""SELECT predicted_lang, count(*) AS n_docs
         |FROM ($langCase)
         |GROUP BY predicted_lang""".stripMargin,

    "q34_fingerprint" ->
      s"""SELECT doc_id,
         |  list_aggregate(list_transform(${dShingles(3)}, s -> md5(s)), 'min')
         |    AS fingerprint
         |FROM (SELECT doc_id, $dTok AS t FROM documents)""".stripMargin,

    "q35_minhash_sig" ->
      s"""SELECT doc_id,
         |${(0 until 8).map(i =>
        s"  list_aggregate(list_transform(hs, h -> ${dPerm(i, "h")}), 'min') AS mh$i")
        .mkString(",\n")}
         |FROM (SELECT doc_id, list_transform(sh, s -> ${dHash32u("s")}) AS hs
         |      FROM (SELECT doc_id, ${dShingles(1)} AS sh
         |            FROM (SELECT doc_id, $dTok AS t FROM documents)))""".stripMargin,

    "q61_langid_ngram" ->
      s"""SELECT predicted_lang, count(*) AS n_docs
         |FROM ($langNgramCase)
         |GROUP BY predicted_lang""".stripMargin,

    "q208_lsh_profile" ->
      s"""WITH $minhashPairCtes,
         |raw AS (
         |  SELECT count(*) AS raw_candidates
         |  FROM banded l JOIN banded r
         |    ON l.b = r.b AND l.band_key = r.band_key
         |    AND l.doc_id < r.doc_id),
         |dp AS (SELECT count(*) AS distinct_pairs FROM cand),
         |mb AS (SELECT max(c) AS max_bucket FROM (
         |  SELECT count(*) AS c FROM banded GROUP BY b, band_key)),
         |nd AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id < 300)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(8 AS INT) AS k,
         |  CAST(4 AS INT) AS bands, CAST(1 AS INT) AS shingle_n,
         |  CAST(raw_candidates AS BIGINT) AS raw_candidates,
         |  CAST(distinct_pairs AS BIGINT) AS distinct_pairs,
         |  CAST(max_bucket AS BIGINT) AS max_bucket
         |FROM raw, dp, mb, nd""".stripMargin,

    "q209_containment_mass" ->
      s"""WITH ix AS (
         |  SELECT doc_id, unnest(list_distinct($dTok)) AS tok
         |  FROM documents),
         |dfreq AS (SELECT tok, count(*) AS df FROM ix GROUP BY tok),
         |agg AS (SELECT count(*) AS n_terms, max(df) AS max_df,
         |               sum(df * df) AS co_mass FROM dfreq),
         |nd AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(1 AS INT) AS shingle,
         |  CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(max_df AS BIGINT) AS max_df,
         |  CAST(co_mass AS BIGINT) AS co_mass
         |FROM agg, nd""".stripMargin,

    "q36_minhash_dedup" ->
      s"""WITH $minhashPairCtes
         |SELECT id_a, id_b, est_jaccard, jaccard FROM scored
         |WHERE jaccard >= 0.93""".stripMargin,

    "q60_dup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.93),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT cluster_id, count(*) AS n_members FROM (
         |  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |GROUP BY cluster_id""".stripMargin,

    "q172_vocab_growth" ->
      s"""WITH toks AS (SELECT doc_id, $dTok AS t FROM documents),
         |sh AS (SELECT doc_id, unnest(list_distinct(${dShingles(3)})) AS sv
         |       FROM toks),
         |fs AS (SELECT sv, min(doc_id) AS fd FROM sh GROUP BY sv),
         |ns AS (SELECT unnest([100, 200, 300, 400, 500]) AS n),
         |v AS (SELECT n, count(CASE WHEN fd < n THEN 1 END) AS vocab
         |      FROM fs, ns GROUP BY n),
         |pd AS (SELECT doc_id, CAST(len(${dShingles(3)}) AS BIGINT) AS c
         |       FROM toks),
         |tt AS (SELECT n, sum(CASE WHEN doc_id < n THEN c END) AS total
         |       FROM pd, ns GROUP BY n)
         |SELECT CAST(v.n AS BIGINT) AS n_docs_bound,
         |  CAST(v.vocab AS BIGINT) AS vocab,
         |  CAST(tt.total AS BIGINT) AS total_shingles
         |FROM v JOIN tt ON v.n = tt.n""".stripMargin,

    "q168_bool_retrieval" ->
      s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($dTok) AS term FROM documents)
         |  WHERE term IN ('dup', 'vector', 'key')
         |  GROUP BY doc_id, term)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total_tf
         |FROM tf GROUP BY doc_id HAVING count(*) = 3""".stripMargin,

    "q177_lsh_recall" ->
      s"""WITH $minhashPairCtes,
         |lsh AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.93),
         |truth AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM base a JOIN base b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.shd, b.shd)) * 1.0
         |      / len(list_distinct(list_concat(a.shd, b.shd))) >= 0.93)
         |SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
         |  CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
         |  CAST(((SELECT count(*) FROM lsh) * 10000)
         |    // (SELECT count(*) FROM truth) AS BIGINT) AS recall_bp""".stripMargin,

    "q167_sorted_neighborhood" ->
      s"""WITH base AS (
         |  SELECT doc_id AS id,
         |    list_distinct($dTok) AS tok,
         |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 64) AS skey,
         |    substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'), 1, 8) AS block
         |  FROM documents),
         |led AS (
         |  SELECT id, tok,
         |    lead(id, 1) OVER w AS id1, lead(tok, 1) OVER w AS tok1,
         |    lead(id, 2) OVER w AS id2, lead(tok, 2) OVER w AS tok2
         |  FROM base WINDOW w AS (PARTITION BY block ORDER BY skey, id)),
         |pairs AS (
         |  SELECT id, tok, id1 AS nid, tok1 AS ntok FROM led WHERE id1 IS NOT NULL
         |  UNION ALL
         |  SELECT id, tok, id2, tok2 FROM led WHERE id2 IS NOT NULL),
         |scored AS (
         |  SELECT least(id, nid) AS id_a, greatest(id, nid) AS id_b,
         |    CAST(len(list_intersect(tok, ntok)) AS BIGINT) AS inter,
         |    CAST(len(list_distinct(list_concat(tok, ntok))) AS BIGINT) AS uni
         |  FROM pairs)
         |SELECT id_a, id_b, (inter * 10000) // uni AS jaccard_bp
         |FROM scored WHERE inter * 10000 >= 5000 * uni""".stripMargin,

    // Same oracle as q60 — the Spark side differs only in which
    // connected-components executor runs (distributed label propagation
    // instead of driver union-find); the answer must be identical.
    "q165_cc_distributed" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.93),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT cluster_id, count(*) AS n_members FROM (
         |  SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         |GROUP BY cluster_id""".stripMargin,

    "q37_ngram_jaccard" ->
      s"""WITH base AS (
         |  SELECT doc_id, list_distinct(${dShingles(2)}) AS shd
         |  FROM (SELECT doc_id, $dTok AS t FROM documents WHERE doc_id < 50))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_intersect(a.shd, b.shd)) * 1.0
         |    / len(list_distinct(list_concat(a.shd, b.shd))) AS jaccard
         |FROM base a, base b
         |WHERE a.doc_id < b.doc_id
         |  AND len(list_intersect(a.shd, b.shd)) * 1.0
         |    / len(list_distinct(list_concat(a.shd, b.shd))) >= 0.05""".stripMargin,

    "q38_simhash" ->
      s"""WITH h AS (
         |  SELECT doc_id, ('0x' || substr(md5(tokval), 1, 15))::BIGINT AS hv
         |  FROM (SELECT doc_id, unnest($dTok) AS tokval FROM documents)),
         |bitbal AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS bal
         |  FROM h, (SELECT unnest(generate_series(0, 59)) AS b)
         |  GROUP BY doc_id, b)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN bal > 0 THEN (1::BIGINT << b) ELSE 0 END)
         |    AS BIGINT) AS simhash
         |FROM bitbal GROUP BY doc_id""".stripMargin,

    "q39_simhash_dup" ->
      s"""WITH h AS (
         |  SELECT doc_id, ('0x' || substr(md5(tokval), 1, 15))::BIGINT AS hv
         |  FROM (SELECT doc_id, unnest($dTok) AS tokval FROM documents)),
         |bitbal AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS bal
         |  FROM h, (SELECT unnest(generate_series(0, 59)) AS b)
         |  GROUP BY doc_id, b),
         |sh AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN bal > 0 THEN (1::BIGINT << b) ELSE 0 END)
         |      AS BIGINT) AS simhash
         |  FROM bitbal GROUP BY doc_id),
         |chunked AS (
         |  SELECT doc_id, simhash, c,
         |    (simhash >> (c * 15)) & 32767 AS chunk_val
         |  FROM sh, (SELECT unnest(generate_series(0, 3)) AS c)),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         |    l.simhash AS h_a, r.simhash AS h_b
         |  FROM chunked l JOIN chunked r
         |    ON l.c = r.c AND l.chunk_val = r.chunk_val
         |    AND l.doc_id < r.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(h_a, h_b)) <= 16""".stripMargin,

    // Deliberately an ALL-PAIRS mirror, not a banding mirror: the
    // blocked construction promises complete recall at hamming <= 3,
    // so the oracle enumerates every pair — a dropped candidate is a
    // hash mismatch, not a silently-agreeing blind spot.
    "q199_simhash_blocked" ->
      s"""WITH h AS (
         |  SELECT doc_id, ('0x' || substr(md5(tokval), 1, 15))::BIGINT AS hv
         |  FROM (SELECT doc_id, unnest($dTok) AS tokval FROM documents)),
         |bitbal AS (
         |  SELECT doc_id, b,
         |    sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS bal
         |  FROM h, (SELECT unnest(generate_series(0, 59)) AS b)
         |  GROUP BY doc_id, b),
         |sh AS (
         |  SELECT doc_id,
         |    CAST(sum(CASE WHEN bal > 0 THEN (1::BIGINT << b) ELSE 0 END)
         |      AS BIGINT) AS simhash
         |  FROM bitbal GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    "q49_term_df" ->
      s"""SELECT term, count(DISTINCT doc_id) AS doc_freq
         |FROM (SELECT doc_id, unnest(list_distinct($dTok)) AS term
         |      FROM documents)
         |GROUP BY term HAVING count(DISTINCT doc_id) >= 2""".stripMargin,

    "q50_length_profile" ->
      """SELECT count(*) AS n_docs,
        |  min(n_chars) AS min_chars,
        |  quantile_cont(n_chars, 0.25) AS p25,
        |  quantile_cont(n_chars, 0.5) AS p50,
        |  quantile_cont(n_chars, 0.75) AS p75,
        |  max(n_chars) AS max_chars
        |FROM documents""".stripMargin,

    "q51_text_pipeline" ->
      s"""WITH deduped AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY md5(text)
         |                                 ORDER BY doc_id) AS rn
         |    FROM documents) WHERE rn = 1),
         |gated AS (
         |  SELECT *,
         |    CAST(len($dTok) AS BIGINT) AS n_words,
         |    CAST(len(list_filter($dTok, x -> x IN (${text.stopwords.map(w => s"'$w'").mkString(", ")}))) AS BIGINT) AS n_stop
         |  FROM deduped),
         |kept AS (
         |  SELECT * FROM gated
         |  WHERE n_words >= 5 AND n_stop * 100 <= n_words * 60),
         |langed AS (
         |  SELECT CASE ${text.langMarkers.map { case (l, m) =>
        s"WHEN len(list_filter($dTok, x -> x IN (${m.map(w => s"'$w'").mkString(", ")}))) = " +
          "greatest(" + text.langMarkers.map { case (_, mm) =>
          s"len(list_filter($dTok, x -> x IN (${mm.map(w => s"'$w'").mkString(", ")})))"
        }.mkString(", ") + s") AND greatest(" + text.langMarkers.map { case (_, mm) =>
          s"len(list_filter($dTok, x -> x IN (${mm.map(w => s"'$w'").mkString(", ")})))"
        }.mkString(", ") + s") > 0 THEN '$l'"
      }.mkString(" ")} ELSE 'und' END AS predicted_lang,
         |    n_words, n_chars
         |  FROM kept)
         |SELECT predicted_lang, count(*) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS total_words,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM langed GROUP BY predicted_lang""".stripMargin,

    "q56_tf_rarity" ->
      s"""WITH terms AS (
         |  SELECT doc_id, unnest($dTok) AS term FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM terms
         |  GROUP BY doc_id, term),
         |df AS (
         |  SELECT term, count(*) AS df
         |  FROM (SELECT DISTINCT doc_id, term FROM terms) GROUP BY term),
         |ranked AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    row_number() OVER (PARTITION BY tf.doc_id
         |      ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS rnk
         |  FROM tf JOIN df USING (term))
         |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df
         |FROM ranked WHERE rnk <= 3""".stripMargin,

    "q57_hash_sample" ->
      """SELECT count(*) AS n_sampled,
        |  CAST(sum(n_chars) AS BIGINT) AS sampled_chars
        |FROM documents
        |WHERE ('0x' || substr(md5(text), 1, 4))::BIGINT % 10 = 0""".stripMargin,

    "q58_argmax_doc" ->
      """SELECT lang, doc_id, n_chars FROM (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,

    "q59_bottomk_sketch" ->
      s"""SELECT source,
         |  array_to_string(list_sort(list(DISTINCT h))[1:8], ',') AS sketch
         |FROM (SELECT source, ${dHash32(0, "text")} AS h FROM documents)
         |GROUP BY source""".stripMargin,

    "q43_binary_features" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |  md5(text) AS content_md5
        |FROM documents""".stripMargin,

    "q96_explode_outer" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |    list_filter(list_distinct($dTok),
         |      x -> x IN ('window', 'merge', 'batch')) AS hits
         |  FROM documents),
         |e AS (
         |  SELECT doc_id,
         |    unnest(CASE WHEN len(hits) = 0 THEN [NULL] ELSE hits END) AS hit
         |  FROM h)
         |SELECT hit, count(*) AS n_rows,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM e GROUP BY hit""".stripMargin,

    "q92_edit_distance" ->
      """WITH b AS (
        |  SELECT doc_id, substring(text, 1, 80) AS head
        |  FROM documents WHERE doc_id < 60)
        |SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |  CAST(levenshtein(l.head, r.head) AS BIGINT) AS edit_dist
        |FROM b l JOIN b r ON l.doc_id < r.doc_id
        |WHERE levenshtein(l.head, r.head) <= 50""".stripMargin,

    "q79_postings" ->
      s"""WITH terms AS (
         |  SELECT doc_id, unnest(list_distinct($dTok)) AS term
         |  FROM documents)
         |SELECT term, count(*) AS df,
         |  array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings
         |FROM terms GROUP BY term""".stripMargin,

    "q138_prefix_join" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_distinct($dTok) AS ts FROM documents
         |  WHERE doc_id < 500),
         |sz AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS sz FROM toks),
         |ex AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared,
         |  (n_shared * 10000) // (sa.sz + sb.sz - n_shared) AS jaccard_bp
         |FROM inter
         |JOIN sz sa ON id_a = sa.doc_id
         |JOIN sz sb ON id_b = sb.doc_id
         |WHERE (n_shared * 10000) // (sa.sz + sb.sz - n_shared) >= 9500"""
        .stripMargin,

    // All-pairs STRING-shingle mirror of the hashed prefix-filter join:
    // no banding, no prefix filter, no hashing in the oracle — a
    // recall bug or an xxhash64 collision on the Spark side mismatches.
    // Shingle construction mirrors text.shinglesOf exactly: docs under
    // 3 words produce one whole-text shingle.
    "q202_ppjoin_shingled" ->
      s"""WITH ws AS (
         |  SELECT doc_id, $dTok AS w FROM documents),
         |toks AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) < 3 THEN list_distinct([array_to_string(w, ' ')])
         |         ELSE list_distinct([array_to_string(w[i:i+2], ' ')
         |                             FOR i IN range(1, CAST(len(w) AS BIGINT) - 1)])
         |    END AS ts
         |  FROM ws),
         |sz AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS sz FROM toks),
         |ex AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared,
         |  (n_shared * 10000) // (sa.sz + sb.sz - n_shared) AS jaccard_bp
         |FROM inter
         |JOIN sz sa ON id_a = sa.doc_id
         |JOIN sz sb ON id_b = sb.doc_id
         |WHERE (n_shared * 10000) // (sa.sz + sb.sz - n_shared) >= 6000"""
        .stripMargin,

    // Full candidate-ladder mirror: same df-ascending global token
    // order (ties on the token string — identical lexicographic order
    // for ASCII word tokens in both engines), same ceil-div prefix
    // bound, same length filter, same positional filter, all in exact
    // integer arithmetic.
    "q203_ppjoin_candidates" ->
      s"""WITH toks AS (
         |  SELECT doc_id AS id, list_distinct($dTok) AS ts
         |  FROM documents WHERE doc_id < 500),
         |szt AS (SELECT id, CAST(len(ts) AS BIGINT) AS sz, ts FROM toks),
         |ex AS (SELECT id, sz, unnest(ts) AS tok FROM szt),
         |dfreq AS (SELECT tok, count(*) AS df FROM ex GROUP BY tok),
         |ranked AS (
         |  SELECT ex.id, ex.sz, ex.tok,
         |    row_number() OVER (PARTITION BY ex.id ORDER BY d.df, ex.tok)
         |      AS rnk
         |  FROM ex JOIN dfreq d ON ex.tok = d.tok),
         |prefix AS (
         |  SELECT id, sz, tok, CAST(rnk AS BIGINT) AS rnk FROM ranked
         |  WHERE rnk <= sz - ((6000 * sz + 9999) // 10000) + 1),
         |raw AS (
         |  SELECT a.id AS id_a, b.id AS id_b
         |  FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.id < b.id
         |    AND a.sz * 10000 >= 6000 * b.sz
         |    AND b.sz * 10000 >= 6000 * a.sz
         |    AND (1 + least(a.sz - a.rnk, b.sz - b.rnk)) * 16000
         |        >= 6000 * (a.sz + b.sz))
         |SELECT
         |  (SELECT count(*) FROM toks) AS n_docs,
         |  CAST(6000 AS INTEGER) AS threshold_bp,
         |  CAST(1 AS INTEGER) AS shingle,
         |  TRUE AS positional,
         |  (SELECT count(*) FROM raw) AS raw_candidates,
         |  (SELECT count(*) FROM (SELECT DISTINCT id_a, id_b FROM raw))
         |    AS distinct_pairs"""
        .stripMargin,

    // All-pairs string-shingle directed containment mirror (same
    // shingle construction as q202's oracle; containment over sz_a).
    "q204_containment_shingled" ->
      s"""WITH ws AS (
         |  SELECT doc_id, $dTok AS w FROM documents),
         |toks AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) < 3 THEN list_distinct([array_to_string(w, ' ')])
         |         ELSE list_distinct([array_to_string(w[i:i+2], ' ')
         |                             FOR i IN range(1, CAST(len(w) AS BIGINT) - 1)])
         |    END AS ts
         |  FROM ws),
         |sz AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS sz FROM toks),
         |ex AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b, n_shared,
         |  (n_shared * 10000) // sa.sz AS containment_bp
         |FROM inter
         |JOIN sz sa ON id_a = sa.doc_id
         |WHERE (n_shared * 10000) // sa.sz >= 6000"""
        .stripMargin,

    "q163_containment" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_distinct($dTok) AS ts FROM documents
         |  WHERE doc_id < 500),
         |sz AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS sz FROM toks),
         |ex AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(count(*) AS BIGINT) AS n_shared
         |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b, (n_shared * 10000) // sa.sz AS bp
         |  FROM inter JOIN sz sa ON id_a = sa.doc_id
         |  WHERE (n_shared * 10000) // sa.sz >= 9500),
         |per AS (
         |  SELECT id_a, id_b, bp,
         |    max(bp) OVER (PARTITION BY id_a) AS mx,
         |    count(*) OVER (PARTITION BY id_a) AS nc
         |  FROM pairs)
         |SELECT id_a AS doc_id, CAST(max(nc) AS BIGINT) AS n_containers,
         |  max(bp) AS best_bp,
         |  min(CASE WHEN bp = mx THEN id_b END) AS best_container
         |FROM per GROUP BY id_a""".stripMargin,

    "q164_canonical" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |pairs AS (SELECT id_a, id_b FROM scored WHERE jaccard >= 0.93),
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
         |lab AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         |j AS (
         |  SELECT l.cluster_id, l.id, d.n_chars
         |  FROM lab l JOIN documents d ON d.doc_id = l.id)
         |SELECT cluster_id, id AS keep_id, n_members, n_chars AS keep_chars
         |FROM (
         |  SELECT cluster_id, id, n_chars,
         |    count(*) OVER (PARTITION BY cluster_id) AS n_members,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, id) AS rk
         |  FROM j)
         |WHERE rk = 1""".stripMargin,

    "q160_incremental_dedup" ->
      s"""WITH base AS (
         |  SELECT doc_id, md5(text) AS h, list_distinct(hs) AS shd,
         |    [${(0 until 8).map(i =>
        s"list_aggregate(list_transform(hs, h -> ${dPerm(i, "h")}), 'min')")
        .mkString(", ")}] AS sig
         |  FROM (SELECT doc_id, text,
         |          list_transform(sh, s -> ${dHash32u("s")}) AS hs
         |        FROM (SELECT doc_id, text, ${dShingles(1)} AS sh
         |              FROM (SELECT doc_id, text, $dTok AS t
         |                    FROM documents WHERE doc_id < 500)))),
         |cor AS (SELECT * FROM base WHERE doc_id < 300),
         |inc AS (SELECT * FROM base WHERE doc_id >= 300),
         |ex AS (SELECT h, min(doc_id) AS exact_id FROM cor GROUP BY h),
         |bc AS (
         |  SELECT doc_id, b, array_to_string(sig[b*2+1:b*2+2], '_') AS bk
         |  FROM cor, (SELECT unnest(generate_series(0, 3)) AS b)),
         |bi AS (
         |  SELECT doc_id, b, array_to_string(sig[b*2+1:b*2+2], '_') AS bk
         |  FROM inc, (SELECT unnest(generate_series(0, 3)) AS b)),
         |cand AS (
         |  SELECT DISTINCT i.doc_id AS id, c.doc_id AS cid
         |  FROM bi i JOIN bc c ON i.b = c.b AND i.bk = c.bk),
         |near AS (
         |  SELECT cand.id, min(cand.cid) AS near_id
         |  FROM cand
         |  JOIN base a ON a.doc_id = cand.id
         |  JOIN base b2 ON b2.doc_id = cand.cid
         |  WHERE len(list_intersect(a.shd, b2.shd)) * 1.0
         |      / len(list_distinct(list_concat(a.shd, b2.shd))) >= 0.9
         |  GROUP BY cand.id)
         |SELECT i.doc_id,
         |  CASE WHEN e.exact_id IS NOT NULL THEN 'exact_dup'
         |       WHEN n.near_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'unique' END AS status,
         |  coalesce(e.exact_id, n.near_id) AS match_id
         |FROM inc i
         |LEFT JOIN ex e ON i.h = e.h
         |LEFT JOIN near n ON n.id = i.doc_id""".stripMargin,

    "q148_audio_meta" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    CAST(1 + doc_id % 2 AS INT) AS channels,
        |    CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
        |    CAST(8 * (1 + doc_id % 2) AS INT) AS bits_per_sample,
        |    CAST(n_chars * 64 AS BIGINT) % 4294967296 AS data_bytes
        |  FROM documents)
        |SELECT doc_id, channels, sample_rate, bits_per_sample, data_bytes,
        |  (data_bytes * 8000) // (CAST(sample_rate AS BIGINT)
        |    * channels * bits_per_sample) AS duration_ms
        |FROM p""".stripMargin,

    "q206_ppm_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, 7 + doc_id % 5 AS w, 5 + doc_id % 4 AS h
        |  FROM documents),
        |opix AS (
        |  SELECT doc_id, w, h, w // 2 AS ow, h // 2 AS oh,
        |    unnest(generate_series(0, (w // 2) * (h // 2) * 3 - 1)) AS o
        |  FROM dims),
        |v AS (
        |  SELECT doc_id, ow, oh,
        |    list_sum(list_transform(generate_series(0, 3), d ->
        |      (doc_id * 3 + (((o // (ow * 3)) * 2 + d // 2) * w
        |        + ((o % (ow * 3)) // 3) * 2 + d % 2) * 3 + o % 3) % 256))
        |      // 4 AS px
        |  FROM opix)
        |SELECT doc_id, CAST(max(ow) AS INT) AS width,
        |  CAST(max(oh) AS INT) AS height, CAST(255 AS INT) AS maxval,
        |  CAST(max(ow) * max(oh) * 3 AS BIGINT) AS data_bytes,
        |  CAST(sum(px) AS BIGINT) AS pix_sum
        |FROM v GROUP BY doc_id""".stripMargin,

    "q207_frame_sample" ->
      """WITH dims AS (
        |  SELECT doc_id, 3 + doc_id % 5 AS nf, 3 + doc_id % 3 AS w,
        |    2 + doc_id % 2 AS h
        |  FROM documents),
        |fr AS (
        |  SELECT doc_id, w, h, unnest(generate_series(0, nf - 1)) AS f
        |  FROM dims)
        |SELECT doc_id, CAST(f AS INT) AS frame_no, CAST(w AS INT) AS width,
        |  CAST(h AS INT) AS height, CAST(w * h * 3 AS INT) AS frame_bytes,
        |  CAST(list_sum(list_transform(generate_series(0, w * h * 3 - 1),
        |    i -> (doc_id + f * 7 + i) % 256)) AS BIGINT) AS pix_sum
        |FROM fr WHERE f % 2 = 0""".stripMargin)
}
