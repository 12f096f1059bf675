package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.{embeddings, text}

/** Deduplication operators for training-data pipelines, each designed
  * for the 100 TB shape: no driver-side loops, candidate generation via
  * hash-bucket shuffles (never an unbounded cross join), verification
  * only within buckets.
  */
object Dedup {

  /** Exact dedup via content hash: one row per distinct hash with the
    * kept (minimum) id and the duplicate count. A hash-groupBy shuffles
    * only (hash, id) pairs — not document bodies. */
  def exactByHash(
      df: DataFrame,
      idCol: String,
      contentCol: String): DataFrame =
    df.select(col(idCol), md5(col(contentCol)).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(
        min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Normalized exact dedup: lowercase, strip punctuation, collapse
    * whitespace before hashing (catches trivial reformatting). */
  def normalizedHash(c: Column): Column =
    md5(regexp_replace(trim(regexp_replace(lower(c), "[.,;:!?'\"()\\-]", "")),
      "\\s+", " "))

  /** MinHash+LSH near-duplicate pairs.
    *
    * shingle -> k md5-seeded min-hashes -> band buckets -> join within
    * buckets -> exact Jaccard verification. `bands` buckets of `k/bands`
    * signature values each; a pair collides if ANY band matches
    * (standard LSH OR-construction). The bucket join shuffles only
    * (band value, id, signature/shingle-set) — pairs outside shared
    * buckets are never materialized, which is what makes this survive
    * 100 TB where naive all-pairs (O(n^2)) cannot.
    *
    * Returns (id_a, id_b, est_jaccard, jaccard) for verified pairs with
    * exact shingle Jaccard >= threshold.
    *
    * ==Tuning recipe (recall at the threshold)==
    * Precision is 10000 bp by construction (candidates are
    * exact-verified); the tunable risk is RECALL — a true pair whose
    * signatures collide in no band is never seen. With `r = k/bands`
    * rows per band, a pair at Jaccard J survives with probability
    * `1 - (1 - J^r)^bands`; pick bands/r so that number is ~1 at your
    * threshold (rule of thumb: threshold ≈ (1/bands)^(1/r)). Measured
    * recall vs exact all-pairs ground truth (the q177 gate — run it on
    * a bounded slice of YOUR corpus before trusting the LSH path where
    * ground truth is unaffordable):
    *
    * | k | bands | r | shingleN | threshold | recall (measured)       |
    * |---|-------|---|----------|-----------|-------------------------|
    * | 8 | 4     | 2 | 1        | 0.93      | 10000 bp @ sf0.001/0.01/0.1 |
    * | 8 | 4     | 2 | 1        | 0.90      | ≥ 9000 bp (DedupSpec fixture, deterministic) |
    *
    * (predicted survival at J=0.93, r=2, b=4: 1-(1-0.865)^4 ≈ 0.9997 —
    * the measured 100% agrees; at J=0.5 the same config drops to ~0.68,
    * so lower thresholds need more bands / shorter rows.)
    */
  def minhashLsh(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      k: Int = 16,
      bands: Int = 4,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val (base, _, raw) = lshCandidates(df, idCol, contentCol, k, bands, shingleN)
    try {
      val cand = raw.distinct() // a pair may collide in several bands
      val a = base.select(col("id").as("id_a"), col("sig").as("sig_a"),
        col("sh").as("sh_a"))
      val b = base.select(col("id").as("id_b"), col("sig").as("sig_b"),
        col("sh").as("sh_b"))
      val pairs = cand.join(a, "id_a").join(b, "id_b")
        .withColumn("est_jaccard",
          aggregate(
            zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, x) => acc + x).cast("double") / k)
        .withColumn("jaccard",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))))
        .filter(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"))
      // Eagerly materialize the (small) verified-pair list so the returned
      // plan no longer references `base`, then release it — otherwise the
      // signature+shingle cache outlives the call and accumulates across
      // queries in a long-lived session. NOTE: the returned frame is
      // itself backed by locally-checkpointed blocks (that is what makes
      // dropping `base` safe); a long-lived session accumulating many
      // results should release them once consumed — e.g. unpersist via
      // sparkContext.getPersistentRDDs, as the bench harness does
      // between queries.
      pairs.localCheckpoint()
    } finally base.unpersist()
  }

  /** The shared signature+banding machinery of [[minhashLsh]] and its
    * candidate probe: (persisted signature table, banded frame, raw
    * band-join candidate rows BEFORE pair dedup). Caller owns the
    * persist lifecycle (release `base` in a finally — the probe and the
    * operator both localCheckpoint their outputs first).
    *
    * Signatures+shingle-hash sets are consumed three times (banding,
    * then both sides of the verify join) — materialize once instead of
    * recomputing the md5 pass per use. Shingles travel as 32-bit hash
    * sets, not strings: Jaccard over the hash sets is identical modulo
    * md5 collisions (mirrored by the oracle), and the verify join
    * shuffles long arrays instead of text. This is the standard shape
    * at scale too: the signature table is tiny next to the corpus. */
  private def lshCandidates(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      k: Int,
      bands: Int,
      shingleN: Int): (DataFrame, DataFrame, DataFrame) = {
    val band = bandKey(k, bands)
    val base = minhashSigs(df, idCol, contentCol, k, shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = base.select(col("id"), band)
    val raw = banded.as("l").join(banded.as("r"),
      col("l.band") === col("r.band") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
    (base, banded, raw)
  }

  /** The MinHash signature table (id, carried columns, sig, sh): k
    * md5-seeded min-hashes of the shingle hashes, and the distinct
    * shingle-hash set for exact Jaccard. `carry` adds named per-row
    * columns between id and sig ([[dedupAgainst]]'s content md5). */
  private def minhashSigs(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      k: Int,
      shingleN: Int,
      carry: (String, Column)*): DataFrame =
    df.select(col(idCol).as("id") +: carry.map { case (n, c) => c.as(n) } :+
        text.shingleHashes(col(contentCol), shingleN).as("hs"): _*)
      .select(col("id") +: carry.map { case (n, _) => col(n) } :+
        text.minhashFromHashes(col("hs"), k).as("sig") :+
        array_distinct(col("hs")).as("sh"): _*)

  /** One row per band over a `sig` column: band value = the
    * rows-per-band slice of the signature, stringified. Two docs are
    * LSH candidates iff some `band` struct is equal. */
  private def bandKey(k: Int, bands: Int): Column = {
    require(k % bands == 0, "k must divide into bands")
    val rows = k / bands
    explode(array((0 until bands).map(b =>
      struct(lit(b).as("band_id"),
        concat_ws("_", transform(slice(col("sig"), b * rows + 1, rows),
          x => x.cast("string"))).as("band_key"))): _*)).as("band")
  }

  /** Candidate-volume probe for [[minhashLsh]]'s banding — the same
    * honesty contract as [[prefixFilterCandidateProfile]]: ONE row of
    * exact counts from the operator's own signature pass and join keys
    * (shared [[lshCandidates]]), counting in place of verification.
    *
    * Columns: n_docs; raw_candidates (band-join output rows BEFORE pair
    * dedup — what the shuffle and the distinct actually carry; each
    * band bucket of size s contributes s·(s-1)/2 of these, so a
    * duplicate-heavy corpus goes QUADRATIC in its largest near-dup
    * group with no warning from the recall math); distinct_pairs (after
    * pair dedup — the verify-join input); max_bucket (largest single
    * band bucket — the skew signal: one mega-bucket serializes into one
    * task even when totals look fine). Run this on a corpus slice
    * before trusting the LSH path at scale, and COLLAPSE EXACT
    * DUPLICATES FIRST ([[exactByHash]]): exact copies share every band
    * by construction, so a group of m copies inflates raw_candidates by
    * bands·m²/2 while telling the near-dup search nothing. */
  def lshCandidateProfile(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      k: Int = 16,
      bands: Int = 4,
      shingleN: Int = 3): DataFrame = {
    val (base, banded, raw) = lshCandidates(
      df, idCol, contentCol, k, bands, shingleN)
    try {
      val n = base.count()
      val maxRow = banded
        .groupBy(col("band")).agg(count(lit(1)).as("s"))
        .agg(max(col("s"))).head()
      val maxBucket = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      raw.agg(
        count(lit(1)).as("raw_candidates"),
        count_distinct(struct(col("id_a"), col("id_b"))).as("distinct_pairs"))
        .select(lit(n).as("n_docs"), lit(k).as("k"), lit(bands).as("bands"),
          lit(shingleN).as("shingle_n"),
          col("raw_candidates"), col("distinct_pairs"),
          lit(maxBucket).as("max_bucket"))
        .localCheckpoint()
    } finally base.unpersist()
  }

  /** Incremental corpus dedup — classify each INCOMING document against
    * an existing CORPUS without ever joining content to content:
    * `exact_dup` (identical md5 content hash), `near_dup` (shares at
    * least one MinHash LSH band bucket with a corpus doc AND exact
    * shingle-set Jaccard >= threshold), else `unique`. `match_id` is
    * the SMALLEST matching corpus id, exact match winning over near —
    * deterministic on any partitioning.
    *
    * This is the batch-over-batch shape of a growing-corpus ingest: the
    * corpus reduces to two index tables — (content_hash → min id) and
    * (band bucket, signature, shingle-hash set) — which a production
    * deployment builds once and PERSISTS between batches; each incoming
    * batch probes them with plain equi-joins, so per-batch cost scales
    * with the batch (plus index size), not with corpus². Incoming-vs-
    * incoming duplicates are out of scope by design — run the batch
    * operators (exactByHash / minhashLsh) over the survivors. */
  def dedupAgainst(
      corpus: DataFrame,
      incoming: DataFrame,
      idCol: String,
      contentCol: String,
      k: Int = 8,
      bands: Int = 4,
      shingleN: Int = 1,
      threshold: Double = 0.5): DataFrame = {
    val band = bandKey(k, bands)
    def sigs(df: DataFrame): DataFrame = minhashSigs(
      df, idCol, contentCol, k, shingleN, "h" -> md5(col(contentCol)))
    def banded(df: DataFrame): DataFrame = df.select(col("id"), band)

    // Both signature tables are consumed twice (banding + verify/probe);
    // materialize once. In production the corpus side is the persisted
    // index, not a recomputation.
    val cor = sigs(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val inc = sigs(incoming)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val exactIdx = cor.groupBy(col("h")).agg(min(col("id")).as("exact_id"))

      // Band-bucket equi-join: only (id, band) pairs shuffle; a candidate
      // pair exists iff some band collides (LSH OR-construction).
      val cand = banded(inc).as("l")
        .join(banded(cor).withColumnRenamed("id", "cid").as("r"),
          col("l.band") === col("r.band"))
        .select(col("id"), col("cid"))
        .distinct()
      val near = cand
        .join(inc.select(col("id"), col("sh")), "id")
        .join(cor.select(col("id").as("cid"), col("sh").as("csh")), "cid")
        .withColumn("jaccard",
          size(array_intersect(col("sh"), col("csh"))).cast("double") /
            size(array_union(col("sh"), col("csh"))))
        .filter(col("jaccard") >= threshold)
        .groupBy(col("id")).agg(min(col("cid")).as("near_id"))

      val out = inc.select(col("id"), col("h"))
        .join(exactIdx, Seq("h"), "left")
        .join(near, Seq("id"), "left")
        .select(col("id"),
          when(col("exact_id").isNotNull, lit("exact_dup"))
            .when(col("near_id").isNotNull, lit("near_dup"))
            .otherwise(lit("unique")).as("status"),
          coalesce(col("exact_id"), col("near_id")).as("match_id"))
      // Materialize (batch-classification-sized) so the returned plan
      // drops its reference to the persisted signature tables, then
      // release them — same lifecycle discipline as minhashLsh above.
      out.localCheckpoint()
    } finally {
      cor.unpersist()
      inc.unpersist()
    }
  }

  /** Per-document 60-bit SimHash over whitespace tokens: tokens hash to
    * 60-bit ints; each bit position accumulates +1/-1 by bit value over
    * all tokens; positive sums set the output bit.
    *
    * Since r19 this is the native [[graft.plans.SimHash60]] expression
    * — SimHash is a pure per-row function of the document's own tokens,
    * and the explode + 60-sum groupBy(id) aggregate it replaces paid a
    * corpus-wide shuffle (plus a 60-expression partial aggregate and
    * one hex-conv per token) to compute what one compiled loop per row
    * computes with ZERO exchanges. Bit-parity with the grouped form is
    * spec-pinned (SimHash60Spec), including the null-token vote. The
    * null-text filter reproduces the old explode's row-dropping: a
    * null document had no token rows, hence no grouped output row.
    *
    * PRECONDITION (r19 ADVICE): `idCol` must be unique per row. The
    * replaced groupBy(id) aggregate MERGED duplicate ids into one
    * signature; the per-row form emits one row per input row, so a
    * caller feeding duplicate ids would over-count band-join candidates
    * downstream. No engine caller feeds duplicates (document ids are
    * primary keys); external callers must dedupe first. */
  def simhash(
      df: DataFrame,
      idCol: String,
      contentCol: String): DataFrame =
    df.select(col(idCol).as("id"), text.tokens(col(contentCol)).as("__t"))
      .filter(col("__t").isNotNull)
      .select(col("id"), graft.plans.SimHash60(col("__t")).as("simhash"))

  /** SimHash near-duplicate pairs: band the 60-bit hash into 4 x 15-bit
    * chunks; pairs sharing any chunk are candidates (Hamming <= 3 pigeon-
    * hole guarantee); verify with bit_count(xor) <= maxHamming. This is
    * [[simhashPairs]] at 4 blocks, one block per key.
    *
    * The output is the FULL pair list, so cost is inherently quadratic
    * in near-dup group size — on a duplicate-heavy corpus, collapse
    * exact copies with exactByHash first so mega-groups never expand
    * here. (A distinct-signature join with output re-expansion was
    * measured SLOWER at every scale tried — the expansion joins just
    * re-shuffle the same output — so the single chunk self-join
    * stays.) */
  def simhashDup(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairs(df, idCol, contentCol, maxHamming, blocks = 4, k = 1)

  /** SimHash near-dup pairs via MULTI-BLOCK banding (the Manku/Jain/
    * Das Sarma web-dedup construction) — the scale path that replaces
    * [[simhashDup]]'s single-chunk candidates once the corpus outgrows
    * the chunk width. Split the 60-bit signature into 6 blocks of 10
    * bits; two signatures within Hamming distance `maxHamming` differ
    * in at most `maxHamming` blocks, so they AGREE on some
    * k = 6 - maxHamming of them (pigeonhole) — full recall by
    * construction. Candidates come from an equi-join per k-subset of
    * blocks on the CONCATENATED k-block value: C(6, k) tables of n rows
    * each (a constant fan-out), with a key of 10·k bits, so expected
    * random collisions are C(6,k) · n² / 2^(10k) — LINEAR-ish in n for
    * 10·k ≳ log2(n), where [[simhashDup]]'s fixed 15-bit key goes
    * quadratic past ~10^5 docs (measured at 500k docs: 3.5 GB sorter
    * spill, 42 s GC, 608 s task time for a 1 s-task-time x1; the
    * blocked form's candidates stay output-sized). Same verification
    * and output schema: (id_a, id_b, hamming), hamming <= maxHamming,
    * id_a < id_b, each pair once. For equal maxHamming the output
    * EQUALS simhashDup's (both are recall-complete, both verify
    * exactly) — q199's oracle pins that against an all-pairs DuckDB
    * mirror. Six blocks is the measured choice: 8 blocks cut
    * candidates but cost ~3x the wall at 5M docs, and only pay past
    * ~5·10^7 docs (SCALE.md, "The banding knob, measured"). */
  def simhashDupBlocked(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 6,
      s"simhashDupBlocked needs 0 <= maxHamming < 6 (got $maxHamming)")
    simhashPairs(df, idCol, contentCol, maxHamming, blocks = 6,
      k = 6 - maxHamming)
  }

  /** The SimHash pair core of [[simhashDup]] and [[simhashDupBlocked]]:
    * band the signature into `blocks` blocks, make one candidate key
    * per k-subset of them, self-join on the key, verify
    * bit_count(xor) <= maxHamming. EAGER: returns a localCheckpoint. */
  private def simhashPairs(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      maxHamming: Int,
      blocks: Int,
      k: Int): DataFrame = {
    // The signature table (id + one long — 16 bytes/doc) feeds BOTH
    // sides of the banding self-join; without materialization the
    // whole tokenize + signature pass runs twice (no ReusedExchange
    // across the aliased subtrees, verified via Explain).
    val sh = simhash(df, idCol, contentCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // The banding self-join is hinted shuffle_hash: at the 5M-doc deep
      // point the keyed frame is C(b,k)·n rows (280M at b=8) and the
      // default SMJ SORTS both sides — measured 17.7 GB memory / 13.6 GB
      // disk spill and 205 s wall for a join whose output is only ~13M
      // candidates. A hash join builds one ~40-byte-row partition of one
      // side (bounded by AQE partition sizing) and streams the other:
      // no sort, no spill. Same fix class as prefixFilterPairs' verify.
      val keyed = blockedKeyed(sh, blocks, k).hint("shuffle_hash")
      val pairs = keyed.as("l").join(keyed.as("r"),
        col("l.ck") === col("r.ck") && col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
          col("l.simhash").as("h_a"), col("r.simhash").as("h_b")).distinct()
        .withColumn("hamming", expr("bit_count(h_a ^ h_b)").cast(LongType))
        .filter(col("hamming") <= maxHamming)
        .select(col("id_a"), col("id_b"), col("hamming"))
      // Materialize the (small) verified-pair list, then release the
      // signature cache — same contract as minhashLsh above.
      pairs.localCheckpoint()
    } finally sh.unpersist()
  }

  /** The multi-block banding key frame: one (id, simhash, ck) row per
    * k-subset of `blocks` blocks, ck = (combo_id, concatenated k-block
    * value). */
  private def blockedKeyed(sh: DataFrame, blocks: Int, k: Int): DataFrame = {
    val width = 60 / blocks // 4 and 6 blocks both divide 60 bits
    def blockVal(b: Int) =
      shiftright(col("simhash"), b * width).bitwiseAND((1L << width) - 1)
    // one key per k-subset: selected block values packed into one long
    // (total selected width <= 60 bits)
    val combos = (0 until blocks).combinations(k).toSeq
    val keys = combos.zipWithIndex.map { case (sel, ci) =>
      val packed = sel.zipWithIndex.foldLeft(lit(0L)) { case (acc, (b, j)) =>
        acc + (blockVal(b) * lit(1L << (j * width)))
      }
      struct(lit(ci).as("combo_id"), packed.cast(LongType).as("combo_key"))
    }
    sh.withColumn("ck", explode(array(keys: _*)))
  }

  /** Byte-estimate gate for prefixFilterPairs' verify-join strategy:
    * BOTH renamed doc-side frames broadcast in full, so the gate
    * bounds the estimated serialized size of the token-set table
    * (per-element payload + per-row overhead) rather than its row
    * count — a small-count corpus of very LONG documents must not
    * broadcast just because it slips under a row gate. 48 MB sits at
    * the old 100k-doc boundary for the shingled synthetic corpus
    * (~50 longs/doc). Above it, shuffle_hash. See the comment at the
    * verify joins. */
  val maxBroadcastBytes = 48L << 20

  /** The PERSISTED per-doc sorted distinct token/shingle-set table
    * (id, ts, sz) shared by the prefix-filter and containment
    * families. Caller owns the lifecycle (unpersist in a finally). */
  private def tokenSetLists(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      shingle: Int): DataFrame = {
    require(shingle >= 1, s"shingle must be >= 1 (got $shingle)")
    // stage the token split once per row (see text.shinglesOf)
    val tok = df.select(col(idCol).as("id"),
      text.tokens(col(contentCol)).as("tok"))
    val set =
      if (shingle == 1) col("tok")
      else graft.plans.WordShingleHash64(col("tok"), shingle)
    tok.select(col("id"), sort_array(array_distinct(set)).as("ts"))
      .withColumn("sz", size(col("ts")).cast(LongType))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** The shared candidate machinery of [[prefixFilterPairs]] and its
    * probe: returns (persisted token-set table, raw candidate rows
    * BEFORE pair dedup). Caller owns the persist lifecycle. */
  private def ppjoinCandidates(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      thresholdBp: Int,
      shingle: Int): (DataFrame, DataFrame) = {
    // The tokenized set table feeds SIX subplans (df-count, the
    // exploded token stream, both prefix sides, both verify sides);
    // exchange reuse dedups only the identical self-join exchanges, so
    // without a persist the tokenize+shingle scan re-runs per subplan
    // (measured: the whole-query wall at sf0.1 dropped ~8.4 -> ~2.6 s
    // from this persist alone). Doc-count-sized, unpersisted before
    // return; the output-sized result is localCheckpoint'd first, the
    // same lifecycle simhashDupBlocked uses.
    val lists = tokenSetLists(df, idCol, contentCol, shingle)
    val ex = lists.select(col("id"), col("sz"), explode(col("ts")).as("tok"))
    val dfreq = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val byId = Window.partitionBy(col("id"))
      .orderBy(col("df"), col("tok"))
    val prefix = ex
      .join(dfreq, "tok") // vocab-sized dim: no broadcast hint, AQE decides
      .withColumn("rnk", row_number().over(byId))
      .filter(col("rnk") <=
        col("sz") - expr(s"($thresholdBp * sz + 9999) div 10000") + lit(1))
      .select(col("id"), col("sz"), col("tok"), col("rnk"))
    // POSITIONAL filter (PPJoin proper, not just prefix filtering):
    // when the shared token sits at position rnk_a in a's sorted set
    // and rnk_b in b's, the overlap can't exceed
    //   1 + min(sz_a - rnk_a, sz_b - rnk_b)
    // (one for the match, plus only the suffixes after each position
    // can contribute). Jaccard >= t forces overlap >=
    // t/(1+t)·(sz_a+sz_b), so candidates whose bound falls short are
    // dropped IN the join, before the pair dedup and the verify joins
    // ever see them. Lossless: let w be the FIRST common token in the
    // global order, at positions p_a/p_b. Everything before w in each
    // set is non-shared, so p <= sz - O + 1 <= sz - ceil(t*sz) + 1
    // (O >= t*union >= t*sz), i.e. w is inside BOTH prefixes — its
    // join row exists. And its bound counts w plus both suffixes,
    // which contain every other common token, so bound >= O >=
    // required — that row always passes and `distinct()` keeps the
    // pair. (Later common tokens may fail the filter; only one
    // surviving row per pair is needed.) Integer-exact:
    // bound·(10000+t) >= t·(sz_a+sz_b), all longs. Pruning measured
    // in PLANS.md §ppjoin r15.
    val posBound = lit(1L) +
      least(col("a.sz") - col("a.rnk"), col("b.sz") - col("b.rnk"))
    val cond =
      col("a.tok") === col("b.tok") && col("a.id") < col("b.id") &&
        col("a.sz") * lit(10000L) >= lit(thresholdBp.toLong) * col("b.sz") &&
        col("b.sz") * lit(10000L) >= lit(thresholdBp.toLong) * col("a.sz") &&
        posBound * lit(10000L + thresholdBp) >=
          lit(thresholdBp.toLong) * (col("a.sz") + col("b.sz"))
    val raw = prefix.as("a").join(prefix.as("b"), cond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    (lists, raw)
  }

  /** Candidate-volume probe for [[prefixFilterPairs]]' filter ladder:
    * ONE row (n_docs, raw_candidates = prefix-join output rows BEFORE
    * pair dedup — what the shuffle and dedup actually carry,
    * distinct_pairs = after pair dedup) — same tokenize/prefix/join
    * code as the operator (shared [[ppjoinCandidates]]), positional
    * filter always on; counting replaces verification. The constant
    * `positional` column keeps the row's schema stable. */
  def prefixFilterCandidateProfile(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      thresholdBp: Int = 6000,
      shingle: Int = 1): DataFrame = {
    val (lists, raw) = ppjoinCandidates(
      df, idCol, contentCol, thresholdBp, shingle)
    try {
      val n = lists.count()
      raw.agg(
        count(lit(1)).as("raw_candidates"),
        count_distinct(struct(col("id_a"), col("id_b"))).as("distinct_pairs"))
        .select(lit(n).as("n_docs"), lit(thresholdBp).as("threshold_bp"),
          lit(shingle).as("shingle"), lit(true).as("positional"),
          col("raw_candidates"), col("distinct_pairs"))
        .localCheckpoint()
    } finally lists.unpersist()
  }

  /** Prefix-filtering set-similarity join (the PPJoin family, Xiao et
    * al.): exact token-set Jaccard >= thresholdBp/10000 with NO false
    * negatives — the scale path when LSH's probabilistic recall isn't
    * acceptable. Every token set is sorted by one global order (document
    * frequency ascending, rarest first); a pair can reach the threshold
    * only if the first `sz - ceil(t*sz) + 1` tokens of each side share
    * an element, so candidates come from an equi-join on PREFIX tokens
    * only — rare tokens by construction, which keeps the per-token
    * candidate buckets small. The candidate join also carries the
    * LENGTH filter (J >= t forces t·max(sz) <= min(sz)) — pure
    * pruning, no false negatives. Verification is exact integer
    * Jaccard on the full sets. Shuffles: DF count, two per-id windows,
    * the prefix equi-join, and the candidate-verify joins — all keyed,
    * no cross join anywhere.
    *
    * `shingle` > 1 swaps the set elements from words to word-n-gram
    * shingles hashed to longs (xxhash64 — codegen'd, and the verify
    * arrays shrink from strings to 8-byte longs). This is the form a
    * near-dup corpus needs: on a corpus whose WORD vocabulary is tiny
    * relative to n (this repo's synthetic docs: 31 words), every
    * word's document frequency is Θ(n), the prefix inverted lists are
    * corpus-sized, and — worse — random word-level Jaccard sits near
    * the threshold, so the TRUE output is Θ(n²): no exact algorithm
    * can be subquadratic on that shape. Shingling restores the regime
    * prefix filtering is built for (vocab grows with the corpus, df
    * per shingle small, output = genuine near-dups). Results equal the
    * string-shingle form modulo xxhash64 collisions (~|vocab|²/2⁶⁴ —
    * q202's all-pairs string-based DuckDB oracle would hash-mismatch
    * on any collision).
    *
    * EAGER: construction runs Spark jobs (a sizing aggregate over the
    * persisted token-set table that also picks the verify-join
    * strategy, then the full pipeline into a `localCheckpoint`).
    * Callers get a materialized, lineage-free result — downstream
    * filters do NOT prune work that already ran. Same contract as
    * [[simhashDupBlocked]]; motivated by the persist lifecycle (the
    * doc-count-sized cache must be released before returning). */
  def prefixFilterPairs(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      thresholdBp: Int = 6000,
      shingle: Int = 1): DataFrame = {
    val (lists, raw) = ppjoinCandidates(
      df, idCol, contentCol, thresholdBp, shingle)
    try {
    val cand = raw.distinct()
    // Verify joins: candidates outnumber docs ~60:1 here and each
    // carries two full token arrays once joined, so the default SMJ
    // pays an n·log n SORT of the candidate side on 400-byte rows —
    // the x100 deep point measured task_exponent 1.12 with SMJ, the
    // artifact's only >1.1. Above the gate the doc-list side is hinted
    // shuffle_hash (per-partition build stays bounded, candidate
    // stream never sorted); under it the doc-list table is simply
    // BROADCAST — Catalyst never auto-broadcasts an aggregate/window
    // output (the size estimate inherits the child's), and forcing the
    // shuffle on a 5k-doc corpus measured 8.4 s for a query whose
    // broadcast form runs in ~2 s. Same count-gated pattern as
    // Graph.trianglesProfile's maxBroadcastEdges.
    // n_shared: the composable size(array_intersect(..)) allocates a
    // hash set + result array PER CANDIDATE ROW — at the x100 deep
    // point (30M candidates) that churn billed 27-89 s of GC per draw.
    // The shingled path's arrays are sorted distinct longs by
    // construction, so the triangle counter's zero-allocation
    // two-pointer expression applies verbatim.
    def nShared(a: Column, b: Column): Column =
      if (shingle == 1) size(array_intersect(a, b)).cast(LongType)
      else graft.plans.SortedLongIntersectCount(a, b).cast(LongType)
    // Materializes the persist AND sizes the broadcast decision in one
    // aggregate: estimated per-row bytes = element payload (octet
    // length + ~16 B UnsafeArrayData slot for strings; 8 B for long
    // shingles) + ~48 B row overhead. Gating on BYTES, not doc count,
    // so long-document corpora can't blow the driver under a row gate.
    val elemBytes =
      if (shingle == 1)
        aggregate(col("ts"), lit(0L),
          (acc: Column, x: Column) => acc + octet_length(x) + lit(16L))
      else col("sz") * lit(8L)
    val sizing = lists.agg(sum(elemBytes + lit(48L)).as("bytes")).head()
    val estBytes = if (sizing.isNullAt(0)) 0L else sizing.getLong(0)
    def docSide(frame: DataFrame): DataFrame =
      if (estBytes <= maxBroadcastBytes) broadcast(frame)
      else frame.hint("shuffle_hash")
    val verified = cand
      .join(docSide(lists.select(col("id").as("id_a"), col("ts").as("ts_a"),
        col("sz").as("sz_a"))), "id_a")
      .join(docSide(lists.select(col("id").as("id_b"), col("ts").as("ts_b"),
        col("sz").as("sz_b"))), "id_b")
      .withColumn("n_shared", nShared(col("ts_a"), col("ts_b")))
      .withColumn("jaccard_bp", expr(
        "(n_shared * 10000) div (sz_a + sz_b - n_shared)"))
      .filter(col("jaccard_bp") >= thresholdBp)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("jaccard_bp"))
    verified.localCheckpoint()
    } finally lists.unpersist()
  }

  /** Directed token-set CONTAINMENT join: pairs (a, b) where at least
    * `thresholdBp`/10000 of a's distinct tokens also appear in b — the
    * asymmetric cousin of the Jaccard prefix join that symmetric
    * near-dup misses: quotes, excerpts, and concatenations where a
    * small doc lives inside a big one score high containment but low
    * Jaccard. Returns directed (id_a, id_b, n_shared, containment_bp):
    * id_a is the contained side.
    *
    * Exact, by CO-OCCURRENCE COUNTING on the inverted token index:
    * n_shared(a,b) = the number of index rows the pair shares, so one
    * self-equi-join of the (id, token) index on token, one map-side-
    * combined count aggregate, and a doc-size join produce every score
    * with NO arrays ever shuffled. Join volume is Σ_w df(w)² — the
    * co-occurrence mass itself, the irreducible lower bound for exact
    * containment, because unlike Jaccard there is no length filter
    * (|A| ≪ |B| is the signal, not noise) and the contained side's
    * tokens can sit anywhere in B, so B-side probing cannot be
    * prefix-limited. r15 MEASURED the alternative — containment-prefix
    * candidates + array verify, prefixFilterPairs-style — at the 500k
    * doc deep point: task_exponent 1.50, 39 GB shuffle, 27 GB spill,
    * because every candidate pair dragged two ~52-element token arrays
    * through the verify exchange (~30 GB of array traffic for 16 bytes
    * of answer per pair), while this corpus's co-occurrence mass is
    * 2.5M 16-byte rows per 5k docs (max shingle df 25). A df-heavy
    * corpus (boilerplate shingles in thousands of docs) inflates BOTH
    * forms — Σ df_prefix(w)·df(w) vs Σ df(w)² differ only by the
    * prefix fraction while the array verify multiplies its side by
    * ~50x row width — so the counting form is the scale path
    * unconditionally; corpora with genuinely degenerate heads need
    * boilerplate removal first (see Curation.boilerplateProfile),
    * which is a curation decision, not a join strategy.
    *
    * `shingle` > 1 swaps set elements from words to hashed word-n-gram
    * shingles, exactly as [[prefixFilterPairs]] does — the scale form
    * (vocabulary grows with the corpus, per-shingle df small), and
    * containment then means A's PHRASES appear in B — the actual
    * quote/excerpt signal.
    *
    * ==Co-occurrence mass is the cost model — budget it==
    * The default `shingle = 1` on a NATURAL-LANGUAGE corpus is the
    * degenerate regime: stopwords have df ≈ n_docs, so Σ df(w)² alone
    * is ~k·n_docs² for the k head words — quadratic in the corpus no
    * matter how rare every other token is. (The r15 measurement that
    * justified this form used a shingled synthetic corpus with max df
    * 25; word-level natural text does NOT look like that.) The
    * operator computes the mass BEFORE committing to the join (one
    * cheap aggregate over the index) and enforces `coMassBudget`:
    * above it, it throws with the measured mass instead of silently
    * launching a join that shuffles mass × 24 bytes; above a tenth of
    * it, it logs a warning. The fixes, in order: `shingle >= 2`
    * (per-shingle df small, phrase containment — the actual
    * quote/excerpt signal), or strip the boilerplate head first (see
    * Curation.boilerplateProfile), or raise the budget deliberately if
    * mass × 24 B of shuffle is genuinely intended. The default budget
    * (2e9 rows ≈ 48 GB of join traffic) is cluster-sized headroom that
    * still catches n² blowups early: 1M docs × a df≈n stopword alone
    * would be 1e12.
    *
    * EAGER since r15 (same contract and reasons as
    * [[prefixFilterPairs]]): construction materializes the result
    * through a localCheckpoint so the doc-count-sized persist can be
    * released before returning. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      thresholdBp: Int = 9000,
      shingle: Int = 1,
      coMassBudget: Long = 2000000000L): DataFrame = {
    // Persisted: the token-set table feeds the index (whose self-join
    // exchange is reused across both sides), the doc-size dimension,
    // and the sizing count — unpersisted, the tokenize+shingle scan
    // re-runs per subplan.
    val lists = tokenSetLists(df, idCol, contentCol, shingle)
    try {
      val ex = lists.select(col("id"), explode(col("ts")).as("tok"))
      // Σ df(w)² is one cheap aggregate over the persisted index and IS
      // the join's output row count — the cost model, the budget gate,
      // and (below) the partitioning in one number.
      val coMassRow = ex.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .agg(sum(col("df") * col("df"))).head()
      val coMass = if (coMassRow.isNullAt(0)) 0L else coMassRow.getLong(0)
      if (coMass > coMassBudget) throw new IllegalArgumentException(
        s"containmentPairs: co-occurrence mass Σ df(w)² = $coMass rows " +
          s"exceeds coMassBudget = $coMassBudget (the index self-join " +
          s"would shuffle ~${coMass * 24L >> 20} MB). The corpus has a " +
          "degenerate document-frequency head for this element size — " +
          "use shingle >= 2 (phrase containment; per-shingle df stays " +
          "small), strip boilerplate first (Curation.boilerplateProfile " +
          "locates it), or raise coMassBudget deliberately.")
      if (coMass > coMassBudget / 10)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"containmentPairs: co-occurrence mass $coMass rows is within " +
            s"10x of coMassBudget $coMassBudget — the df head of this " +
            "corpus is getting expensive; consider shingle >= 2 or " +
            "boilerplate removal before the next scale-up.")
      // Partition the index join by its OUTPUT mass, not its input: AQE
      // coalesces the tok exchange by input bytes (~24 B/occurrence),
      // but the join fans each token out to df(w)² rows, so on a
      // co-occurrence-heavy corpus the coalesced partitions each carry
      // 10x their input and the partial count aggregate spills (measured
      // at the 500k-doc deep point: 40 GB spill accounting, per-copy
      // task time 1.9x the x1 rate). Explicit repartition by the output
      // mass is the user-specified partitioning AQE respects (helper
      // extracted to [[OutputMass]]). 24 B/row, ~64 MB per partition.
      val exP = OutputMass.repartitionByOutputMass(ex, coMass, 24L, col("tok"))
      // Identical subtrees on both sides: the exchange on tok plans once
      // and is reused. Partial count aggregation runs in the join's own
      // stage, so what shuffles after it is pair-count-sized (24 B/row),
      // never join-output-sized.
      val co = exP.select(col("id").as("id_a"), col("tok"))
        .join(exP.select(col("id").as("id_b"), col("tok")), Seq("tok"))
        .filter(col("id_a") =!= col("id_b"))
        .groupBy(col("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_shared"))
      // The doc-size dimension is 16 B/doc; gate its broadcast on the
      // doc count (the arrays never travel, so the byte estimate is just
      // row count — 48 MB covers ~1M docs at ~56 B/row in the relation).
      val nDocs = lists.count()
      def szSide(frame: DataFrame): DataFrame =
        if (nDocs * 56L <= maxBroadcastBytes) broadcast(frame)
        else frame.hint("shuffle_hash")
      val verified = co
        .join(szSide(lists.select(col("id").as("id_a"), col("sz").as("sz_a"))),
          "id_a")
        .withColumn("containment_bp", expr("(n_shared * 10000) div sz_a"))
        .filter(col("containment_bp") >= thresholdBp)
        .select(col("id_a"), col("id_b"), col("n_shared"),
          col("containment_bp"))
      verified.localCheckpoint()
    } finally lists.unpersist()
  }

  /** Co-occurrence-mass probe for [[containmentPairs]] — measure the
    * cost model BEFORE committing to a configuration: one row
    * (n_docs, shingle, n_terms, max_df, co_mass) where co_mass =
    * Σ df(w)² is exactly the index self-join's output row count (and
    * budget currency) and max_df locates the head (max_df ≈ n_docs
    * means a boilerplate/stopword element sits in every doc and the
    * join is quadratic no matter what else is true). Same token-set
    * pass as the operator (shared [[tokenSetLists]]). Use it to pick
    * `shingle`/decide on boilerplate removal where a failed full run
    * would be expensive. EAGER, one row. */
  def containmentCoMass(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      shingle: Int = 1): DataFrame = {
    val lists = tokenSetLists(df, idCol, contentCol, shingle)
    try {
      val n = lists.count()
      lists.select(col("id"), explode(col("ts")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .agg(
          count(lit(1)).as("n_terms"),
          max(col("df")).as("max_df"),
          sum(col("df") * col("df")).as("co_mass"))
        .select(lit(n).as("n_docs"), lit(shingle).as("shingle"),
          col("n_terms"),
          coalesce(col("max_df"), lit(0L)).as("max_df"),
          coalesce(col("co_mass"), lit(0L)).as("co_mass"))
        .localCheckpoint()
    } finally lists.unpersist()
  }

  /** Sorted-neighborhood candidate generation (the classic
    * entity-resolution blocking method): rows sort by a normalized key
    * WITHIN blocks (a key prefix), and each row is compared only to its
    * next `windowSize - 1` neighbors in that order — near-identical
    * texts normalize to near-identical keys and land adjacent, so the
    * comparison count is linear in the corpus (rows x (windowSize-1)),
    * never quadratic, with NO minhash/banding machinery.
    *
    * Scale shape: ONE shuffle on the block prefix; each task sorts one
    * block (bounded by the blocking key's selectivity — lengthen
    * `blockPrefixLen` to split hot blocks); `lead()` comparisons are a
    * linear scan. Complements `minhashLsh`/`prefixFilterPairs`: those
    * catch reordered duplicates, sorted-neighborhood catches
    * shared-prefix families (boilerplate headers, templated docs) at a
    * fraction of the cost.
    *
    * Pairs are emitted once (lead is strictly forward), normalized to
    * id_a < id_b (least/greatest — ids keep their source type, so
    * string/UUID ids work the same as numeric ones), with an exact
    * integer-bp token Jaccard filter. */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      blockPrefixLen: Int = 8,
      windowSize: Int = 3,
      thresholdBp: Int = 5000): DataFrame = {
    require(windowSize >= 2, "windowSize must be >= 2")
    val base = df.select(
      col(idCol).as("id"),
      array_distinct(text.tokens(col(contentCol))).as("tok"),
      regexp_replace(lower(col(contentCol)), "[^a-z0-9]", "").as("norm"))
      .select(col("id"), col("tok"),
        substring(col("norm"), 1, 64).as("skey"),
        substring(col("norm"), 1, blockPrefixLen).as("block"))
    val w = Window.partitionBy(col("block")).orderBy(col("skey"), col("id"))
    val withLeads = (1 until windowSize).foldLeft(base) { (d, j) =>
      d.withColumn(s"__n$j", lead(struct(col("id"), col("tok")), j).over(w))
    }
    withLeads
      .select(col("id"), col("tok"),
        explode(array((1 until windowSize).map(j => col(s"__n$j")): _*))
          .as("n"))
      .filter(col("n").isNotNull)
      .withColumn("inter",
        size(array_intersect(col("tok"), col("n.tok"))).cast(LongType))
      .withColumn("uni",
        size(array_union(col("tok"), col("n.tok"))).cast(LongType))
      // uni > 0: a pair of token-FREE documents (empty/punctuation-only
      // text) has no token evidence either way — excluded, rather than
      // admitted by the vacuous 0 >= 0 and then crashing the ANSI
      // integer division below. Exact dedup is the right tool for
      // content-free duplicates.
      .filter(col("uni") > 0 &&
        col("inter") * 10000 >= lit(thresholdBp.toLong) * col("uni"))
      .select(
        least(col("id"), col("n.id")).as("id_a"),
        greatest(col("id"), col("n.id")).as("id_b"),
        expr("(inter * 10000) div uni").as("jaccard_bp"))
  }

  /** EXACT-VERIFICATION PRIMITIVE — intentionally quadratic (a true
    * `crossJoin`: all pairs, no candidate pruning). It exists to verify
    * the scale paths (`prefixFilterPairs`, `minhashLsh`) on SMALL
    * bounded sets, never to run on a corpus: at 1M docs it is 5×10^11
    * pairs. Guarded by an eager count against a 10 000-row cap (one
    * cheap aggregate job) so a misrouted large input fails loudly
    * instead of melting the cluster. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      n: Int = 2,
      threshold: Double = 0.2): DataFrame = {
    val nRows = df.count()
    require(nRows <= ngramMaxRows,
      s"ngramJaccardPairs is an all-pairs exact-verification primitive; " +
        s"got $nRows rows (> $ngramMaxRows). Use prefixFilterPairs or " +
        s"minhashLsh for corpus-scale near-dup detection, or check a " +
        s"bounded slice of the corpus.")
    // Tokens staged to a column before the shingle lambda (shinglesOf
    // scaladoc): the inlined shingles(content) form re-split the text
    // once per shingle — O(tokens^2) splits per row (r20).
    val base = df
      .select(col(idCol).as("id"), text.tokens(col(contentCol)).as("t"))
      .select(col("id"), array_distinct(text.shinglesOf(col("t"), n)).as("sh"))
    val l = base.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val r = base.select(col("id").as("id_b"), col("sh").as("sh_b"))
    l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Row cap of [[ngramJaccardPairs]]' all-pairs check (5×10^7 pairs). */
  private val ngramMaxRows = 10000L

  /** Round cap of the distributed label propagation. */
  private val ccMaxIter = 30

  /** Connected components over an undirected pair list (id_a, id_b):
    * resolves near-duplicate PAIRS into duplicate CLUSTERS, labelling
    * every member with the minimum reachable id (the canonical doc).
    *
    * Iterative min-label propagation — each round joins labels across
    * edges and keeps the minimum; converges in O(component diameter)
    * rounds. All shuffles are equi-joins on ids; each round's result is
    * persisted and the previous unpersisted, so lineage stays bounded
    * (no exponential plan growth at scale). */
  def connectedComponents(
      pairs: DataFrame,
      driverEdgeThreshold: Long = 1000000L): DataFrame = {
    // Duplicate-pair graphs are SPARSE relative to the corpus (LSH
    // candidates that survived verification). Up to ~1M edges a
    // driver-side union-find solves the whole graph in milliseconds —
    // far cheaper than per-iteration Spark jobs — while staying well
    // under driver-heap risk (1M (Long,Long) tuples ~ 100 MB of JVM
    // objects; 10M was defensible but leaves no safety margin). The
    // distributed label-propagation path below is the path for
    // genuinely huge dup graphs.
    val materialized = pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val nEdges = materialized.count()
    if (nEdges <= driverEdgeThreshold) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val edges = materialized.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root)
          root = parent.getOrElse(root, root)
        var cur = x // path compression
        while (parent.getOrElse(cur, cur) != root) {
          val next = parent.getOrElse(cur, cur)
          parent(cur) = root
          cur = next
        }
        root
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // min root wins -> canonical = min id
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
      }
      return parent.keys.toSeq.sorted.map(id => (id, find(id)))
        .toDF("id", "label")
    }
    // The distributed result is localCheckpoint-ed inside the loop, so
    // its plan no longer references the edge list — safe for the finally
    // to release it (and a thrown job no longer leaks the cache either).
    connectedComponentsDistributed(materialized)
    } finally materialized.unpersist()
  }

  /** Distributed fallback: iterative min-label propagation with path
    * compression, used when the pair graph exceeds driver capacity. */
  def connectedComponentsDistributed(pairs: DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(lvl)
    try {
      // localCheckpoint persists its backing RDD; without explicit
      // release, every round's checkpoint stays cached for the life of
      // the session. Owned frees exactly the checkpoints this call made:
      // each round releases the previous one once the new round is
      // materialized (its lineage is truncated, so nothing references
      // it). The final round's blocks are the result and are kept.
      val owned = new Owned
      var cur = owned.checkpoint(
        sym.select(col("src").as("id")).distinct()
          .withColumn("label", col("id")))
      var labels = cur
      var converged = false
      var i = 0
      // Per round: neighbor-min relaxation + path compression (label of
      // label) -> O(log diameter) rounds. localCheckpoint truncates the
      // lineage each round (iterative plans otherwise snowball), and the
      // change flag is computed in-row so convergence costs one cheap
      // count over the checkpointed frame.
      while (!converged && i < ccMaxIter) {
        val nbrMin = sym.join(labels, sym("dst") === labels("id"))
          .groupBy(col("src")).agg(min(col("label")).as("nbr_min"))
        val relaxed = labels.as("l")
          .join(nbrMin, col("l.id") === col("src"), "left")
          .select(col("l.id").as("id"), col("l.label").as("old_label"),
            least(col("l.label"), coalesce(col("nbr_min"), col("l.label")))
              .as("label"))
        val ptr = relaxed.select(col("id").as("lid"), col("label").as("llabel"))
        val updated = relaxed.as("r")
          .join(ptr, col("r.label") === col("lid"), "left")
          .select(col("r.id").as("id"),
            least(col("r.label"), coalesce(col("llabel"), col("r.label")))
              .as("label"),
            (least(col("r.label"), coalesce(col("llabel"), col("r.label")))
              < col("r.old_label")).as("changed"))
        val next = owned.checkpoint(updated)
        owned.release(cur)
        cur = next
        converged = next.filter(col("changed")).isEmpty
        labels = next.drop("changed")
        i += 1
      }
      labels
    } finally sym.unpersist()
  }

  /** Embedding-cosine near-duplicate pairs, bucket-pruned by sign
    * pattern: near-identical vectors share the orthant of their leading
    * dimensions, so candidate generation joins on the sign bucket
    * instead of all pairs. */
  def embeddingNearDup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      signBits: Int = 8): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      embeddings.signBucket(col(vecCol), signBits).as("bucket"))
    base.as("l").join(base.as("r"),
      col("l.bucket") === col("r.bucket") && col("l.id") < col("r.id"))
      .withColumn("cos", embeddings.cosine(col("l.v"), col("r.v")))
      .filter(col("cos") >= threshold)
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("cos"))
  }
}
