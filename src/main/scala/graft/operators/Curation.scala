package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.functions.text
import graft.functions.time.epochUs

/** Training-data curation operators beyond the reference surface:
  * sessionization, cross-document boilerplate profiling, benchmark
  * contamination checks, stratified deterministic sampling, and KMV
  * distinct estimation. Each is a composition of built-in (codegen'd)
  * Catalyst expressions shaped for the 100 TB case: candidate
  * generation by hash-bucket equi-joins, aggregation with map-side
  * combine, no driver-side data paths.
  */
object Curation {

  /** Gap-based sessionization: assigns a per-user session_id (1-based)
    * that increments whenever the gap to the previous event exceeds
    * `gapMinutes`. Timestamp comparison is integer microseconds, so the
    * session boundaries are engine-exact; `tieCol` makes the ordering a
    * deterministic total order when timestamps collide.
    *
    * One shuffle (by userCol) and two window passes over sorted
    * partitions — the batch analog of the streaming session windows in
    * graft.streaming. Skewed users salt naturally via AQE at scale. */
  def sessionize(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      tieCol: String,
      gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    df.withColumn("__prev_us", lag(epochUs(col(tsCol)), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev_us").isNull ||
          epochUs(col(tsCol)) - col("__prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("__new_session"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev_us", "__new_session")
  }

  /** Per-document distinct word-n-gram hash table: (id, h) pairs, the
    * shared primitive for boilerplate and contamination analysis. The
    * token array is bound to a column before the explode — a Generate
    * has no common-subexpression elimination, so an inlined tokens()
    * would re-split the document once per emitted shingle.
    * `h` is the 32-bit md5 shingle hash (WordShingleMd5.hash32) the
    * DuckDB oracle mirrors; its collision bound is stated on
    * [[boilerplateProfile]]. */
  private def shingleHashTable(
      df: DataFrame, idCol: String, contentCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"), text.tokens(col(contentCol)).as("__t"))
      .select(col("id"),
        explode(array_distinct(text.shingleHashesOf(col("__t"), n))).as("h"))

  /** Cross-document boilerplate profile: for each document, how many of
    * its distinct n-gram shingles occur in >= minDf documents — the
    * "remove spans repeated across the corpus" signal used when cleaning
    * crawl data. The document frequency rides a window over the shingle
    * hash, so the corpus is shingled ONCE and never self-joined; both
    * shuffles carry (hash, id) pairs, never document bodies.
    *
    * Collision bound: shingles are keyed on the 32-bit md5 hash of
    * [[shingleHashTable]], so two distinct shingles sharing a hash pool
    * their document frequencies — ≈ m²/2³³ such pairs among m distinct
    * corpus shingles (about 116 at 10⁶), each able to lift a rare
    * shingle past minDf. The oracle mirrors the same 32-bit value. */
  def boilerplateProfile(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      n: Int = 5,
      minDf: Int = 3): DataFrame = {
    val sh = shingleHashTable(df, idCol, contentCol, n)
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy(col("h"))))
      .groupBy(col("id").as(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_boiler"),
        graft.functions.exact.pctBp(
          sum(when(col("df") >= minDf, 1L).otherwise(0L)),
          count(lit(1))).as("boiler_bp"))
  }

  /** Benchmark contamination check: candidate documents sharing at
    * least `minShared` distinct n-gram shingles with the benchmark set.
    * `isBenchmark` is evaluated on the INPUT rows, so the benchmark
    * side's predicate pushes into its scan and only benchmark documents
    * are shingled there (a small broadcast side — benchmarks are
    * ~thousands of docs even at 100 TB corpus scale); candidates
    * semi-join on the hash, so the corpus is shingled once and no pair
    * list is ever materialized.
    *
    * Collision bound: the match is on the 32-bit md5 shingle hash of
    * [[shingleHashTable]], as in the oracle. Among m distinct shingles
    * ≈ m²/2³³ pairs collide (about 116 at 10⁶); a candidate shingle
    * that collides with a benchmark one counts as shared. */
  def contamination(
      df: DataFrame,
      idCol: String,
      contentCol: String,
      isBenchmark: Column,
      n: Int = 5,
      minShared: Int = 3): DataFrame = {
    val benchHashes =
      shingleHashTable(df.filter(isBenchmark), idCol, contentCol, n)
        .select(col("h")).distinct()
    shingleHashTable(df.filter(!isBenchmark), idCol, contentCol, n)
      .join(broadcast(benchHashes), "h")
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Stratified deterministic sample: the `perStratum` "random but
    * reproducible" rows per stratum, ordered by content md5 (uniform,
    * engine-identical, no RNG state) with an id tie-break. One shuffle
    * on the stratum key; rank early-exits per partition at scale via
    * the window's running row_number. */
  def stratifiedSample(
      df: DataFrame,
      strataCol: String,
      hashCol: Column,
      tieCol: String,
      perStratum: Int): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(md5(hashCol), col(tieCol))
    df.withColumn("rn", row_number().over(w).cast(LongType))
      .filter(col("rn") <= perStratum)
  }

  /** KMV (bottom-k minimum values) distinct-count estimate from the
    * native BottomKAgg sketch: est = (k-1) * 2^32 / h_k where h_k is the
    * k-th smallest distinct 32-bit hash. Falls back to the exact count
    * when the group has fewer than k distinct values (the sketch IS the
    * exact set then). The sketch is mergeable, so at scale the estimate
    * costs one map-side-combined aggregation regardless of group size. */
  def kmvDistinct(
      df: DataFrame,
      groupCol: String,
      hashCol: Column,
      k: Int = 8): DataFrame =
    df.select(col(groupCol), hashCol.as("__h"))
      .groupBy(col(groupCol))
      .agg(
        graft.plans.BottomKAgg.bottomK(col("__h"), k).as("__sk"),
        countDistinct(col("__h")).as("n_exact"))
      // try_element_at: NULL (not an ANSI index error) when fewer than
      // k values exist — the guard below may be evaluated on such rows
      // before the size() conjunct folds them away.
      .withColumn("__kth", expr(s"try_element_at(__sk, $k)"))
      // __kth > 0 guard: a literal zero hash (p = 2^-32 per value) would
      // be an ANSI divide-by-zero; fall back to the exact count.
      .withColumn("n_est",
        when(size(col("__sk")) >= k && col("__kth") > 0,
          expr(s"CAST(${(k - 1).toLong * 4294967296L} div __kth AS BIGINT)"))
          .otherwise(col("n_exact")))
      .drop("__sk", "__kth")

  /** Context-window chunking: split each document's token stream into
    * overlapping windows of `size` tokens advancing by `stride`
    * (overlap = size - stride) — the standard sliding-window
    * preparation for fixed-context training. Chunk k covers tokens
    * [k*stride, k*stride + size); the last chunk is the first whose
    * window reaches the end (it may be shorter). Narrow op: the token
    * array is staged once per row, the per-chunk explode fans out
    * ceil-bounded rows, zero shuffles. Output: (id, chunk_id,
    * chunk_tokens, chunk_text). */
  def chunkTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      size: Int,
      stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      s"need 0 < stride <= size, got size=$size stride=$stride")
    val staged = df.select(col(idCol), text.tokens(col(textCol)).as("__t"))
      .withColumn("__n", org.apache.spark.sql.functions.size(col("__t")))
      // K = number of ADDITIONAL chunks after the first:
      // ceil((n - size) / stride), floored at 0 — integer arithmetic.
      .withColumn("__k_max",
        greatest(lit(0),
          floor((col("__n") - size + (stride - 1)) / lit(stride)).cast("int")))
    staged
      .select(col(idCol), col("__t"),
        posexplode(transform(
          sequence(lit(0), col("__k_max")),
          k => slice(col("__t"), k * stride + 1, lit(size))))
          .as(Seq("chunk_id", "__chunk")))
      .select(col(idCol), col("chunk_id").cast(LongType).as("chunk_id"),
        org.apache.spark.sql.functions.size(col("__chunk")).cast(LongType)
          .as("chunk_tokens"),
        concat_ws(" ", col("__chunk")).as("chunk_text"))
  }

  /** Corpus-level duplicated-segment removal (the RefinedWeb/CCNet
    * "drop lines repeated across documents" cleanup, expressed over
    * fixed-width token segments since crawl line boundaries are not
    * part of the corpus schema): each document is segmented into
    * consecutive `segTokens`-token groups, a segment occurring in >=
    * `maxDf` DISTINCT documents is dropped everywhere, and the
    * surviving segments are reassembled in order.
    *
    * Scale shape: segments shuffle as (32-char md5 hex, id) pairs — never
    * document bodies — through one distinct-doc-count aggregation and
    * one equi-join back; reassembly is a single groupBy(id) whose
    * buffer is bounded by the document's own segment count. No
    * self-join, no pair materialization.
    *
    * Output: (idCol, clean_text, n_segments, n_kept, n_removed) — one
    * row per input document, clean_text empty when everything was
    * boilerplate. */
  def removeDuplicatedSegments(
      df: DataFrame,
      idCol: String,
      textCol: String,
      segTokens: Int = 8,
      maxDf: Int = 2): DataFrame = {
    require(segTokens > 0 && maxDf > 1,
      s"need segTokens > 0 and maxDf > 1, got $segTokens/$maxDf")
    val staged = df
      // NULL text reads as ZERO tokens (n_segments 0, clean_text "") —
      // distinct from the empty string, whose tokens() is [""] (one
      // empty token, n_segments 1). Without the coalesce a null row
      // emitted null counts and broke the n_kept + n_removed =
      // n_segments accounting.
      .select(col(idCol),
        coalesce(text.tokens(col(textCol)), lit(Array.empty[String]))
          .as("__t"))
      // tokens() of any non-null string is >= 1 element, so n_segments
      // >= 1 there; the null-text row has __n_seg = 0 and the when()
      // below keeps sequence() from seeing a DESCENDING (0, -1) range
      // (Spark's sequence walks backwards when start > stop — it would
      // emit garbage segments, not zero of them).
      .withColumn("__n_seg",
        ((org.apache.spark.sql.functions.size(col("__t")) + (segTokens - 1))
          .cast(LongType) / segTokens).cast(LongType))
    val seg = staged.select(col(idCol),
      posexplode(when(col("__n_seg") > 0L, transform(
        sequence(lit(0L), col("__n_seg") - 1L),
        k => concat_ws(" ",
          slice(col("__t"), (k * segTokens + 1).cast("int"), lit(segTokens)))))
        .otherwise(lit(Array.empty[String])))
        .as(Seq("seg_idx", "seg")))
      .select(col(idCol), col("seg_idx").cast(LongType).as("seg_idx"),
        col("seg"), md5(col("seg")).as("__h"))
    val dfreq = seg.groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__seg_df"))
    val kept = seg.join(dfreq, "__h").filter(col("__seg_df") < maxDf)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s.getField("seg"))).as("clean_text"))
    staged.select(col(idCol), col("__n_seg").as("n_segments"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_segments") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  /** Apply a planned source mixture, INCLUDING upsampling — the missing
    * half of mixture planning (the planner caps nothing here: a source
    * whose rate is 25000 bp contributes each document 2 or 3 times).
    *
    * `plan` is a tiny (source, rate_bp) table — the output of a
    * planning step (q188's shape, uncapped). Each document's copy
    * count is exact integer arithmetic with a deterministic md5
    * residue for the fractional part:
    *
    *   copies = rate_bp div 10000
    *            + (1 if md5_32(seed:text) mod 10000 < rate_bp mod 10000)
    *
    * so E[copies] = rate_bp/10000 per document, reproducible across
    * runs/engines/partitionings (the same integer discipline as the
    * systematic sampler), downsampling (rate < 10000: copies ∈ {0,1})
    * and upsampling (rate > 10000) through ONE formula. Output = input
    * rows replicated with a `copy_idx` column (0-based) so downstream
    * packing/shuffling can tell copies apart.
    *
    * Scale shape: the plan joins as a broadcast (it is bounded by the
    * number of sources); the replication is a narrow explode of a
    * row-local sequence — ZERO shuffles, output size exactly the
    * planned mass. Unmatched sources get rate 10000 (pass-through) —
    * planning decided the mixture; silence dropping a source the plan
    * never saw would be a data-loss trap. */
  def applyMixture(
      df: DataFrame,
      sourceCol: String,
      plan: DataFrame,
      contentCol: String,
      seed: Int = 11): DataFrame = {
    val rated = df.join(
      broadcast(plan.select(col(sourceCol), col("rate_bp"))),
      Seq(sourceCol), "left")
      .withColumn("__rate", coalesce(col("rate_bp"), lit(10000L)))
      .withColumn("__copies",
        (col("__rate") / 10000L).cast(LongType) +
          when(text.md5Hash32(col(contentCol), seed) % 10000L <
            col("__rate") % 10000L, 1L).otherwise(0L))
    rated
      .filter(col("__copies") > 0L)
      .withColumn("copy_idx",
        explode(sequence(lit(0L), col("__copies") - 1L)))
      .drop("__rate", "__copies", "rate_bp")
  }

  /** Sequence-packing manifest: concatenate documents shard-by-shard in
    * a deterministic order and record, per document, which fixed-size
    * context bin its tokens start in and at what offset — the greedy
    * "concatenate and cut" packing every pre-training pipeline uses.
    * Packing is per shard (`shardCol`) so the running sum parallelizes:
    * a GLOBAL ordered cumsum would funnel the corpus through one task.
    * All arithmetic is integer (token counts), so the manifest is
    * engine-exact. Output: (shard, id, n_tokens, bin_start,
    * offset_in_bin, bins_spanned). */
  def packingManifest(
      df: DataFrame,
      shardCol: String,
      idCol: String,
      textCol: String,
      capacity: Int): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(col(shardCol), col(idCol),
      text.tokenCount(col(textCol)).cast(LongType).as("n_tokens"))
      .withColumn("__before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col(shardCol), col(idCol), col("n_tokens"),
        (col("__before") / capacity).cast(LongType).as("bin_start"),
        (col("__before") % capacity).cast(LongType).as("offset_in_bin"),
        (((col("__before") + col("n_tokens") - 1) / capacity).cast(LongType)
          - (col("__before") / capacity).cast(LongType) + 1L)
          .as("bins_spanned"))
  }

  /** Maximal duplicated-span detection over OVERLAPPING token n-gram
    * windows — the exact-substring-dedup signal of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) at token granularity. Differs from
    * [[removeDuplicatedSegments]] (disjoint fixed-width segments) in
    * both recall and output: every token POSITION whose n-gram window
    * occurs in >= minDf distinct documents is duplicated, and runs of
    * consecutive duplicated positions merge into MAXIMAL spans — a
    * duplicated passage longer than n reports as ONE span with exact
    * token boundaries, however the segment grid would have cut it.
    *
    * Mechanics: posexplode the n-gram windows, count distinct docs per
    * window (full 32-hex md5 keys — truncated hashes would collide at
    * corpus scale and merge unrelated windows), keep duplicated
    * positions, then per doc one window pass turns position runs into
    * spans (gap > 1 token starts a new span; a span [p1..p2] covers
    * tokens p1 .. p2+n-1, 0-based).
    *
    * Scale shape: window-hash df is one map-side-combined aggregate;
    * the dup-position join is hash-keyed; the run-merge window sorts
    * positions PER DOCUMENT (bounded by doc length, never corpus-
    * global). Output is span-sized, not position-sized. Docs shorter
    * than n tokens have no windows and report no spans.
    *
    * Key width: windows key on the full 128-bit md5 digest (a 16-byte
    * (h1, h2) struct), so two distinct windows never merge at any
    * corpus scale — unlike the 32-bit shingle hash of
    * [[boilerplateProfile]] and [[contamination]].
    *
    * EAGER (runs one cheap job at call time): the window-df
    * aggregate's hash state is WINDOW-count-sized while AQE sizes its
    * exchange by input BYTES — at 500M windows through 32 partitions
    * that is ~600 MB of aggregate state per partition (measured:
    * 18.4 GB memory + 5.3 GB disk spill, 2-minute GC). The fix is the
    * containment playbook (`OutputMass`): one pre-pass counts the
    * windows, the gram exchange is explicitly sized by that mass, and
    * because the df aggregate and the dup-probe join consume the SAME
    * repartition, Spark reuses the exchange — tokenize+hash runs once.
    * For the common minDf = 2, distinct-doc counting collapses to
    * `min(id) != max(id)` (two-value state, no Expand doubling);
    * higher minDf pays the general countDistinct.
    *
    * Paper-comparison note (`distinctDocs`): the default counts
    * DISTINCT documents per window, so a passage repeated many times
    * WITHIN one document produces no span — a deliberate
    * cross-document-only reading of the signal. Lee et al.'s
    * exact-substring dedup also removes within-document repeats;
    * `distinctDocs = false` selects that reading by counting TOTAL
    * window occurrences instead (a plain count — cheaper than either
    * distinct path — at the price of flagging a document's own
    * internal repetition as duplication).
    *
    * This internal form returns ONE ROW PER DOCUMENT that has spans:
    * (idCol, __runs: array<struct<start_tok, end_tok[, sample]>>), the
    * runs in ascending start order. [[duplicatedSpans]] explodes it to
    * the public span-per-row shape; [[removeDuplicatedSpans]] consumes
    * the arrays DIRECTLY (they are already the per-doc span list its
    * excision join needs — the explode + re-collect round trip of the
    * pre-r20 form was a whole extra aggregate over the corpus spans). */
  private def spanRunsByDoc(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minDf: Int = 2,
      distinctDocs: Boolean = true,
      provenanceK: Int = 0): DataFrame = {
    require(n > 0 && minDf > 1, s"need n > 0 and minDf > 1, got $n/$minDf")
    require(provenanceK >= 0, s"provenanceK must be >= 0, got $provenanceK")
    val staged = df
      .select(col(idCol), text.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= n)
    val nWindows = staged
      .agg(coalesce(sum((size(col("__t")) - (n - 1)).cast(LongType)),
        lit(0L)))
      .head.getLong(0)
    // The window hash is the native WordShingleMd5.hash128 (r19): one
    // compiled memcpy + digest loop per document, the FULL digest as a
    // (h1, h2) long struct, bijective with the md5 hex string the
    // pre-r19 form keyed on (identical groups, identical dup joins),
    // with the shuffle key down from ~32 hex chars to 16 bytes. staged
    // filters size >= n, so the expression's short-doc branch never
    // fires and window k = array index = token position. The detected
    // SPANS are what the DuckDB oracle mirrors, and those are
    // hash-representation-independent.
    val gramHashes = graft.plans.WordShingleMd5.hash128(col("__t"), n)
    val grams = OutputMass.repartitionByOutputMass(
      staged.select(col(idCol), posexplode(gramHashes).as(Seq("pos", "__h"))),
      nWindows, bytesPerRow = 48L, col("__h"))
    // Span provenance (provenanceK > 0): curation audits ask
    // "duplicated WITH WHOM", so each duplicated window also carries
    // the provenanceK SMALLEST sharing doc ids, and the span rolls its
    // windows' samples up into one bounded sorted sample. Cost rides
    // the existing gram exchange. The window aggregate is the native
    // BottomKAgg KMV sketch (k smallest DISTINCT longs, O(k) buffer,
    // mergeable partials) whenever the id column is integral — the
    // same result as slice(sort_array(collect_set(id)), 1, k) with the
    // one unbounded buffer removed: a boilerplate window shared by
    // half the corpus used to hold its FULL distinct sharer set in one
    // aggregation buffer pre-slice (the r18-documented "audit price");
    // the sketch caps that at k ids per window at every partial. The
    // collect_set form survives only as the fallback for non-integral
    // id columns, where the bounded-state precondition is "collapse
    // exact dups first" (the LSH banding's documented precondition).
    val idIsIntegral = df.schema(idCol).dataType match {
      case _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    val sampleAgg =
      (if (idIsIntegral)
        graft.plans.BottomKAgg.bottomK(
          col(idCol).cast(LongType), provenanceK.max(1))
      else slice(sort_array(collect_set(col(idCol))), 1, provenanceK))
        .as("__sample")
    // Exchange-identity pin (r20): the df aggregate and the dup-probe
    // join both consume `grams`, but without a reference to `pos` the
    // optimizer prunes it from the aggregate branch's pre-exchange
    // projection — the two hashpartitioning(__h) exchanges then differ
    // by one column, runtime exchange reuse cannot fire, and the WHOLE
    // scan + tokenize + window-hash subtree executes twice (measured
    // r20 baseline: the duplicated pass was ~a third of the span
    // family's task CPU; the pre-r19 scaladoc claim that the exchange
    // was shared was wrong in exactly this way). `min(pos) >= 0` in
    // the dup filter is semantically vacuous — positions are array
    // indices — but unprovable to the optimizer, so `pos` survives
    // into the aggregate branch's exchange, both subtrees canonicalize
    // identically, and the tokenize+hash exchange materializes ONCE.
    val posPin = min(col("pos")).as("__p0")
    def pinned(agged: DataFrame, dupPred: Column): DataFrame =
      agged.filter(dupPred && col("__p0") >= 0)
        .select(col("__h") +:
          (if (provenanceK > 0) Seq(col("__sample")) else Seq.empty): _*)
    val dupHashes =
      if (!distinctDocs) {
        // total-occurrence mode: one plain count per window — no
        // distinct machinery at all. count(*) references neither id nor
        // pos, so BOTH need the reuse pin here (min/max pin id in the
        // other branches); `__p0 >= 0 OR isnotnull(__id0)` is vacuous
        // (pos is an array index) but keeps both columns flowing into
        // the aggregate branch's exchange.
        val base = grams.groupBy(col("__h"))
        val idPin = first(col(idCol)).as("__id0")
        val agged =
          if (provenanceK > 0)
            base.agg(count(lit(1)).as("__df"), posPin, idPin, sampleAgg)
          else base.agg(count(lit(1)).as("__df"), posPin, idPin)
        pinned(agged,
          col("__df") >= minDf && (col("__p0") >= 0 || col("__id0").isNotNull))
      } else if (minDf == 2) {
        val base = grams.groupBy(col("__h"))
        val agged =
          if (provenanceK > 0)
            base.agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"),
              posPin, sampleAgg)
          else
            base.agg(min(col(idCol)).as("__mn"), max(col(idCol)).as("__mx"),
              posPin)
        pinned(agged, col("__mn") =!= col("__mx"))
      } else {
        val base = grams.groupBy(col("__h"))
        val agged =
          if (provenanceK > 0)
            base.agg(countDistinct(col(idCol)).as("__df"), posPin, sampleAgg)
          else base.agg(countDistinct(col(idCol)).as("__df"), posPin)
        pinned(agged, col("__df") >= minDf)
      }
    // shuffle_hash, never broadcast: the dup list is corpus-derived
    // and can be corpus-sized on a duplicate-heavy corpus; an SMJ
    // would sort the window-count-sized probe side.
    val dup = grams.join(dupHashes.hint("shuffle_hash"), Seq("__h"))
    // Run-merge as ONE fused aggregate (r20): the duplicated positions
    // of each doc fold straight into merged maximal spans —
    // graft.plans.PosRunsAgg (primitive-long buffer, sort + linear
    // merge at eval), or its provenance form over pos-sorted
    // (pos, sample) pairs. Replaces the lag()-window + running-sum
    // window + groupBy(id, span_id) re-aggregate pipeline, whose Sort
    // + two WindowExec passes over every duplicated position were the
    // span family's dominant CPU (13-17 s task CPU per query at sf0.1,
    // r19 verdict item 1). Bit-parity with the window form is spec-
    // pinned (SpanRunsSpec), including duplicate-position splits.
    // State stays bounded by positions-per-document, exactly the bound
    // the window sort carried.
    val runsAgg =
      if (provenanceK > 0)
        // Per-span sample: first provenanceK of the ascending-sorted
        // DISTINCT union of the windows' bounded samples — the old
        // slice(array_sort(array_distinct(flatten(collect_list(..)))))
        // rollup, folded into the same single pass (scalar comma
        // string built below — oracle-hashable audit column).
        graft.plans.SpanRunsWithSamples.spanRuns(
          sort_array(collect_list(struct(
            col("pos").cast(LongType).as("pos"), col("__sample")))),
          n, provenanceK)
      else
        graft.plans.PosRunsAgg.posRuns(col("pos").cast(LongType), n)
    dup.groupBy(col(idCol)).agg(runsAgg.as("__runs"))
  }

  /** See [[duplicatedSpans]] — the exploded public shape over the
    * per-doc run arrays of [[spanRunsByDoc]]. Span ids are assigned by
    * ascending start position (the run arrays are emitted in that
    * order), identical to the running-sum span_id of the replaced
    * window formulation. */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minDf: Int = 2,
      distinctDocs: Boolean = true,
      provenanceK: Int = 0): DataFrame = {
    val byDoc = spanRunsByDoc(
      df, idCol, textCol, n, minDf, distinctDocs, provenanceK)
    val exploded = byDoc.select(
      col(idCol), posexplode(col("__runs")).as(Seq("__i", "__r")))
    val base = Seq(
      col(idCol),
      (col("__i") + 1).cast(LongType).as("span_id"),
      col("__r.start_tok").as("start_tok"),
      col("__r.end_tok").as("end_tok")) ++
      (if (provenanceK > 0)
        Seq(concat_ws(",", transform(col("__r.sample"),
          x => x.cast("string"))).as("sample_docs"))
      else Seq.empty)
    exploded.select(base: _*)
      .withColumn("span_tokens", col("end_tok") - col("start_tok") + 1L)
  }

  /** Maximal duplicated-span REMOVAL — the acting half of the
    * Lee et al. 2022 exact-substring pipeline whose detection half is
    * [[duplicatedSpans]]: every token position covered by a maximal
    * duplicated span (any position whose n-gram window occurs in >=
    * minDf documents covers tokens pos .. pos+n-1) is excised, and the
    * survivors reassemble in original order — the same order-preserving
    * reassembly contract as [[removeDuplicatedSegments]], but on the
    * EXACT span boundaries rather than a fixed segment grid (a
    * duplicated passage is removed whole wherever the grid would have
    * cut it, and the non-duplicated remainder of a partially-shared
    * segment survives).
    *
    * Boundary semantics: removal is whole-span — a token is dropped iff
    * it lies inside ANY maximal span, including spans at position 0, at
    * the end of the document, or covering the whole document (those
    * yield clean_text = ""). Documents shorter than n tokens have no
    * windows and pass through untouched.
    *
    * Scale shape: spans come from [[duplicatedSpans]] (EAGER — inherits
    * its one cheap window-count pre-pass) and are SPAN-sized, so the
    * per-doc span list aggregate is tiny; the join back to the token
    * arrays is one id-keyed equi-join — the one place document bodies
    * shuffle, the same honest reassembly cost the segment remover pays.
    * The per-token span test is a codegen'd higher-order filter over
    * the doc's own (few) spans — no UDF, no driver path.
    *
    * Output: (idCol, clean_text, n_tokens, n_kept, n_removed) — one row
    * per input document. With `provenanceK > 0` the output additionally
    * carries `removed_spans`: each excised span as "start-end@ids"
    * (ids = the span's provenanceK smallest sharing docs, the
    * [[duplicatedSpans]] audit column), ';'-joined in start order —
    * "who caused each excision", completing the audit story for the
    * cost of carrying the already-computed span aggregate through the
    * reassembly join (the span list itself rides that join either
    * way). Docs with nothing excised carry "". */
  def removeDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      minDf: Int = 2,
      distinctDocs: Boolean = true,
      provenanceK: Int = 0): DataFrame = {
    // The per-doc run arrays from spanRunsByDoc ARE the span lists the
    // excision join needs (first two struct fields = start/end, the
    // exact ExciseSpans contract) — the pre-r20 form exploded them to
    // span rows only to collect_list them straight back per doc, one
    // whole extra hash aggregate over the corpus spans. The provenance
    // string builds from the same arrays, already in start order (the
    // old array_sort re-established exactly that order).
    //
    // distinct-doc mode drops null-id docs from DETECTION explicitly:
    // a null id never matches the reassembly equi-join (its spans were
    // always dead rows), and min/max/countDistinct skip nulls, so the
    // filter is a semantic no-op — but the optimizer infers exactly
    // this isnotnull on the dup-PROBE branch from the outer join and
    // not on the aggregate branch, and that asymmetry alone made the
    // two tokenize+hash subtrees non-identical (no exchange reuse: the
    // corpus was scanned, tokenized and window-hashed twice). In
    // total-occurrence mode a null-id doc's windows DO count toward
    // occurrence df, so that mode keeps them and pays the second pass.
    val detectSrc =
      if (distinctDocs) df.filter(col(idCol).isNotNull) else df
    val byDoc = spanRunsByDoc(
      detectSrc, idCol, textCol, n, minDf, distinctDocs, provenanceK)
    val spans =
      if (provenanceK > 0)
        byDoc.select(col(idCol), col("__runs").as("__spans"),
          concat_ws(";", transform(col("__runs"),
            r => concat_ws("@",
              concat_ws("-", r.getField("start_tok"), r.getField("end_tok")),
              concat_ws(",", transform(r.getField("sample"),
                x => x.cast("string")))))).as("__prov"))
      else
        byDoc.select(col(idCol), col("__runs").as("__spans"))
    // NULL text reads as ZERO tokens (n_tokens 0, clean_text "", kept =
    // removed = 0) — distinct from the empty string, whose tokens() is
    // [""] (one empty token). Without the coalesce a null row emitted
    // null counts and broke the documented n_kept + n_removed =
    // n_tokens accounting (duplicatedSpans itself already drops null
    // rows via its size >= n filter, so only the reassembly side needs
    // the guard).
    df.select(col(idCol),
      coalesce(text.tokens(col(textCol)), lit(Array.empty[String]))
        .as("__t"))
      .join(spans, Seq(idCol), "left")
      // Excision is the native merged sweep (graft.plans.ExciseSpans,
      // O(tokens + spans log spans) compiled): the composable
      // filter/exists form re-probes the WHOLE span list per token,
      // interpreted — invisible on span-sparse corpora, but on the
      // template-heavy corpora this operator exists for (r18 span-dense
      // deep shape: ~200 spans per ~2000-token doc, ~50% coverage) it
      // measured 554 s of task time at the x100 point (~11 ms/doc,
      // tokens x spans interval checks) with a 1.15 task exponent.
      // Bit-parity with the HOF form is spec-pinned (ExciseSpansSpec),
      // including span lists duplicatedSpans never emits.
      .withColumn("__kept",
        when(col("__spans").isNull, col("__t")).otherwise(
          graft.plans.ExciseSpans(col("__t"), col("__spans"))))
      .select((Seq(col(idCol),
        concat_ws(" ", col("__kept")).as("clean_text"),
        size(col("__t")).cast(LongType).as("n_tokens"),
        size(col("__kept")).cast(LongType).as("n_kept"),
        (size(col("__t")) - size(col("__kept"))).cast(LongType)
          .as("n_removed")) ++
        (if (provenanceK > 0)
          Seq(coalesce(col("__prov"), lit("")).as("removed_spans"))
        else Seq.empty)): _*)
  }

  /** DSIR-style hashed-n-gram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling",
    * arXiv:2302.03169), integer-exact rational variant.
    *
    * DSIR scores each raw document by how much more likely its hashed
    * token bag is under a TARGET (high-quality) distribution than under
    * the RAW distribution — log w(x) = Σ_b f_b(x)·(ln p_t(b) − ln
    * p_r(b)) — then resamples by weight. Transcendental logs cannot be
    * pinned across engines, so this variant keeps the paper's structure
    * on exact integers: each bucket's evidence is the ADD-ONE-SMOOTHED
    * PROBABILITY RATIO in micro-units,
    *
    *   ratio_micro(b) = (c_t(b)+1)·(R+B)·10^6 div ((c_r(b)+1)·(T+B))
    *
    * (c_t/c_r = target/raw token counts hashed into bucket b, T/R the
    * corpus totals, B = nBuckets), and the document score is the
    * LINEARIZED log-ratio Σ_b f_b(x)·(ratio_micro(b) − 10^6) — the
    * first-order Taylor surrogate of Σ f·ln ratio, monotone in each
    * bucket's ratio. The inner products AND the per-doc score sum ride
    * DECIMAL(38,0) (counts up to ~10^15 tokens cannot overflow, and a
    * doc whose tokens all land in raw-rare/target-heavy buckets cannot
    * silently wrap a 64-bit accumulator); the published imp_micro is
    * the BIGINT cast of that exact sum — finite whenever the true score
    * fits 64 bits, which holds through ~10^12 tokens/doc at the ratio
    * bound ~10^6·(R+B)/(c_r+1).
    *
    * `n` selects the feature space: n = 1 buckets unigrams; n >= 2
    * buckets hashed word n-grams (the cited paper's feature space is
    * hashed BIGRAMS — n = 2), riding the same shingle machinery as the
    * dedup family (documents shorter than n contribute one whole-text
    * feature, [[graft.functions.text.shinglesOf]]'s contract). With
    * n-grams, `n_tokens` is the per-doc FEATURE count (= token count
    * for n = 1, window count max(len−n+1, 1) otherwise).
    *
    * Scale shape: two map-side-combined feature-bucket aggregates (raw
    * and target — the target corpus is typically tiny next to raw), a
    * B-row ratio table that joins BROADCAST (B ≤ 2^20 ⇒ ≤ ~16 MB), and
    * one more map-side-combined per-doc aggregate. Nothing
    * document-sized shuffles beyond the (id, bucket) pairs; no UDF, no
    * floating point. Output: (idCol, n_tokens, imp_micro); imp_micro is
    * 0-centered (a doc that looks exactly like raw scores ~0). */
  def importanceWeights(
      raw: DataFrame,
      target: DataFrame,
      idCol: String,
      textCol: String,
      nBuckets: Int = 1024,
      seed: Int = 7,
      n: Int = 1): DataFrame = {
    require(nBuckets > 0 && nBuckets <= (1 << 20),
      s"nBuckets must be in [1, 2^20], got $nBuckets")
    require(n > 0, s"n must be positive, got $n")
    def buckets(df: DataFrame, keep: Seq[Column]): DataFrame =
      featureBuckets(df, keep, textCol, nBuckets, seed, n)
    val rawB = buckets(raw, Seq(col(idCol)))
    // The bucket-count tables are BOUNDED (<= nBuckets <= 2^20 rows) but
    // EXPENSIVE to produce (a full tokenize+hash pass over the corpus) —
    // and each is consumed twice (the ratio join AND its own totals
    // aggregate), through NESTED broadcast subqueries where AQE's stage
    // cache does not dedup the identical aggregation subtrees. The r20
    // executed-plan audit showed q213 running FOUR full corpus
    // tokenize+hash passes (scoring, rawCnt, the r_tot recompute, and
    // tgtCnt twice at 1/19 size). localCheckpoint materializes the tiny
    // tables once (guide: materialize an intermediate to truncate the
    // plan), cutting the corpus passes to the structural floor of two
    // (count pass + scoring pass). Inside the timed query; KB-sized.
    val rawCnt = rawB.groupBy(col("__b")).agg(count(lit(1)).as("__c_r"))
      .localCheckpoint()
    val tgtCnt = buckets(target, Seq.empty)
      .groupBy(col("__b")).agg(count(lit(1)).as("__c_t"))
      .localCheckpoint()
    val totals = rawCnt.agg(sum(col("__c_r")).as("__r_tot")).crossJoin(
      tgtCnt.agg(coalesce(sum(col("__c_t")), lit(0L)).as("__t_tot")))
    // Every token of `raw` hashes into a bucket present in rawCnt, so
    // the left join loses nothing; buckets the target never hit get the
    // smoothed floor c_t = 0.
    val ratios = rawCnt.join(tgtCnt, Seq("__b"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__b"), expr(
        s"CAST((CAST(coalesce(__c_t, 0) + 1 AS DECIMAL(38,0))" +
          s" * (__r_tot + $nBuckets) * 1000000)" +
          s" div (CAST(__c_r + 1 AS DECIMAL(38,0)) * (__t_tot + $nBuckets))" +
          s" AS BIGINT)").as("__ratio_micro"))
    // exact score sum: DECIMAL(38,0) accumulator (the oracle's HUGEINT
    // mirror), BIGINT only at the very end — a 64-bit running sum would
    // wrap silently under non-ANSI on ratio-heavy docs.
    val delta = (col("__ratio_micro") - 1000000L).cast(DecimalType(38, 0))
    rawB.join(broadcast(ratios), Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast(LongType).as("n_tokens"),
        sum(delta).cast(LongType).as("imp_micro"))
  }

  /** Deterministic importance resampling over [[importanceWeights]]
    * output: the k highest-weight documents, ties broken by id. Plans
    * as TakeOrderedAndProject — per-partition top-k plus a k-row driver
    * merge, never a global sort — the only resampling shape that
    * survives a 100 TB corpus. (The paper's Gumbel-noise sampling is
    * replaced by the repo-wide deterministic-integer discipline.) */
  def importanceTopK(weights: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    weights.orderBy(col("imp_micro").desc, col(idCol)).limit(k)
  }

  /** Shared hashed-feature bucketing: one row per word n-gram feature of
    * `textCol`, bucketed into [0, nBuckets) — the feature space of both
    * [[importanceWeights]] (DSIR) and [[classifierScore]] (fastText-style
    * inference). `keep` columns ride through the explode unchanged.
    *
    * The hash is the native WordShingleMd5.hash32 with the seed prefix
    * (r19), the cross-engine-mirrorable form the DuckDB oracle replays:
    * bit-identical to exploding the shingles and applying
    * md5Hash32(w, seed) per row (WordShingleMd5Spec pins the
    * prefix-mode parity), minus the per-feature hex round-trip and, for
    * n >= 2, the interpreted shinglesOf transform. Documents shorter
    * than n tokens contribute ONE whole-text feature (shinglesOf's
    * contract), so every non-null document scores. */
  private def featureBuckets(
      df: DataFrame,
      keep: Seq[Column],
      textCol: String,
      nBuckets: Int,
      seed: Int,
      n: Int): DataFrame =
    df.select(keep :+ text.tokens(col(textCol)).as("__t"): _*)
      .select(keep :+ explode(
        graft.plans.WordShingleMd5.hash32(col("__t"), n, s"$seed:"))
        .as("__h"): _*)
      .select(keep :+ (col("__h") % nBuckets).as("__b"): _*)

  /** Hashed linear text-classifier INFERENCE (the fastText architecture
    * — Joulin et al. 2016, "Bag of Tricks for Efficient Text
    * Classification", arXiv:1607.01759 — collapsed to its scoring
    * shape): a document's hashed word-n-gram bucket counts dotted with
    * a trained weight table, mean-pooled over the feature count. This
    * is the model-based quality-filter stage of the curation pipeline
    * ("keep documents the classifier scores like the reference
    * corpus"): training happens offline on a small labeled set; at
    * corpus scale only this inference pass runs.
    *
    * Integer-exact variant of w·x/|x| + b: `weights` holds one
    * INTEGER micro-unit weight per bucket (bucket, weight_micro) —
    * micro-units are the repo-wide fixed-point discipline, so the dot
    * product, the mean (truncating div — Spark `div` and DuckDB `//`
    * both round toward zero, verified on negatives), and the sign are
    * engine-exact with no transcendental sigmoid (the sigmoid is
    * monotone, so thresholding score_micro IS thresholding the
    * probability).
    *
    * Scale shape: one narrow feature explode, a BROADCAST join against
    * the weight table (bounded by nBuckets ≤ 2^20 ⇒ ≤ ~16 MB — a trained
    * model, tiny next to the corpus), and one map-side-combined per-doc
    * aggregate with a DECIMAL(38,0) accumulator (a doc whose features
    * all land in extreme-weight buckets cannot silently wrap 64 bits).
    * Nothing document-sized shuffles beyond (id, bucket) pairs; no
    * UDF, no floats. Buckets absent from `weights` contribute weight 0 (an
    * untrained bucket is no evidence).
    *
    * Output: (idCol, n_features, score_sum_micro, score_micro) —
    * score_micro = biasMicro + score_sum_micro div n_features. */
  def classifierScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      weights: DataFrame,
      nBuckets: Int = 1024,
      seed: Int = 7,
      n: Int = 1,
      biasMicro: Long = 0L): DataFrame = {
    require(nBuckets > 0 && nBuckets <= (1 << 20),
      s"nBuckets must be in [1, 2^20], got $nBuckets")
    require(n > 0, s"n must be positive, got $n")
    val w = broadcast(
      weights.select(col("bucket").cast(LongType).as("__b"),
        col("weight_micro").cast(LongType).as("__w_micro")))
    featureBuckets(df, Seq(col(idCol)), textCol, nBuckets, seed, n)
      .join(w, Seq("__b"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast(LongType).as("n_features"),
        sum(coalesce(col("__w_micro"), lit(0L)).cast(DecimalType(38, 0)))
          .as("__sum"))
      .select(col(idCol), col("n_features"),
        col("__sum").cast(LongType).as("score_sum_micro"),
        (lit(biasMicro) + expr("__sum div n_features").cast(LongType))
          .as("score_micro"))
  }

  /** Hashed linear text-classifier TRAINING — the missing half of
    * [[classifierScore]]: aggregate per-bucket log-odds weights from a
    * LABELED slice (positive = reference corpus, negative = crawl
    * sample — the fastText quality-filter setup of Joulin et al. 2016
    * as used in curation pipelines), emitting exactly the
    * (bucket, weight_micro) table [[classifierScore]] consumes.
    *
    * Integer-exact discipline (the DSIR ratio-micro form,
    * [[importanceWeights]]): a bucket's weight is the add-one-smoothed
    * class-probability ratio in micro-units, 0-centered —
    *
    *   weight_micro(b) = (c_pos(b)+1)·(N_neg+B)·10^6
    *                       div ((c_neg(b)+1)·(N_pos+B))  −  10^6
    *
    * (c_pos/c_neg = class feature counts hashed into bucket b, N_pos/
    * N_neg the class totals, B = nBuckets) — the first-order surrogate
    * of the naive-Bayes log-odds ln(p(b|pos)/p(b|neg)), monotone in
    * the true ratio, so thresholding the downstream mean-pooled score
    * orders documents exactly like the log-linear model would. All
    * intermediates ride DECIMAL(38,0); transcendental logs never
    * appear, so the table is engine-exact and oracle-mirrorable.
    *
    * `isPositive` is evaluated per input row; rows where it is NULL
    * are unlabeled and contribute to NEITHER class (dropping them
    * silently would be a label-quality trap — they are excluded from
    * both numerator and denominator, never misread as negatives).
    * Buckets no training feature hits are absent from the output;
    * classifierScore reads absent buckets as weight 0 (no evidence),
    * which matches the smoothed weight's 0-centering.
    *
    * Scale shape: ONE narrow feature explode over the labeled slice
    * (bounded — labeled data is small by construction), one
    * map-side-combined per-bucket aggregate with conditional sums (no
    * per-class scan), one B-row broadcast of the totals. The output is
    * ≤ nBuckets ≤ 2^20 rows — broadcastable by contract. */
  def trainClassifier(
      df: DataFrame,
      textCol: String,
      isPositive: Column,
      nBuckets: Int = 1024,
      seed: Int = 7,
      n: Int = 1): DataFrame = {
    require(nBuckets > 0 && nBuckets <= (1 << 20),
      s"nBuckets must be in [1, 2^20], got $nBuckets")
    require(n > 0, s"n must be positive, got $n")
    // Pre-project the label: featureBuckets re-selects its `keep`
    // columns after the tokenize projection, so a computed label
    // expression must already BE a column there.
    val labeled = df.select(
      isPositive.cast("boolean").as("__pos"), col(textCol))
    // counts is <= nBuckets rows but costs a tokenize+hash pass over the
    // labeled slice, and is consumed twice (weights + totals) through
    // broadcast subqueries that re-execute it — same materialization
    // rationale as importanceWeights' bucket tables (r20).
    val counts = featureBuckets(
      labeled, Seq(col("__pos")), textCol, nBuckets, seed, n)
      .groupBy(col("__b"))
      .agg(
        sum(when(col("__pos"), 1L).otherwise(0L)).as("__c_p"),
        sum(when(!col("__pos"), 1L).otherwise(0L)).as("__c_n"))
      .localCheckpoint()
    val totals = counts.agg(
      sum(col("__c_p")).as("__p_tot"), sum(col("__c_n")).as("__n_tot"))
    counts.crossJoin(broadcast(totals))
      .select(col("__b").as("bucket"), expr(
        s"CAST((CAST(__c_p + 1 AS DECIMAL(38,0))" +
          s" * (__n_tot + $nBuckets) * 1000000)" +
          s" div (CAST(__c_n + 1 AS DECIMAL(38,0)) * (__p_tot + $nBuckets))" +
          s" AS BIGINT) - 1000000").as("weight_micro"))
  }
}
