package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, token counting, quality metrics, language-ID,
  * fingerprinting, shingling, MinHash. All are compositions of built-in
  * (codegen'd) Catalyst expressions — no UDFs — and each has an exact
  * DuckDB-SQL equivalent so the oracle harness can verify them
  * bit-for-bit. Hashing is md5-based: identical across engines, stable
  * across partitionings, no seed state.
  */
object text {

  /** Whitespace tokenization of trimmed text. */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish token count: letter runs, digit runs, and single
    * non-alphanumeric marks — the classic pre-tokenizer split. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Count of punctuation characters (fixed class, RE2/Java-compatible). */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[.,;:!?'\"()\\-]", ""))

  val stopwords: Seq[String] = Seq(
    "a", "an", "the", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "that", "this")

  /** Number of stopword tokens (duplicates counted). */
  def stopwordCount(c: Column): Column =
    size(filter(tokens(c), t => t.isin(stopwords.map(lit(_)): _*)))

  /** Marker stopwords per language for the n-gram/stopword lang-ID
    * heuristic. Deterministic argmax with fixed tie order (seq order). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "en"),
    "fr" -> Seq("le", "la", "et", "les", "des", "une"),
    "de" -> Seq("der", "die", "und", "das", "ein", "nicht"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  private def markerCount(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(c), t => t.isin(markers.map(lit(_)): _*)))

  /** Deterministic single-pass argmax over (lang, score) pairs:
    * array_max over struct(score, -position, lang) — struct comparison
    * is lexicographic, so the max carries the highest score and, on
    * ties, the earliest language in declaration order. Each score
    * expression appears exactly once in the plan (a when-chain argmax
    * re-inlines every score into every branch after CollapseProject,
    * multiplying the scan-heavy counting work per row). */
  private def argmaxLang(scores: Seq[(String, Column)]): Column = {
    val best = array_max(array(scores.zipWithIndex.map { case ((lang, s), i) =>
      struct(s.as("score"), lit(-i).as("ord"), lit(lang).as("lang"))
    }: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Heuristic language-ID: argmax of per-language marker-token counts;
    * 'und' when no marker hits. Ties resolve in langMarkers order. */
  def langId(c: Column): Column =
    argmaxLang(langMarkers.map { case (lang, m) => lang -> markerCount(c, m) })

  /** Character trigram profiles per language (most frequent trigrams of
    * each language's function words) for the char-n-gram lang-ID. */
  val charTrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", " th", "he ", "ing", " of"),
    "es" -> Seq(" de", "que", " la", "el ", " qu", "ión"),
    "fr" -> Seq(" le", "es ", " et", "de ", "la ", "ent"),
    "de" -> Seq("der", "ein", "ich", "sch", "und", " un"))

  /** Occurrences of a fixed substring, via replace-length arithmetic —
    * linear in text length, no array materialization, and identical
    * non-overlapping-count semantics on every engine. */
  def substrCount(t: Column, pattern: String): Column =
    ((length(t) - length(replace(t, lit(pattern), lit("")))) / pattern.length)
      .cast("int")

  /** Per-language char-trigram profile score: total occurrences of the
    * profile trigrams in the lowercased text. */
  def charNgramScore(c: Column, profile: Seq[String]): Column =
    profile.map(p => substrCount(c, p)).reduce(_ + _)

  /** Char-n-gram language-ID: argmax of per-language trigram-occurrence
    * scores over the lowercased text; fixed tie order. Single-pass: the
    * lowercase and every replace-length count run once per row. */
  def langIdNgram(c: Column): Column = {
    val t = lower(c)
    argmaxLang(charTrigramProfiles.map { case (lang, profile) =>
      lang -> charNgramScore(t, profile)
    })
  }

  /** Word n-gram shingles over an already-tokenized array column.
    * Callers that explode shingles should bind the token array to a
    * column FIRST (one split per row): inside a Generate there is no
    * common-subexpression elimination, so an inlined tokens(text) here
    * would re-split the document once per shingle. */
  def shinglesOf(tok: Column, n: Int): Column =
    when(size(tok) < n, array(concat_ws(" ", tok)))
      .otherwise(transform(
        sequence(lit(0), size(tok) - n),
        i => concat_ws(" ", slice(tok, i + 1, lit(n)))))

  /** Word n-gram shingles: joined with single spaces. Documents shorter
    * than n words produce a single whole-text shingle. */
  def shingles(c: Column, n: Int): Column = shinglesOf(tokens(c), n)

  /** Content fingerprint: lexicographic min of md5 over word-n-gram
    * shingles (a 1-perm MinHash — stable, order-independent).
    * Prefer [[fingerprintOf]] over a pre-bound token column: this form
    * inlines tokens(c) into the shingle lambda, where there is no
    * common-subexpression elimination, so the document is re-split once
    * per shingle — O(tokens^2) splits per row (the q172/q34 r20 bug). */
  def fingerprint(c: Column, n: Int = 3): Column =
    fingerprintOf(tokens(c), n)

  /** Content fingerprint over a pre-bound token array column (see
    * shinglesOf for why the tokens must be staged: a bound attribute is
    * cheap to re-reference inside the per-shingle lambdas; an inlined
    * split() is re-evaluated per shingle). */
  def fingerprintOf(tok: Column, n: Int): Column =
    array_min(transform(shinglesOf(tok, n), s => md5(s)))

  /** 32-bit integer hash from md5 (first 8 hex chars), seeded by `seed`.
    * Cross-engine: DuckDB `('0x'||substr(md5(seed||':'||s),1,8))::BIGINT`. */
  def md5Hash32(c: Column, seed: Int): Column =
    conv(substring(md5(concat(lit(s"$seed:"), c)), 1, 8), 16, 10).cast(LongType)

  /** Smallest prime above 2^32 — the modulus of the minhash permutation
    * family. With a < 2^31 and h < 2^32, a*h + b < 2^63: no overflow in
    * Java longs and no overflow error in DuckDB BIGINTs, so the
    * arithmetic is engine-identical. */
  val minhashPrime: Long = 4294967311L

  /** Deterministic affine-permutation constants (31-bit odd multiplier,
    * 31-bit offset) — golden-ratio Weyl mixing, mirrored verbatim into
    * the DuckDB oracle fragments. */
  def minhashPerm(i: Int): (Long, Long) = (
    (((i + 1) * 0x9E3779B9L) | 1L) & 0x7FFFFFFFL,
    ((i + 1) * 0x85EBCA6BL) & 0x7FFFFFFFL)

  /** One 32-bit base hash per word-n-gram shingle (single md5 pass —
    * the k permutations below are integer arithmetic, not k md5 scans). */
  def shingleHashes(c: Column, n: Int): Column =
    shingleHashesOf(tokens(c), n)

  /** Shingle hashes over a pre-bound token array column (see
    * shinglesOf for why explode-paths must stage the tokens).
    * Since r19 this is the native [[graft.plans.WordShingleMd5]]
    * expression (one compiled memcpy + digest loop per row) —
    * bit-identical to the composable form
    *   transform(shinglesOf(tok, n), s =>
    *     conv(substring(md5(s), 1, 8), 16, 10).cast(LongType))
    * which ran interpreted (HOFs evaluate outside whole-stage codegen)
    * and round-tripped every digest through hex + conv. The 32-bit
    * VALUE is unchanged — its collisions are mirrored verbatim in the
    * DuckDB oracles, so it must not widen (WordShingleMd5Spec pins the
    * parity). This is the only shingle-hash helper here: the PPJoin and
    * containment shingle sets call [[graft.plans.WordShingleHash64]]
    * directly. */
  def shingleHashesOf(tok: Column, n: Int): Column =
    graft.plans.WordShingleMd5.hash32(tok, n)

  /** MinHash signature from pre-hashed shingles: one fold computing all
    * k universal-hash permutation minima ((a_i*h+b_i) mod p) of the
    * shared base hash at once. Returns array<long> of length k.
    * Since r19 the fold is the native
    * [[graft.plans.MinHashFromHashesNative]] (one compiled two-level
    * loop) — bit-identical to the interpreted aggregate + zip_with +
    * least form it replaces, which allocated a k-element array per
    * (shingle, permutation) pair (parity spec-pinned). */
  def minhashFromHashes(hs: Column, k: Int): Column =
    graft.plans.MinHashFromHashesNative(
      hs, (0 until k).map(minhashPerm), minhashPrime)

  /** MinHash signature: k universal-hash minima over word n-gram
    * shingles (one md5 per shingle). Returns an array<long> of length k. */
  def minhash(c: Column, k: Int, n: Int = 3): Column =
    minhashFromHashes(shingleHashes(c, n), k)

  /** 60-bit token hash for SimHash (15 hex chars keeps it positive in a
    * signed 64-bit long on every engine). */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)
}
