package graft.queries

/** DuckDB SQL fragments shared by the oracle queries: the DuckDB side of
  * `graft.functions.text`'s tokens, shingles and md5 hashes, and of the
  * embedding sign buckets. One definition each, so a change to the
  * oracle's tokenizer or hashing edits one place. */
private[queries] object DuckSql {

  /** Whitespace tokens of trimmed text. */
  val dTok = raw"string_split_regex(trim(text), '\s+')"

  /** Word n-gram shingles of a token list column `tl`. */
  def dShingles(n: Int, tl: String = "t"): String =
    s"CASE WHEN len($tl) < $n THEN [array_to_string($tl, ' ')] " +
      s"ELSE list_transform(generate_series(0, len($tl) - $n), " +
      s"i -> array_to_string($tl[i+1:i+$n], ' ')) END"

  /** 32-bit md5 hash with integer seed. */
  def dHash32(seed: Int, e: String): String =
    s"('0x' || substr(md5('$seed:' || $e), 1, 8))::BIGINT"

  /** Unseeded 32-bit md5 base hash (minhash). */
  def dHash32u(e: String): String =
    s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  /** The float `embedding` list as DOUBLEs. */
  val dVec = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  /** Sign-bit bucket over the first `bits` dims of the list `e`. */
  def dBucket(bits: Int): String =
    (0 until bits).map(i =>
      s"(CASE WHEN e[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
}
