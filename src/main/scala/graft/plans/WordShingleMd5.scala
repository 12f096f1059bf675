package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}

/** Native md5 word-n-gram shingle hashing — the md5 twin of
  * [[WordShingleHash64]] and the one shingle hash of every Curation
  * operator (boilerplate, contamination, duplicated spans, DSIR and
  * classifier buckets): its values are part of the ORACLE-VERIFIED
  * results. One compiled memcpy + digest loop per row replaces the
  * interpreted transform + slice + concat_ws (+ md5-hex + conv)
  * pipeline. Window assembly is identical to WordShingleHash64
  * (single-space joins, concat_ws null-element skipping, short-doc
  * whole-text branch), so token-window parity is inherited from its
  * spec; this class's spec pins the md5 value parity.
  *
  * Two output modes:
  *
  *  - `wide = false`: array<bigint> of
  *    conv(substr(md5(shingle), 1, 8), 16, 10) — BIT-IDENTICAL to
  *    [[graft.functions.text.shingleHashesOf]] (the digest's first 4
  *    bytes as an unsigned int, which is exactly what conv parses from
  *    the first 8 hex chars). The 32-bit value — collisions included —
  *    is mirrored verbatim in the DuckDB oracles (source overlap,
  *    shingle novelty, minhash permutations), so it must not widen:
  *    among m distinct shingles ≈ m²/2³³ pairs collide (about 116 at
  *    10⁶).
  *
  *  - `wide = true`: array<struct<h1:bigint,h2:bigint>> — the FULL
  *    128-bit digest packed into two longs. Bijective with the md5 hex
  *    string, for paths that previously keyed shuffles on the 32-char
  *    hex itself (duplicatedSpans' gram stream): grouping/joining on
  *    the struct partitions rows exactly as the string did (identical
  *    groups, identical joins — no collision behavior changes) while
  *    the key shrinks ~40 -> 16 bytes per UnsafeRow and the hex
  *    encode/parse disappears.
  *
  * `prefix` is prepended to every shingle's bytes before hashing (the
  * seeded-bucket form md5(concat('7:', w)) — [[graft.functions
  * .text.md5Hash32]]'s layout) — empty for the plain shingle paths.
  */
case class WordShingleMd5(child: Expression, n: Int, prefix: String,
    wide: Boolean) extends UnaryExpression {

  override def dataType: DataType =
    if (wide) ArrayType(WordShingleMd5.wideElement, containsNull = false)
    else ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n > 0 => TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckFailure(s"shingle width must be positive, got $n")
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"word_shingle_md5 requires array<string>, got ${other.catalogString}")
  }

  private lazy val prefixBytes = prefix.getBytes("UTF-8")

  override protected def nullSafeEval(input: Any): Any =
    WordShingleMd5.hashAll(
      input.asInstanceOf[ArrayData], n, prefixBytes, wide)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val pref = ctx.addReferenceObj("prefix", prefixBytes, "byte[]")
      s"${ev.value} = graft.plans.WordShingleMd5.hashAll($c, $n, $pref, $wide);"
    })

  override protected def withNewChildInternal(newChild: Expression): WordShingleMd5 =
    copy(child = newChild)
}

object WordShingleMd5 {

  private[plans] val wideElement = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))

  /** array<bigint>: conv(substr(md5(prefix || shingle), 1, 8), 16, 10)
    * per n-gram window — shingleHashesOf's exact values. */
  def hash32(tok: Column, n: Int, prefix: String = ""): Column =
    GraftColumnBridge.column(WordShingleMd5(
      GraftColumnBridge.expression(tok), n, prefix, wide = false))

  /** array<struct<h1,h2>>: the full 128-bit digest per window —
    * bijective with the md5 hex string. */
  def hash128(tok: Column, n: Int, prefix: String = ""): Column =
    GraftColumnBridge.column(WordShingleMd5(
      GraftColumnBridge.expression(tok), n, prefix, wide = true))

  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest =
      MessageDigest.getInstance("MD5")
  }

  /** Same one-pass window assembly as [[WordShingleHash64.hashAll]]
    * (token bytes extracted once, reusable grow-only buffer,
    * single-space concat_ws-with-null-skip joins) plus the prefix at
    * the buffer's head, feeding an MD5 digest instead of XXH64. */
  def hashAll(tokens: ArrayData, n: Int, prefix: Array[Byte],
      wide: Boolean): ArrayData = {
    val md = md5Local.get()
    val m = tokens.numElements()
    val tb = new Array[Array[Byte]](m)
    var i = 0
    while (i < m) {
      if (!tokens.isNullAt(i)) tb(i) = tokens.getUTF8String(i).getBytes
      i += 1
    }
    val p = prefix.length
    var buf = new Array[Byte](math.max(64, p))
    System.arraycopy(prefix, 0, buf, 0, p)

    def window(from: Int, count: Int): Int = {
      var need = p
      var k = 0
      var nonNull = 0
      while (k < count) {
        val t = tb(from + k)
        if (t != null) { need += t.length; nonNull += 1 }
        k += 1
      }
      if (nonNull > 1) need += nonNull - 1
      if (need > buf.length) {
        val grown = new Array[Byte](math.max(need, buf.length * 2))
        System.arraycopy(prefix, 0, grown, 0, p)
        buf = grown
      }
      var len = p
      var first = true
      k = 0
      while (k < count) {
        val t = tb(from + k)
        if (t != null) {
          if (!first) { buf(len) = ' '; len += 1 }
          System.arraycopy(t, 0, buf, len, t.length)
          len += t.length
          first = false
        }
        k += 1
      }
      len
    }

    def digest(len: Int): Array[Byte] = {
      md.update(buf, 0, len)
      md.digest()
    }
    // first 4 digest bytes as an unsigned int — what conv() parses
    // from the first 8 hex chars
    def d32(d: Array[Byte]): Long =
      ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
    def dLong(d: Array[Byte], off: Int): Long = {
      var h = 0L
      var j = 0
      while (j < 8) { h = (h << 8) | (d(off + j) & 0xFFL); j += 1 }
      h
    }
    def wideRow(d: Array[Byte]): InternalRow =
      new GenericInternalRow(Array[Any](dLong(d, 0), dLong(d, 8)))

    val nOut = if (m < n) 1 else m - n + 1
    if (wide) {
      val out = new Array[Any](nOut)
      var w = 0
      while (w < nOut) {
        out(w) = wideRow(digest(window(w, math.min(n, m))))
        w += 1
      }
      new GenericArrayData(out)
    } else {
      val out = new Array[Long](nOut)
      var w = 0
      while (w < nOut) {
        out(w) = d32(digest(window(w, math.min(n, m))))
        w += 1
      }
      new GenericArrayData(out)
    }
  }
}
