package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Exact percentile over a BIGINT column via a PRIMITIVE long→long
  * count histogram — same result, to the bit, as Spark's
  * `percentile(col, p)` (linear interpolation over the sorted
  * multiset), without the per-row boxing that makes the built-in the
  * GC driver of every exact-quantile shape at scale.
  *
  * Spark's Percentile buffers an `OpenHashMap[AnyRef, Long]`: every
  * input row allocates a boxed key and hashes through AnyRef equality
  * (x1000 artifact: mad_outliers = two grouped exact percentiles over
  * a 100M-row changelog, 731 s summed task time and 12 s GC, nearly
  * all of it in the update path). This buffer is two parallel long
  * arrays with linear probing — zero allocation per row, zero boxing
  * — and serializes as plain (value, count) pairs. Memory is
  * ~16 B x distinct values per group either way; the 100 TB guidance
  * is unchanged (per-group exact percentile buffers the group's
  * distinct values — swap in percentile_approx past that, as
  * imputeBattery's size guard does).
  *
  * Interpolation replicates Percentile.getPercentile exactly:
  * rank = p * (n - 1) over the 0-indexed sorted multiset;
  * result = (ceil(rank) - rank) * v[floor] + (rank - floor(rank)) *
  * v[ceil], computed in Double — so existing oracles (and the 2x/4x
  * integer-exact tricks built on them) hash identically. Nulls are
  * ignored; an all-null / empty group yields null.
  */
case class LongPercentileAgg(
    child: Expression,
    percentage: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[LongPercentileAgg.Hist] {

  import LongPercentileAgg.Hist

  require(percentage >= 0.0 && percentage <= 1.0,
    s"percentage must be in [0, 1], got $percentage")

  override def createAggregationBuffer(): Hist = new Hist

  // Zero-boxing read when the (bound) child is a direct column
  // reference — same rationale as ArgMaxPackedAgg: interpreted eval
  // boxes one Long per input row, which at 100M rows is the shape's
  // GC bill. Callers pre-project derived values into a column.
  @transient private[this] lazy val childRef: Int = child match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference => b.ordinal
    case _ => -1
  }

  override def update(buf: Hist, input: InternalRow): Hist = {
    if (childRef >= 0) {
      if (!input.isNullAt(childRef)) buf.add(input.getLong(childRef), 1L)
    } else {
      val v = child.eval(input)
      if (v != null) buf.add(v.asInstanceOf[Long], 1L)
    }
    buf
  }

  override def merge(b1: Hist, b2: Hist): Hist = {
    b2.foreach((v, c) => b1.add(v, c))
    b1
  }

  override def eval(buf: Hist): Any = {
    val n = buf.totalCount
    if (n == 0L) null
    else {
      val rank = percentage * (n - 1)
      val lo = math.floor(rank).toLong
      val hi = math.ceil(rank).toLong
      val (loVal, hiVal) = buf.bracket(rank)
      if (lo == hi) loVal.toDouble
      else (hi - rank) * loVal.toDouble + (rank - lo) * hiVal.toDouble
    }
  }

  override def serialize(buf: Hist): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): Hist =
    LongPercentileAgg.histFromBytes(bytes)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"long_percentile requires a bigint column, got ${t.catalogString}")
  }

  override def withNewMutableAggBufferOffset(n: Int): LongPercentileAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): LongPercentileAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LongPercentileAgg =
    copy(child = newChildren.head)
}

/** Exact percentile over a DOUBLE column with the same zero-boxing
  * primitive histogram as [[LongPercentileAgg]] — bit-identical to
  * Spark's `percentile(col, p)` on doubles.
  *
  * Doubles are stored as their SORTABLE long bits (sign-extended bit
  * flip: `b ^ ((b >> 63) & Long.MaxValue)` — an involution, so the
  * same transform decodes). Signed long order on the encoded keys is
  * java.lang.Double's total order: all negatives below all positives,
  * -0.0 < +0.0, NaN (one canonical doubleToLongBits pattern)
  * greatest. The built-in sorts with nanSafeCompareDoubles, which is
  * the same order EXCEPT that it compares -0.0 == 0.0 as equal — its
  * relative order of zero-sign ties (distinct map keys!) follows hash
  * iteration order, so a bracket straddling them has no well-defined
  * bit pattern there; this encoding refines that tie
  * deterministically. The interpolation decodes back to doubles and
  * replicates Percentile.getPercentile's arithmetic, so wherever the
  * built-in is well-defined the results hash identically
  * (DoublePercentileSpec). Nulls are ignored; an all-null / empty
  * group yields null.
  *
  * This is P3's exact-median engine at scale: the built-in buffers a
  * boxed Double per distinct value and hashes through AnyRef equality
  * — per-row allocation that made the global-median fallback the GC
  * driver of the imputation shape; this buffer is two long arrays.
  */
case class DoublePercentileAgg(
    child: Expression,
    percentage: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[LongPercentileAgg.Hist] {

  import LongPercentileAgg.Hist

  require(percentage >= 0.0 && percentage <= 1.0,
    s"percentage must be in [0, 1], got $percentage")

  override def createAggregationBuffer(): Hist = new Hist

  @transient private[this] lazy val childRef: Int = child match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference => b.ordinal
    case _ => -1
  }

  private def sortable(d: Double): Long = {
    val b = java.lang.Double.doubleToLongBits(d)
    b ^ ((b >> 63) & Long.MaxValue)
  }
  private def unsortable(s: Long): Double =
    java.lang.Double.longBitsToDouble(s ^ ((s >> 63) & Long.MaxValue))

  override def update(buf: Hist, input: InternalRow): Hist = {
    if (childRef >= 0) {
      if (!input.isNullAt(childRef))
        buf.add(sortable(input.getDouble(childRef)), 1L)
    } else {
      val v = child.eval(input)
      if (v != null) buf.add(sortable(v.asInstanceOf[Double]), 1L)
    }
    buf
  }

  override def merge(b1: Hist, b2: Hist): Hist = {
    b2.foreach((v, c) => b1.add(v, c))
    b1
  }

  override def eval(buf: Hist): Any = {
    val n = buf.totalCount
    if (n == 0L) null
    else {
      val rank = percentage * (n - 1)
      val lo = math.floor(rank).toLong
      val hi = math.ceil(rank).toLong
      val (loVal, hiVal) = buf.bracket(rank)
      if (lo == hi) unsortable(loVal)
      else (hi - rank) * unsortable(loVal) + (rank - lo) * unsortable(hiVal)
    }
  }

  override def serialize(buf: Hist): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): Hist =
    LongPercentileAgg.histFromBytes(bytes)

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"double_percentile requires a double column, got ${t.catalogString}")
  }

  override def withNewMutableAggBufferOffset(n: Int): DoublePercentileAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): DoublePercentileAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DoublePercentileAgg =
    copy(child = newChildren.head)
}

object DoublePercentileAgg {
  /** Column API: exact percentile of a DOUBLE column, bit-identical to
    * Spark's percentile(col, p). */
  def doublePercentile(c: Column, p: Double): Column =
    GraftColumnBridge.column(DoublePercentileAgg(
      GraftColumnBridge.expression(c), p).toAggregateExpression())
}

/** Histogram-fusion aggregate for the MAD outlier gate: from ONE pass
  * over the absolute deviations `dev2x` (integer 2x-micro-units), emit
  * BOTH `mad4x = CAST(2 * percentile(dev2x, 0.5) AS BIGINT)` and
  * `n_outliers = count(2 * dev2x > 3 * mad4x)`.
  *
  * The composable form needs a third full scan: aggregate the MAD,
  * broadcast it back, re-derive every deviation and count the
  * threshold crossings. But the exact-percentile histogram already
  * holds every (deviation, count) pair, so the count above a
  * threshold DERIVED FROM THE SAME HISTOGRAM is a driver-side walk in
  * eval — the third scan (with its join and per-row decimal cast)
  * disappears from the plan. Same [[LongPercentileAgg.Hist]] buffer,
  * same interpolation arithmetic, so mad4x is bit-identical to the
  * composed CAST(2 * percentile(...) AS BIGINT) and the count matches
  * the recomputed-scan form exactly (nulls ignored by both). 2x/3x
  * products stay far inside Long for micro-unit inputs (the q178
  * integer-exactness contract).
  */
case class LongMadOutlierAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[LongPercentileAgg.Hist] {

  import LongPercentileAgg.Hist

  override def createAggregationBuffer(): Hist = new Hist

  @transient private[this] lazy val childRef: Int = child match {
    case b: org.apache.spark.sql.catalyst.expressions.BoundReference => b.ordinal
    case _ => -1
  }

  override def update(buf: Hist, input: InternalRow): Hist = {
    if (childRef >= 0) {
      if (!input.isNullAt(childRef)) buf.add(input.getLong(childRef), 1L)
    } else {
      val v = child.eval(input)
      if (v != null) buf.add(v.asInstanceOf[Long], 1L)
    }
    buf
  }

  override def merge(b1: Hist, b2: Hist): Hist = {
    b2.foreach((v, c) => b1.add(v, c))
    b1
  }

  override def eval(buf: Hist): Any = {
    val n = buf.totalCount
    // All-null / empty group: the composed form yields mad4x = NULL
    // (percentile of nothing) but n_outliers = 0 (sum of an
    // always-otherwise CASE over zero matching rows) — mirror both,
    // not a null struct.
    if (n == 0L) new GenericInternalRow(Array[Any](null, 0L))
    else {
      // Same interpolation arithmetic as LongPercentileAgg at p = 0.5.
      val rank = 0.5 * (n - 1)
      val lo = math.floor(rank).toLong
      val hi = math.ceil(rank).toLong
      // One sort serves both the median bracket and the tail walk.
      val (values, counts) = buf.sortedPairs()
      val (loVal, hiVal) = buf.bracketIn(values, counts, rank)
      val p50 =
        if (lo == hi) loVal.toDouble
        else (hi - rank) * loVal.toDouble + (rank - lo) * hiVal.toDouble
      // CAST(2 * percentile AS BIGINT): 2*p50 is the sum of the two
      // middle values — an exact integer in double for micro-units.
      val mad4x = (2.0 * p50).toLong
      val threshold3 = 3L * mad4x
      var outliers = 0L
      var j = values.length - 1
      // values ascend; walk the tail above the threshold.
      while (j >= 0 && 2L * values(j) > threshold3) {
        outliers += counts(j)
        j -= 1
      }
      new GenericInternalRow(Array[Any](mad4x, outliers))
    }
  }

  override def serialize(buf: Hist): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): Hist =
    LongPercentileAgg.histFromBytes(bytes)

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("mad4x", LongType, nullable = true),
    org.apache.spark.sql.types.StructField("n_outliers", LongType, nullable = false)))
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"long_mad_outlier requires a bigint column, got ${t.catalogString}")
  }

  override def withNewMutableAggBufferOffset(n: Int): LongMadOutlierAgg =
    copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): LongMadOutlierAgg =
    copy(inputAggBufferOffset = n)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): LongMadOutlierAgg =
    copy(child = newChildren.head)
}

object LongMadOutlierAgg {
  /** Column API: struct(mad4x, n_outliers) from one pass over integer
    * absolute deviations. */
  def madOutlierGate(c: Column): Column =
    GraftColumnBridge.column(LongMadOutlierAgg(
      GraftColumnBridge.expression(c)).toAggregateExpression())
}

object LongPercentileAgg {

  /** Open-addressing long→long count map (linear probing, power-of-2
    * capacity, 0.5 max load). Key 0 is handled out of band (0 is both
    * a valid value and the empty-slot sentinel). All primitive — one
    * allocation per GROW, none per row. */
  final class Hist {
    private var cap = 1 << 10
    private var keys = new Array[Long](cap)
    private var counts = new Array[Long](cap)
    private var used = 0
    private var zeroCount = 0L
    var totalCount = 0L

    def distinctCount: Int = used + (if (zeroCount > 0) 1 else 0)

    def add(v: Long, c: Long): Unit = {
      totalCount += c
      if (v == 0L) { zeroCount += c; return }
      if (used * 2 >= cap) grow()
      var i = java.lang.Long.hashCode(v * -7046029254386353131L) & (cap - 1)
      while (true) {
        val k = keys(i)
        if (k == v) { counts(i) += c; return }
        if (k == 0L) { keys(i) = v; counts(i) = c; used += 1; return }
        i = (i + 1) & (cap - 1)
      }
    }

    private def grow(): Unit = {
      val ok = keys; val oc = counts; val on = cap
      cap <<= 1
      keys = new Array[Long](cap)
      counts = new Array[Long](cap)
      used = 0
      val savedTotal = totalCount // add() below re-counts
      var i = 0
      while (i < on) {
        if (ok(i) != 0L) add(ok(i), oc(i))
        i += 1
      }
      totalCount = savedTotal
    }

    def foreach(f: (Long, Long) => Unit): Unit = {
      if (zeroCount > 0) f(0L, zeroCount)
      var i = 0
      while (i < cap) {
        if (keys(i) != 0L) f(keys(i), counts(i))
        i += 1
      }
    }

    /** Wire format shared by every Hist-buffered aggregate:
      * int count, then (value, count) long pairs. */
    def toBytes: Array[Byte] = {
      val n = distinctCount
      val bb = java.nio.ByteBuffer.allocate(4 + 16 * n)
      bb.putInt(n)
      foreach((v, c) => { bb.putLong(v); bb.putLong(c) })
      bb.array()
    }

    /** Bracketing values around a fractional 0-indexed rank over the
      * sorted multiset: (value at floor(rank), value at ceil(rank)) —
      * one cumulative walk, shared by every percentile-style eval.
      * Caller guarantees 0 <= rank <= totalCount - 1. */
    def bracket(rank: Double): (Long, Long) = {
      val (values, counts) = sortedPairs()
      bracketIn(values, counts, rank)
    }

    /** [[bracket]] over already-sorted pairs: an eval that also needs
      * the sorted arrays themselves (the MAD outlier tail walk) calls
      * [[sortedPairs]] once and brackets in place — the sort and the
      * per-value hash probes are O(d log d)/O(d) over the group's
      * distinct values, not something to pay twice per group. */
    def bracketIn(values: Array[Long], counts: Array[Long],
        rank: Double): (Long, Long) = {
      val lo = math.floor(rank).toLong
      val hi = math.ceil(rank).toLong
      var i = 0
      var cum = 0L
      var loVal = 0L
      var hiVal = 0L
      var needLo = true
      while (needLo || cum <= hi) {
        cum += counts(i)
        if (needLo && cum > lo) { loVal = values(i); needLo = false }
        if (cum > hi) { hiVal = values(i) }
        i += 1
      }
      (loVal, hiVal)
    }

    /** (values ascending, matching counts) — for the eval walk. */
    def sortedPairs(): (Array[Long], Array[Long]) = {
      val n = distinctCount
      val vs = new Array[Long](n)
      val cs = new Array[Long](n)
      var j = 0
      foreach((v, _) => { vs(j) = v; j += 1 })
      java.util.Arrays.sort(vs)
      var i = 0
      while (i < n) { cs(i) = countOf(vs(i)); i += 1 }
      (vs, cs)
    }

    private def countOf(v: Long): Long = {
      if (v == 0L) return zeroCount
      var i = java.lang.Long.hashCode(v * -7046029254386353131L) & (cap - 1)
      while (true) {
        if (keys(i) == v) return counts(i)
        if (keys(i) == 0L) return 0L
        i = (i + 1) & (cap - 1)
      }
      0L
    }
  }

  /** Inverse of [[Hist.toBytes]]. */
  def histFromBytes(bytes: Array[Byte]): Hist = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Hist
    var i = 0
    while (i < n) { buf.add(bb.getLong, bb.getLong); i += 1 }
    buf
  }

  /** Column API: exact percentile of a BIGINT column, bit-identical to
    * Spark's percentile(col, p). */
  def longPercentile(c: Column, p: Double): Column =
    GraftColumnBridge.column(LongPercentileAgg(
      GraftColumnBridge.expression(c), p).toAggregateExpression())
}
