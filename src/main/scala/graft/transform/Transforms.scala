package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DoubleType, FloatType}

import graft.config.{Calibration, PipelineConfig, ReadingCols, ValueRange}
import graft.model.Schemas

/** Cleaning + calibration + time normalization + derived features +
  * anomaly detection, each a pure `DataFrame => DataFrame` usable via
  * `df.transform(...)`. Spark-first re-expression of the reference's
  * five sequential pandas passes (src/components/transformation.py) —
  * here they compose into ONE lazy Catalyst plan (no materialization
  * between stages).
  *
  * The stages only [[pipeline]] runs bind the reference's fixed record
  * ([[ReadingCols.sensor]] plus battery_level); the ones the query
  * catalogue also runs over the events table take a [[ReadingCols]].
  */
object Transforms {

  private val sensor = ReadingCols.sensor
  private val battery = "battery_level"

  /** P1 — exact duplicate removal over all columns
    * (reference transformation.py:107-110). */
  def dedupExact(df: DataFrame): DataFrame = df.dropDuplicates()

  /** P2 — drop rows with nulls in critical fields
    * (reference transformation.py:120-122). Exactly `na.drop("any")`:
    * a float or double column also drops its NaN. Written as a plain
    * conjunction so Catalyst sees every `isnotnull` it asserts: a
    * consumer joining on one of these columns then infers nothing new,
    * and its subtree plans the same filter as the main path and reuses
    * the main path's exchanges. */
  def dropNullCritical(critical: Seq[String])(df: DataFrame): DataFrame =
    critical.map { c =>
      df.schema(c).dataType match {
        case FloatType | DoubleType => col(c).isNotNull && !isnan(col(c))
        case _ => col(c).isNotNull
      }
    }.reduceOption(_ && _).fold(df)(df.filter)

  /** P3 — battery median imputation: null battery_level filled with the
    * per-sensor exact median, falling back to the global median when a
    * sensor has no non-null batteries (reference transformation.py:116-146).
    *
    * Exact `percentile` (linear interpolation), not `percentile_approx`,
    * to match pandas `.median()`. Two window passes + coalesce — no join,
    * no collect; the per-sensor window shuffles once on the sensor key.
    *
    * Scale note: Spark's exact percentile buffers every value of its
    * group. Per sensor that is bounded by one sensor's history, but the
    * GLOBAL fallback is one group holding the whole table — at 100 TB
    * that single aggregation buffer is the job's OOM. The
    * `exactGlobalMaxBytes` guardrail therefore switches ONLY the global
    * fallback to `percentile_approx` (mergeable bounded sketch,
    * accuracy 1e-5 relative rank; per-sensor medians stay exact either
    * way) when the input's plan-estimated size (Catalyst
    * `LogicalPlan.stats`, derived from file sizes — no job runs)
    * exceeds the threshold. Parity-checked SFs sit far below the
    * default 4 GiB of plan-estimated input, so the oracle surface stays
    * on the exact path; pass Long.MaxValue to force exactness
    * regardless of size. */
  def imputeBattery(exactGlobalMaxBytes: Long = 4L << 30)(
      df: DataFrame): DataFrame = {
    val bySensor = Window.partitionBy(col(sensor.id))
    val exact = df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(exactGlobalMaxBytes)
    // Exact medians run through the native DoublePercentileAgg —
    // bit-identical to the built-in `percentile` (DoublePercentileSpec
    // pins it on adversarial doubles AND this exact operator), but the
    // buffer is a primitive sortable-bits histogram instead of a boxed
    // Double per distinct value, so at scale the imputation inherits
    // the zero-boxing path: no per-row allocation in the per-sensor
    // window frames, and the single global aggregation buffer — the
    // shape's GC driver when the exact fallback is allowed — is two
    // long arrays.
    // Cast-to-double first: the built-in percentile() accepted any
    // numeric battery column, and float/int/decimal -> double widening
    // is value-exact for every battery-plausible magnitude, so the
    // native aggregate (double-only by contract) keeps that API. For
    // an already-double column Catalyst removes the no-op cast and the
    // zero-boxing bound-column fast path still engages.
    val exactMedian = (c: Column) =>
      graft.plans.DoublePercentileAgg.doublePercentile(c.cast("double"), 0.5)
    // Global median as a scalar subquery (a 1-row aggregate run once per
    // query; an empty-partition window would funnel the whole table
    // through one reducer at scale). Unlike a broadcast cross join, it
    // goes away with battery_level when a plan prunes that column.
    val globalMed = df.select(
      (if (exact) exactMedian(col(battery))
       else expr(s"percentile_approx($battery, 0.5, 100000)"))
        .cast("double")).scalar()
    df.withColumn(
      battery,
      coalesce(
        col(battery),
        exactMedian(col(battery)).over(bySensor),
        globalMed))
  }

  /** P4 — per-type linear calibration `value * multiplier + offset`
    * (reference transformation.py:150-185). The calibration map is tiny
    * config, so a folded when-chain stays inside whole-stage codegen —
    * no lookup join, no shuffle. */
  def calibrate(
      calibration: Map[String, Calibration],
      cols: ReadingCols = ReadingCols.sensor)(df: DataFrame): DataFrame = {
    if (calibration.isEmpty) df
    else {
      val v = col(cols.value)
      val calibrated = calibration.foldLeft(v) { case (acc, (typ, c)) =>
        when(col(cols.typ) === typ, v * c.multiplier + c.offset).otherwise(acc)
      }
      df.withColumn(cols.value, calibrated)
    }
  }

  /** P5 — shift the wall clock by a fixed UTC offset. Spark timestamps
    * are instants rendered in the session tz (UTC here); the reference
    * localizes naive timestamps as UTC then renders in UTC+05:30
    * (transformation.py:187-228). Deriving local dates/hours therefore
    * means shifting the instant by the offset before truncation. */
  def shiftToLocal(
      offsetMinutes: Int,
      cols: ReadingCols = ReadingCols.sensor)(df: DataFrame): DataFrame =
    df.withColumn(cols.ts,
      col(cols.ts) + expr(s"INTERVAL '$offsetMinutes' MINUTE"))

  /** P6 — derive local calendar date (reference transformation.py:243). */
  def deriveDate(cols: ReadingCols = ReadingCols.sensor)(df: DataFrame): DataFrame =
    df.withColumn("date", col(cols.ts).cast(DateType))

  /** A1/J1 — per-(sensor, type, day) average broadcast to each row.
    * The reference computes a groupby + left merge
    * (transformation.py:246-254); a partitioned window computes the same
    * value with a single shuffle and no join. */
  def dailyAvg(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(sensor.id), col(sensor.typ), col("date"))
    df.withColumn("daily_avg_value", avg(col(sensor.value)).over(w))
  }

  /** W1 — trailing row-count rolling average: per (sensor, type) ordered
    * by (timestamp, value, battery_level), frame = previous
    * `windowRows-1` rows + current (reference transformation.py:256-269:
    * `rolling(168, min_periods=1)`).
    *
    * Contract: over the sensor record the result depends only on the
    * input's rows, never on their order. The reference keeps file
    * order for rows tied on timestamp, but after a shuffle Spark has no
    * file order, so ties are broken by value, then battery_level. Rows
    * that still tie agree on every sensor column, so whichever comes
    * first, the pipeline stores the same rows. */
  def rollingAvg(windowRows: Int)(df: DataFrame): DataFrame = {
    val w = Window
      .partitionBy(col(sensor.id), col(sensor.typ))
      .orderBy(col(sensor.ts), col(sensor.value), col(battery))
      .rowsBetween(-(windowRows - 1L), 0L)
    df.withColumn("rolling_avg_value", avg(col(sensor.value)).over(w))
  }

  /** W1 at extreme-history scale — the same trailing `windowRows`-row
    * average as [[rollingAvg]], computed WITHOUT sorting any key's full
    * history in one task (SCALE.md names the risk: a decade of one
    * sensor's readings must fit a single task's sort buffer in the
    * plain window form).
    *
    * Two-pass shape: rows are assigned a coarse time bucket
    * (`bucketSeconds`); a per-(key, bucket) count table (aggregate-
    * sized) derives a carry map saying which source buckets must
    * replicate their trailing rows into which later buckets — exactly
    * the rows whose position-from-bucket-end plus the row count of the
    * buckets strictly between is < `windowRows`. Carried context rows
    * union with own rows, the row-frame window runs per (key, bucket)
    * — each task sorts at most one bucket plus `windowRows-1` carried
    * rows — and context rows are dropped after the frame is computed.
    *
    * Exact for ANY bucket population (sparse buckets carry across
    * multiple gaps via the carry map; early rows see exactly their
    * available predecessors, preserving min_periods=1 semantics), so
    * the result is bit-identical to `exact.avgExactOver` (the
    * decimal-exact mean, for cross-engine determinism) over the plain
    * row frame ordered by timestamp, then `tieBreak`. The carry map and
    * counts are aggregate-sized (keys x buckets), so the planner
    * broadcasts them; the only large shuffle is the per-(key, bucket)
    * window itself. */
  def rollingAvgBucketed(
      windowRows: Int,
      bucketSeconds: Long,
      cols: ReadingCols = ReadingCols.sensor,
      tieBreak: Seq[Column] = Nil)(df: DataFrame): DataFrame = {
    require(windowRows >= 1, "windowRows must be >= 1")
    require(bucketSeconds >= 1, "bucketSeconds must be >= 1")
    val keyCols = Seq(cols.id, cols.typ)
    val withB = df.withColumn("__bkt",
      floor(unix_timestamp(col(cols.ts)).cast("double") / bucketSeconds)
        .cast("long"))

    // Pass 1: per-(key, bucket) row counts + running cumulative count.
    // Aggregate-sized (distinct keys x occupied buckets), map-side
    // combined; everything derived from it broadcasts.
    val cnts = withB
      .groupBy(keyCols.map(col) :+ col("__bkt"): _*)
      .agg(count(lit(1)).as("__cnt"))
    val wKey = Window.partitionBy(keyCols.map(col): _*).orderBy(col("__bkt"))
    val cum = cnts.withColumn("__cum", sum(col("__cnt")).over(wKey))

    // Carry map: source bucket __sb must replicate its trailing rows
    // into destination bucket __db when fewer than windowRows-1 rows
    // sit strictly between them (__gap). Sparse histories naturally
    // produce __db > __sb + 1 entries here — the multi-gap case a
    // fixed "previous bucket only" carry would get wrong.
    val src = cum.select(
      keyCols.map(col) :+ col("__bkt").as("__sb") :+
        col("__cum").as("__cum_sb"): _*)
    val dst = cum.select(
      keyCols.map(col) :+ col("__bkt").as("__db") :+
        (col("__cum") - col("__cnt")).as("__cum_before_db"): _*)
    val carryMap = src.join(dst, keyCols)
      .filter(col("__db") > col("__sb") &&
        (col("__cum_before_db") - col("__cum_sb")) <= windowRows - 2)
      .select(keyCols.map(col) :+ col("__sb") :+ col("__db") :+
        (col("__cum_before_db") - col("__cum_sb")).as("__gap"): _*)

    // Trailing rows of each source bucket, positioned from the end with
    // the EXACT reverse of the window's ordering so carried context is
    // the contiguous tail under the original order.
    val wDesc = Window
      .partitionBy(keyCols.map(col) :+ col("__bkt"): _*)
      .orderBy(col(cols.ts).desc +: tieBreak.map(_.desc): _*)
    val carried = withB
      .withColumn("__rn_desc", row_number().over(wDesc))
      .filter(col("__rn_desc") <= windowRows - 1)
      .withColumnRenamed("__bkt", "__sb")
      .join(carryMap, keyCols :+ "__sb")
      .filter(col("__rn_desc") + col("__gap") <= windowRows - 1)
      .withColumn("__bkt", col("__db"))
      .drop("__sb", "__db", "__gap", "__rn_desc")
      .withColumn("__ctx", lit(true))

    // Pass 2: the row-frame window per (key, bucket) over own + carried
    // rows. Carried rows are strictly earlier in time than every own
    // row of their destination bucket (smaller bucket => smaller
    // second), so the union's order matches the global order and each
    // own row's frame holds exactly its nearest available
    // min(windowRows-1, history) predecessors.
    val unioned = withB.withColumn("__ctx", lit(false))
      .unionByName(carried)
    // The exact mean takes the O(1)-per-row cum-diff form — with
    // carried context rows multiplying the window input, the sliding
    // frame's O(windowRows)-per-row re-adds were this operator's
    // dominant CPU (q166 r20 baseline: 7.5 s task CPU for a 10k-row
    // input).
    graft.functions.exact.withRollingAvgExact(
      unioned, col(cols.value),
      keyCols.map(col) :+ col("__bkt"),
      col(cols.ts) +: tieBreak,
      windowRows, "rolling_avg_value")
      .filter(!col("__ctx"))
      .drop("__bkt", "__ctx")
  }

  /** A3 — population z-score anomaly flag per reading type (reference
    * transformation.py:288-302: scipy zscore, ddof=0). stddev_pop matches
    * ddof=0; groups of one row and zero-variance groups never flag
    * (pandas NaN > 3 == False). */
  def zscoreFlag(
      threshold: Double,
      cols: ReadingCols = ReadingCols.sensor)(df: DataFrame): DataFrame = {
    // reading_type has a handful of distinct values: a window
    // partitioned by it funnels the table through that many reducers.
    // A tiny per-type aggregate broadcast-joined back computes the same
    // flags with an even map-side-combined shuffle.
    val stats = df.groupBy(col(cols.typ)).agg(
      avg(col(cols.value)).as("__mu"),
      stddev_pop(col(cols.value)).as("__sigma"),
      count(col(cols.value)).as("__n"))
    df.join(broadcast(stats), Seq(cols.typ), "left")
      .withColumn("zscore_anomaly",
        when(col("__n") > 1 && col("__sigma") > 0,
          abs((col(cols.value) - col("__mu")) / col("__sigma")) > threshold)
          .otherwise(lit(false)))
      .drop("__mu", "__sigma", "__n")
  }

  /** The range rule: value outside the configured [min,max] for its
    * reading type. False for unconfigured types, null for a null value
    * of a configured type. */
  def outOfRange(ranges: Map[String, ValueRange], cols: ReadingCols): Column =
    ranges.foldLeft(lit(false)) { case (acc, (typ, r)) =>
      when(col(cols.typ) === typ,
        col(cols.value) < r.min || col(cols.value) > r.max).otherwise(acc)
    }

  /** P7 — range anomaly flag: [[outOfRange]], null read as false;
    * unconfigured types never flag (reference transformation.py:304-315). */
  def rangeFlag(
      ranges: Map[String, ValueRange],
      cols: ReadingCols = ReadingCols.sensor)(df: DataFrame): DataFrame =
    df.withColumn("range_anomaly", coalesce(outOfRange(ranges, cols), lit(false)))

  /** A3+P7 merged flag (reference transformation.py:285: z-score OR range). */
  def anomalyFlag(
      threshold: Double,
      ranges: Map[String, ValueRange])(df: DataFrame): DataFrame =
    df.transform(zscoreFlag(threshold, sensor))
      .transform(rangeFlag(ranges, sensor))
      .withColumn("anomalous_reading", col("zscore_anomaly") || col("range_anomaly"))
      .drop("zscore_anomaly", "range_anomaly")

  /** P9 — outlier handling: `flag` keeps rows, `remove` drops flagged rows,
    * anything else behaves as flag (reference transformation.py:335-350). */
  def applyOutlierMode(mode: String)(df: DataFrame): DataFrame =
    if (mode == "remove") df.filter(!col("anomalous_reading")) else df

  /** Full transformation stage — the reference's 5 eager pandas passes
    * (transformation.py:42-91) as one lazy plan. */
  def pipeline(cfg: PipelineConfig)(df: DataFrame): DataFrame =
    df.transform(dedupExact)
      .transform(dropNullCritical(Schemas.criticalColumns))
      .transform(imputeBattery())
      .transform(calibrate(cfg.calibration, sensor))
      .transform(shiftToLocal(cfg.timezoneOffsetMinutes, sensor))
      .transform(deriveDate(sensor))
      .transform(dailyAvg)
      .transform(rollingAvg(cfg.transformation.rollingWindowRows))
      .transform(anomalyFlag(cfg.transformation.zScoreThreshold, cfg.ranges))
      .transform(applyOutlierMode(cfg.transformation.outlierHandling))
}
