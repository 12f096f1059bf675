package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.config.{Calibration, ReadingCols, ValueRange}
import graft.functions.exact
import graft.ingest.RawParquet
import graft.transform.Transforms
import graft.validate.Validation

/** Oracle-checked query surface for the SURVEY §2 operator inventory,
  * expressed over the driver's synthetic tables. The `events` table
  * (user_id, ts, event_type, value) plays the role of the reference's
  * sensor readings; lineitem/customer exercise the relational shapes.
  *
  * Every query has a DuckDB-equivalent SQL in `oracle`, with column
  * names aligned and numerics kept cross-engine-deterministic
  * (see graft.functions.exact).
  */
object CoreQueries {

  /** Events-table analogs of the reference's per-type config
    * (config/default.yaml:29-47). */
  private val eventRanges: Map[String, ValueRange] = Map(
    "click" -> ValueRange(0.0, 450.0),
    "view" -> ValueRange(0.0, 300.0),
    "purchase" -> ValueRange(0.0, 350.0),
    "signup" -> ValueRange(0.0, 340.0),
    "error" -> ValueRange(0.0, 320.0))

  private val eventCalibration: Map[String, Calibration] = Map(
    "click" -> Calibration(1.02, -0.5),
    "view" -> Calibration(0.98, 1.2),
    "purchase" -> Calibration(1.05, 0.0),
    "signup" -> Calibration(1.0, 2.5),
    "error" -> Calibration(0.95, -1.0))

  private val ec = ReadingCols.events

  /** Table loader: `$dir/$name.parquet` (a file, or a directory of part
    * files) through the one raw-parquet reader, [[RawParquet]]. The
    * synthetic data has shipped its timestamps as TIMESTAMP(NANOS) and
    * as tz-naive TIMESTAMP(MICROS); both arrive as TimestampType, the
    * instants DuckDB sees reading the same file, so every downstream
    * `unix_micros` / window / date function works and oracle
    * comparisons stay exact. Normalizing once at the read keeps 180+
    * query call sites free of per-site type dispatch (and immune to the
    * next data regeneration). */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    RawParquet.table(s, s"$dir/$name.parquet")

  /** Decouple per-row compute parallelism from source layout. A corpus
    * that lands as a few large row groups scans as a few tasks — and a
    * tokenize/shingle/hash-heavy projection then runs on a handful of
    * cores while the rest idle (measured: q172 spent its whole 3.4 s in
    * ONE scan task at sf0.1, the file being a single 0.6 MB row group;
    * parquet scans cannot split below row-group granularity). When the
    * scan yields fewer partitions than half the cores, inject one
    * round-robin exchange to fan the compute out; on a real multi-TB
    * corpus the scan already yields thousands of splits and this is a
    * no-op — the guard is what keeps "bodies never shuffle" true at
    * scale while small-layout inputs still use the whole machine.
    * Apply it BEFORE the expensive projection (on the source-shaped
    * rows), never to a widened/derived row. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Scan-parallelism ESTIMATE from leaf bytes / maxPartitionBytes —
    // not df.rdd.getNumPartitions, which forces full physical planning
    // and RDD materialization on the driver at every call site (the r19
    // verdict's item: double plan analysis per spread() on a 100 TB
    // catalog). The estimate errs LOW when openCostInBytes packs many
    // small files into more splits than bytes alone suggest — which only
    // adds the round-robin fan-out on inputs small enough for it to be
    // nearly free; decisions at real scale are identical (thousands of
    // splits >> cores). Round-robin repartition never changes results.
    val conf = df.sparkSession.sessionState.conf
    val maxSplit = math.max(1L, conf.filesMaxPartitionBytes)
    val leafBytes =
      try df.queryExecution.optimizedPlan.collectLeaves()
        .map(_.stats.sizeInBytes).sum
      catch { case _: Exception => BigInt(0) }
    val estParts =
      (leafBytes / maxSplit).min(BigInt(Int.MaxValue)).toLong + 1L
    if (estParts < math.max(2, target / 2)) df.repartition(target)
    else df
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // A1-flavor flagship: grouped aggregation with exact sums (lineitem
    // pricing summary; reference daily-average pattern A1 at relational
    // scale). Filter is pushed to the parquet scan.
    "q01_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exact.sumExact(col("l_quantity")).as("sum_qty"),
          exact.sumExact(col("l_extendedprice")).as("sum_base_price"),
          exact.avgExact(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // The canonical TPC-H Q1 pricing summary in full: all eight
    // aggregates (decimal-exact sums and averages, the disc_price /
    // charge double-product chains identical on both engines).
    "q100_tpch_q1" -> ((s, dir) => {
      val discPrice = col("l_extendedprice") * (lit(1) - col("l_discount"))
      // spread(): 8 decimal-exact aggregates per row are the cost here,
      // and the sf0.1 file scans as ~4 row-group tasks — fan the
      // partial aggregation across the machine (the filter still
      // pushes through the exchange to the scan). No-op on a corpus
      // whose scan already yields enough splits.
      spread(t(s, dir, "lineitem"))
        .filter(col("l_shipdate") <= lit("2001-06-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exact.sumExact(col("l_quantity")).as("sum_qty"),
          exact.sumExact(col("l_extendedprice")).as("sum_base_price"),
          exact.sumExact(discPrice).as("sum_disc_price"),
          exact.sumExact(discPrice * (lit(1) + col("l_tax"))).as("sum_charge"),
          exact.avgExact(col("l_quantity")).as("avg_qty"),
          exact.avgExact(col("l_extendedprice")).as("avg_price"),
          exact.avgExact(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // P1 — exact dedup over a projected column set.
    "q02_dedup_exact" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"))
        .dropDuplicates()
    }),

    // P2 — critical-field null drop, counted per type.
    "q03_null_drop" -> ((s, dir) => {
      Transforms.dropNullCritical(Seq("user_id", "ts", "event_type", "value"))(
        t(s, dir, "events"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"))
    }),

    // P3/A2 — grouped exact median (linear interpolation, pandas parity).
    "q04_group_median" -> ((s, dir) => {
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(
          expr("percentile(c_acctbal, 0.5)").cast(DoubleType).as("median_acctbal"),
          count(lit(1)).as("n_customers"))
    }),

    // P4 — per-type linear calibration via the library's when-chain.
    "q05_calibration" -> ((s, dir) => {
      Transforms.calibrate(eventCalibration, ec)(t(s, dir, "events"))
        .select(col("event_id"), col("value").as("calibrated_value"))
    }),

    // P5+P6 — fixed-offset wall-clock shift + local date derivation.
    "q06_tz_date" -> ((s, dir) => {
      Transforms.deriveDate(ec)(
        Transforms.shiftToLocal(330, ec)(t(s, dir, "events")))
        .select(
          col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("local_ts"),
          date_format(col("date"), "yyyy-MM-dd").as("local_date"))
    }),

    // P7 — per-type range anomaly flag.
    "q07_range_flag" -> ((s, dir) => {
      Transforms.rangeFlag(eventRanges, ec)(t(s, dir, "events"))
        .select(col("event_id"), col("range_anomaly"))
    }),

    // A1/J1 — per-(id, type, local day) average merged back to rows via a
    // window (no join, one shuffle).
    "q08_daily_avg" -> ((s, dir) => {
      val df = Transforms.deriveDate(ec)(
        Transforms.shiftToLocal(330, ec)(t(s, dir, "events")))
      val w = Window.partitionBy(col("user_id"), col("event_type"), col("date"))
      df.select(
        col("event_id"),
        exact.avgExactOver(col("value"), w).as("daily_avg_value"))
    }),

    // W1 — trailing 168-row rolling average per (id, type), deterministic
    // tie-break on event_id.
    "q09_rolling_avg" -> ((s, dir) => {
      // O(1)-per-row cum-diff form of the exact 168-row trailing mean
      // (exact.withRollingAvgExact) — the sliding ROWS frame re-added
      // all 168 decimal values per output row.
      exact.withRollingAvgExact(
        t(s, dir, "events"), col("value"),
        Seq(col("user_id"), col("event_type")),
        Seq(col("ts"), col("event_id")), 168, "rolling_avg_value")
        .select(col("event_id"), col("rolling_avg_value"))
    }),

    // W1 scale variant — the SAME trailing 168-row average as q09, via
    // the bucketed two-pass form (coarse 6 h buckets + exact carry of
    // the trailing 167 rows across bucket gaps): no task sorts a key's
    // full history. The oracle is q09's — the point IS bit-equality
    // between the single-window and bucketed executors.
    "q166_rolling_bucketed" -> ((s, dir) => {
      Transforms.rollingAvgBucketed(
        windowRows = 168, bucketSeconds = 21600L, cols = ec,
        tieBreak = Seq(col("event_id")))(t(s, dir, "events"))
        .select(col("event_id"), col("rolling_avg_value"))
    }),

    // Seasonal-profile residual anomaly: the time-series upgrade of
    // q10's flat z-score — per (event_type, hour-of-day) cell, the
    // exact-decimal hourly mean and the cell-population residual gate
    // |v - mu| > 3*sigma. The 120-cell profile broadcasts back to the
    // row stream (never a low-cardinality window funnel — q10's
    // documented skew fix applies here identically).
    "q176_seasonal_anomaly" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), hour(col("ts")).as("hod"), col("value"))
      val prof = ev.groupBy(col("event_type"), col("hod"))
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast(DecimalType(20, 6))).cast(DoubleType) /
            count(lit(1))).cast(DoubleType).as("mu"),
          stddev_pop(col("value")).as("sd"))
      ev.join(broadcast(prof), Seq("event_type", "hod"))
        .groupBy(col("event_type"), col("hod"))
        .agg(max(col("n")).as("n"), max(col("mu")).as("hourly_avg"),
          count(when(col("n") > 1 && col("sd") > 0 &&
            abs(col("value") - col("mu")) > lit(3.0) * col("sd"), 1))
            .as("n_anomalies"))
        .select(col("event_type"), col("hod").cast(LongType).as("hod"),
          col("n"), col("hourly_avg"), col("n_anomalies"))
    }),

    // A3 — population z-score anomaly counts per type (ddof=0, n>1 and
    // sigma>0 guards).
    "q10_zscore_flags" -> ((s, dir) => {
      Transforms.zscoreFlag(3.0, ec)(t(s, dir, "events"))
        .groupBy(col("event_type"))
        .agg(count(when(col("zscore_anomaly"), 1)).as("n_anomalies"),
          count(lit(1)).as("n_rows"))
    }),

    // A4 — TRY_CAST-style type probing of a string column.
    "q11_type_violations" -> ((s, dir) => {
      val k = regexp_extract(col("props"), "([0-9]+)", 1)
      t(s, dir, "events")
        .select(k.try_cast("int").as("k"))
        .agg(
          count(lit(1)).as("total_rows"),
          count(col("k")).as("castable_rows"),
          sum(col("k")).cast(LongType).as("k_sum"))
    }),

    // A6 — global time range + distinct-id stats.
    "q12_time_stats" -> ((s, dir) => {
      t(s, dir, "events").agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("min_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("max_ts"),
        countDistinct(col("user_id")).as("distinct_users"))
    }),

    // W2+J2+J3+A7 — hourly expected-grid gap detection: the pipeline's
    // gap rule (Validation.gapTotals) over events projected to the
    // sensor columns, on an hourly grid between the hour-truncated
    // bounds (deterministic under sub-second noise).
    "q13_gap_report" -> ((s, dir) => {
      val sc = ReadingCols.sensor
      val ev = t(s, dir, "events").select(col(ec.id).as(sc.id),
        col(ec.ts).as(sc.ts), col(ec.typ).as(sc.typ))
      val bounds = ev.agg(
        date_trunc("hour", min(col(sc.ts))).as("min_ts"),
        date_trunc("hour", max(col(sc.ts))).as("max_ts"))
      Validation.gapTotals(1, _.crossJoin(broadcast(bounds)))(ev)
        .select(
          col(sc.id).as(ec.id), col(sc.typ).as(ec.typ), col("missing_hours"),
          date_format(col("first_missing"), "yyyy-MM-dd HH:mm:ss").as("first_missing"),
          date_format(col("last_missing"), "yyyy-MM-dd HH:mm:ss").as("last_missing"))
    }),

    // A8 — missing-value profile with basis-point percentages.
    "q14_missing_profile" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("total_readings"),
          sum(when(col("value").isNull, 1).otherwise(0)).cast(LongType)
            .as("missing_count"),
          exact.pctBp(
            sum(when(col("value").isNull, 1).otherwise(0)),
            count(lit(1))).as("missing_bp"))
    }),

    // A10 — per-id coverage profile.
    "q15_coverage" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          countDistinct(col("event_type")).as("reading_types"),
          count(lit(1)).as("total_readings"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("first_reading"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_reading"),
          exact.avgExact(col("value")).as("avg_value"))
    }),

    // A11 — overall stats.
    "q16_overall_stats" -> ((s, dir) => {
      t(s, dir, "events").agg(
        count(lit(1)).as("total_records"),
        countDistinct(col("user_id")).as("unique_users"),
        countDistinct(col("event_type")).as("unique_types"),
        exact.avgExact(col("value")).as("avg_value"))
    }),

    // W3 — duplicate probe via row_number over a candidate key.
    "q17_dedup_probe" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("ts"), col("event_type"))
        .orderBy(col("event_id"))
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .agg(count(when(col("rn") > 1, 1)).as("duplicate_rows"))
    }),

    // Lead/lag: inter-arrival delta per (user, type), deterministic order.
    "q24_lag_delta" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events").select(
        col("event_id"),
        (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
          .as("delta_us"))
    }),

    // Pivot: per-user event-type count matrix (fixed pivot values).
    "q25_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),

    // Skew-resistant salted two-stage aggregation — result identical to
    // the plain GROUP BY (which is the oracle).
    "q28_salted_agg" -> ((s, dir) => {
      graft.operators.Salted.countSum(
        t(s, dir, "events"),
        key = col("user_id"), value = col("value"),
        salt = col("event_id"), buckets = 8)
        .withColumnRenamed("key", "user_id")
    }),

    // As-of join: each click matched to the user's most recent purchase
    // at-or-before it (union+window implementation; DuckDB native ASOF
    // JOIN is the oracle).
    "q48_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.operators.AsOf.asofLeft(clicks, purchases,
        key = "user_id", ts = "ts", rightTie = "event_id")
        .select(
          col("event_id"),
          col("asof_match.event_id").as("purchase_event_id"),
          col("asof_match.value").as("purchase_value"),
          (unix_micros(col("ts")) - unix_micros(col("asof_match.ts")))
            .as("gap_us"))
    }),

    // The NATIVE as-of join — same query as q48, planned through the
    // custom operator ladder's (c)-tier (plans.AsOfNative: LogicalPlan
    // + SparkStrategy + AsOfJoinExec via SparkSessionExtensions)
    // instead of the (a)-tier union+window composition. Same DuckDB
    // ASOF JOIN oracle as q48, so one hash pins THREE independent
    // formulations of the semantics to each other: the native merge,
    // the compositional window, and DuckDB's own ASOF JOIN.
    "q189_asof_native" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
          col("event_id").as("r_event_id"), col("value").as("r_value"))
      graft.plans.AsOfNative.asofJoinLeft(clicks, purchases,
        "user_id", "r_user_id", "ts", "r_ts", rightTie = "r_event_id")
        .select(
          col("event_id"),
          col("r_event_id").as("purchase_event_id"),
          col("r_value").as("purchase_value"),
          (unix_micros(col("ts")) - unix_micros(col("r_ts")))
            .as("gap_us"))
    }),

    // Composite-key native as-of: same point-in-time semantics as
    // q189, but the equality part of the condition is a KEY TUPLE
    // (user_id, value-band) — DuckDB's ASOF JOIN accepts any number of
    // equality conditions beside the one inequality, and the native
    // operator now mirrors that (r10 verdict stretch task). The band is
    // a deterministic derivation both engines compute identically in
    // pure integer arithmetic (((floor(value) % 3) + 3) % 3 == pmod).
    // Same scale shape as q189: one co-partitioned exchange per side on
    // the full key tuple, one sort each, O(1)-state merge.
    "q190_asof_multikey" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def band(c: org.apache.spark.sql.Column) =
        pmod(floor(c), lit(3L)).cast(LongType)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          band(col("value")).as("band"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user_id"),
          band(col("value")).as("r_band"), col("ts").as("r_ts"),
          col("event_id").as("r_event_id"), col("value").as("r_value"))
      graft.plans.AsOfNative.asofJoinLeftMulti(clicks, purchases,
        Seq("user_id", "band"), Seq("r_user_id", "r_band"),
        "ts", "r_ts", rightTie = "r_event_id")
        .select(
          col("event_id"), col("band"),
          col("r_event_id").as("purchase_event_id"),
          col("r_value").as("purchase_value"),
          (unix_micros(col("ts")) - unix_micros(col("r_ts")))
            .as("gap_us"))
    }),

    // FORWARD native as-of: each click matches the EARLIEST purchase
    // at-or-after it (pandas merge_asof direction='forward'; DuckDB
    // ASOF with the inequality flipped to <=). Among purchases tied on
    // (user, ts) the least event_id wins — the mirror of backward's
    // greatest, both implied by the shared (keys, ts, tie) ascending
    // sort — so the oracle pre-aggregates with min/arg_min where the
    // backward oracles use max/arg_max. Same physical shape as q189:
    // one co-partitioned exchange per side, one sort each, and a merge
    // that is strictly simpler than backward (the lookahead row IS the
    // candidate; no buffered copy exists).
    "q191_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
          col("event_id").as("r_event_id"), col("value").as("r_value"))
      graft.plans.AsOfNative.asofJoinLeft(clicks, purchases,
        "user_id", "r_user_id", "ts", "r_ts", rightTie = "r_event_id",
        direction = "forward")
        .select(
          col("event_id"),
          col("r_event_id").as("purchase_event_id"),
          col("r_value").as("purchase_value"),
          (unix_micros(col("r_ts")) - unix_micros(col("ts")))
            .as("gap_us"))
    }),

    // NEAREST native as-of (pandas merge_asof direction='nearest'):
    // the closer of the backward and forward candidates wins, ties
    // going backward; each side keeps its own direction's tie rule
    // (backward max event_id, forward min). gap_us is SIGNED
    // (left − right: positive = matched a past purchase, negative = a
    // future one), so the oracle — two DuckDB ASOF joins (>= and
    // strict <) CASE-merged on the gap comparison — pins not just the
    // chosen row but which DIRECTION won for every left row. One merge
    // pass, same O(1) state as backward: the forward candidate is the
    // lookahead row backward's advance already maintains.
    "q192_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
          col("event_id").as("r_event_id"), col("value").as("r_value"))
      graft.plans.AsOfNative.asofJoinLeft(clicks, purchases,
        "user_id", "r_user_id", "ts", "r_ts", rightTie = "r_event_id",
        direction = "nearest")
        .select(
          col("event_id"),
          col("r_event_id").as("purchase_event_id"),
          col("r_value").as("purchase_value"),
          (unix_micros(col("ts")) - unix_micros(col("r_ts")))
            .as("gap_us"))
    }),

    // W4 — hour-of-day pivot via conditional aggregation.
    "q18_hourly_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(hour(col("ts")).cast(LongType).as("hour_of_day"))
        .agg(
          exact.avgExact(when(col("event_type") === "click", col("value")))
            .as("avg_click_value"),
          exact.avgExact(when(col("event_type") === "purchase", col("value")))
            .as("avg_purchase_value"),
          count(lit(1)).as("n_events"))
    }),

    // Three-valued-logic scalar surface: coalesce / nullif / null-safe
    // equality / null-aware counts over a genuinely-nullable column
    // (the optional JSON property). One aggregate row.
    "q85_null_semantics" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      t(s, dir, "events")
        .select(col("event_type"), k.as("k"))
        .agg(
          count(lit(1)).as("n"),
          count(col("k")).as("n_k"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_k"),
          sum(coalesce(col("k"), lit(-1L))).cast(LongType)
            .as("sum_coalesce"),
          count(nullif(col("event_type"), lit("click"))).as("n_not_click"),
          sum(when(col("k") <=> lit(5L), 1L).otherwise(0L))
            .as("n_k5_nullsafe"),
          sum(when(col("k") === 5L, 1L).otherwise(0L)).as("n_k5_plain"))
    }),

    // Unpivot (wide -> long): melt per-user event-type count columns
    // back into rows — the feature-table reshaping step. Counts are
    // coalesced to 0 so no engine's null-dropping semantics matter.
    "q95_unpivot" -> ((s, dir) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      val counts = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          count(when(col("event_type") === types.head, 1)).as(types.head),
          types.tail.map(tp =>
            count(when(col("event_type") === tp, 1)).as(tp)): _*)
      counts.unpivot(
        Array(col("user_id")),
        types.map(col).toArray,
        "etype", "n")
    }),

    // Null-safe equi-join (<=>): rows whose nullable JSON property
    // matches INCLUDING null==null — the join-on-dirty-key semantics a
    // plain equi-join silently drops. Plans as a regular hash join
    // (EqualNullSafe is a valid hash key), aggregated to keep the
    // output bounded.
    "q94_nullsafe_join" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast(LongType)
      // spread(): the per-row JSON parse is the cost, both join inputs
      // re-run it over the same single-row-group scan, and at sf0.1 the
      // whole parse CPU ran on one task per side (r19 baseline: 5
      // tasks, wall ~= summed task time). One shared spread exchange
      // fans the parse out; the two branches reuse it (ReusedExchange).
      val ev = spread(t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("props")))
      // AGGREGATE BEFORE THE JOIN (r20; guide "aggregate before you
      // shuffle" / avoid exploding joins): the row-level null-safe join
      // materialized every (click, view) pair per key — millions of
      // intermediate rows, tripled again by the two countDistincts'
      // Expand, 15 s of task CPU for a 100-row answer. event_id is
      // unique per row, so n_clicks/n_views are the per-key side
      // counts, n_pairs is their product, and a group exists iff both
      // sides have the key — i.e. the SAME null-safe <=> equi-join,
      // taken on the two per-key count tables instead of the fact rows.
      // Bit-identical output (oracle-pinned), key-cardinality-sized
      // join inputs.
      val l = ev.filter(col("event_type") === "click")
        .groupBy(k.as("lk")).agg(count(lit(1)).as("n_clicks"))
      val r = ev.filter(col("event_type") === "view")
        .groupBy(k.as("rk")).agg(count(lit(1)).as("n_views"))
      l.join(r, col("lk") <=> col("rk"))
        .select(
          coalesce(col("lk"), lit(-1L)).as("k_group"),
          (col("n_clicks") * col("n_views")).as("n_pairs"),
          col("n_clicks"), col("n_views"))
    }),

    // Regex group extraction (RE2/Java-compatible pattern, valid in both
    // engines): pull the numeric id out of a composite key string and
    // aggregate by its bucket — the log-parsing shape.
    "q93_regex_groups" -> ((s, dir) => {
      val key = concat(col("event_type"), lit("-"),
        col("user_id").cast("string"), lit(":"), col("event_id").cast("string"))
      t(s, dir, "events")
        .select(
          regexp_extract(key, "^([a-z]+)-(\\d+):", 1).as("kind"),
          regexp_extract(key, "^([a-z]+)-(\\d+):", 2).cast(LongType)
            .as("uid"))
        .groupBy(col("kind"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("uid")).as("n_users"),
          sum(col("uid") % 10).cast(LongType).as("uid_mod_sum"))
    }),

    // Time-series linear interpolation of missing values: per user,
    // nulls (injected deterministically — the synthetic feed is
    // complete) are filled by interpolating between the nearest
    // non-null neighbors, weighted by integer-microsecond distance.
    // Two IGNORE NULLS window scans, one shuffle; edges extend the
    // nearest known value.
    "q86_interpolate" -> ((s, dir) => {
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wNext = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      val tsUs = unix_micros(col("ts"))
      t(s, dir, "events")
        .withColumn("vn",
          when(col("event_id") % 11 === 0, lit(null)).otherwise(col("value")))
        .withColumn("ts_us", tsUs)
        .withColumn("known_ts",
          when(col("vn").isNotNull, col("ts_us")))
        .withColumn("prev_v", last(col("vn"), ignoreNulls = true).over(wPrev))
        .withColumn("prev_ts",
          last(col("known_ts"), ignoreNulls = true).over(wPrev))
        .withColumn("next_v", first(col("vn"), ignoreNulls = true).over(wNext))
        .withColumn("next_ts",
          first(col("known_ts"), ignoreNulls = true).over(wNext))
        .select(col("event_id"),
          when(col("vn").isNotNull, col("vn"))
            .when(col("prev_v").isNotNull && col("next_v").isNotNull,
              col("prev_v") + (col("next_v") - col("prev_v")) *
                ((col("ts_us") - col("prev_ts")).cast("double") /
                  (col("next_ts") - col("prev_ts")).cast("double")))
            .otherwise(coalesce(col("prev_v"), col("next_v")))
            .as("v_filled"))
    }))

  private def calibrationCase: String =
    "CASE " + eventCalibration.toSeq.sortBy(_._1).map { case (k, c) =>
      s"WHEN event_type = '$k' THEN value * ${c.multiplier} + ${c.offset}"
    }.mkString(" ") + " ELSE value END"

  private def rangeCase(flag: String): String =
    "CASE " + eventRanges.toSeq.sortBy(_._1).map { case (k, r) =>
      s"WHEN event_type = '$k' THEN (value < ${r.min} OR value > ${r.max})"
    }.mkString(" ") + s" ELSE false END AS $flag"

  val oracle: Map[String, String] = Map(

    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(sum(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE) / count(l_discount) AS DOUBLE) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q100_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
        |    AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6)))
        |    AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
        |    AS DECIMAL(20,6))) AS DOUBLE) AS sum_charge,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE)
        |    / count(l_quantity) AS DOUBLE) AS avg_qty,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
        |    / count(l_extendedprice) AS DOUBLE) AS avg_price,
        |  CAST(CAST(sum(CAST(l_discount AS DECIMAL(20,6))) AS DOUBLE)
        |    / count(l_discount) AS DOUBLE) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-06-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_dedup_exact" ->
      "SELECT DISTINCT l_returnflag, l_linestatus, l_quantity FROM lineitem",

    "q03_null_drop" ->
      """SELECT event_type, count(*) AS n_rows FROM events
        |WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  AND event_type IS NOT NULL AND value IS NOT NULL
        |GROUP BY event_type""".stripMargin,

    "q04_group_median" ->
      """SELECT c_nationkey,
        |  CAST(median(c_acctbal) AS DOUBLE) AS median_acctbal,
        |  count(*) AS n_customers
        |FROM customer GROUP BY c_nationkey""".stripMargin,

    "q05_calibration" ->
      s"SELECT event_id, $calibrationCase AS calibrated_value FROM events",

    "q06_tz_date" ->
      """SELECT event_id,
        |  strftime(ts + INTERVAL 330 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS local_ts,
        |  strftime(ts + INTERVAL 330 MINUTE, '%Y-%m-%d') AS local_date
        |FROM events""".stripMargin,

    "q07_range_flag" ->
      s"SELECT event_id, ${rangeCase("range_anomaly")} FROM events",

    "q08_daily_avg" ->
      """SELECT event_id,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
        |       / count(value) OVER w AS DOUBLE) AS daily_avg_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id, event_type,
        |             CAST(ts + INTERVAL 330 MINUTE AS DATE))""".stripMargin,

    "q09_rolling_avg" ->
      """SELECT event_id,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
        |       / count(value) OVER w AS DOUBLE) AS rolling_avg_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |             ROWS BETWEEN 167 PRECEDING AND CURRENT ROW)""".stripMargin,

    // Same oracle as q09 — the Spark side differs only in executor
    // (bucketed two-pass vs single window); the answer must be
    // bit-identical.
    "q166_rolling_bucketed" ->
      """SELECT event_id,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) OVER w AS DOUBLE)
        |       / count(value) OVER w AS DOUBLE) AS rolling_avg_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id
        |             ROWS BETWEEN 167 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q176_seasonal_anomaly" ->
      """WITH ev AS (
        |  SELECT event_type, hour(ts) AS hod, value FROM events),
        |prof AS (
        |  SELECT event_type, hod, count(*) AS n,
        |    CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE)
        |         / count(*) AS DOUBLE) AS mu,
        |    stddev_pop(value) AS sd
        |  FROM ev GROUP BY event_type, hod)
        |SELECT e.event_type, CAST(e.hod AS BIGINT) AS hod,
        |  CAST(p.n AS BIGINT) AS n, p.mu AS hourly_avg,
        |  CAST(count(CASE WHEN p.n > 1 AND p.sd > 0
        |    AND abs(e.value - p.mu) > 3.0 * p.sd THEN 1 END) AS BIGINT)
        |    AS n_anomalies
        |FROM ev e JOIN prof p
        |  ON e.event_type = p.event_type AND e.hod = p.hod
        |GROUP BY e.event_type, e.hod, p.n, p.mu""".stripMargin,

    "q10_zscore_flags" ->
      """SELECT event_type,
        |  count(CASE WHEN anom THEN 1 END) AS n_anomalies,
        |  count(*) AS n_rows
        |FROM (
        |  SELECT event_type,
        |    CASE WHEN cnt > 1 AND sd > 0
        |         THEN abs((value - mu) / sd) > 3.0 ELSE false END AS anom
        |  FROM (
        |    SELECT event_type, value,
        |      avg(value) OVER (PARTITION BY event_type) AS mu,
        |      stddev_pop(value) OVER (PARTITION BY event_type) AS sd,
        |      count(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM events))
        |GROUP BY event_type""".stripMargin,

    "q11_type_violations" ->
      """SELECT count(*) AS total_rows, count(k) AS castable_rows,
        |  CAST(sum(k) AS BIGINT) AS k_sum
        |FROM (SELECT TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS INTEGER) AS k
        |      FROM events)""".stripMargin,

    "q12_time_stats" ->
      """SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS min_ts,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS max_ts,
        |  count(DISTINCT user_id) AS distinct_users
        |FROM events""".stripMargin,

    "q13_gap_report" ->
      """WITH bounds AS (
        |  SELECT date_trunc('hour', min(ts)) AS min_h,
        |         date_trunc('hour', max(ts)) AS max_h FROM events),
        |pairs AS (SELECT DISTINCT user_id, event_type FROM events),
        |grid AS (
        |  SELECT p.user_id, p.event_type, g.expected_hour
        |  FROM pairs p, bounds b,
        |       LATERAL (SELECT unnest(generate_series(b.min_h, b.max_h,
        |                INTERVAL 1 HOUR)) AS expected_hour) g),
        |observed AS (
        |  SELECT DISTINCT user_id, event_type,
        |         date_trunc('hour', ts) AS expected_hour FROM events)
        |SELECT g.user_id, g.event_type,
        |  count(*) AS missing_hours,
        |  strftime(min(g.expected_hour), '%Y-%m-%d %H:%M:%S') AS first_missing,
        |  strftime(max(g.expected_hour), '%Y-%m-%d %H:%M:%S') AS last_missing
        |FROM grid g ANTI JOIN observed o
        |  ON g.user_id = o.user_id AND g.event_type = o.event_type
        |  AND g.expected_hour = o.expected_hour
        |GROUP BY g.user_id, g.event_type""".stripMargin,

    "q14_missing_profile" ->
      """SELECT event_type, count(*) AS total_readings,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS missing_count,
        |  CAST(floor(10000.0 * sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |       / count(*)) AS BIGINT) AS missing_bp
        |FROM events GROUP BY event_type""".stripMargin,

    "q15_coverage" ->
      """SELECT user_id,
        |  count(DISTINCT event_type) AS reading_types,
        |  count(*) AS total_readings,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_reading,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_reading,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |       AS DOUBLE) AS avg_value
        |FROM events GROUP BY user_id""".stripMargin,

    "q16_overall_stats" ->
      """SELECT count(*) AS total_records,
        |  count(DISTINCT user_id) AS unique_users,
        |  count(DISTINCT event_type) AS unique_types,
        |  CAST(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) / count(value)
        |       AS DOUBLE) AS avg_value
        |FROM events""".stripMargin,

    "q17_dedup_probe" ->
      """SELECT count(CASE WHEN rn > 1 THEN 1 END) AS duplicate_rows
        |FROM (SELECT row_number() OVER (PARTITION BY user_id, ts, event_type
        |             ORDER BY event_id) AS rn FROM events)""".stripMargin,

    "q24_lag_delta" ->
      """SELECT event_id,
        |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS delta_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id, event_type
        |             ORDER BY ts, event_id)""".stripMargin,

    "q25_pivot" ->
      """SELECT user_id,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |FROM events GROUP BY user_id""".stripMargin,

    "q28_salted_agg" ->
      """SELECT user_id, count(*) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id""".stripMargin,

    "q48_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, ts, max(event_id) AS pid,
        |    arg_max(value, event_id) AS pval
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts)
        |SELECT c.event_id,
        |  p.pid AS purchase_event_id,
        |  p.pval AS purchase_value,
        |  epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    // Same oracle as q48: the native operator must produce the
    // identical hash through a different physical plan.
    "q189_asof_native" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, ts, max(event_id) AS pid,
        |    arg_max(value, event_id) AS pval
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts)
        |SELECT c.event_id,
        |  p.pid AS purchase_event_id,
        |  p.pval AS purchase_value,
        |  epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    // Composite-key ASOF: DuckDB takes the extra band equality beside
    // the ts inequality; the right side pre-aggregates (keys, ts)
    // duplicates with the same arg_max tie rule the native operator
    // applies, so both engines resolve ties identically.
    "q190_asof_multikey" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id,
        |    ((CAST(floor(value) AS BIGINT) % 3) + 3) % 3 AS band, ts
        |  FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id,
        |    ((CAST(floor(value) AS BIGINT) % 3) + 3) % 3 AS band, ts,
        |    max(event_id) AS pid, arg_max(value, event_id) AS pval
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY 1, 2, 3)
        |SELECT c.event_id, c.band,
        |  p.pid AS purchase_event_id,
        |  p.pval AS purchase_value,
        |  epoch_us(c.ts) - epoch_us(p.ts) AS gap_us
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.band = p.band
        |  AND c.ts >= p.ts""".stripMargin,

    // Forward ASOF: DuckDB flips the inequality; ties collapse with
    // min/arg_min to mirror the native forward merge's least-tie rule.
    "q191_asof_forward" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, ts, min(event_id) AS pid,
        |    arg_min(value, event_id) AS pval
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts)
        |SELECT c.event_id,
        |  p.pid AS purchase_event_id,
        |  p.pval AS purchase_value,
        |  epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts""".stripMargin,

    // Nearest = the closer of a backward (>=) and a STRICT forward (<)
    // ASOF join, ties backward; each leg collapses (user, ts) ties
    // with its own direction's rule. gap is signed left − right, so
    // backward wins iff gap_b <= -gap_f.
    "q192_asof_nearest" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purchb AS (
        |  SELECT user_id, ts, max(event_id) AS pid,
        |    arg_max(value, event_id) AS pval
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts),
        |purchf AS (
        |  SELECT user_id, ts, min(event_id) AS pid,
        |    arg_min(value, event_id) AS pval
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts),
        |b AS (
        |  SELECT c.event_id, p.pid, p.pval,
        |    epoch_us(c.ts) - epoch_us(p.ts) AS gap
        |  FROM clicks c ASOF LEFT JOIN purchb p
        |    ON c.user_id = p.user_id AND c.ts >= p.ts),
        |f AS (
        |  SELECT c.event_id, p.pid, p.pval,
        |    epoch_us(c.ts) - epoch_us(p.ts) AS gap
        |  FROM clicks c ASOF LEFT JOIN purchf p
        |    ON c.user_id = p.user_id AND c.ts < p.ts)
        |SELECT b.event_id,
        |  CASE WHEN b.gap IS NOT NULL AND (f.gap IS NULL OR b.gap <= -f.gap)
        |    THEN b.pid ELSE f.pid END AS purchase_event_id,
        |  CASE WHEN b.gap IS NOT NULL AND (f.gap IS NULL OR b.gap <= -f.gap)
        |    THEN b.pval ELSE f.pval END AS purchase_value,
        |  CASE WHEN b.gap IS NOT NULL AND (f.gap IS NULL OR b.gap <= -f.gap)
        |    THEN b.gap ELSE f.gap END AS gap_us
        |FROM b JOIN f USING (event_id)""".stripMargin,

    "q18_hourly_pivot" ->
      """SELECT hour(ts) AS hour_of_day,
        |  CAST(CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value END
        |         AS DECIMAL(20,6))) AS DOUBLE)
        |       / count(CASE WHEN event_type = 'click' THEN value END)
        |       AS DOUBLE) AS avg_click_value,
        |  CAST(CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN value END
        |         AS DECIMAL(20,6))) AS DOUBLE)
        |       / count(CASE WHEN event_type = 'purchase' THEN value END)
        |       AS DOUBLE) AS avg_purchase_value,
        |  count(*) AS n_events
        |FROM events GROUP BY hour(ts)""".stripMargin,

    "q85_null_semantics" ->
      """WITH b AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |SELECT count(*) AS n,
        |  count(k) AS n_k,
        |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_k,
        |  CAST(sum(coalesce(k, -1)) AS BIGINT) AS sum_coalesce,
        |  count(nullif(event_type, 'click')) AS n_not_click,
        |  CAST(sum(CASE WHEN k IS NOT DISTINCT FROM 5 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_k5_nullsafe,
        |  CAST(sum(CASE WHEN k = 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_k5_plain
        |FROM b""".stripMargin,

    "q95_unpivot" ->
      """WITH wide AS (
        |  SELECT user_id,
        |    count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
        |    count(CASE WHEN event_type = 'view' THEN 1 END) AS view,
        |    count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
        |    count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
        |    count(CASE WHEN event_type = 'error' THEN 1 END) AS error
        |  FROM events GROUP BY user_id)
        |SELECT user_id, etype, CAST(n AS BIGINT) AS n
        |FROM wide
        |UNPIVOT (n FOR etype IN (click, view, purchase, signup, error))""".stripMargin,

    "q94_nullsafe_join" ->
      """WITH b AS (
        |  SELECT event_id, event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |l AS (SELECT event_id AS l_id, k AS lk FROM b
        |      WHERE event_type = 'click'),
        |r AS (SELECT event_id AS r_id, k AS rk FROM b
        |      WHERE event_type = 'view')
        |SELECT coalesce(lk, -1) AS k_group,
        |  count(*) AS n_pairs,
        |  count(DISTINCT l_id) AS n_clicks,
        |  count(DISTINCT r_id) AS n_views
        |FROM l JOIN r ON lk IS NOT DISTINCT FROM rk
        |GROUP BY 1""".stripMargin,

    "q93_regex_groups" ->
      """WITH k AS (
        |  SELECT event_type || '-' || CAST(user_id AS VARCHAR) || ':' ||
        |         CAST(event_id AS VARCHAR) AS key
        |  FROM events)
        |SELECT regexp_extract(key, '^([a-z]+)-(\d+):', 1) AS kind,
        |  count(*) AS n,
        |  count(DISTINCT CAST(regexp_extract(key, '^([a-z]+)-(\d+):', 2)
        |    AS BIGINT)) AS n_users,
        |  CAST(sum(CAST(regexp_extract(key, '^([a-z]+)-(\d+):', 2)
        |    AS BIGINT) % 10) AS BIGINT) AS uid_mod_sum
        |FROM k GROUP BY 1""".stripMargin,

    "q86_interpolate" ->
      """WITH b AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, ts,
        |    CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS vn
        |  FROM events),
        |w AS (
        |  SELECT event_id, ts_us, vn,
        |    last_value(vn IGNORE NULLS) OVER wp AS prev_v,
        |    last_value(CASE WHEN vn IS NOT NULL THEN ts_us END IGNORE NULLS)
        |      OVER wp AS prev_ts,
        |    first_value(vn IGNORE NULLS) OVER wn AS next_v,
        |    first_value(CASE WHEN vn IS NOT NULL THEN ts_us END IGNORE NULLS)
        |      OVER wn AS next_ts
        |  FROM b
        |  WINDOW
        |    wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    wn AS (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT event_id,
        |  CASE WHEN vn IS NOT NULL THEN vn
        |       WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
        |         prev_v + (next_v - prev_v) *
        |           (CAST(ts_us - prev_ts AS DOUBLE)
        |            / CAST(next_ts - prev_ts AS DOUBLE))
        |       ELSE coalesce(prev_v, next_v) END AS v_filled
        |FROM w""".stripMargin)
}
