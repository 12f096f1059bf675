package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.exact

/** Relational operator coverage over the TPC-H-ish tables: multi-way
  * broadcast joins, semi/anti joins, top-n with deterministic ordering,
  * and set operations — the join shapes from SURVEY §2.3 at relational
  * scale. Dimension tables are explicitly broadcast; the lineitem side
  * never shuffles for the joins (only for the final aggregation).
  */
object RelationalQueries {

  import CoreQueries.t

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // J-pattern: fact -> dims with broadcast joins, revenue per nation.
    "q19_join_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(broadcast(o), li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(20, 6))).cast("double").as("revenue"),
          count(lit(1)).as("n_lineitems"))
    }),

    // Semi + anti join counts in one row.
    "q20_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .agg(count(lit(1)).as("with_orders"))
      val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("without_orders"))
      withOrders.crossJoin(withoutOrders)
    }),

    // Top-N: highest-revenue orders, deterministic tie-break on key.
    "q21_topn" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(20, 6))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // Set operations: segment customers vs customers with orders.
    "q22_setops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val building = c.filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ordered = o.select(col("o_custkey").as("c_custkey"))
      val both = building.intersect(ordered).agg(count(lit(1)).as("n_intersect"))
      val only = building.except(ordered).agg(count(lit(1)).as("n_except"))
      both.crossJoin(only)
    }),

    // Grouping sets (rollup): revenue by (returnflag, linestatus) with
    // subtotals — the multi-level aggregation shape.
    "q23_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          exact.sumExact(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),

    // Full cube over two dimensions.
    "q29_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          exact.sumExact(col("o_totalprice")).as("sum_price"))
    }),

    // Ranking family: rank / dense_rank / ntile over a deterministic
    // ordering (acctbal is unique enough at these SFs? no — tie-break
    // on key for stable row assignment).
    "q26_rank_family" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer").select(
        col("c_custkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        ntile(4).over(w).cast("long").as("quartile"))
    }),

    // Scalar string-function surface over part names.
    "q27_string_funcs" -> ((s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_upper"),
        length(col("p_name")).cast("long").as("name_len"),
        substring(col("p_name"), 1, 5).as("name_prefix"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("name_novowel"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        reverse(col("p_name")).as("name_rev"))
    }),

    // TPC-H Q3 shape: top unshipped-revenue orders (filter + join +
    // group + deterministic top-n).
    "q53_tpch_q3" -> ((s, dir) => {
      val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1996-06-30").cast("timestamp"))
      li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("o_orderpriority"))
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(20, 6))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // TPC-H Q6 shape: forecast-revenue-change (pure pushed-filter agg).
    "q54_tpch_q6" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
            col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
            col("l_discount") >= 0.03 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
        .agg(
          sum((col("l_extendedprice") * col("l_discount"))
            .cast(DecimalType(20, 6))).cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // Time-based sliding window (RANGE frame over event-time micros):
    // events per user in the trailing hour, inclusive.
    "q55_range_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0L)
      t(s, dir, "events").select(
        col("event_id"),
        count(lit(1)).over(w).as("events_last_hour"))
    }),

    // Full outer join with null-side coalescing: every nation with
    // order-revenue on one side and customer counts on the other.
    "q52_outer_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val perNationCust = c.groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_customers"))
      val perNationBal = c.filter(col("c_acctbal") > 0)
        .groupBy(col("c_nationkey").as("nk"))
        .agg(exact.sumExact(col("c_acctbal")).as("pos_balance"))
      perNationCust.join(perNationBal, Seq("nk"), "full_outer")
        .join(broadcast(n), col("nk") === col("n_nationkey"), "left")
        .select(
          col("n_name"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"),
          coalesce(col("pos_balance"), lit(0.0)).as("pos_balance"))
    }),

    // Date/time scalar surface (engine-aligned semantics: ISO weekday
    // via strftime-independent arithmetic).
    "q47_datetime" -> ((s, dir) => {
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso_date"),
        datediff(lit("1998-12-31").cast("date"),
          col("o_orderdate").cast("date")).cast("long").as("days_to_eoy"),
        quarter(col("o_orderdate")).cast("long").as("q"))
    }),

    // Explicit GROUPING SETS (beyond rollup/cube): the (flag, status),
    // (flag), () lattice in one aggregation pass.
    "q78_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          exact.sumExact(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
    }),

    // Exact second-moment profile: per-flag covariance / correlation of
    // quantity vs extendedprice from DECIMAL-accumulated sums (sx, sy,
    // sxy, sxx, syy). Each FACTOR is decimalized at scale 2 — the data's
    // own precision, where the double->decimal cast is unambiguous on
    // any engine (binary noise ~1e-11 vs a 0.005 rounding boundary) —
    // and the products are decimal*decimal, so every sum is integer-
    // exact and partitioning-independent. (Decimalizing the double
    // PRODUCTS instead is fragile: a wide-mantissa product can straddle
    // a scale-10 rounding boundary between engines.) The final
    // covariance/correlation arithmetic is the same fixed IEEE
    // expression tree on both sides — a statistic that is normally
    // "close to" reproducible becomes bit-exact, in ONE map-side-
    // combined aggregation pass.
    "q80_moments" -> ((s, dir) => {
      val d = DecimalType(18, 2)
      def sdec(c: org.apache.spark.sql.Column) = sum(c)
      val x = col("l_quantity").cast(d)
      val y = col("l_extendedprice").cast(d)
      // spread(): five decimal product-sums per row are the cost, and
      // the sf0.1 file scans as ONE row-group task — the whole 1.3 s of
      // aggregate CPU ran single-threaded (r19 baseline: 5 tasks,
      // wall ~= summed task time). Same rationale/no-op-at-scale
      // contract as q100.
      CoreQueries.spread(t(s, dir, "lineitem"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sdec(x).as("sx"), sdec(y).as("sy"),
          sdec(x * y).as("sxy"), sdec(x * x).as("sxx"),
          sdec(y * y).as("syy"))
        .select(col("l_returnflag"), col("n"),
          (col("sx").cast("double") / col("n").cast("double")).as("mean_x"),
          (col("sy").cast("double") / col("n").cast("double")).as("mean_y"),
          ((col("sxy").cast("double")
            - col("sx").cast("double") * col("sy").cast("double")
              / col("n").cast("double")) / col("n").cast("double"))
            .as("cov_pop"),
          ((col("sxx").cast("double")
            - col("sx").cast("double") * col("sx").cast("double")
              / col("n").cast("double")) / col("n").cast("double"))
            .as("var_x"),
          ((col("syy").cast("double")
            - col("sy").cast("double") * col("sy").cast("double")
              / col("n").cast("double")) / col("n").cast("double"))
            .as("var_y"))
        .withColumn("corr_xy",
          col("cov_pop") / sqrt(col("var_x") * col("var_y")))
    }),

    // Distribution-rank window family: percent_rank / cume_dist /
    // nth_value — pure integer-ratio doubles, engine-identical.
    "q90_dist_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer").select(
        col("c_custkey"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        nth_value(col("c_custkey"), 3).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("third_poorest"))
    }),

    // TPC-H Q10 shape (returned-item reporting): revenue lost to
    // returns per customer over a quarter, top 20. Window-free top-n
    // via deterministic ordering; dims broadcast.
    "q98_tpch_q10" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1997-07-01"))
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(20, 6))).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // As-of join with a staleness tolerance (pandas merge_asof
    // `tolerance`): purchases more than 6 hours before the click no
    // longer count as the attribution match.
    "q99_asof_tolerance" -> ((s, dir) => {
      val ev = CoreQueries.t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      graft.operators.AsOf.asofLeft(clicks, purchases,
        key = "user_id", ts = "ts", rightTie = "event_id",
        toleranceUs = Some(6L * 3600L * 1000000L))
        .select(
          col("event_id"),
          col("asof_match.event_id").as("purchase_event_id"),
          (unix_micros(col("ts")) - unix_micros(col("asof_match.ts")))
            .as("gap_us"))
    }),

    // Median + bitwise aggregate family: exact interpolated median
    // ((a+b)/2 on the same doubles — engine-identical) and bit_and /
    // bit_or / bit_xor over the 32-bit content hashes.
    "q91_median_bits" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity"),
          graft.functions.text.md5Hash32(
            col("l_orderkey").cast("string"), 1).as("h"))
        .groupBy(col("l_returnflag"))
        .agg(
          median(col("l_quantity")).as("med_qty"),
          bit_and(col("h")).cast("long").as("h_and"),
          bit_or(col("h")).cast("long").as("h_or"),
          bit_xor(col("h")).cast("long").as("h_xor"))
    }),

    // TPC-H Q5 shape (local supplier volume): six-table join where the
    // customer and supplier nations must match. Dimensions broadcast;
    // only the lineitem<->orders join shuffles, and the date predicate
    // pushes into the orders scan.
    "q83_tpch_q5" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
      val c = t(s, dir, "customer")
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(su), li("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(
          sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(20, 6))).cast("double").as("revenue"),
          count(lit(1)).as("n_lineitems"))
    }),

    // Grouped OLS regression (price on quantity) from the same decimal
    // moment sums as q80: slope and intercept are pure double formulas
    // over exactly-accumulated sums, evaluated in one mirrored order —
    // the distributed closed-form regression (one aggregation, no
    // iterative solver, no per-row floats).
    "q153_regression" -> ((s, dir) => {
      val d = DecimalType(18, 2)
      val x = col("l_quantity").cast(d)
      val y = col("l_extendedprice").cast(d)
      // spread(): same single-row-group serialization as q80 — the
      // decimal product-sum CPU ran on one task at sf0.1.
      CoreQueries.spread(t(s, dir, "lineitem"))
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(x).as("sx"), sum(y).as("sy"),
          sum(x * y).as("sxy"), sum(x * x).as("sxx"))
        .select(col("l_returnflag"), col("n"),
          col("n").cast("double").as("nd"),
          col("sx").cast("double").as("sxd"),
          col("sy").cast("double").as("syd"),
          col("sxy").cast("double").as("sxyd"),
          col("sxx").cast("double").as("sxxd"))
        .withColumn("slope",
          (col("nd") * col("sxyd") - col("sxd") * col("syd")) /
            (col("nd") * col("sxxd") - col("sxd") * col("sxd")))
        .withColumn("intercept",
          (col("syd") - col("slope") * col("sxd")) / col("nd"))
        .select(col("l_returnflag"), col("n"),
          col("slope"), col("intercept"))
    }),

    // Robust statistics: per-group median absolute deviation — the
    // outlier-resistant scale estimate (z-scores break when the mean
    // itself is dragged). Two grouped exact percentiles with the tiny
    // median table broadcast back between them; deviations are plain
    // double subtractions, exact on both engines.
    "q155_mad" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("g"), col("l_quantity").as("x"))
      val med = li.groupBy(col("g"))
        .agg(expr("percentile(x, 0.5)").as("med"))
      li.join(broadcast(med), "g")
        .select(col("g"), col("med"), abs(col("x") - col("med")).as("ad"))
        .groupBy(col("g"))
        .agg(
          count(lit(1)).as("n"),
          max(col("med")).as("median_x"),
          expr("percentile(ad, 0.5)").as("mad"))
    }),

    // SQL-entrypoint parity: the same engine surface reached through
    // spark.sql over registered temp views — ANSI text goes through
    // Spark's parser/analyzer (correlated EXISTS → rewritten semi join)
    // and lands on the identical Catalyst plans the DataFrame DSL
    // produces. A reference user arriving with SQL strings needs no
    // translation layer.
    "q144_sql_api" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_sql")
      t(s, dir, "orders").createOrReplaceTempView("ord_sql")
      s.sql("""
        SELECT o_orderpriority,
          count(*) AS n_orders,
          CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
            AS total_price
        FROM ord_sql
        WHERE EXISTS (SELECT 1 FROM li_sql
          WHERE l_orderkey = o_orderkey
            AND l_discount > CAST(0.05 AS DOUBLE))
        GROUP BY o_orderpriority""")
    }),

    // Bag-semantics set operations (EXCEPT ALL / INTERSECT ALL):
    // multiplicity-aware complements of q22's set forms — each is a
    // count-difference aggregation under the hood, one shuffle on the
    // projected key, no row-id tricks.
    "q146_bag_setops" -> ((s, dir) => {
      def sideSet(f: Column) =
        t(s, dir, "lineitem").filter(f).select(col("l_partkey"))
      val a = sideSet(col("l_returnflag") === "R")
      val b = sideSet(col("l_linestatus") === "F")
      def summarize(df: DataFrame, op: String) =
        df.agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_partkey")).as("n_keys"))
          .select(lit(op).as("op"), col("n_rows"), col("n_keys"))
      summarize(a.exceptAll(b), "except_all")
        .unionAll(summarize(a.intersectAll(b), "intersect_all"))
    }),

    // Co-located fact-to-fact join over bucketed storage: both sides
    // written once with bucketBy(32, orderkey).sortBy(orderkey), one
    // file per bucket — the sort-merge join then reads matching buckets
    // with ZERO exchange and ZERO sort on either side (BucketingSpec
    // asserts this on the executed plan). The bucketed write is
    // memoized per (session, dir): the first call pre-pays the one
    // shuffle that every later orderkey-keyed join/agg skips — the
    // 100 TB big-big join strategy, vs per-query shuffles of both
    // sides. Oracle is the plain join: storage layout must not change
    // answers.
    "q193_bucketed_join" -> ((s, dir) => {
      import graft.operators.Bucketed
      val li = Bucketed.ensure(s, dir, "lineitem", Seq("l_orderkey"), 32)(
        t(s, dir, "lineitem"))
      val o = Bucketed.ensure(s, dir, "orders", Seq("o_orderkey"), 32)(
        t(s, dir, "orders"))
      Bucketed.colocatedJoin(li, o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          exact.sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_lineitems"))
    }),

    // Aggregation keyed on the bucket columns of the same bucketed
    // lineitem copy: the scan already satisfies the required hash
    // partitioning, so the whole groupBy runs in the scan stage — no
    // exchange anywhere in the plan (BucketingSpec asserts it). Same
    // oracle-vs-plain-storage contract as q193.
    "q194_bucketed_agg" -> ((s, dir) => {
      import graft.operators.Bucketed
      Bucketed.ensure(s, dir, "lineitem", Seq("l_orderkey"), 32)(
        t(s, dir, "lineitem"))
        .groupBy(col("l_orderkey"))
        .agg(
          exact.sumExact(col("l_quantity")).as("sum_qty"),
          exact.sumExact(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_items"))
    }),

    // Dynamic partition pruning over hive-partitioned storage: events
    // stored partitioned by day, joined against a runtime-computed set
    // of days (parity of the day's exact error-value sum — a HAVING
    // over an aggregate, so Catalyst CANNOT infer it across the join
    // and prune statically; the pruning values exist only at runtime).
    // The explicitly-broadcast dim (aggregate size estimates never
    // auto-broadcast) doubles as the DPP subquery: the fact scan's
    // PartitionFilters gains a dynamicpruningexpression and skips
    // non-matching day directories entirely (PartitionedSpec asserts
    // it). At 100 TB this is "reprocess only the partitions the
    // dimension selects" — scan cost ∝ selected days, not table size.
    // Oracle is the same logic over the unpartitioned parquet: layout
    // must not change answers.
    "q195_dpp" -> ((s, dir) => {
      import graft.operators.Partitioned
      val fact = Partitioned.ensure(s, dir, "events", "dt")(
        t(s, dir, "events").withColumn("dt", to_date(col("ts"))))
      val dim = errorParityDays(s, dir)
      fact.join(broadcast(dim), fact("dt") === dim("dim_dt"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          exact.sumExact(col("value")).as("sum_value"))
    }),

    // Mismatched bucket counts — the layout-drift case every real lake
    // hits (a fact re-bucketed wider as it grew, joined against an
    // older narrower layout): lineitem at 64 buckets ⋈ orders at 32.
    // Bucketed.ensure enables bucket coalescing (SPARK-31350, off by
    // default), so the wider side reads 2 adjacent buckets per task
    // and the join STILL runs with zero exchange — only the coalesced
    // side re-sorts (>1 file per read-bucket). BucketingSpec asserts
    // the plan; the oracle is the plain join, layout-independent.
    "q196_bucket_coalesced_join" -> ((s, dir) => {
      import graft.operators.Bucketed
      val li = Bucketed.ensure(s, dir, "lineitem", Seq("l_orderkey"), 64)(
        t(s, dir, "lineitem"))
      val o = Bucketed.ensure(s, dir, "orders", Seq("o_orderkey"), 32)(
        t(s, dir, "orders"))
      Bucketed.colocatedJoin(li, o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(
          exact.sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          countDistinct(col("l_orderkey")).as("n_orders"))
    }),

    // The layouts COMPOSE: events partitioned by day AND bucketed by
    // user (the standard lakehouse fact layout) joined against (a) the
    // q195 runtime day set — dynamic partition pruning decides which
    // day directories are read — and (b) a user-profile table bucketed
    // on the same key at the same count — the surviving rows join
    // exchange-free (the bucketed scan's hash partitioning passes
    // through the broadcast DPP join untouched). One scan, both
    // mechanisms; the only shuffle in the whole plan is the final
    // per-type aggregation (PartitionedSpec asserts the plan: a
    // dynamicpruning PartitionFilter AND exactly one hash exchange).
    // Oracle is the same logic over flat parquet.
    "q197_layered_layout" -> ((s, dir) => {
      import graft.operators.{Bucketed, Partitioned}
      val fact = Partitioned.ensureBucketed(
        s, dir, "events", "dt", Seq("user_id"), 16)(
        t(s, dir, "events").withColumn("dt", to_date(col("ts"))))
      val dim = errorParityDays(s, dir)
      val profile = Bucketed.ensure(
        s, dir, "events_user_profile", Seq("user_id"), 16)(
        t(s, dir, "events").groupBy(col("user_id"))
          .agg(count(lit(1)).as("user_total")))
      fact.join(broadcast(dim), fact("dt") === dim("dim_dt"))
        .hint("merge").join(profile, Seq("user_id"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          exact.sumExact(col("value")).as("sum_value"),
          sum(col("user_total")).cast("long").as("sum_user_total"))
    }),

    // The incremental-load path end-to-end: ensure() the historical
    // slice of lineitem bucketed on orderkey, append() the newer batch
    // under the SAME bucket spec, then join the result co-located to
    // orders — each append adds one file per bucket, the SMJ re-sorts
    // multi-file buckets locally, and NEITHER join side ever shuffles
    // (BucketingSpec asserts the plan; compactIfNeeded restores the
    // sort-free single-file layout once appends accumulate). The
    // oracle joins the flat table: the two-step load must be
    // answer-invisible. drop() first makes the query self-contained
    // across repeated runs in one session — a second ensure over the
    // memoized table would otherwise return the already-appended copy
    // and the append would double the batch.
    "q198_bucketed_append" -> ((s, dir) => {
      import graft.operators.Bucketed
      // bucket count derives from the LARGER join side's bytes (both
      // sides must match for the colocated join) — scale-adaptive per
      // Bucketed.bucketCountFor: 8 at sf0.1, growing with the data.
      val nb = Bucketed.bucketCountFor(
        Bucketed.sourceBytes(s"$dir/lineitem.parquet"))
      Bucketed.drop(s, dir, "lineitem_inc", Seq("l_orderkey"), nb)
      val src = t(s, dir, "lineitem")
      val hist = src.filter(col("l_shipdate") < "1995-06-01")
      val batch = src.filter(col("l_shipdate") >= "1995-06-01")
      Bucketed.ensure(s, dir, "lineitem_inc", Seq("l_orderkey"), nb)(hist)
      val li = Bucketed.append(
        s, dir, "lineitem_inc", Seq("l_orderkey"), nb)(batch)
      val o = Bucketed.ensure(s, dir, "orders", Seq("o_orderkey"), nb)(
        t(s, dir, "orders"))
      Bucketed.colocatedJoin(li, o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          exact.sumExact(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_lineitems"))
    }),

    // Bucketed storage, the FULL incremental lifecycle under the
    // oracle: ensure history + THREE date-sliced appends (each adds one
    // file to every bucket its keys hash to — past the
    // maxFilesPerBucket=2 policy) + compactIfNeeded (one rewrite back
    // to a single sorted file per bucket, restoring the sort-free scan
    // q193 relies on) + colocated join to orders. The oracle joins the
    // flat table: the whole append/compact lifecycle must be
    // answer-invisible, and BucketingSpec asserts the post-compaction
    // join plan is exchange-free AND sort-free. drop() first for the
    // same run-to-run self-containment as q198.
    "q200_bucketed_compact" -> ((s, dir) => {
      import graft.operators.Bucketed
      // same derived bucket count as q198 (see bucketCountFor)
      val nb = Bucketed.bucketCountFor(
        Bucketed.sourceBytes(s"$dir/lineitem.parquet"))
      Bucketed.drop(s, dir, "lineitem_cmp", Seq("l_orderkey"), nb)
      val src = t(s, dir, "lineitem")
      Bucketed.ensure(s, dir, "lineitem_cmp", Seq("l_orderkey"), nb)(
        src.filter(col("l_shipdate") < "1995-01-01"))
      Seq(("1995-01-01", "1995-07-01"), ("1995-07-01", "1996-01-01"))
        .foreach { case (lo, hi) =>
          Bucketed.append(s, dir, "lineitem_cmp", Seq("l_orderkey"), nb)(
            src.filter(col("l_shipdate") >= lo && col("l_shipdate") < hi))
        }
      Bucketed.append(s, dir, "lineitem_cmp", Seq("l_orderkey"), nb)(
        src.filter(col("l_shipdate") >= "1996-01-01"))
      val li = Bucketed.compactIfNeeded(
        s, dir, "lineitem_cmp", Seq("l_orderkey"), nb, maxFilesPerBucket = 2)
      val o = Bucketed.ensure(s, dir, "orders", Seq("o_orderkey"), nb)(
        t(s, dir, "orders"))
      Bucketed.colocatedJoin(li, o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(
          exact.sumExact(col("l_extendedprice")).as("sum_price"),
          count(lit(1)).as("n_lineitems"))
    }),

    // The curated pipeline output in the lakehouse layout, end to end:
    // transform events (tz shift + local-date derivation — the q06
    // semantics), land them partitioned by date and bucketed by the key
    // downstream work joins/groups on (Partitioned.ensureBucketed, the
    // q197 layout), read back through the catalog table (a bare path
    // read sees the same rows but no bucket metadata), and aggregate on
    // the bucket key. The oracle computes the same aggregate over the
    // SOURCE table — the bucketed landing is answer-invisible — and
    // PartitionedSpec asserts the aggregation plan carries no exchange
    // (the shuffle was pre-paid by the one load-time repartition).
    "q201_curated_bucketed" -> ((s, dir) => {
      import graft.config.ReadingCols
      import graft.operators.{Bucketed, Partitioned}
      import graft.transform.Transforms
      val ec = ReadingCols.events
      // bucket count derives from the source bytes (8 at sf0.1 — a
      // fixed 32 times the 31 date partitions put one run at ~1000
      // sub-MB files, and the writer/commit/readback overhead of those
      // WAS the query's wall; at scale the same formula grows the
      // count with the data). Scale policy: Bucketed.bucketCountFor.
      val nb = Bucketed.bucketCountFor(
        Bucketed.sourceBytes(s"$dir/events.parquet"))
      Partitioned.ensureBucketed(
        s, dir, "events_curated", "date", Seq("user_id"), nb)(
        Transforms.deriveDate(ec)(
          Transforms.shiftToLocal(330, ec)(t(s, dir, "events")))
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"),
            // the hive partition value as its yyyy-MM-dd string:
            // last_date stays a string, and max over it is chronological
            col("date").cast("string").as("date")))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_readings"),
          exact.sumExact(col("value")).as("sum_value"),
          max(col("date")).as("last_date"))
    }))

  /** The q195/q197 dynamic-pruning day set: days whose exact (decimal)
    * error-value sum has even floor-parity. ONE definition shared by
    * both queries and asserted by PartitionedSpec — the HAVING-over-
    * aggregate shape is what keeps the pruning dynamic (a plain filter
    * on the join column would be inferred across the join and prune
    * statically), so the three call sites must never drift apart. */
  private[graft] def errorParityDays(s: SparkSession, dir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 6)
    t(s, dir, "events")
      .filter(col("event_type") === "error")
      .groupBy(to_date(col("ts")).as("dim_dt"))
      .agg(sum(col("value").cast(dec)).as("err_sum"))
      .filter(floor(col("err_sum")).cast("long") % 2 === 0)
      .select(col("dim_dt"))
  }

  val oracle: Map[String, String] = Map(

    "q19_join_revenue" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6)))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q20_semi_anti" ->
      """SELECT
        |  (SELECT count(*) FROM customer
        |   WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |    AS with_orders,
        |  (SELECT count(*) FROM customer
        |   WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |    AS without_orders""".stripMargin,

    "q21_topn" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q22_setops" ->
      """SELECT
        |  (SELECT count(*) FROM (
        |     SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |     INTERSECT SELECT o_custkey FROM orders)) AS n_intersect,
        |  (SELECT count(*) FROM (
        |     SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |     EXCEPT SELECT o_custkey FROM orders)) AS n_except""".stripMargin,

    "q23_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q29_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q26_rank_family" ->
      """SELECT c_custkey,
        |  CAST(rank() OVER w AS BIGINT) AS rnk,
        |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal DESC, c_custkey)""".stripMargin,

    "q27_string_funcs" ->
      """SELECT p_partkey,
        |  upper(p_brand) AS brand_upper,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  substring(p_name, 1, 5) AS name_prefix,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowel,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  reverse(p_name) AS name_rev
        |FROM part""".stripMargin,

    "q53_tpch_q3" ->
      """SELECT l_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |  o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1996-06-30'
        |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q54_tpch_q6" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(20,6)))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.03 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q55_range_window" ->
      """SELECT event_id,
        |  count(*) OVER w AS events_last_hour
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q52_outer_join" ->
      """WITH cust AS (
        |  SELECT c_nationkey AS nk, count(*) AS n_customers
        |  FROM customer GROUP BY c_nationkey),
        |bal AS (
        |  SELECT c_nationkey AS nk,
        |    CAST(sum(CAST(c_acctbal AS DECIMAL(20,6))) AS DOUBLE) AS pos_balance
        |  FROM customer WHERE c_acctbal > 0 GROUP BY c_nationkey)
        |SELECT n_name,
        |  coalesce(n_customers, 0) AS n_customers,
        |  coalesce(pos_balance, 0.0) AS pos_balance
        |FROM cust FULL OUTER JOIN bal USING (nk)
        |LEFT JOIN nation ON nk = n_nationkey""".stripMargin,

    "q47_datetime" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  CAST(dayofmonth(o_orderdate) AS BIGINT) AS d,
        |  strftime(o_orderdate, '%Y-%m-%d') AS iso_date,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31')
        |    AS BIGINT) AS days_to_eoy,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS q
        |FROM orders""".stripMargin,

    "q78_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())""".stripMargin,

    "q80_moments" ->
      """WITH f AS (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM f GROUP BY l_returnflag),
        |d AS (
        |  -- decimal->double through VARCHAR: DuckDB's direct cast
        |  -- double-rounds (int128->double, then /10^scale) once the
        |  -- scaled sum exceeds 2^53; the string parse is correctly
        |  -- rounded, matching Spark's BigDecimal->double.
        |  SELECT l_returnflag, n,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
        |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
        |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
        |    CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd
        |  FROM a),
        |m AS (
        |  SELECT l_returnflag, n,
        |    sxd / CAST(n AS DOUBLE) AS mean_x,
        |    syd / CAST(n AS DOUBLE) AS mean_y,
        |    (sxyd - sxd * syd / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
        |      AS cov_pop,
        |    (sxxd - sxd * sxd / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
        |      AS var_x,
        |    (syyd - syd * syd / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE)
        |      AS var_y
        |  FROM d)
        |SELECT l_returnflag, n, mean_x, mean_y, cov_pop, var_x, var_y,
        |  cov_pop / sqrt(var_x * var_y) AS corr_xy
        |FROM m""".stripMargin,

    "q98_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6)))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q99_asof_tolerance" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, ts, max(event_id) AS pid
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts)
        |SELECT c.event_id,
        |  CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 21600000000
        |       THEN p.pid END AS purchase_event_id,
        |  CASE WHEN epoch_us(c.ts) - epoch_us(p.ts) <= 21600000000
        |       THEN epoch_us(c.ts) - epoch_us(p.ts) END AS gap_us
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,

    "q91_median_bits" ->
      """SELECT l_returnflag,
        |  median(l_quantity) AS med_qty,
        |  CAST(bit_and(h) AS BIGINT) AS h_and,
        |  CAST(bit_or(h) AS BIGINT) AS h_or,
        |  CAST(bit_xor(h) AS BIGINT) AS h_xor
        |FROM (SELECT l_returnflag, l_quantity,
        |        ('0x' || substr(md5('1:' || CAST(l_orderkey AS VARCHAR)),
        |          1, 8))::BIGINT AS h
        |      FROM lineitem)
        |GROUP BY l_returnflag""".stripMargin,

    "q90_dist_rank" ->
      """SELECT c_custkey,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  nth_value(c_custkey, 3) OVER (PARTITION BY c_nationkey
        |    ORDER BY c_acctbal, c_custkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS third_poorest
        |FROM customer
        |WINDOW w AS (PARTITION BY c_nationkey
        |             ORDER BY c_acctbal, c_custkey)""".stripMargin,

    "q83_tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6)))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin,

    "q144_sql_api" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE)
        |    AS total_price
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_discount > CAST(0.05 AS DOUBLE))
        |GROUP BY o_orderpriority""".stripMargin,

    "q155_mad" ->
      """WITH med AS (
        |  SELECT l_returnflag AS g,
        |    CAST(median(l_quantity) AS DOUBLE) AS med
        |  FROM lineitem GROUP BY 1)
        |SELECT g, count(*) AS n,
        |  max(med) AS median_x,
        |  CAST(median(abs(l_quantity - med)) AS DOUBLE) AS mad
        |FROM lineitem JOIN med ON l_returnflag = g
        |GROUP BY g""".stripMargin,

    "q153_regression" ->
      """WITH f AS (
        |  SELECT l_returnflag,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM f GROUP BY l_returnflag),
        |d AS (
        |  SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
        |    CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
        |    CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
        |    CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd
        |  FROM a),
        |sl AS (
        |  SELECT l_returnflag, n, nd, sxd, syd,
        |    (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope
        |  FROM d)
        |SELECT l_returnflag, n, slope,
        |  (syd - slope * sxd) / nd AS intercept
        |FROM sl""".stripMargin,

    "q146_bag_setops" ->
      """WITH a AS (
        |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
        |b AS (SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F'),
        |ea AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
        |ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
        |SELECT 'except_all' AS op, count(*) AS n_rows,
        |  count(DISTINCT l_partkey) AS n_keys FROM ea
        |UNION ALL
        |SELECT 'intersect_all' AS op, count(*) AS n_rows,
        |  count(DISTINCT l_partkey) AS n_keys FROM ia""".stripMargin,

    "q193_bucketed_join" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6)))
        |    AS DOUBLE) AS revenue,
        |  count(*) AS n_lineitems
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q194_bucketed_agg" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(20,6))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
        |    AS sum_price,
        |  count(*) AS n_items
        |FROM lineitem
        |GROUP BY l_orderkey""".stripMargin,

    "q195_dpp" ->
      """WITH dim AS (
        |  SELECT CAST(ts AS DATE) AS dim_dt
        |  FROM events WHERE event_type = 'error'
        |  GROUP BY 1
        |  HAVING CAST(floor(sum(CAST(value AS DECIMAL(20,6)))) AS BIGINT)
        |    % 2 = 0)
        |SELECT event_type,
        |  count(*) AS n,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN dim ON CAST(ts AS DATE) = dim_dt
        |GROUP BY event_type""".stripMargin,

    "q196_bucket_coalesced_join" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(20,6)))
        |    AS DOUBLE) AS revenue,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus""".stripMargin,

    "q197_layered_layout" ->
      """WITH e AS (SELECT *, CAST(ts AS DATE) AS dt FROM events),
        |dim AS (
        |  SELECT CAST(ts AS DATE) AS dim_dt
        |  FROM events WHERE event_type = 'error'
        |  GROUP BY 1
        |  HAVING CAST(floor(sum(CAST(value AS DECIMAL(20,6)))) AS BIGINT)
        |    % 2 = 0),
        |profile AS (
        |  SELECT user_id, count(*) AS user_total FROM events GROUP BY 1)
        |SELECT event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
        |  CAST(sum(user_total) AS BIGINT) AS sum_user_total
        |FROM e
        |JOIN dim ON e.dt = dim_dt
        |JOIN profile USING (user_id)
        |GROUP BY event_type""".stripMargin,

    "q198_bucketed_append" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
        |    AS sum_price,
        |  count(*) AS n_lineitems
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin,

    // Flat-table mirror: the ensure/append x3/compact lifecycle on the
    // Spark side must be answer-invisible.
    "q200_bucketed_compact" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(20,6))) AS DOUBLE)
        |    AS sum_price,
        |  count(*) AS n_lineitems
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag""".stripMargin,

    // Source-table mirror of the curated bucketed landing: same tz
    // shift + local date as q06, aggregated on the bucket key.
    "q201_curated_bucketed" ->
      """WITH curated AS (
        |  SELECT user_id, value,
        |    strftime(CAST(ts + INTERVAL 330 MINUTE AS DATE), '%Y-%m-%d')
        |      AS date
        |  FROM events)
        |SELECT user_id, count(*) AS n_readings,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value,
        |  max(date) AS last_date
        |FROM curated GROUP BY user_id""".stripMargin)
}
