package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Scale-technique operators: the machinery a 100 TB pipeline leans on
  * around its joins and samples, expressed as oracle-checkable queries.
  *
  *  - q133 systematic probability-proportional-to-size sampling
  *    (deterministic, integer-exact — the production form of "weighted
  *    sample" that needs no floating point and no RNG state);
  *  - q134 key-skew profile (the diagnostic that decides whether a join
  *    needs salting / AQE skew handling before it is run);
  *  - q135 bloom-filter join pruning (build a bit-array from the small
  *    side, probe the big side, measure the false-positive rate — the
  *    relational form of runtime filter pushdown).
  *
  * Determinism: all randomness is md5-derived, all selections and rates
  * are integer arithmetic (`div` / basis points), so every row is
  * bit-equal across engines and partitionings.
  */
object ScaleQueries {

  import CoreQueries.t

  /** `('0x'||substr(md5(x),1,8))::BIGINT` on the DuckDB side. */
  private def h32(e: Column): Column =
    conv(substring(md5(e), 1, 8), 16, 10).cast("long")

  /** Morton/Z-order interleave of two 16-bit values into a 32-bit
    * z-value: bit i of x lands at position 2i, bit i of y at 2i+1.
    * Delegates to the native codegen'd expression (magic-mask spread,
    * four shift-mask steps per operand — `plans.ZOrder16`), so the hot
    * path is branch-free generated Java, and q161/q162 double as the
    * expression's cross-engine bit-exactness gate. */
  private def interleave16(x: Column, y: Column): Column =
    graft.plans.ZOrder16.zorder16(x, y)

  /** The same interleave as an explicit DuckDB SQL fragment over
    * columns named `x` / `y` — an independent formulation (per-bit
    * shift/mask), so the oracle genuinely cross-checks the native
    * expression's bit math rather than mirroring its implementation. */
  private def dInterleave16: String =
    (0 until 16).map { i =>
      s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" | ")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Systematic PPS sampling: within each source stratum, order rows
    // by a deterministic hash, take the running sum of the weight
    // (n_chars), and select a row whenever the scaled cumulative total
    // crosses one of n=16 equally-spaced thresholds. Selection uses
    // ONLY integer arithmetic — (16*cum) div W — so the sample is
    // reproducible on any engine and any partitioning. One shuffle
    // (stratum window). At 100 TB the per-stratum running sum becomes a
    // range-partitioned parallel prefix sum and the 16*cum products move
    // to DECIMAL(38,0); the threshold logic is unchanged.
    "q133_systematic_sample" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("h"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("source"))
      t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("cum", sum(col("n_chars")).over(w))
        .withColumn("w_total", sum(col("n_chars")).over(tot))
        .filter(expr("(16 * cum) div w_total > (16 * (cum - n_chars)) div w_total"))
        .select(col("source"), col("doc_id"), col("n_chars"))
    }),

    // Key-skew profile over lineitem.l_partkey: counts per key, then
    // one row of the numbers that decide a salting strategy — row/key
    // totals, the heaviest key's share, and the share of the top 1% of
    // keys (both in basis points, integer cross-multiplication). Two
    // aggregations + one count-ranking window over the (small) key
    // histogram; the fact table itself is touched once.
    "q134_skew_profile" -> ((s, dir) => {
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      // rank via GlobalRank instead of TWO global windows (row_number
      // over everything + count over an empty partitionBy) — both
      // single-partition funnels over the key histogram, unbounded at
      // 100 TB key cardinalities. The row/key/max totals come from a
      // separate aggregate over `counts` whose sum/max genuinely
      // reference cnt — that keeps the inner aggregate un-rewritten,
      // so every branch reuses the one groupBy(l_partkey) exchange
      // (a bare count-of-groups gets optimizer-rewritten to a distinct
      // and forces a second lineitem scan).
      val totals = counts.agg(
        sum(col("cnt")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_key_rows"))
      val ranked = graft.operators.GlobalRank.withGlobalRank(
        counts, Seq(col("cnt").desc, col("l_partkey")), "rk")
      val top1 = ranked
        .crossJoin(broadcast(totals.select(col("n_keys").as("__nk"))))
        .agg(sum(when(col("rk") <= expr("(__nk + 99) div 100"),
          col("cnt")).otherwise(lit(0L))).as("top1pct_rows"))
      totals.crossJoin(broadcast(top1))
        .select(col("n_rows"), col("n_keys"), col("max_key_rows"),
          expr("(max_key_rows * 10000) div n_rows").as("top_key_share_bp"),
          expr("(top1pct_rows * 10000) div n_rows").as("top1pct_share_bp"))
    }),

    // Bloom-filter join pruning, fully relational: build a 2048-bit /
    // 3-hash bloom filter (64 bit_or-aggregated 32-bit words) from the
    // distinct URGENT order keys, probe every distinct lineitem order
    // key against it, and compare the candidate set with the exact
    // semi-join. Reports candidate/true/false-positive counts and the
    // false-positive rate among true negatives in basis points — and
    // n_missed, which the bloom construction guarantees to be 0 (no
    // false negatives). This is the runtime-filter shape that cuts a
    // 100 TB shuffle before it happens: the 64-word table is what the
    // build side broadcasts.
    "q135_bloom_prune" -> ((s, dir) => {
      def positions(key: Column): Column = array((0 to 2).map { i =>
        h32(concat(lit(s"$i:"), key.cast("string"))) % 2048
      }: _*)

      val truth = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey")).distinct()

      val bloom = truth
        .select(explode(positions(col("o_orderkey"))).as("pos"))
        .select(expr("pos div 32").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mask"))
        .groupBy(col("word")).agg(expr("bit_or(mask)").as("bloom_word"))

      val probes = t(s, dir, "lineitem").select(col("l_orderkey")).distinct()

      val candidates = probes
        .select(col("l_orderkey"), posexplode(positions(col("l_orderkey"))))
        .select(col("l_orderkey"),
          expr("col div 32").as("word"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(col % 32 AS INT))").as("mask"))
        .join(broadcast(bloom), Seq("word"), "left")
        .groupBy(col("l_orderkey"))
        .agg(sum(when(expr("bloom_word & mask") === col("mask"), lit(1L))
          .otherwise(lit(0L))).as("hits"))
        .select(col("l_orderkey"), (col("hits") === 3).as("cand"))

      candidates
        .join(truth.withColumn("is_true", lit(true)),
          col("l_orderkey") === col("o_orderkey"), "left")
        .select(col("cand"), coalesce(col("is_true"), lit(false)).as("tru"))
        .agg(
          count(lit(1)).as("n_probe_keys"),
          sum(when(col("cand"), lit(1L)).otherwise(lit(0L))).as("n_candidates"),
          sum(when(col("tru"), lit(1L)).otherwise(lit(0L))).as("n_true"),
          sum(when(col("cand") && !col("tru"), lit(1L)).otherwise(lit(0L)))
            .as("n_false_pos"),
          sum(when(col("tru") && !col("cand"), lit(1L)).otherwise(lit(0L)))
            .as("n_missed"))
        .withColumn("fp_bp",
          when(col("n_probe_keys") > col("n_true"),
            expr("(n_false_pos * 10000) div (n_probe_keys - n_true)"))
            .otherwise(lit(0L)))
    }),

    // Fixed-iteration PageRank over the supplier→customer shipment
    // graph (distinct lineitem⋈orders pairs), 3 Jacobi iterations with
    // damping 0.85 expressed as 85/100 in micro-units — every step is
    // BIGINT `div`, so ranks are bit-identical on any engine and any
    // partitioning (float PageRank is famously not). Each iteration is
    // one equi-join + one aggregation keyed on the destination node; at
    // 100 TB the per-iteration frames would be checkpointed to cut the
    // recursive lineage, and the damping arithmetic moves to
    // DECIMAL(38,0) — the plan shape per iteration is unchanged.
    "q136_pagerank" -> ((s, dir) => {
      // Node ids ride as LONGS internally (suppkey*2 / custkey*2+1 —
      // disjoint namespaces): every per-iteration join, aggregation and
      // checkpointed frame keys on an 8-byte long instead of the
      // concat'd "s123"/"c456" strings (r19: the string form paid a
      // per-row concat at the edge build plus string hashing/equality
      // in all seven joins and three aggregations). The display string
      // materializes once, on the final 20-row output — same values,
      // same (pr DESC, node-string) order as the oracle.
      // Materialize edges and nodes ONCE. The r19 form additionally
      // checkpointed EVERY iteration's rank frame: with only 3 fixed
      // iterations that was five serialized driver barriers whose
      // scheduling wall dominated the query (r20 baseline: 2.4 s of
      // the 2.46 s wall was plan/materialize time). The 3-iteration
      // lazy chain over the two cached frames plans once and runs as
      // ONE execution, in which the per-iteration exchanges of e and
      // nodes dedup via runtime exchange reuse (verified in the final
      // plan: one hashpartitioning(src) / (node) exchange each, every
      // later iteration a ReusedExchange) — each iteration then pays
      // exactly one new exchange (the contrib groupBy). On a cluster
      // with many iterations, re-introduce a checkpoint every k
      // iterations to bound lineage depth; the two base checkpoints
      // are the ones that matter (the graph is re-read 7 times).
      val e = graft.util.Trace.timed("graph_build")(
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select((col("l_suppkey").cast(LongType) * 2).as("src"),
            (col("o_custkey").cast(LongType) * 2 + 1).as("dst"))
          .distinct()
          .localCheckpoint())
      val nodes = graft.util.Trace.timed("nodes_build")(
        e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
          .localCheckpoint())
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      var pr = nodes.withColumn("pr", lit(1000000L))
      for (_ <- 1 to 3) {
        val contrib = e
          .join(pr, col("src") === col("node"))
          .join(broadcast(outdeg), "src")
          .select(col("dst"), expr("pr div outdeg").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        pr = nodes.join(contrib, col("node") === col("dst"), "left")
          .select(col("node"), (lit(150000L) +
            expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("pr"))
      }
      pr.select(
        when(col("node") % 2 === 0,
          concat(lit("s"), expr("CAST(node div 2 AS STRING)")))
          .otherwise(
            concat(lit("c"), expr("CAST((node - 1) div 2 AS STRING)")))
          .as("node"),
        col("pr"))
        .orderBy(col("pr").desc, col("node")).limit(20)
    }),

    // Two-pass binned median: pass 1 computes per-group integer-cent
    // bounds (a tiny aggregate, broadcast back); pass 2 histograms each
    // value into 1024 equal-width bins — integer arithmetic only — and
    // the median bin falls out of a cumulative window over the (groups ×
    // 1024)-row histogram. This is the mergeable, bounded-memory shape
    // that replaces exact-percentile buffering at 100 TB: partial bin
    // counts combine map-side, no value list ever materializes, and the
    // estimate is deterministic on any engine (unlike t-digest /
    // percentile_approx, whose sketches are implementation-defined).
    // Bin edges: floor(price*100) is exact on doubles, and the group's
    // low-cardinality skew lands on the HISTOGRAM aggregation (map-side
    // combined), not on a per-group window over the fact table.
    "q142_binned_median" -> ((s, dir) => {
      val v = t(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        floor(col("l_extendedprice") * lit(100.0)).cast("long").as("v"))
      val bounds = v.groupBy(col("g"))
        .agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      val hist = v.join(broadcast(bounds), "g")
        .select(col("g"), col("vmin"), col("vmax"),
          expr("((v - vmin) * 1024) div (vmax - vmin + 1)").as("b"))
        .groupBy(col("g"), col("vmin"), col("vmax"), col("b"))
        .agg(count(lit(1)).as("c"))
      import org.apache.spark.sql.expressions.Window
      val cumW = Window.partitionBy(col("g")).orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totW = Window.partitionBy(col("g"))
      hist
        .withColumn("cum", sum(col("c")).over(cumW))
        .withColumn("n", sum(col("c")).over(totW))
        .filter(col("cum") * 2 >= col("n"))
        .groupBy(col("g"))
        .agg(min(col("b")).as("mb"), max(col("vmin")).as("vmin"),
          max(col("vmax")).as("vmax"), max(col("n")).as("n_rows"))
        .select(col("g"), col("n_rows"),
          expr("vmin + (mb * (vmax - vmin + 1)) div 1024")
            .as("median_est_cents"),
          col("vmin"), col("vmax"))
    }),

    // Degree distribution of the shipment graph, both sides: how many
    // suppliers ship to exactly d customers, and how many customers buy
    // from exactly d suppliers. Two keyed aggregations per side over the
    // same edge list — the histogram-of-a-histogram shape whose output
    // is bounded by the max degree, not the node count. The degree
    // profile is what picks the CC/PageRank strategy (hub detection →
    // skew handling) before running them.
    "q143_degree_dist" -> ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").as("src"), col("o_custkey").as("dst"))
        .distinct()
      def side(key: String, name: String) = e
        .groupBy(col(key)).agg(count(lit(1)).as("degree"))
        .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
        .select(lit(name).as("side"), col("degree"), col("n_nodes"))
      side("src", "supplier").unionAll(side("dst", "customer"))
    }),

    // Salted join: the standard hot-key mitigation, oracle-checked for
    // semantic transparency. The dimension is replicated once per salt
    // (8×), the fact side derives its salt deterministically from the
    // row id, and the join key becomes (user_id, salt) — one hot user's
    // rows now land on 8 reducers instead of one. The oracle is the
    // PLAIN unsalted join, so the hash match proves salting changes the
    // distribution and nothing else. (Salting pays when the skewed side
    // must sort-merge; a broadcastable dim needs none — this is the
    // pattern for when it is not.)
    "q145_salted_join" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val e = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val dim = e.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_user_events"))
        .withColumn("tier",
          when(col("n_user_events") >= 80, "heavy")
            .when(col("n_user_events") >= 40, "mid")
            .otherwise("light"))
      val salted = dim.select(col("user_id"), col("tier"),
        explode(sequence(lit(0), lit(7))).as("salt"))
      e.withColumn("salt", (col("event_id") % 8).cast("int"))
        .join(salted, Seq("user_id", "salt"))
        .groupBy(col("tier"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(20, 6))).cast("double")
            .as("sum_value"))
    }),

    // Running peak / maximum drawdown per user: a cumulative decimal sum
    // and a running max COMPOSED in one ordered window pass (two window
    // functions, same frame, one shuffle) — the accumulating-snapshot
    // shape of telemetry and finance pipelines. Decimal prefix sums make
    // every intermediate value, and therefore the max drawdown, exact on
    // any engine; a double cumsum would drift with partitioning.
    "q147_drawdown" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").cast(DecimalType(20, 6)).as("v"))
        .withColumn("cum", sum(col("v")).over(w))
        .withColumn("peak", max(col("cum")).over(w))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          max(col("peak") - col("cum")).cast("double").as("max_drawdown"),
          max(col("peak")).cast("double").as("peak_value"))
    }),

    // Incremental-aggregation maintenance: two date-partition partials
    // (count + decimal sum each) merged by re-aggregation equal the
    // direct one-pass aggregate, because decimal addition is associative
    // — the materialized-view refresh pattern where yesterday's state
    // merges with today's delta without rescanning history. The oracle
    // IS the direct aggregate.
    "q150_partial_merge" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val e = t(s, dir, "events").select(col("event_type"),
        (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("first_half"),
        col("value").cast(DecimalType(20, 6)).as("v"))
      def partial(f: Column) = e.filter(f).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
      partial(col("first_half")).unionAll(partial(!col("first_half")))
        .groupBy(col("event_type"))
        .agg(
          sum(col("n")).as("n_events"),
          sum(col("s")).cast("double").as("sum_value"))
    }),

    // Distribution drift over equal-frequency bins: decile edges come
    // from the reference window (first half of the month), both halves
    // are binned by counting edges strictly below each value — pure
    // comparisons, no arithmetic on the values, so binning is exact on
    // any engine — and the output is per-bin counts and shares in basis
    // points. This is the PSI/L1 drift-detection shape with the log
    // dropped. The 9-edge table broadcasts; the global ntile runs on
    // the REFERENCE SAMPLE only (at 100 TB: a per-type window or a
    // sampled reference, the binning join unchanged).
    "q151_drift_bins" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("event_id"), col("value"),
        (to_date(col("ts")) <= lit("2024-01-15").cast("date")).as("is_ref"))
      val ref = e.filter(col("is_ref")).select(col("value"), col("event_id"))
      // Decile edges by DISTRIBUTED exact rank (GlobalRank partition-
      // offset cumsum) instead of ntile(10) over a global window — the
      // old form sorted the ENTIRE reference half on one task. ntile's
      // tile-t boundary is the row at rank t*(n div 10) + min(t, n%10)
      // under the same (value, event_id) total order; tiles are non-
      // empty iff n div 10 > 0 or t <= n % 10, reproducing ntile's
      // short-input behavior exactly. The 9 boundary rows come off the
      // ranked frame with one broadcast rank-lookup join.
      val ranked = graft.operators.GlobalRank.withGlobalRank(
        ref, Seq(col("value"), col("event_id")), "__r")
      // n from the ranked frame, not a second events scan — the count
      // branch reuses the rank machinery's range exchange.
      val nDf = ranked.agg(count(lit(1)).as("__gr_n"))
      val tiles = s.range(1, 10).select(col("id").as("tile"))
        .crossJoin(broadcast(nDf))
        .filter(col("__gr_n") >= 10 || col("tile") <= col("__gr_n") % 10)
        .select(col("tile"),
          (col("tile") * expr("__gr_n div 10") +
            least(col("tile"), col("__gr_n") % 10)).as("__edge_rank"))
      val edges = ranked
        .join(broadcast(tiles), col("__r") === col("__edge_rank"))
        .select(col("tile").cast("int").as("tile"), col("value").as("edge"))
      val binned = e
        .join(broadcast(edges), col("value") > col("edge"), "left")
        .groupBy(col("event_id"), col("is_ref"))
        .agg(count(col("edge")).as("bin"))
      val cells = binned.groupBy(col("bin"))
        .agg(
          sum(when(col("is_ref"), 1L).otherwise(0L)).as("n_ref"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("n_cmp"))
      // 10-row totals by broadcast self-aggregate (reuses the bin
      // exchange) — Window.partitionBy() was a warning-level global
      // window even at this tiny cardinality.
      val tot = cells.agg(sum(col("n_ref")).as("tr"), sum(col("n_cmp")).as("tc"))
      cells.crossJoin(broadcast(tot))
        .select(col("bin"), col("n_ref"), col("n_cmp"),
          expr("(n_ref * 10000) div tr").as("ref_share_bp"),
          expr("(n_cmp * 10000) div tc").as("cmp_share_bp"))
    }),

    // Time-weighted average over irregularly sampled series: each value
    // weighted by its holding interval (lead(ts) − ts in integer
    // microseconds), the weighted sum exact decimal, ONE mirrored IEEE
    // division at the end — the correct mean for sensor/telemetry data
    // where a plain avg() over-weights bursts. One ordered window pass
    // per user, then a keyed aggregate; nothing global.
    "q152_time_weighted" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("value").cast(DecimalType(20, 6)).as("v"))
        .withColumn("dt_us",
          unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
        .filter(col("dt_us").isNotNull)
        // value in integer micro-units so the weighted sum is an exact
        // integer on every engine (a decimal×bigint product would be
        // promoted to float by some engines); the only float ops are the
        // two mirrored final divisions.
        // The micro-unit value rides a BIGINT into the native 128-bit
        // accumulator (plans.Sum128ProductAgg): the r13 decimal form —
        // DECIMAL(26,0) product into a precision-38 sum buffer — paid a
        // BigDecimal allocation per input row in the partial aggregate
        // (the same non-compact UnsafeRow regime the hourlyAgg Long
        // buffer fix removed), which made this the slowest
        // non-deliberate event shape at the x1000 deep point. The
        // domain guard is explicit and LOUD: a |value| > ~9.2e12
        // (micro-units past 2^63) raises instead of wrapping under the
        // non-ANSI cast. dt_us always fits (2^63 us ~ 292k years).
        .withColumn("vu", expr("CAST(v * 1000000 AS DECIMAL(26,0))"))
        .withColumn("vul", expr(
          """if(vu IS NOT NULL AND abs(vu) > 9223372036854775807,
             CAST(raise_error(
               'q152: |value| exceeds the exact micro-unit domain (~9.2e12)')
               AS BIGINT),
             CAST(vu AS BIGINT))"""))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("dt_us")).as("total_us"),
          // exact integer division down to micro-units FIRST, so no
          // float ever sees a >2^53 integer (BigDecimal→double casts
          // are not guaranteed correctly rounded up there); the final
          // /1e6 is float-exact on the small quotient. Exact to
          // |sum| < 2^127 (wider than the old decimal-38 form), and
          // the aggregate RAISES on overflow instead of nulling — the
          // count-based null-detection scaffolding the decimal form
          // needed is gone with its failure mode.
          graft.plans.Sum128ProductAgg
            .sum128Product(col("vul"), col("dt_us")).as("swd"))
        .withColumn("tw_avg_micro",
          expr("CAST(swd div total_us AS BIGINT)"))
        .withColumn("tw_avg",
          expr("CAST(tw_avg_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)"))
        .drop("swd")
    }),

    // Gini coefficient of per-user activity: the inequality measure
    // behind "how concentrated is this workload" (complements q134's
    // top-share view). Sorted-rank formula — two integer sums off one
    // ranking window over the (user-count-sized) histogram, one mirrored
    // double division at the end. At 100 TB the rank is a distributed
    // sort over users, not events; events aggregate first.
    "q156_gini" -> ((s, dir) => {
      val counts = t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("x"))
      // rank via the distributed partition-offset cumsum (GlobalRank),
      // not row_number() over a global Window — the single-partition
      // sort of the user histogram was the 100 TB anti-pattern here.
      graft.operators.GlobalRank.withGlobalRank(
          counts, Seq(col("x"), col("user_id")), "i")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("i") * col("x")).as("six"))
        .select(col("n"), col("sx").as("total_events"),
          expr("""CAST(2 * six - (n + 1) * sx AS DOUBLE)
                  / CAST(n * sx AS DOUBLE)""").as("gini"))
    }),

    // Bounded BFS reachability (3 hops) from a seed set over the part
    // co-occurrence graph — Graph.bfsReach carries the frontier/persist
    // discipline.
    "q175_bfs_hops" -> ((s, dir) =>
      graft.operators.Graph.bfsReach(
        graft.operators.Graph.coOccurrenceEdges(
          t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0),
          "l_orderkey", "l_partkey", broadcastBuild = true),
        seedPred = col("sn") < 100, hops = 3)),

    // Benford first-digit audit — the classic fabricated-data detector
    // a DQ pipeline runs over monetary columns. One map-side-combined
    // aggregation to 9 rows; expected frequencies are integer
    // basis-point LITERALS (floor(10000 * log10(1 + 1/d))), so no
    // transcendental function ever executes in either engine. On
    // TPC-H's uniform prices the deviation is intentionally large —
    // the profile reports it, exactly.
    "q174_benford" -> ((s, dir) => {
      val expected = Seq("1" -> 3010L, "2" -> 1760L, "3" -> 1249L,
        "4" -> 969L, "5" -> 791L, "6" -> 669L, "7" -> 579L,
        "8" -> 511L, "9" -> 457L)
      val digits = t(s, dir, "lineitem")
        .select(substring(col("l_extendedprice").cast("string"), 1, 1)
          .as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val expCol = expected.foldLeft(lit(0L)) { case (acc, (d, v)) =>
        when(col("digit") === d, lit(v)).otherwise(acc)
      }
      digits.crossJoin(digits.agg(sum(col("n")).as("tot")))
        .select(col("digit"), col("n"),
          expr("(n * 10000) div tot").as("observed_bp"),
          expCol.as("expected_bp"))
        .withColumn("dev_bp", abs(col("observed_bp") - col("expected_bp")))
    }),

    // CDC apply (latest-wins upsert with tombstones): treat the event
    // stream as a change log per (user_id, event_type) key — a
    // deterministic 10% of changes are deletes — and materialize the
    // final table state: the chronologically last change wins; a final
    // delete removes the key. ONE aggregate does the whole merge: the
    // native ArgMaxPackedAgg picks the winning change over the
    // (ts, event_id) order and count tallies the log depth. The earlier
    // max_by(struct, struct) form was semantically identical but its
    // struct buffer demoted the aggregate to SortAggregate — the whole
    // changelog sorted map-side plus two struct allocations per row
    // (x1000 artifact: 711 s task time, 24.6 s GC). ArgMaxPackedAgg is
    // DECLARATIVE over an all-primitive buffer, so the aggregate plans
    // as plain codegen'd HashAggregateExec at every key cardinality:
    // winner states live inline in the Tungsten map (no per-group
    // object, no ObjectHashAggregate group-count fallback cliff — the
    // r11 TypedImperative form fell back to sort-based object
    // aggregation on the x1000 layout and spilled 3.6 GB), the
    // exchange moves ~|keys| 4-field rows, no sort ever runs. The
    // (ts, event_id) order is total — event_id is unique — so the
    // winner is deterministic on any partitioning.
    //
    // Strategy: the changelog is pre-partitioned by the key BEFORE the
    // aggregate. A changelog's rows/key is small (every key carries a
    // handful of changes, keys grow with the data), so map-side partial
    // aggregation cannot reduce — each map task's hash map holds
    // ~distinct-keys-per-task entries (x1000: ~1.3M, a cache-miss per
    // row and the heap-pressure driver) and the exchange still moves
    // ~one state per input row. With the explicit repartition the
    // partial aggregate runs AFTER co-location: AQE sizes the key
    // shuffle by bytes, each task's map holds |keys|/partitions
    // entries (~64 MB bounded at any scale), and the final aggregate
    // reuses the same partitioning — no second exchange. Measured at
    // x1000 (100M rows, 7.4M keys): task time 204→165 s, GC 3.3→1.1 s
    // vs the plain groupBy; also faster at x1. For a LOW-cardinality
    // changelog (thousands of rows/key), drop the repartition — there
    // map-side combine reduces the exchange by that factor and the
    // plain groupBy wins.
    "q173_cdc_apply" -> ((s, dir) => {
      // ts_us pre-projected as a plain column: keeps the aggregate's
      // update expressions reading bound columns (and the projection
      // fuses into the scan stage's codegen either way). The delete
      // marker is a deterministic 10% slice by event-id residue —
      // integer arithmetic both engines share bit-for-bit (an earlier
      // md5-based marker was ~40% of the shape's x1000 task time:
      // per-row crypto + string churn for what is test-data synthesis,
      // not operator logic).
      val log = t(s, dir, "events").select(
        col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"),
        col("value"),
        (col("event_id") % 10 === 0).as("is_delete"))
      log.repartition(col("user_id"), col("event_type"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(
          graft.plans.ArgMaxPackedAgg.argMaxPacked(
            col("value"), col("is_delete"),
            col("ts_us"), col("event_id")).as("last"),
          count(lit(1)).as("n_changes"))
        .filter(!col("last.flag"))
        .select(col("user_id"), col("event_type"),
          col("last.value").as("final_value"), col("n_changes"))
    }),

    // SCD2 dimension versioning from the same changelog q173 compacts:
    // collapse runs of consecutive IDENTICAL values per key into
    // versions, each carrying its validity interval [valid_from,
    // valid_to) and a current flag — the warehouse shape that turns an
    // event stream into a point-in-time-joinable dimension table. The
    // run-length collapse (null-safe: keep a change only when its value
    // IS DISTINCT FROM the previous one) happens BEFORE interval
    // construction, so no-op updates never mint versions. Plan shape:
    // the collapse lag() and the interval lead() share ONE
    // (key → ts, event_id) partitioning — the filter between them
    // preserves both the hash partitioning and the sort order, so
    // EnsureRequirements inserts NO second exchange and NO second sort
    // (the q86 single-Exchange window discipline, verified in the
    // explain). (ts, event_id) is a total order (event_id unique), so
    // version boundaries are deterministic on any partitioning.
    "q187_scd2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"), col("value"))
        .withColumn("__prev", lag(col("value"), 1).over(w))
        .filter(!(col("__prev") <=> col("value")))
        .withColumn("valid_to_us", lead(unix_micros(col("ts")), 1).over(w))
        .select(col("user_id"), col("event_type"), col("value"),
          unix_micros(col("ts")).as("valid_from_us"),
          col("valid_to_us"),
          col("valid_to_us").isNull.as("is_current"))
    }),

    // Bounded k-core peel (3 rounds): iteratively drop nodes with
    // degree < k and restrict edges to survivors — the density-core
    // extraction a graph pipeline runs before expensive per-node work.
    // Each round is a map-side-combined degree aggregate plus two
    // LEFT SEMI joins (survivor sets are node-sized, so they broadcast;
    // edges never widen). Rounds are FIXED at 3 so the computation is
    // a single lazy plan the oracle can mirror exactly — the
    // to-convergence form is the same loop with a driver count check,
    // same per-round plan (cf. connectedComponentsDistributed).
    // Broadcast the (10%-of-orders) self-join build side — the edge
    // list derives from a bounded slice; on a full-corpus graph drop
    // the flag and the same build is the q158 shuffle self-join.
    "q171_kcore_peel" -> ((s, dir) =>
      graft.operators.Graph.kcorePeel(
        graft.operators.Graph.coOccurrenceEdges(
          t(s, dir, "lineitem").filter(col("l_orderkey") % 10 === 0),
          "l_orderkey", "l_partkey", broadcastBuild = true),
        k = 8, rounds = 3)),

    // Interval-overlap join WITHOUT an equi-key — the scale pattern for
    // "which time ranges intersect" across keys: explode each interval
    // to the coarse hour buckets it covers, equi-join on the bucket
    // (never a range-predicate nested loop over all pairs), verify true
    // overlap, distinct away multi-bucket double-hits, aggregate. Work
    // is proportional to (intervals x buckets spanned) + per-bucket
    // pair density, not |A| x |B|. Sessions come from the same gap
    // sessionization as q62; A = users < 50, B = users in [50, 100).
    "q170_interval_overlap" -> ((s, dir) => {
      import graft.operators.Curation
      val bktUs = 3600000000L // 1 h buckets in microseconds
      def sessions(lo: Int, hi: Int, p: String) = Curation.sessionize(
        t(s, dir, "events")
          .filter(col("user_id") >= lo && col("user_id") < hi),
        "user_id", "ts", "event_id", gapMinutes = 30)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(unix_micros(col("ts"))).as(s"${p}_start"),
          max(unix_micros(col("ts"))).as(s"${p}_end"))
        .select(col("user_id").as(s"${p}_user"),
          col("session_id").as(s"${p}_sid"),
          col(s"${p}_start"), col(s"${p}_end"),
          explode(sequence(
            expr(s"${p}_start div $bktUs"),
            expr(s"${p}_end div $bktUs"))).as("__bkt"))
      sessions(0, 50, "a")
        .join(sessions(50, 100, "b"), Seq("__bkt"))
        .filter(col("a_start") <= col("b_end") &&
          col("b_start") <= col("a_end"))
        .select(col("a_user"), col("a_sid"), col("b_user"), col("b_sid"),
          (least(col("a_end"), col("b_end")) -
            greatest(col("a_start"), col("b_start"))).as("ov"))
        .distinct()
        .agg(count(lit(1)).as("n_overlapping_pairs"),
          sum(col("ov")).as("total_overlap_us"),
          max(col("ov")).as("max_overlap_us"))
    }),

    // Full-table co-purchase graph (no broadcast on the edge build —
    // the full lineitem self-join is the shuffle form); the wedge-join
    // memory/broadcast discipline lives in Graph.trianglesProfile.
    "q158_triangles" -> ((s, dir) =>
      graft.operators.Graph.trianglesProfile(
        graft.operators.Graph.coOccurrenceEdges(
          t(s, dir, "lineitem"), "l_orderkey", "l_partkey"))),

    // Count-min sketch frequency estimation: d=4 hash rows × w=512
    // columns, md5-derived row hashes (mirrored by the oracle). The
    // sketch builds as a partial-aggregated groupBy on (row, col) — at
    // 100 TB each map task pre-sums its slice and only d×w cells per
    // partition shuffle; the finished 2048-cell sketch is broadcast to
    // probe. Estimate = min over rows — always >= truth; the output
    // compares estimate vs exact count for the top-20 users so the
    // overestimate is visible and oracle-checkable.
    // Robust outlier detection via MAD (median absolute deviation) —
    // the DQ complement of q10's z-score: median/MAD are immune to the
    // very outliers they hunt (one 1e9 reading shifts a mean+stddev
    // gate, not a median one). Exact medians in integer micro-units
    // with the 2x TRICK: 2*median is the SUM of the two middle values,
    // always an integer, so no float midpoint ever crosses the engine
    // boundary; the outlier test |v-med| > 3*MAD becomes the
    // pure-integer 2*dev2x > 3*mad4x. Two grouped exact percentiles
    // (one event_type shuffle each) with broadcast 5-row merge-backs;
    // at 100 TB per-group exact percentile buffers the group — swap in
    // percentile_approx exactly like imputeBattery's
    // exactGlobalMedian knob.
    "q178_mad_outliers" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_type"),
        expr("CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT)")
          .as("vu"))
      // Native primitive-histogram percentile (plans.LongPercentileAgg)
      // — bit-identical to percentile() but no per-row boxing; the
      // built-in's OpenHashMap[AnyRef, _] update path was the GC/task
      // driver of this shape at x1000 (731 s summed task time).
      val med = ev.groupBy(col("event_type"))
        .agg((lit(2) * graft.plans.LongPercentileAgg
          .longPercentile(col("vu"), 0.5)).cast(LongType).as("med2x"))
      // Second AND final pass: the MAD percentile and the outlier
      // count come out of ONE histogram aggregate
      // (plans.LongMadOutlierAgg — the threshold count is a driver-
      // side walk of the same histogram the percentile needs), so the
      // third scan the composable form pays (broadcast the MAD back,
      // re-derive every deviation, count crossings — another 100M-row
      // decimal-cast pass at x1000) does not exist in this plan.
      ev.join(broadcast(med), Seq("event_type"))
        .withColumn("dev2x", abs(lit(2L) * col("vu") - col("med2x")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("med2x")).as("med2x_micro"),
          graft.plans.LongMadOutlierAgg.madOutlierGate(col("dev2x"))
            .as("m"))
        .select(col("event_type"), col("n"), col("med2x_micro"),
          col("m.mad4x").as("mad4x_micro"),
          col("m.n_outliers").as("n_outliers"))
    }),

    // Deterministic uniform-by-hash sample quantiles — order statistics
    // from a KMV-style sample: md5(event_id) is a uniform permutation
    // BOTH engines compute identically, so "the k rows with the
    // smallest hashes" is a deterministic uniform sample. Spark plans
    // the global bottom-k as TakeOrderedAndProject (per-partition
    // top-k + driver merge of k rows — no global sort, no full
    // shuffle), which is THE way to pull order statistics from 100 TB
    // without sorting it. Quantile estimates from the sample sit next
    // to the exact ones with an integer-bp error column — the
    // q105/q177 gate pattern, here for sampling error. All quantiles
    // ride the 4x trick (p in {.25,.5,.75} is dyadic: 4*interpolated
    // value is an exact integer in both engines).
    "q179_sample_quantiles" -> ((s, dir) => {
      val k = 1024
      val ev = t(s, dir, "events").select(col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT)")
          .as("vu"))
      val sample = ev
        .orderBy(md5(col("event_id").cast("string")), col("event_id"))
        .limit(k)
      def q4x(src: String, p: String, name: String) =
        expr(s"CAST(4 * percentile($src, ${p}D) AS BIGINT)").as(name)
      val est = sample.agg(
        q4x("vu", "0.25", "est_p25_4x"),
        q4x("vu", "0.5", "est_p50_4x"),
        q4x("vu", "0.75", "est_p75_4x"))
      val exact = ev.agg(
        count(lit(1)).as("n"),
        q4x("vu", "0.25", "ex_p25_4x"),
        q4x("vu", "0.5", "ex_p50_4x"),
        q4x("vu", "0.75", "ex_p75_4x"))
      est.crossJoin(exact)
        .withColumn("err_p25_bp",
          expr("abs(est_p25_4x - ex_p25_4x) * 10000 div ex_p25_4x"))
        .withColumn("err_p50_bp",
          expr("abs(est_p50_4x - ex_p50_4x) * 10000 div ex_p50_4x"))
        .withColumn("err_p75_bp",
          expr("abs(est_p75_4x - ex_p75_4x) * 10000 div ex_p75_4x"))
    }),

    // Per-KEY sample quantiles with BOUNDED mergeable state — the
    // 100 TB answer to "median per user" where exact percentile
    // buffers every value of every group: pack (28-bit md5 hash,
    // 32-bit value-micro) into ONE long and feed the native BottomKAgg
    // sketch (TypedImperativeAggregate: k-bounded buffer, map-side
    // partial merge, deterministic under any partitioning). The k
    // smallest packed longs ARE the k hash-smallest rows — a uniform
    // per-group sample both engines reconstruct identically — and the
    // low 32 bits read the sampled values back out. Estimates sit next
    // to the exact full-group median with an integer-bp error column
    // (q179's gate pattern, per key); the 2x-median trick keeps every
    // crossing value an integer.
    "q181_grouped_sample_quantiles" -> ((s, dir) => {
      val k = 64
      // pack = hash28(event_id) << 32 | vu  (vu < 2^32 for this data;
      // 28 hash bits keep the packed long positive). Distinct packs ==
      // distinct (hash, value) pairs — mirrored with DISTINCT in SQL.
      val ev = t(s, dir, "events").select(col("user_id"),
        expr("CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT)")
          .as("vu"),
        (conv(substring(md5(col("event_id").cast("string")), 1, 7), 16, 10)
          .cast("long") * lit(4294967296L)).as("hp"))
        .withColumn("pack", col("hp") + col("vu"))
      // lower-middle + upper-middle of the sorted sample — equals
      // 2*interpolated-median, always an integer
      def med2x(arr: String): Column = expr(
        s"CAST(element_at($arr, CAST((size($arr) + 1) div 2 AS INT)) + " +
          s"element_at($arr, CAST(size($arr) div 2 + 1 AS INT)) AS BIGINT)")
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          graft.plans.BottomKAgg.bottomK(col("pack"), k).as("sk"),
          (lit(2) * graft.plans.LongPercentileAgg
            .longPercentile(col("vu"), 0.5)).cast(LongType)
            .as("exact_med2x"))
        .withColumn("vals",
          sort_array(expr("transform(sk, x -> x % 4294967296)")))
        .withColumn("sample_n", size(col("vals")).cast("long"))
        .withColumn("est_med2x", med2x("vals"))
        .withColumn("err_bp", expr(
          "abs(est_med2x - exact_med2x) * 10000 div nullif(exact_med2x, 0)"))
        .drop("sk", "vals", "hp")
    }),

    // Top-k per KEY without a window sort: the standard row_number()
    // approach sorts EVERY group's full row set; here each (group)
    // aggregates through the native BottomKAgg with an INVERTED score
    // packing — pack = (2^20 - count) << 32 | user_id, so ascending
    // packs are descending counts with ascending-id tie-break — and
    // the k-bounded, map-side-merged sketch buffer replaces the sort.
    // State per group is k longs regardless of group size: the shape
    // that survives a billion rows per key. The oracle reconstructs
    // the same top-5 with a row_number window — two independent
    // formulations, one answer.
    "q182_topk_per_key" -> ((s, dir) => {
      val k = 5
      val counts = t(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .withColumn("pack",
          (lit(1048576L) - col("n")) * lit(4294967296L) + col("user_id"))
      counts.groupBy(col("event_type"))
        .agg(graft.plans.BottomKAgg.bottomK(col("pack"), k).as("sk"))
        .select(col("event_type"), posexplode(col("sk")).as(Seq("pos", "x")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
          expr("CAST(x % 4294967296 AS BIGINT)").as("user_id"),
          expr("CAST(1048576 - x div 4294967296 AS BIGINT)").as("n"))
    }),

    "q159_cms" -> ((s, dir) => {
      val d = 4
      val w = 512
      def pos(i: Int, key: Column): Column =
        h32(concat(lit(s"$i:"), key.cast("string"))) % w
      val truth = t(s, dir, "events")
        .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      val cells = truth.select(col("cnt"), explode(array((0 until d).map(
        i => struct(lit(i).as("r"), pos(i, col("user_id")).as("c"))): _*))
        .as("rc"))
        .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
        .agg(sum(col("cnt")).as("cell"))
      val probes = truth.select(col("user_id"), col("cnt"),
        explode(array((0 until d).map(i =>
          struct(lit(i).as("r"), pos(i, col("user_id")).as("c"))): _*))
        .as("rc"))
        .select(col("user_id"), col("cnt"),
          col("rc.r").as("r"), col("rc.c").as("c"))
      probes.join(broadcast(cells), Seq("r", "c"))
        .groupBy(col("user_id"), col("cnt"))
        .agg(min(col("cell")).as("est"))
        .orderBy(desc("cnt"), col("user_id"))
        .limit(20)
        .select(col("user_id"), col("cnt").as("true_cnt"), col("est"),
          (col("est") - col("cnt")).as("overestimate"))
    }),

    // Z-order (Morton) clustering profile: scale both join keys to 16
    // bits, interleave into a 32-bit z-value, bucket by the top 5 z
    // bits (equal-WIDTH buckets — no global sort, no ntile, fully
    // distributed), and profile each bucket's per-dimension span. The
    // point of z-clustering at 100 TB: rows close in z are close in
    // EVERY interleaved dimension, so files written in z ranges carry
    // tight min/max zone maps for multi-column predicates (measured by
    // q162). Everything is integer arithmetic.
    "q161_zorder" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      val bounds = li.agg(max(col("pk")).as("mpk"), max(col("sk")).as("msk"))
      li.crossJoin(broadcast(bounds))
        .select(col("pk"), col("sk"),
          expr("(pk * 65535) div mpk").as("x"),
          expr("(sk * 65535) div msk").as("y"))
        .withColumn("z", interleave16(col("x"), col("y")))
        .groupBy(expr("z >> 27").as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("z")).as("z_min"), max(col("z")).as("z_max"),
          (max(col("pk")) - min(col("pk"))).as("pk_span"),
          (max(col("sk")) - min(col("sk"))).as("sk_span"))
    }),

    // Zone-map pruning effectiveness, natural layout vs z-order layout:
    // chunk the fact table two ways (natural = arrival/orderkey ranges;
    // z = 128 equal-width z-ranges over the scaled key pair), record
    // each chunk's min/max "zone map" per dimension, and evaluate a
    // two-sided box predicate: a chunk is SCANNED iff the predicate box
    // intersects its zone rectangle. read_amp_bp is scanned-rows over
    // matching-rows in basis points — the number a table-layout
    // decision is made on. The z layout's zones are tight in both
    // dimensions, so it prunes what the natural layout cannot.
    "q162_zonemap" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"),
          col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      val bounds = li.agg(max(col("pk")).as("mpk"), max(col("sk")).as("msk"))
      val base = li.crossJoin(broadcast(bounds))
        .withColumn("z", interleave16(
          expr("(pk * 65535) div mpk"), expr("(sk * 65535) div msk")))
        // predicate box: [mpk/4, mpk/2] x [msk/4, msk/2], integer-exact
        .withColumn("hit", expr(
          """CAST(pk BETWEEN mpk div 4 AND mpk div 2
             AND sk BETWEEN msk div 4 AND msk div 2 AS INT)"""))
      // ONE scan: each row explodes into its two (layout, chunk)
      // assignments; partial aggregation collapses the doubled rows to
      // chunk-count rows per map partition before the (tiny) shuffle.
      // Profiling both layouts costs one pass over the fact table, not
      // two — at 100 TB that is the whole game.
      val chunks = base
        .select(
          explode(array(
            struct(lit("natural").as("layout"),
              expr("ok div 512").as("chunk")),
            struct(lit("zorder").as("layout"),
              expr("z >> 25").as("chunk")))).as("lc"),
          col("pk"), col("sk"), col("hit"), col("mpk"), col("msk"))
        .groupBy(col("lc.layout").as("layout"), col("lc.chunk").as("chunk"))
        .agg(count(lit(1)).as("nr"),
          min(col("pk")).as("pk_lo"), max(col("pk")).as("pk_hi"),
          min(col("sk")).as("sk_lo"), max(col("sk")).as("sk_hi"),
          sum(col("hit")).as("matches"),
          max(col("mpk")).as("mpk"), max(col("msk")).as("msk"))
        .withColumn("scanned", expr(
          """CAST(pk_hi >= mpk div 4 AND pk_lo <= mpk div 2
             AND sk_hi >= msk div 4 AND sk_lo <= msk div 2 AS INT)"""))
      chunks.groupBy(col("layout"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("scanned")).as("chunks_scanned"),
          sum(col("nr")).as("n_rows"),
          sum(col("scanned") * col("nr")).as("rows_scanned"),
          sum(col("matches")).as("n_matches"))
        .select(col("layout"), col("n_chunks"), col("chunks_scanned"),
          col("n_rows"), col("rows_scanned"), col("n_matches"),
          expr("(rows_scanned * 10000) div greatest(n_matches, 1)")
            .as("read_amp_bp"))
    }),

    "q157_gap_hist" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)))
        .filter(col("gap_us") > 0)
        .withColumn("bucket", length(bin(col("gap_us"))).cast("long"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n_gaps"),
          min(col("gap_us")).as("min_gap_us"),
          max(col("gap_us")).as("max_gap_us"))
    }))

  val oracle: Map[String, String] = Map(

    "q133_systematic_sample" ->
      """WITH w AS (
        |  SELECT source, doc_id, n_chars,
        |    sum(n_chars) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(n_chars) OVER (PARTITION BY source) AS w_total
        |  FROM documents)
        |SELECT source, doc_id, n_chars FROM w
        |WHERE (16 * cum) // w_total > (16 * (cum - n_chars)) // w_total"""
        .stripMargin,

    "q134_skew_profile" ->
      """WITH counts AS (
        |  SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey),
        |ranked AS (
        |  SELECT cnt,
        |    row_number() OVER (ORDER BY cnt DESC, l_partkey) AS rk,
        |    count(*) OVER () AS nk
        |  FROM counts),
        |agg AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
        |    count(*) AS n_keys,
        |    max(cnt) AS max_key_rows,
        |    CAST(sum(CASE WHEN rk <= (nk + 99) // 100
        |        THEN cnt ELSE 0 END) AS BIGINT) AS top1pct_rows
        |  FROM ranked)
        |SELECT n_rows, n_keys, max_key_rows,
        |  (max_key_rows * 10000) // n_rows AS top_key_share_bp,
        |  (top1pct_rows * 10000) // n_rows AS top1pct_share_bp
        |FROM agg""".stripMargin,

    "q135_bloom_prune" ->
      """WITH truth AS (
        |  SELECT DISTINCT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |bloom AS (
        |  SELECT pos // 32 AS word,
        |    bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bloom_word
        |  FROM (
        |    SELECT ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
        |        CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 2048 AS pos
        |    FROM truth, (SELECT unnest([0, 1, 2]) AS i))
        |  GROUP BY 1),
        |probes AS (SELECT DISTINCT l_orderkey FROM lineitem),
        |hits AS (
        |  SELECT l_orderkey,
        |    sum(CASE WHEN (bloom_word & mask) = mask THEN 1 ELSE 0 END) AS hits
        |  FROM (
        |    SELECT l_orderkey, pos // 32 AS word,
        |      CAST(1 AS BIGINT) << CAST(pos % 32 AS INT) AS mask
        |    FROM (
        |      SELECT l_orderkey, ('0x' || substr(md5(CAST(i AS VARCHAR) ||
        |          ':' || CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT % 2048
        |        AS pos
        |      FROM probes, (SELECT unnest([0, 1, 2]) AS i)))
        |  LEFT JOIN bloom USING (word)
        |  GROUP BY l_orderkey),
        |flags AS (
        |  SELECT hits.l_orderkey, hits.hits = 3 AS cand,
        |    truth.o_orderkey IS NOT NULL AS tru
        |  FROM hits LEFT JOIN truth ON hits.l_orderkey = truth.o_orderkey),
        |agg AS (
        |  SELECT count(*) AS n_probe_keys,
        |    CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_candidates,
        |    CAST(sum(CASE WHEN tru THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
        |    CAST(sum(CASE WHEN cand AND NOT tru THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_false_pos,
        |    CAST(sum(CASE WHEN tru AND NOT cand THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_missed
        |  FROM flags)
        |SELECT n_probe_keys, n_candidates, n_true, n_false_pos, n_missed,
        |  CASE WHEN n_probe_keys > n_true
        |    THEN (n_false_pos * 10000) // (n_probe_keys - n_true)
        |    ELSE 0 END AS fp_bp
        |FROM agg""".stripMargin,

    "q136_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
        |    'c' || CAST(o_custkey AS VARCHAR) AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
        |c1 AS (SELECT dst, sum(pr // outdeg) AS s
        |  FROM e JOIN r0 ON src = node JOIN outdeg USING (src) GROUP BY 1),
        |r1 AS (SELECT node, 150000 + (85 * COALESCE(s, 0)) // 100 AS pr
        |  FROM nodes LEFT JOIN c1 ON node = dst),
        |c2 AS (SELECT dst, sum(pr // outdeg) AS s
        |  FROM e JOIN r1 ON src = node JOIN outdeg USING (src) GROUP BY 1),
        |r2 AS (SELECT node, 150000 + (85 * COALESCE(s, 0)) // 100 AS pr
        |  FROM nodes LEFT JOIN c2 ON node = dst),
        |c3 AS (SELECT dst, sum(pr // outdeg) AS s
        |  FROM e JOIN r2 ON src = node JOIN outdeg USING (src) GROUP BY 1),
        |r3 AS (SELECT node, 150000 + (85 * COALESCE(s, 0)) // 100 AS pr
        |  FROM nodes LEFT JOIN c3 ON node = dst)
        |SELECT node, CAST(pr AS BIGINT) AS pr FROM r3
        |ORDER BY pr DESC, node LIMIT 20""".stripMargin,

    "q142_binned_median" ->
      """WITH v AS (
        |  SELECT l_returnflag AS g,
        |    CAST(floor(l_extendedprice * CAST(100 AS DOUBLE)) AS BIGINT)
        |      AS v
        |  FROM lineitem),
        |bounds AS (
        |  SELECT g, min(v) AS vmin, max(v) AS vmax FROM v GROUP BY 1),
        |h AS (
        |  SELECT v.g, ((v - vmin) * 1024) // (vmax - vmin + 1) AS b,
        |    count(*) AS c
        |  FROM v JOIN bounds ON v.g = bounds.g GROUP BY 1, 2),
        |cum AS (
        |  SELECT g, b,
        |    sum(c) OVER (PARTITION BY g ORDER BY b
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    sum(c) OVER (PARTITION BY g) AS n
        |  FROM h),
        |med AS (
        |  SELECT g, min(b) AS mb, CAST(max(n) AS BIGINT) AS n_rows
        |  FROM cum WHERE cum * 2 >= n GROUP BY g)
        |SELECT m.g, m.n_rows,
        |  vmin + (mb * (vmax - vmin + 1)) // 1024 AS median_est_cents,
        |  vmin, vmax
        |FROM med m JOIN bounds ON m.g = bounds.g""".stripMargin,

    "q143_degree_dist" ->
      """WITH e AS (
        |  SELECT DISTINCT l_suppkey AS src, o_custkey AS dst
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |s AS (SELECT src, count(*) AS degree FROM e GROUP BY 1),
        |c AS (SELECT dst, count(*) AS degree FROM e GROUP BY 1)
        |SELECT 'supplier' AS side, degree, count(*) AS n_nodes
        |FROM s GROUP BY degree
        |UNION ALL
        |SELECT 'customer' AS side, degree, count(*) AS n_nodes
        |FROM c GROUP BY degree""".stripMargin,

    "q145_salted_join" ->
      """WITH dim AS (
        |  SELECT user_id, count(*) AS n_user_events
        |  FROM events GROUP BY 1),
        |tiers AS (
        |  SELECT user_id,
        |    CASE WHEN n_user_events >= 80 THEN 'heavy'
        |         WHEN n_user_events >= 40 THEN 'mid'
        |         ELSE 'light' END AS tier
        |  FROM dim)
        |SELECT tier, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |FROM events JOIN tiers USING (user_id)
        |GROUP BY tier""".stripMargin,

    "q147_drawdown" ->
      """WITH c1 AS (
        |  SELECT user_id, ts, event_id,
        |    sum(CAST(value AS DECIMAL(20,6))) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM events),
        |c2 AS (
        |  SELECT user_id, cum,
        |    max(cum) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM c1)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(max(peak - cum) AS DOUBLE) AS max_drawdown,
        |  CAST(max(peak) AS DOUBLE) AS peak_value
        |FROM c2 GROUP BY user_id""".stripMargin,

    "q150_partial_merge" ->
      """SELECT event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY event_type""".stripMargin,

    "q151_drift_bins" ->
      """WITH e AS (
        |  SELECT event_id, value,
        |    CAST(ts AS DATE) <= DATE '2024-01-15' AS is_ref
        |  FROM events),
        |edges AS (
        |  SELECT tile, max(value) AS edge FROM (
        |    SELECT value,
        |      ntile(10) OVER (ORDER BY value, event_id) AS tile
        |    FROM e WHERE is_ref)
        |  WHERE tile <= 9 GROUP BY 1),
        |b AS (
        |  SELECT e.event_id, e.is_ref, count(edge) AS bin
        |  FROM e LEFT JOIN edges ON e.value > edges.edge
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT bin,
        |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_ref,
        |    CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_cmp
        |  FROM b GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |    CAST(sum(n_cmp) AS BIGINT) AS tc
        |  FROM c)
        |SELECT bin, n_ref, n_cmp,
        |  (n_ref * 10000) // tr AS ref_share_bp,
        |  (n_cmp * 10000) // tc AS cmp_share_bp
        |FROM c, t""".stripMargin,

    "q152_time_weighted" ->
      """WITH d AS (
        |  SELECT user_id,
        |    CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS HUGEINT) AS vu,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_us(ts) AS dt_us
        |  FROM events)
        |SELECT user_id,
        |  count(*) AS n_intervals,
        |  CAST(sum(dt_us) AS BIGINT) AS total_us,
        |  CAST(sum(vu * dt_us) // sum(dt_us) AS BIGINT) AS tw_avg_micro,
        |  CAST(CAST(sum(vu * dt_us) // sum(dt_us) AS BIGINT) AS DOUBLE)
        |    / CAST(1000000 AS DOUBLE) AS tw_avg
        |FROM d WHERE dt_us IS NOT NULL
        |GROUP BY user_id""".stripMargin,

    "q156_gini" ->
      """WITH counts AS (
        |  SELECT user_id, count(*) AS x FROM events GROUP BY 1),
        |r AS (
        |  SELECT x, row_number() OVER (ORDER BY x, user_id) AS i
        |  FROM counts),
        |a AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(i * x) AS BIGINT) AS six
        |  FROM r)
        |SELECT n, sx AS total_events,
        |  CAST(2 * six - (n + 1) * sx AS DOUBLE)
        |    / CAST(n * sx AS DOUBLE) AS gini
        |FROM a""".stripMargin,

    "q161_zorder" ->
      s"""WITH b AS (
         |  SELECT max(l_partkey) AS mpk, max(l_suppkey) AS msk
         |  FROM lineitem),
         |s AS (
         |  SELECT l_partkey AS pk, l_suppkey AS sk,
         |    (l_partkey * 65535) // mpk AS x,
         |    (l_suppkey * 65535) // msk AS y
         |  FROM lineitem, b),
         |zz AS (SELECT pk, sk, ($dInterleave16) AS z FROM s)
         |SELECT z >> 27 AS bucket, count(*) AS n_rows,
         |  min(z) AS z_min, max(z) AS z_max,
         |  max(pk) - min(pk) AS pk_span, max(sk) - min(sk) AS sk_span
         |FROM zz GROUP BY 1""".stripMargin,

    "q162_zonemap" ->
      s"""WITH b AS (
         |  SELECT max(l_partkey) AS mpk, max(l_suppkey) AS msk
         |  FROM lineitem),
         |s AS (
         |  SELECT l_orderkey AS ok, l_partkey AS pk, l_suppkey AS sk,
         |    mpk, msk,
         |    (l_partkey * 65535) // mpk AS x,
         |    (l_suppkey * 65535) // msk AS y
         |  FROM lineitem, b),
         |base AS (
         |  SELECT *, ($dInterleave16) AS z,
         |    CASE WHEN pk BETWEEN mpk // 4 AND mpk // 2
         |      AND sk BETWEEN msk // 4 AND msk // 2
         |      THEN 1 ELSE 0 END AS hit
         |  FROM s),
         |cn AS (
         |  SELECT ok // 512 AS chunk, count(*) AS nr,
         |    min(pk) AS pk_lo, max(pk) AS pk_hi,
         |    min(sk) AS sk_lo, max(sk) AS sk_hi,
         |    CAST(sum(hit) AS BIGINT) AS matches,
         |    max(mpk) AS mpk, max(msk) AS msk
         |  FROM base GROUP BY 1),
         |cz AS (
         |  SELECT z >> 25 AS chunk, count(*) AS nr,
         |    min(pk) AS pk_lo, max(pk) AS pk_hi,
         |    min(sk) AS sk_lo, max(sk) AS sk_hi,
         |    CAST(sum(hit) AS BIGINT) AS matches,
         |    max(mpk) AS mpk, max(msk) AS msk
         |  FROM base GROUP BY 1),
         |sn AS (SELECT *, CASE WHEN pk_hi >= mpk // 4 AND pk_lo <= mpk // 2
         |    AND sk_hi >= msk // 4 AND sk_lo <= msk // 2
         |    THEN 1 ELSE 0 END AS scanned FROM cn),
         |sz AS (SELECT *, CASE WHEN pk_hi >= mpk // 4 AND pk_lo <= mpk // 2
         |    AND sk_hi >= msk // 4 AND sk_lo <= msk // 2
         |    THEN 1 ELSE 0 END AS scanned FROM cz),
         |an AS (
         |  SELECT 'natural' AS layout, count(*) AS n_chunks,
         |    CAST(sum(scanned) AS BIGINT) AS chunks_scanned,
         |    CAST(sum(nr) AS BIGINT) AS n_rows,
         |    CAST(sum(scanned * nr) AS BIGINT) AS rows_scanned,
         |    CAST(sum(matches) AS BIGINT) AS n_matches
         |  FROM sn),
         |az AS (
         |  SELECT 'zorder' AS layout, count(*) AS n_chunks,
         |    CAST(sum(scanned) AS BIGINT) AS chunks_scanned,
         |    CAST(sum(nr) AS BIGINT) AS n_rows,
         |    CAST(sum(scanned * nr) AS BIGINT) AS rows_scanned,
         |    CAST(sum(matches) AS BIGINT) AS n_matches
         |  FROM sz)
         |SELECT layout, n_chunks, chunks_scanned, n_rows, rows_scanned,
         |  n_matches,
         |  (rows_scanned * 10000) // greatest(n_matches, 1) AS read_amp_bp
         |FROM an UNION ALL
         |SELECT layout, n_chunks, chunks_scanned, n_rows, rows_scanned,
         |  n_matches,
         |  (rows_scanned * 10000) // greatest(n_matches, 1) AS read_amp_bp
         |FROM az""".stripMargin,

    "q175_bfs_hops" ->
      """WITH e0 AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_orderkey % 10 = 0),
        |sym AS (SELECT u AS sn, v AS dn FROM e0
        |        UNION ALL SELECT v, u FROM e0),
        |r0 AS (SELECT DISTINCT sn AS n FROM sym WHERE sn < 100),
        |r1 AS (SELECT n FROM r0
        |       UNION SELECT dn FROM sym JOIN r0 ON sym.sn = r0.n),
        |r2 AS (SELECT n FROM r1
        |       UNION SELECT dn FROM sym JOIN r1 ON sym.sn = r1.n),
        |r3 AS (SELECT n FROM r2
        |       UNION SELECT dn FROM sym JOIN r2 ON sym.sn = r2.n)
        |SELECT CAST((SELECT count(*) FROM r0) AS BIGINT) AS reach_h0,
        |  CAST((SELECT count(*) FROM r1) AS BIGINT) AS reach_h1,
        |  CAST((SELECT count(*) FROM r2) AS BIGINT) AS reach_h2,
        |  CAST((SELECT count(*) FROM r3) AS BIGINT) AS reach_h3""".stripMargin,

    "q174_benford" ->
      """WITH d AS (
        |  SELECT substr(CAST(l_extendedprice AS VARCHAR), 1, 1) AS digit,
        |    count(*) AS n
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(n) AS tot FROM d),
        |e(digit, expected_bp) AS (VALUES
        |  ('1', 3010), ('2', 1760), ('3', 1249), ('4', 969), ('5', 791),
        |  ('6', 669), ('7', 579), ('8', 511), ('9', 457))
        |SELECT d.digit, CAST(d.n AS BIGINT) AS n,
        |  CAST((d.n * 10000) // t.tot AS BIGINT) AS observed_bp,
        |  CAST(e.expected_bp AS BIGINT) AS expected_bp,
        |  CAST(abs((d.n * 10000) // t.tot - e.expected_bp) AS BIGINT)
        |    AS dev_bp
        |FROM d CROSS JOIN t JOIN e ON d.digit = e.digit""".stripMargin,

    "q173_cdc_apply" ->
      """WITH log AS (
        |  SELECT user_id, event_type, ts, event_id, value,
        |    event_id % 10 = 0 AS is_delete
        |  FROM events),
        |ranked AS (
        |  SELECT user_id, event_type, value, is_delete,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn,
        |    count(*) OVER (PARTITION BY user_id, event_type) AS n_changes
        |  FROM log)
        |SELECT user_id, event_type, value AS final_value,
        |  CAST(n_changes AS BIGINT) AS n_changes
        |FROM ranked WHERE rn = 1 AND NOT is_delete""".stripMargin,

    "q187_scd2" ->
      """WITH c AS (
        |  SELECT user_id, event_type, ts, event_id, value,
        |    lag(value) OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) AS prev_v
        |  FROM events),
        |v AS (
        |  SELECT user_id, event_type, ts, event_id, value
        |  FROM c WHERE value IS DISTINCT FROM prev_v)
        |SELECT user_id, event_type, value,
        |  epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts, event_id) AS valid_to_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts, event_id) IS NULL
        |    AS is_current
        |FROM v""".stripMargin,

    "q171_kcore_peel" ->
      """WITH e0 AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_orderkey % 10 = 0),
        |d1 AS (SELECT n, count(*) AS d FROM (
        |  SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY n),
        |k1 AS (SELECT n FROM d1 WHERE d >= 8),
        |e1 AS (SELECT u, v FROM e0
        |  WHERE u IN (SELECT n FROM k1) AND v IN (SELECT n FROM k1)),
        |d2 AS (SELECT n, count(*) AS d FROM (
        |  SELECT u AS n FROM e1 UNION ALL SELECT v FROM e1) GROUP BY n),
        |k2 AS (SELECT n FROM d2 WHERE d >= 8),
        |e2 AS (SELECT u, v FROM e1
        |  WHERE u IN (SELECT n FROM k2) AND v IN (SELECT n FROM k2)),
        |d3 AS (SELECT n, count(*) AS d FROM (
        |  SELECT u AS n FROM e2 UNION ALL SELECT v FROM e2) GROUP BY n),
        |k3 AS (SELECT n FROM d3 WHERE d >= 8),
        |e3 AS (SELECT u, v FROM e2
        |  WHERE u IN (SELECT n FROM k3) AND v IN (SELECT n FROM k3))
        |SELECT CAST((SELECT count(*) FROM e0) AS BIGINT) AS n_edges,
        |  CAST((SELECT count(*) FROM k1) AS BIGINT) AS core_r1,
        |  CAST((SELECT count(*) FROM k2) AS BIGINT) AS core_r2,
        |  CAST((SELECT count(*) FROM k3) AS BIGINT) AS core_r3,
        |  CAST((SELECT count(*) FROM e3) AS BIGINT) AS edges_r3""".stripMargin,

    // The oracle formulates overlap as the direct range-predicate join
    // (DuckDB's IEJoin handles it); the Spark side must reach the same
    // pairs through its bucket-join decomposition.
    "q170_interval_overlap" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE user_id < 100
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM s),
        |iv AS (
        |  SELECT user_id, session_id,
        |    min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        |  FROM sess GROUP BY user_id, session_id),
        |pairs AS (
        |  SELECT least(a.end_us, b.end_us)
        |       - greatest(a.start_us, b.start_us) AS ov
        |  FROM iv a JOIN iv b
        |    ON a.start_us <= b.end_us AND b.start_us <= a.end_us
        |  WHERE a.user_id < 50 AND b.user_id >= 50 AND b.user_id < 100)
        |SELECT CAST(count(*) AS BIGINT) AS n_overlapping_pairs,
        |  CAST(sum(ov) AS BIGINT) AS total_overlap_us,
        |  CAST(max(ov) AS BIGINT) AS max_overlap_us
        |FROM pairs""".stripMargin,

    "q158_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |d AS (SELECT n, count(*) AS deg FROM (
        |    SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
        |  GROUP BY n),
        |o AS (
        |  SELECT CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
        |      THEN u ELSE v END AS src,
        |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
        |      THEN v ELSE u END AS dst,
        |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v)
        |      THEN dv.deg ELSE du.deg END AS dd
        |  FROM e JOIN d du ON du.n = e.u JOIN d dv ON dv.n = e.v),
        |wdg AS (
        |  SELECT x.dst AS w1, y.dst AS w2 FROM o x JOIN o y
        |    ON x.src = y.src
        |    AND (x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst))),
        |tri AS (
        |  SELECT count(*) AS n_triangles
        |  FROM wdg JOIN o z ON z.src = wdg.w1 AND z.dst = wdg.w2),
        |prof AS (
        |  SELECT count(*) AS n_nodes,
        |    CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges
        |  FROM d),
        |ne AS (SELECT count(*) AS n_edges FROM e)
        |SELECT n_nodes, n_edges, n_wedges, n_triangles,
        |  (3 * n_triangles * 10000) // n_wedges AS closed_bp
        |FROM prof, ne, tri""".stripMargin,

    "q182_topk_per_key" ->
      """WITH counts AS (
        |  SELECT event_type, user_id, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, user_id, n,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY n DESC, user_id) AS rank
        |  FROM counts)
        |SELECT event_type, CAST(rank AS BIGINT) AS rank,
        |  user_id, CAST(n AS BIGINT) AS n
        |FROM r WHERE rank <= 5""".stripMargin,

    "q181_grouped_sample_quantiles" ->
      """WITH ev AS (
        |  SELECT user_id, vu, hp + vu AS pack FROM (
        |    SELECT user_id,
        |      CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS vu,
        |      ('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 7))::BIGINT
        |        * 4294967296 AS hp
        |    FROM events)),
        |d AS (SELECT DISTINCT user_id, pack FROM ev),
        |r AS (
        |  SELECT user_id, pack,
        |    row_number() OVER (PARTITION BY user_id ORDER BY pack) AS rn
        |  FROM d),
        |smp AS (
        |  SELECT user_id, pack % 4294967296 AS v FROM r WHERE rn <= 64),
        |est AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS sample_n,
        |    CAST(2 * median(v) AS BIGINT) AS est_med2x
        |  FROM smp GROUP BY 1),
        |ex AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(2 * median(vu) AS BIGINT) AS exact_med2x
        |  FROM ev GROUP BY 1)
        |SELECT ex.user_id, n, exact_med2x, sample_n, est_med2x,
        |  abs(est_med2x - exact_med2x) * 10000 // nullif(exact_med2x, 0)
        |    AS err_bp
        |FROM ex JOIN est ON ex.user_id = est.user_id""".stripMargin,

    "q178_mad_outliers" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS vu
        |  FROM events),
        |med AS (
        |  SELECT event_type, CAST(2 * median(vu) AS BIGINT) AS med2x
        |  FROM ev GROUP BY 1),
        |dev AS (
        |  SELECT ev.event_type, abs(2 * vu - med2x) AS dev2x, med2x
        |  FROM ev JOIN med USING (event_type)),
        |mad AS (
        |  SELECT event_type, CAST(2 * median(dev2x) AS BIGINT) AS mad4x
        |  FROM dev GROUP BY 1)
        |SELECT dev.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(dev.med2x) AS BIGINT) AS med2x_micro,
        |  CAST(max(mad.mad4x) AS BIGINT) AS mad4x_micro,
        |  CAST(sum(CASE WHEN 2 * dev2x > 3 * mad4x THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY 1""".stripMargin,

    "q179_sample_quantiles" ->
      """WITH ev AS (
        |  SELECT event_id,
        |    CAST(CAST(value AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS vu
        |  FROM events),
        |smp AS (
        |  SELECT vu FROM ev
        |  ORDER BY md5(CAST(event_id AS VARCHAR)), event_id LIMIT 1024),
        |est AS (
        |  SELECT CAST(4 * quantile_cont(vu, 0.25) AS BIGINT) AS est_p25_4x,
        |    CAST(4 * quantile_cont(vu, 0.5) AS BIGINT) AS est_p50_4x,
        |    CAST(4 * quantile_cont(vu, 0.75) AS BIGINT) AS est_p75_4x
        |  FROM smp),
        |ex AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(4 * quantile_cont(vu, 0.25) AS BIGINT) AS ex_p25_4x,
        |    CAST(4 * quantile_cont(vu, 0.5) AS BIGINT) AS ex_p50_4x,
        |    CAST(4 * quantile_cont(vu, 0.75) AS BIGINT) AS ex_p75_4x
        |  FROM ev)
        |SELECT est_p25_4x, est_p50_4x, est_p75_4x, n,
        |  ex_p25_4x, ex_p50_4x, ex_p75_4x,
        |  abs(est_p25_4x - ex_p25_4x) * 10000 // ex_p25_4x AS err_p25_bp,
        |  abs(est_p50_4x - ex_p50_4x) * 10000 // ex_p50_4x AS err_p50_bp,
        |  abs(est_p75_4x - ex_p75_4x) * 10000 // ex_p75_4x AS err_p75_bp
        |FROM est, ex""".stripMargin,

    "q159_cms" ->
      """WITH truth AS (
        |  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |probes AS (
        |  SELECT user_id, cnt, r,
        |    ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||
        |        CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 512 AS c
        |  FROM truth, (SELECT unnest([0, 1, 2, 3]) AS r)),
        |cells AS (
        |  SELECT r, c, CAST(sum(cnt) AS BIGINT) AS cell
        |  FROM probes GROUP BY r, c),
        |est AS (
        |  SELECT p.user_id, p.cnt, min(cells.cell) AS est
        |  FROM probes p JOIN cells ON cells.r = p.r AND cells.c = p.c
        |  GROUP BY p.user_id, p.cnt)
        |SELECT user_id, cnt AS true_cnt, est, est - cnt AS overestimate
        |FROM est ORDER BY cnt DESC, user_id LIMIT 20""".stripMargin,

    "q157_gap_hist" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
        |  FROM events)
        |SELECT event_type,
        |  CAST(length(bin(gap_us)) AS BIGINT) AS bucket,
        |  count(*) AS n_gaps,
        |  min(gap_us) AS min_gap_us,
        |  max(gap_us) AS max_gap_us
        |FROM g WHERE gap_us > 0
        |GROUP BY 1, 2""".stripMargin)
}
