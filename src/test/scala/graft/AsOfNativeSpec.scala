package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.AsOf
import graft.plans.AsOfNative

/** Native as-of join (custom LogicalPlan + Strategy + SparkPlan):
  * semantics pinned against hand-computed edges AND against the
  * compositional union+window operator on real data — two independent
  * formulations, one answer. */
class AsOfNativeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asof native: hand-computed matches, ties, and no-match rows") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "l1"),
      (1L, ts("2024-01-01 12:00:00"), "l2"),
      (2L, ts("2024-01-01 09:00:00"), "l3"), // before any right row
      (3L, ts("2024-01-01 10:00:00"), "l4")  // key with no right rows
    ).toDF("k", "t", "lv")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "r1"),  // same instant as l1
      (1L, ts("2024-01-01 10:00:00"), 2L, "r2"),  // tie: higher tie wins
      (1L, ts("2024-01-01 11:00:00"), 3L, "r3"),
      (2L, ts("2024-01-01 09:30:00"), 4L, "r4")
    ).toDF("rk", "rt", "tie", "rv")

    val out = AsOfNative.asofJoinLeft(left, right,
      "k", "rk", "t", "rt", rightTie = "tie")
      .select($"lv", $"rv").as[(String, Option[String])]
      .collect().toMap
    assert(out("l1") === Some("r2")) // same-instant matches; max tie wins
    assert(out("l2") === Some("r3")) // latest at-or-before
    assert(out("l3") === None)       // right row is later -> no match
    assert(out("l4") === None)       // key absent from right

    // tolerance: l2 is 60 min after r3; a 30-min tolerance drops it
    val tol = AsOfNative.asofJoinLeft(left, right,
      "k", "rk", "t", "rt", rightTie = "tie",
      toleranceUs = Some(30L * 60 * 1000000))
      .select($"lv", $"rv").as[(String, Option[String])]
      .collect().toMap
    assert(tol("l1") === Some("r2")) // 0 staleness, kept
    assert(tol("l2") === None)       // 60 min stale > 30 min tolerance
  }

  test("asof native: equals the compositional union+window operator") {
    val ev = queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"event_id", $"value")

    val native = AsOfNative.asofJoinLeft(
      clicks,
      purchases.select($"user_id".as("r_user_id"), $"ts".as("r_ts"),
        $"event_id".as("r_event_id"), $"value".as("r_value")),
      "user_id", "r_user_id", "ts", "r_ts", rightTie = "r_event_id")
      .select($"event_id", $"r_event_id", $"r_value")
      .as[(Long, Option[Long], Option[Double])].collect().toSet

    val composed = AsOf.asofLeft(clicks, purchases,
      key = "user_id", ts = "ts", rightTie = "event_id")
      .select($"event_id",
        $"asof_match.event_id".as("m_id"), $"asof_match.value".as("m_v"))
      .as[(Long, Option[Long], Option[Double])].collect().toSet

    assert(native.nonEmpty)
    assert(native === composed)

    // and with tolerance (6h), the q99 shape
    val tolUs = 6L * 3600 * 1000000
    val nativeTol = AsOfNative.asofJoinLeft(
      clicks,
      purchases.select($"user_id".as("r_user_id"), $"ts".as("r_ts"),
        $"event_id".as("r_event_id"), $"value".as("r_value")),
      "user_id", "r_user_id", "ts", "r_ts", rightTie = "r_event_id",
      toleranceUs = Some(tolUs))
      .select($"event_id", $"r_event_id")
      .as[(Long, Option[Long])].collect().toSet
    val composedTol = AsOf.asofLeft(clicks, purchases,
      key = "user_id", ts = "ts", rightTie = "event_id",
      toleranceUs = Some(tolUs))
      .select($"event_id", $"asof_match.event_id".as("m_id"))
      .as[(Long, Option[Long])].collect().toSet
    assert(nativeTol === composedTol)
    // the tolerance actually drops some matches (else it tests nothing)
    assert(nativeTol.count(_._2.isEmpty) > native.count(_._2.isEmpty))
  }

  test("asof native: plans as AsOfJoinExec with co-partitioned exchanges") {
    val ev = queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "events")
    val l = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val r = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("rk"), $"ts".as("rt"), $"event_id".as("rid"))
    val df = AsOfNative.asofJoinLeft(l, r, "user_id", "rk", "ts", "rt", "rid")
    df.count() // force planning through AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoinExec") || plan.contains("AsOfJoin"))
    // both sides exchange on their key — the SMJ-subset requirement
    assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 2 ||
      plan.contains("Exchange"))
  }

  test("asof native: string keys merge correctly (buffer-backed key type)") {
    // Keys that are views into reused row buffers (UTF8String) — the
    // buffered candidate's key must be re-derived from the COPIED row,
    // not kept as a view that the lookahead overwrites.
    val left = Seq(
      ("a", ts("2024-01-01 12:00:00"), "la"),
      ("b", ts("2024-01-01 09:30:00"), "lb1"), // before b's only right row
      ("b", ts("2024-01-01 12:00:00"), "lb2"),
      ("c", ts("2024-01-01 12:00:00"), "lc")
    ).toDF("k", "t", "lv")
    val right = Seq(
      ("a", ts("2024-01-01 10:00:00"), 1L, "ra"),
      ("b", ts("2024-01-01 10:00:00"), 2L, "rb"),
      ("d", ts("2024-01-01 10:00:00"), 3L, "rd")
    ).toDF("rk", "rt", "tie", "rv")
    val out = AsOfNative.asofJoinLeft(left, right, "k", "rk", "t", "rt", "tie")
      .select($"lv", $"rv").as[(String, Option[String])].collect().toMap
    assert(out("la") === Some("ra"))
    assert(out("lb1") === None)       // right row is later
    assert(out("lb2") === Some("rb")) // and NOT 'ra' — stale-key check
    assert(out("lc") === None)        // no right rows for key c
  }

  test("asof native: null timestamps never match (SQL ts >= NULL semantics)") {
    val left = Seq(
      (1L, Some(ts("2024-01-01 12:00:00")), "lt"),
      (1L, None, "lnull") // null left ts -> no match
    ).toDF("k", "t", "lv")
    val right = Seq(
      (1L, Some(ts("2024-01-01 10:00:00")), 1L, "r1"),
      (1L, None, 2L, "rnull") // null right ts -> never a candidate
    ).toDF("rk", "rt", "tie", "rv")
    val out = AsOfNative.asofJoinLeft(left, right, "k", "rk", "t", "rt", "tie")
      .select($"lv", $"rv").as[(String, Option[String])].collect().toMap
    assert(out("lt") === Some("r1")) // matches the non-null right row
    assert(out("lnull") === None)
  }

  test("asof native: mismatched key or ts types fail fast at the API") {
    val l = Seq((1, ts("2024-01-01 10:00:00"))).toDF("k", "t") // Int key
    val r = Seq((1L, ts("2024-01-01 09:00:00"), 1L)).toDF("rk", "rt", "tie")
    val e = intercept[IllegalArgumentException] {
      AsOfNative.asofJoinLeft(l, r, "k", "rk", "t", "rt", "tie")
    }
    assert(e.getMessage.contains("key types differ"))
  }

  test("asof native: AQE + skewed key + unequal input partitioning " +
    "stays co-partitioned") {
    // r10 verdict task: the exec's equal-partition-count require was
    // asserted, never exercised under the conditions that could break
    // it. Force them all at once: AQE on with aggressive partition
    // coalescing (tiny advisory size so the coalesced counts are data-
    // dependent), one heavily skewed key (90% of left rows), and
    // children arriving with DIFFERENT input partitionings (7 vs 3).
    // EnsureRequirements must still emit co-partitioned exchanges and
    // AQE must coalesce both sides of the stage as ONE group — if it
    // ever didn't, the doExecute require fires and this test fails.
    Session.withConf(spark,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB") {
      val left = spark.range(20000L).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 7L ELSE id % 50 END AS k",
        "timestamp_micros(1700000000000000 + id * 1000000) AS t",
        "id AS lid").repartition(7)
      val right = spark.range(2000L).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 7L ELSE id % 50 END AS rk",
        "timestamp_micros(1700000000000000 + id * 9000000) AS rt",
        "id AS tie").repartition(3)
      val out = AsOfNative.asofJoinLeft(left, right,
        "k", "rk", "t", "rt", "tie")
      val n = out.count() // executes the merge; a partition-count or
                          // partitioner mismatch would throw here
      assert(n === 20000L) // left join preserves every left row
      // Spot-check correctness under skew: matched rows' staleness is
      // never negative (right ts <= left ts always).
      val bad = out.filter($"rt".isNotNull && $"rt" > $"t").count()
      assert(bad === 0L)
    }
  }

  test("asof native: composite keys (multi-key form)") {
    val left = Seq(
      (1L, "a", ts("2024-01-01 12:00:00"), "l1"),
      (1L, "b", ts("2024-01-01 12:00:00"), "l2"), // same id, other segment
      (2L, "a", ts("2024-01-01 12:00:00"), "l3")  // pair absent on right
    ).toDF("k1", "k2", "t", "lv")
    val right = Seq(
      (1L, "a", ts("2024-01-01 10:00:00"), 1L, "ra"),
      (1L, "a", ts("2024-01-01 11:00:00"), 2L, "ra2"),
      (1L, "b", ts("2024-01-01 09:00:00"), 3L, "rb"),
      (2L, "b", ts("2024-01-01 09:00:00"), 4L, "r2b")
    ).toDF("rk1", "rk2", "rt", "tie", "rv")
    val out = AsOfNative.asofJoinLeftMulti(left, right,
      Seq("k1", "k2"), Seq("rk1", "rk2"), "t", "rt", "tie")
      .select($"lv", $"rv").as[(String, Option[String])].collect().toMap
    assert(out("l1") === Some("ra2")) // latest for (1,a), not (1,b)'s row
    assert(out("l2") === Some("rb"))
    assert(out("l3") === None)        // (2,a) never matches (2,b)
    // composite == single-key over a fused key column (independent path)
    val fusedL = left.selectExpr("concat(k1, '|', k2) AS fk", "t", "lv")
    val fusedR = right.selectExpr(
      "concat(rk1, '|', rk2) AS frk", "rt", "tie", "rv")
    val fused = AsOfNative.asofJoinLeft(fusedL, fusedR,
      "fk", "frk", "t", "rt", "tie")
      .select($"lv", $"rv").as[(String, Option[String])].collect().toMap
    assert(out === fused)
  }

  test("asof native: non-long-backed timestamp fails fast at the API") {
    // A DateType ts used to pass validation (types matched each other)
    // and die executor-side with an opaque ClassCastException (DateType
    // is Int-backed); now the API names the problem.
    val l = Seq((1L, java.sql.Date.valueOf("2024-01-01"))).toDF("k", "t")
    val r = Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1L))
      .toDF("rk", "rt", "tie")
    val e = intercept[IllegalArgumentException] {
      AsOfNative.asofJoinLeft(l, r, "k", "rk", "t", "rt", "tie")
    }
    assert(e.getMessage.contains("timestamps must be"))
  }

  test("asof native: forward direction — hand-computed matches, min-tie, " +
    "tolerance") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "l1"), // same instant as two right rows
      (1L, ts("2024-01-01 12:00:00"), "l2"), // after k1's last right row
      (2L, ts("2024-01-01 09:00:00"), "l3"), // right row 30 min AHEAD
      (3L, ts("2024-01-01 10:00:00"), "l4")  // key with no right rows
    ).toDF("k", "t", "lv")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "r1"), // tie: LEAST tie wins fwd
      (1L, ts("2024-01-01 10:00:00"), 2L, "r2"),
      (1L, ts("2024-01-01 11:00:00"), 3L, "r3"),
      (2L, ts("2024-01-01 09:30:00"), 4L, "r4")
    ).toDF("rk", "rt", "tie", "rv")

    val out = AsOfNative.asofJoinLeft(left, right,
      "k", "rk", "t", "rt", rightTie = "tie", direction = "forward")
      .select($"lv", $"rv").as[(String, Option[String])]
      .collect().toMap
    assert(out("l1") === Some("r1")) // same instant; MIN tie (mirror of bwd)
    assert(out("l2") === None)       // nothing at-or-after
    assert(out("l3") === Some("r4")) // earliest at-or-after
    assert(out("l4") === None)       // key absent from right

    // tolerance 15 min: l3's match is 30 min ahead -> dropped; l1's is 0
    val tol = AsOfNative.asofJoinLeft(left, right,
      "k", "rk", "t", "rt", rightTie = "tie",
      toleranceUs = Some(15L * 60 * 1000000), direction = "forward")
      .select($"lv", $"rv").as[(String, Option[String])]
      .collect().toMap
    assert(tol("l1") === Some("r1"))
    assert(tol("l3") === None)

    // direction is validated at the API
    val e = intercept[IllegalArgumentException] {
      AsOfNative.asofJoinLeft(left, right, "k", "rk", "t", "rt", "tie",
        direction = "sideways")
    }
    assert(e.getMessage.contains("direction"))
  }

  test("asof native: forward equals a brute-force range-join-then-first " +
    "on real data") {
    import org.apache.spark.sql.expressions.Window
    val ev = queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("r_user_id"), $"ts".as("r_ts"),
        $"event_id".as("r_event_id"))

    val native = AsOfNative.asofJoinLeft(clicks, purchases,
      "user_id", "r_user_id", "ts", "r_ts", rightTie = "r_event_id",
      direction = "forward")
      .select($"event_id", $"r_event_id")
      .as[(Long, Option[Long])].collect().toSet

    // Independent formulation: full range join, keep the first future
    // row per left in (ts, tie) order. O(n*m) per key — test-only.
    val brute = clicks.join(purchases,
        $"user_id" === $"r_user_id" && $"r_ts" >= $"ts", "left")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_id")
          .orderBy($"r_ts".asc_nulls_last, $"r_event_id".asc_nulls_last)))
      .filter($"rn" === 1)
      .select($"event_id", $"r_event_id")
      .as[(Long, Option[Long])].collect().toSet

    assert(native.nonEmpty)
    assert(native.exists(_._2.nonEmpty)) // some rows actually match
    assert(native === brute)
  }

  test("asof native: nearest direction — closer side wins, ties backward, " +
    "per-side tolerance") {
    val left = Seq(
      (1L, ts("2024-01-01 10:20:00"), "l1"), // 20m after r1, 40m before r3
      (1L, ts("2024-01-01 10:40:00"), "l2"), // 40m after r1, 20m before r3
      (1L, ts("2024-01-01 10:30:00"), "l3"), // exact tie -> backward (r1)
      (2L, ts("2024-01-01 09:00:00"), "l4"), // only a future row (r4)
      (3L, ts("2024-01-01 10:00:00"), "l5")  // no right rows
    ).toDF("k", "t", "lv")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "r1"),
      (1L, ts("2024-01-01 11:00:00"), 3L, "r3"),
      (2L, ts("2024-01-01 09:30:00"), 4L, "r4")
    ).toDF("rk", "rt", "tie", "rv")

    val out = AsOfNative.asofJoinLeft(left, right,
      "k", "rk", "t", "rt", rightTie = "tie", direction = "nearest")
      .select($"lv", $"rv").as[(String, Option[String])]
      .collect().toMap
    assert(out("l1") === Some("r1")) // backward closer
    assert(out("l2") === Some("r3")) // forward closer
    assert(out("l3") === Some("r1")) // equal gaps -> backward
    assert(out("l4") === Some("r4")) // only forward exists
    assert(out("l5") === None)

    // tolerance 25 min: l2's backward gap (40m) is out, forward (20m)
    // in; l4's forward gap (30m) is out entirely
    val tol = AsOfNative.asofJoinLeft(left, right,
      "k", "rk", "t", "rt", rightTie = "tie",
      toleranceUs = Some(25L * 60 * 1000000), direction = "nearest")
      .select($"lv", $"rv").as[(String, Option[String])]
      .collect().toMap
    assert(tol("l1") === Some("r1"))
    assert(tol("l2") === Some("r3"))
    assert(tol("l4") === None)
  }

  test("asof native: forward null ties lose to non-null ties (arg_min " +
    "parity)") {
    // Two right rows at the same (key, ts), one with a NULL tie: the
    // forward sort is NULLS LAST on the tie, so the non-null row is
    // the first the merge reaches — matching the arg_min-style oracle,
    // which ignores null ties. An all-null tie group still matches.
    val left = Seq(
      (1L, ts("2024-01-01 09:00:00"), "l1"),
      (2L, ts("2024-01-01 09:00:00"), "l2")
    ).toDF("k", "t", "lv")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), None, "rnull"),
      (1L, ts("2024-01-01 10:00:00"), Some(5L), "r5"),
      (2L, ts("2024-01-01 10:00:00"), None, "ronly") // all-null tie group
    ).toDF("rk", "rt", "tie", "rv")
    val out = AsOfNative.asofJoinLeft(left, right,
      "k", "rk", "t", "rt", rightTie = "tie", direction = "forward")
      .select($"lv", $"rv").as[(String, Option[String])].collect().toMap
    assert(out("l1") === Some("r5"))    // non-null tie beats null
    assert(out("l2") === Some("ronly")) // sole null-tie row still matches
  }

  test("asof native: nearest equals brute-force min-abs-gap on real data") {
    import org.apache.spark.sql.expressions.Window
    val ev = queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id".as("r_user_id"), $"ts".as("r_ts"),
        $"event_id".as("r_event_id"))

    val native = AsOfNative.asofJoinLeft(clicks, purchases,
      "user_id", "r_user_id", "ts", "r_ts", rightTie = "r_event_id",
      direction = "nearest")
      .select($"event_id", $"r_event_id")
      .as[(Long, Option[Long])].collect().toSet

    // Brute force: all pairs per key, rank by (|gap|, prefer-backward,
    // direction's own tie rule). O(n*m) per key — test-only. Backward
    // candidates (gap >= 0) rank tie-break DESC (max wins), forward ASC.
    val brute = clicks.join(purchases,
        $"user_id" === $"r_user_id", "left")
      .withColumn("gap", unix_micros($"ts") - unix_micros($"r_ts"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"event_id").orderBy(
          abs($"gap").asc_nulls_last,
          when($"gap" >= 0, 0).otherwise(1).asc, // tie on |gap| -> backward
          when($"gap" >= 0, -$"r_event_id").otherwise($"r_event_id").asc)))
      .filter($"rn" === 1)
      .select($"event_id", $"r_event_id")
      .as[(Long, Option[Long])].collect().toSet

    assert(native.nonEmpty)
    assert(native === brute)
  }

  test("asof native: null keys never match and never crash the merge") {
    val left = Seq(
      (Some(1L), ts("2024-01-01 10:00:00"), "a"),
      (None, ts("2024-01-01 10:00:00"), "b")
    ).toDF("k", "t", "lv")
    val right = Seq(
      (Some(1L), ts("2024-01-01 09:00:00"), 1L, "r1"),
      (None, ts("2024-01-01 09:00:00"), 2L, "rnull")
    ).toDF("rk", "rt", "tie", "rv")
    val out = AsOfNative.asofJoinLeft(left, right,
      "k", "rk", "t", "rt", "tie")
      .select($"lv", $"rv").as[(String, Option[String])].collect().toMap
    assert(out("a") === Some("r1"))
    assert(out("b") === None) // null key matches nothing
  }
}
