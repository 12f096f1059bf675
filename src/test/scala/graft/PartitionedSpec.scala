package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.Partitioned

/** Dynamic partition pruning over [[graft.operators.Partitioned]]
  * storage: the q195 join's pruning days exist only at runtime (parity
  * of an exact per-day aggregate — not inferable across the join as a
  * static predicate), so the fact scan must carry a
  * `dynamicpruningexpression` in its PartitionFilters and read only the
  * matching day directories. Layout must never change answers, so the
  * plan assertion is paired with result parity against the same logic
  * over the unpartitioned parquet.
  */
class PartitionedSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private def ev = graft.queries.CoreQueries.t(spark, dir, "events")

  // THE shared definition — the same DataFrame the shipped q195/q197
  // build, so the degenerate-pruning guard below checks what actually
  // runs, not a spec-local copy that could drift.
  private def dim = graft.queries.RelationalQueries.errorParityDays(spark, dir)

  test("q195 join plans with dynamic partition pruning and matches the " +
    "unpartitioned result") {
    val q = graft.queries.RelationalQueries.queries("q195_dpp")(spark, dir)
    val got = q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"fact scan not dynamically pruned:\n$plan")

    // the pruning set must be a strict, non-empty subset of the 30 days
    // or the demo degenerates to scan-everything / scan-nothing
    val nDays = dim.count()
    assert(nDays > 0 && nDays < 30, s"degenerate pruning set: $nDays days")

    val e = ev.withColumn("dt", to_date(col("ts")))
    val d = dim
    val expected = e.join(d, e("dt") === d("dim_dt"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        graft.functions.exact.sumExact(col("value")).as("sum_value"))
      .collect()
    assert(got.map(_.toString).sorted.toSeq ===
      expected.map(_.toString).sorted.toSeq)
  }

  test("q197: partition pruning and bucketed co-location compose in one " +
    "plan — DPP filter present, exactly one shuffle (the final agg)") {
    val q = graft.queries.RelationalQueries.queries("q197_layered_layout")(
      spark, dir)
    val got = q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // AQE plan strings append "== Initial Plan ==" — assert on the
    // FINAL section only
    val fin = plan.split("== Initial Plan ==").head
    assert(fin.contains("dynamicpruning"),
      s"fact scan not dynamically pruned:\n$plan")
    val shuffles =
      "Exchange hashpartitioning".r.findAllIn(fin).length
    assert(shuffles == 1,
      s"expected exactly one shuffle (final agg), got $shuffles:\n$fin")

    val e = ev.withColumn("dt", to_date(col("ts")))
    val d = dim
    val profile = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("user_total"))
    val expected = e.join(d, e("dt") === d("dim_dt"))
      .join(profile, Seq("user_id"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        graft.functions.exact.sumExact(col("value")).as("sum_value"),
        sum(col("user_total")).cast("long").as("sum_user_total"))
      .collect()
    assert(got.map(_.toString).sorted.toSeq ===
      expected.map(_.toString).sorted.toSeq)
  }

  test("q201: the curated bucketed landing aggregates on the bucket key " +
    "with zero exchange") {
    val q = graft.queries.RelationalQueries.queries("q201_curated_bucketed")(
      spark, dir)
    assert(q.count() > 0)
    val fin = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!fin.contains("Exchange"),
      s"bucket-keyed aggregation over the pipeline's own bucketed " +
        s"output shuffled:\n$fin")
  }

  test("degraded path — dim too big to broadcast: default conf falls back " +
    "to a full scan (pruning expression degrades to true), " +
    "reuseBroadcastOnly=false restores a subquery-based prune; both correct") {
    // Simulate "dim above the broadcast threshold" by disabling
    // auto-broadcast: the join plans as SMJ, so there is no broadcast
    // for DPP to reuse.
    val fact = Partitioned.ensure(spark, dir, "events", "dt")(
      ev.withColumn("dt", to_date(col("ts"))))
    val d = dim
    def q = fact.join(d, fact("dt") === d("dim_dt"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val expected = ev.withColumn("dt", to_date(col("ts")))
      .join(d, col("dt") === d("dim_dt"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(_.toString).sorted.toSeq

    Session.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // Default (reuseBroadcastOnly=true): the optimizer plants the DPP
      // filter, but with no broadcast to reuse PlanDynamicPruningFilters
      // rewrites it to literal true — an honest full scan, never a
      // wrong answer.
      val d1 = q
      val got1 = d1.collect().map(_.toString).sorted.toSeq
      val fin1 = d1.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(fin1.contains("SortMergeJoin"), fin1)
      assert(fin1.contains("dynamicpruningexpression(true)"),
        s"expected the degraded always-true pruning filter:\n$fin1")
      assert(!fin1.contains("IN dynamicpruning"),
        s"no broadcast exists to reuse, prune should have degraded:\n$fin1")
      assert(got1 === expected)

      // reuseBroadcastOnly=false: the dim side runs as its own pruning
      // subquery (one extra evaluation of the dim aggregate), and the
      // fact scan prunes partitions even under SMJ.
      Session.withConf(spark,
          "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" ->
            "false") {
        val d2 = q
        val got2 = d2.collect().map(_.toString).sorted.toSeq
        val fin2 = d2.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(fin2.contains("SortMergeJoin"), fin2)
        assert(fin2.contains("IN dynamicpruning"),
          s"subquery-based prune did not fire:\n$fin2")
        assert(got2 === expected)
      }
    }
  }

  test("ensure() memoizes: the second call does not rewrite the files") {
    Partitioned.ensure(spark, dir, "events", "dt")(
      ev.withColumn("dt", to_date(col("ts"))))
    val name = Partitioned.tableName(dir, "events", "dt")
    val path = Paths.get(s"${Partitioned.storageRoot}/$name")
    val stampsBefore = listStamps(path)
    assert(stampsBefore.nonEmpty)

    Partitioned.ensure(spark, dir, "events", "dt")(
      fail("memoized ensure() must not re-evaluate the source"))
    assert(listStamps(path) === stampsBefore)
  }

  private def listStamps(p: java.nio.file.Path): Seq[(String, Long, Long)] =
    scala.util.Using.resource(Files.walk(p)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala
        .filter(q => q.toString.endsWith(".parquet"))
        .map(q => (q.toString.stripPrefix(p.toString), Files.size(q),
          Files.getLastModifiedTime(q).toMillis))
        .toSeq.sortBy(_._1)
    }
}
