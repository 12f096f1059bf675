package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed graph primitives over plain (u, v) edge-list DataFrames
  * — the operator forms behind queries q158/q171/q175, factored out so
  * library users (and the scale bench) can run them on any graph, not
  * just the co-purchase graph those queries derive.
  *
  * All three are iterative-or-self-join shapes with the same scale
  * discipline: every round/stage materializes exactly ONE persisted
  * frame, the predecessor is released as soon as its successor is
  * forced, and per-round counts are captured at force time so the
  * final profile is a zero-job local relation. Everything is an
  * equi-join on node ids; nothing is ever all-pairs.
  *
  * Reference behavior mirrored: the reference pipeline has no graph
  * operators — these extend the engine for the dedup-graph /
  * similarity-cluster work a training-data pipeline needs (cluster
  * resolution over near-dup pairs, density cores, reachability).
  */
object Graph {
  private val lvl = StorageLevel.MEMORY_AND_DISK

  /** Tracks the frames ONE operator invocation localCheckpoint'ed so
    * release() frees exactly those. A checkpointed frame is a bare
    * LogicalRDD whose cached blocks are only reachable through the
    * plan's RDD handle — but a CALLER may legitimately pass an
    * already-checkpointed (LogicalRDD-backed) DataFrame in, and
    * unpersisting that RDD as a side effect would invalidate the
    * caller's data (its lineage is truncated; the blocks ARE the data).
    * So the RDD-handle branch fires only for RDDs this tracker
    * registered; anything else falls back to the cache-manager
    * unpersist, a no-op for frames the operator never persisted. */
  private final class Owned {
    private val rdds = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    /** Eager localCheckpoint, registered for later release. */
    def checkpoint(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint()
      c.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => rdds.add(l.rdd)
        case _ => ()
      }
      c
    }
    def release(df: DataFrame): Unit = {
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD
            if rdds.remove(l.rdd) =>
          l.rdd.unpersist(blocking = false)
        case _ => ()
      }
      // Drop any cache-manager entry this operator created for the same
      // frame (no-op when absent; never touches a caller's checkpoint).
      df.unpersist(blocking = false)
    }
  }

  /** Distinct undirected co-occurrence edges (u < v, each edge once)
    * from a bipartite (group, member) relation — members sharing a
    * group become adjacent. The self-equi-join on the group key is the
    * only shuffle; `broadcastBuild` broadcasts the build side when the
    * relation is a bounded slice (drop it on a full-corpus graph and
    * the same plan is the shuffle self-join). */
  def coOccurrenceEdges(
      rel: DataFrame,
      groupCol: String,
      memberCol: String,
      broadcastBuild: Boolean = false): DataFrame = {
    val r = rel.select(col(groupCol).as("gk"), col(memberCol).as("m"))
    val build = if (broadcastBuild) broadcast(r.as("b")) else r.as("b")
    r.as("a").join(build,
      col("a.gk") === col("b.gk") && col("a.m") < col("b.m"))
      .select(col("a.m").as("u"), col("b.m").as("v"))
      .distinct()
  }

  /** Triangle count + global clustering coefficient (integer basis
    * points) via DEGREE-ORDERED EDGE ORIENTATION — the standard trick
    * that makes the wedge join survive skew: every edge points from
    * the (degree, id)-smaller endpoint to the larger, so a hub of
    * degree d generates wedges bounded by its ORIENTED out-degree
    * (≤ O(sqrt(m))) rather than d².
    *
    * Memory discipline (measured, r7→r8): `oriented` is forced and the
    * raw edge list RELEASED before the wedge stream flies — with both
    * persisted plus an in-flight broadcast, the driver bench caught
    * this 4x slower at end-of-suite memory pressure. Everything
    * downstream (wedges, closing probe, degree profile) derives from
    * `oriented` alone, the same edge multiset re-keyed.
    *
    * The closing-probe broadcast is SIZE-GATED on the measured edge
    * count (~30 B/row in a broadcast hash map → ~300 MB at the default
    * 10M-edge gate, sized for per-executor build memory on a real
    * cluster): under the gate, wedges flow map-locally from the
    * self-join straight into a broadcast probe + partial count and
    * only per-partition counts hit the wire; past it the same plan
    * degrades to the skew-proof equi-join.
    *
    * Returns one row: n_nodes, n_edges, n_wedges, n_triangles,
    * closed_bp. */
  def trianglesProfile(
      edgesIn: DataFrame,
      maxBroadcastEdges: Long = 10000000L): DataFrame = {
    // Forced separately so the bench phases split "build the edge list"
    // (whatever upstream produced it — e.g. q158's full-lineitem
    // self-join + distinct) from the orientation pass proper; r10 could
    // not tell which of the two a slow sample paid for.
    val edges = edgesIn.persist(lvl)
    val nEdgesRaw = graft.util.Trace.timed("edges")(edges.count())
    // The degree table is built over the persisted edges and consumed
    // twice (du/dv) INSIDE the one orientation execution, where its
    // groupBy exchange dedups at runtime — so it needs neither its own
    // persist nor a forcing count. Its broadcast gate derives from the
    // edge count already taken (nodes <= 2*edges; both broadcasts are
    // node-sized and the gate is an order-of-magnitude memory bound, so
    // the 2x-conservative proxy decides identically everywhere it
    // matters) — that removes one of the three driver barriers the r19
    // verdict asked this operator to re-audit (r20: the barrier phases
    // measured edges 1.63 s / degrees 0.26 s / orient 0.24 s at sf0.1;
    // edges and orient force persisted frames that later stages consume
    // twice each — irreducible without recomputing the self-join).
    // The EXPLICIT broadcast stays load-bearing: Catalyst's size
    // estimate for an aggregate derives from its child, so the
    // node-sized degree table (16 B/row) inherits an edges-sized
    // estimate and NEVER auto-broadcasts — the orientation would plan
    // as two full sort-merge joins of the edge list against a 20k-row
    // table (measured at sf0.1: 2.7 s wall / 64 s summed task time vs
    // 0.16 s / 0.5 s broadcast). Same 10M gate as the adjacency
    // broadcast below; past it the shuffle-hash hint keeps the build on
    // the node-sized side with no wedge-sized sort.
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    def degSide(d: DataFrame): DataFrame =
      if (2 * nEdgesRaw <= maxBroadcastEdges) broadcast(d)
      else d.hint("shuffle_hash")
    val du = deg.select(col("n").as("u"), col("d").as("du"))
    val dv = deg.select(col("n").as("v"), col("d").as("dv"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = edges.join(degSide(du), "u").join(degSide(dv), "v")
      .select(
        when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"),
        when(fwd, col("dv")).otherwise(col("du")).as("dd"))
      .persist(lvl)
    val nEdges = graft.util.Trace.timed("orient")(oriented.count())
    edges.unpersist(blocking = false)
    // Close triangles by ADJACENCY INTERSECTION, not wedge
    // materialization: per oriented source, collect the sorted
    // out-neighbor array (bounded by the orientation at ~sqrt(m)
    // entries), attach both endpoints' arrays to every oriented edge
    // (u,v), and count |N+(u) ∩ N+(v)| per edge. The wedge multiset —
    // 10-100x the edge list, and the measured GC/spill driver of the
    // earlier self-join formulation — is never materialized: total
    // work is Σ_edges (|N+(u)|+|N+(v)|), the same asymptotic bound,
    // but the only shuffles are one edge-sized aggregate and two
    // edge-sized equi-joins. Under the size gate the node-sized
    // adjacency table broadcasts and the whole closure phase is one
    // map-local stage; past it, SHUFFLE_HASH keeps the build on the
    // adjacency side and streams edges (no wedge-sized sort ever).
    // Integral node ids widen to long BEFORE collect_list (element-wise
    // cast, no array copy) so the closure count runs through the native
    // SortedLongIntersectCount — a codegen'd two-pointer merge over the
    // sorted arrays with ZERO per-row allocation. size(array_intersect)
    // builds a hash set and materializes the intersection array per
    // edge; at 10x scale that garbage was 39 s of summed GC. Non-
    // integral ids (string graphs) keep the composable fallback.
    val integralIds = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      oriented.schema("dst").dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
    }
    // Integral graphs also build the adjacency through the primitive
    // SortedLongListAgg rather than sort_array(collect_list(...)):
    // collect_list buffers BOXED longs — one box per oriented edge, and
    // at the 90M-edge x100 scale point that churn alone measured
    // 15-35 s of GC per run. Same ObjectHashAggregate plan shape, same
    // sorted-array result (the spec pins equality), zero boxing.
    //
    // The plain partial+final form is DELIBERATE, adjudicated by a
    // measured counterfactual (r14): pre-partitioning `oriented` by src
    // before the groupBy and localCheckpoint-ing the node-sized result
    // — the "serialize per-group instead of per-edge" hypothesis from
    // the r13 verdict — was built and measured at the 90M-edge x100
    // point, and it regressed EVERY axis: task time 1095→1280 s,
    // shuffle 4.2→5.3 GB (the added explicit exchange of raw edges),
    // runs_gc_ms median 15.3→47.6 s (the checkpoint's block-store
    // materialization of 9M array rows churns more than the partial
    // aggregate's buffer serialization ever did), identical sorter
    // spill (3.3 GB mem / 178 MB disk — the ObjectHashAggregate
    // fallback sorts either way at ~node-count groups). The ~15 s GC
    // floor of the plain form is serialization+sort inherent to
    // TypedImperativeAggregate at this group cardinality, not
    // allocation this plan shape can remove; numbers pinned in
    // PLANS.md §triangles-adjacency (r14).
    val adj =
      if (integralIds)
        oriented.groupBy(col("src")).agg(
          graft.plans.SortedLongListAgg.sortedLongList(
            col("dst").cast("long")).as("nbrs"))
      else
        oriented.groupBy(col("src"))
          .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    def adjSide(renameTo: String, arr: String): DataFrame = {
      val a = adj.select(col("src").as(renameTo), col("nbrs").as(arr))
      if (nEdges <= maxBroadcastEdges) broadcast(a) else a.hint("shuffle_hash")
    }
    val interCount =
      if (integralIds)
        graft.plans.SortedLongIntersectCount(col("nu"), col("nv"))
      else size(array_intersect(col("nu"), col("nv")))
    val tri = oriented
      .join(adjSide("src", "nu"), Seq("src"))
      .join(adjSide("dst", "nv"), Seq("dst"), "left")
      .select(when(col("nv").isNull, lit(0))
        .otherwise(interCount).as("c"))
      .agg(sum(col("c")).as("n_triangles"))
    val degO = oriented.select(col("src").as("n"))
      .unionAll(oriented.select(col("dst").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    val prof = degO.agg(
      count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    prof.crossJoin(tri)
      .select(col("n_nodes"), lit(nEdges).as("n_edges"), col("n_wedges"),
        // nullif: a wedge-free graph yields closed_bp NULL instead of
        // an ANSI divide-by-zero crash (GraphSpec pins this).
        col("n_triangles"),
        expr("(3 * n_triangles * 10000) div nullif(n_wedges, 0)")
          .as("closed_bp"))
  }

  /** Bounded k-core peel: `rounds` iterations of "drop nodes with
    * degree < k, restrict edges to survivors" — the density-core
    * extraction a graph pipeline runs before expensive per-node work.
    * Each round is a map-side-combined degree aggregate plus two LEFT
    * SEMI joins; the survivor set is persisted ONCE per round (it
    * feeds both semi-joins — unpersisted, the degree aggregate would
    * run twice) and node-sized, so the semi-joins broadcast. The
    * predecessor edge set releases as soon as the next is forced — at
    * most two edge sets live at any point (r7's driver bench measured
    * 2x with all four resident). Round counts are captured at force
    * time; the returned profile is a local relation costing zero extra
    * jobs: n_edges, core_r1..core_r{rounds}, edges_r{rounds}.
    *
    * Each round's edge set is localCheckpoint'ed, NOT merely persisted:
    * persist caches the data but leaves the logical plan growing by two
    * joins per round, and AQE re-plans that deepening tree on every
    * action — measured at sf0.1, rounds went from <1 s each to 5-26 s
    * of driver-side stage re-planning by round 3 (job time was flat;
    * with AQE off the blowup vanishes). Cutting lineage keeps per-round
    * planning O(1), the same checkpoint-per-iteration discipline as
    * PageRank (q136). On a multi-executor cluster swap localCheckpoint
    * for reliable checkpoint()/persist-with-replication — local blocks
    * don't survive executor loss. */
  def kcorePeel(edgesIn: DataFrame, k: Int, rounds: Int = 3): DataFrame = {
    require(rounds >= 1, "rounds must be >= 1")
    val owned = new Owned
    def survivors(e: DataFrame): DataFrame = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .filter(col("d") >= k).select(col("n"))
    def round(e: DataFrame): (DataFrame, Long, Long) = {
      val keep = survivors(e).persist(lvl)
      val coreN = keep.count()
      val nxt = owned.checkpoint(e // eager: materializes AND truncates lineage
        .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(keep.select(col("n").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v")))
      val edgeN = nxt.count()
      keep.unpersist(blocking = false)
      owned.release(e)
      (nxt, edgeN, coreN)
    }
    // Per-round wall times feed the bench details (util.Trace): an
    // iterative operator's regression must arrive attributed to the
    // round (or the edge build) that moved, not as one opaque number.
    val e0 = edgesIn.persist(lvl)
    val nEdges = graft.util.Trace.timed("edge_build")(e0.count())
    val (eLast, neLast, cores) =
      (1 to rounds).foldLeft((e0, 0L, Vector.empty[Long])) {
        case ((e, _, cs), i) =>
          val (nxt, ne, c) = graft.util.Trace.timed(s"peel_r$i")(round(e))
          (nxt, ne, cs :+ c)
      }
    owned.release(eLast)
    val coreCols = cores.zipWithIndex.map { case (c, i) =>
      lit(c).as(s"core_r${i + 1}")
    }
    edgesIn.sparkSession.range(1).select(
      lit(nEdges).as("n_edges") +: coreCols :+
        lit(neLast).as(s"edges_r$rounds"): _*)
  }

  /** Bounded BFS reachability: expand a seed set `hops` times over the
    * symmetrized edge list. Per-hop frontier expansion is ONE
    * equi-join of the (persisted) symmetric edges against the reached
    * set plus a distinct; reached sets are node-sized, so the join
    * broadcasts at moderate scale and degrades to a hash join on
    * bigger graphs. Each hop's forced count IS the profile value —
    * the predecessor frontier unpersists as soon as the next is
    * materialized, and the returned profile (reach_h0..reach_h{hops})
    * is a local relation. `seedPred` selects seed nodes from the
    * symmetrized source column `sn`.
    *
    * Frontiers are localCheckpoint'ed per hop (not merely persisted)
    * for the same reason as kcorePeel's rounds: the reached-set plan
    * otherwise grows a join+distinct per hop and AQE's driver-side
    * re-planning of the deepening tree dominates hop wall-time. */
  def bfsReach(
      edgesIn: DataFrame,
      seedPred: Column,
      hops: Int = 3,
      maxBroadcastReached: Long = 10000000L): DataFrame = {
    require(hops >= 1, "hops must be >= 1")
    val owned = new Owned
    val sym = edgesIn.select(col("u").as("sn"), col("v").as("dn"))
      .unionAll(edgesIn.select(col("v").as("sn"), col("u").as("dn")))
      .persist(lvl)
    val r0 = owned.checkpoint(
      sym.filter(seedPred).select(col("sn").as("n")).distinct())
    val c0 = graft.util.Trace.timed("seed")(r0.count())
    // The reached set is a checkpointed LogicalRDD, whose size ESTIMATE
    // is the catalog default (effectively infinite) — it never
    // auto-broadcasts, and every hop was silently planning a full
    // sort-merge join of the symmetric edge list against a node-sized
    // frame. Each hop's forced count is already in hand, so gate an
    // explicit broadcast on it; past the gate the shuffle-hash hint
    // builds on the reached side (node-sized) and streams edges.
    def expand(r: DataFrame, rCount: Long): (DataFrame, Long) = {
      val probe = r.select(col("n").as("sn"))
      val side =
        if (rCount <= maxBroadcastReached) broadcast(probe)
        else probe.hint("shuffle_hash")
      val nxt = owned.checkpoint(r.unionByName(
        sym.join(side, Seq("sn"))
          .select(col("dn").as("n")))
        .distinct())
      val c = nxt.count()
      owned.release(r)
      (nxt, c)
    }
    val (rLast, counts) = (1 to hops).foldLeft((r0, Vector(c0))) {
      case ((r, cs), h) =>
        val (nxt, c) =
          graft.util.Trace.timed(s"hop_$h")(expand(r, cs.last))
        (nxt, cs :+ c)
    }
    sym.unpersist(blocking = false)
    owned.release(rLast)
    edgesIn.sparkSession.range(1).select(
      counts.zipWithIndex.map { case (c, i) =>
        lit(c).as(s"reach_h$i")
      }: _*)
  }
}
