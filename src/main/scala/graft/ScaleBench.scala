package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up evidence for the graph/dedup flagships: replicate the
  * sf0.1 inputs `copies`× (default 10×) as DISJOINT copies — order and
  * part keys offset per copy, document ids offset and text passed
  * through a per-copy substitution cipher so near-dup structure stays
  * within a copy — write both a 1× control and the N× table through
  * the SAME writer, then run each operator shape at both scales and
  * report min-of-2 times, executor metrics, and the growth exponent
  * ln(tN/t1)/ln(N).
  *
  * Because replication is disjoint, total WORK scales ~linearly with
  * copies by construction (edges ×N, wedges ×N, LSH candidate pairs
  * ×N): the exponent is a runtime-vs-work proportionality check — ≈1.0
  * means the plan does N× the work in N× the time with no superlinear
  * cliff (shuffle blowup, OOM, broadcast collapse), which is the claim
  * that matters for a 100 TB scale-up. It is NOT a density test: a
  * graph whose density grows with size pays the documented m^1.5
  * wedge bound instead.
  *
  * Replicated tables are derived from the driver-generated testdata
  * (never synthesized from scratch) and used for TIMING only — the
  * oracle gate stays on the pristine sf dirs.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.ScaleBench"   # writes SCALE_BENCH.json
  */
object ScaleBench {
  /** A run's micro-batch seconds, read from its metrics JSON. */
  private[graft] def streamSec(met: String): Option[Double] =
    """"stream_sec":([0-9.eE+-]+)""".r.findFirstMatchIn(met)
      .map(_.group(1).toDouble)

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val work = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val outFile = args.headOption.getOrElse("SCALE_BENCH.json")
    val cpus = Session.cpus
    val spark = Session.start(Session.scale(cpus))
    // Self-report the JVM sizing into the artifact: an intermittent
    // 6-15x slowdown of the heavy shapes (cdc x1000 8.3 s vs 63-96 s,
    // GC 0.8 s vs 121 s, identical code and data) was observed when a
    // run's forked JVM came up under-provisioned — recording the actual
    // heap makes such a run self-identify instead of reading as an
    // operator regression.
    val heapGb = math.rint(
      Runtime.getRuntime.maxMemory / 1073741824.0 * 10) / 10
    System.err.println(s"""{"scale_env":{"heap_gb":$heapGb,"processors":${Runtime.getRuntime.availableProcessors}}}""")
    val metrics = new Bench.MetricsListener
    spark.sparkContext.addSparkListener(metrics)

    // ---- build replicas: ONE scan each, explode a copy index ----
    // Offsets exceed the base key ranges (l_orderkey < 150k, l_partkey
    // < 20k, doc_id < 5k at sf0.1) and the order offset is a multiple
    // of 10 so the shapes' `% 10 = 0` slice keeps per-copy membership.
    val okOff = 200000L
    val pkOff = 20000L
    val docOff = 5000L
    def replicate(n: Int, dest: String): Unit = {
      val cp = explode(sequence(lit(0), lit(n - 1))).as("cp")
      spark.read.parquet(s"$base/lineitem.parquet")
        .select(col("l_orderkey"), col("l_partkey")).select(cp, col("*"))
        .select((col("l_orderkey") + col("cp") * okOff).as("l_orderkey"),
          (col("l_partkey") + col("cp") * pkOff).as("l_partkey"))
        // Write replicas as cpus-many files: a single ~90 MB file has
        // 1-3 parquet row groups, so the scan stage of every shape
        // runs near-single-threaded and the "xN" time measures file
        // layout, not plan scaling. A real N-times-larger feed lands
        // as N times more files — replicate that.
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$dest/lineitem.parquet")
      // Per-copy FULL alphabet permutation (the replicateDocsPerm
      // construction): copies of a document share no letter mapping,
      // so dedup/LSH candidate structure is intra-copy and total pairs
      // scale linearly AT ANY copy count. The original rotation cipher
      // (rotate by 7i mod 26) repeats every 26 copies — at the deep
      // runs' copies=100, copies i and i+26 carried IDENTICAL text and
      // cross-copy duplicate pairs grew ~quadratically in copies/26,
      // which is exactly the mid(x10, all-distinct rotations) ->
      // hi(x100, 4-way collisions) superlinearity minhash_lsh's te
      // 1.25±0.06 measured across two r18 artifacts: a replication
      // artifact, not an operator wall. Fixed r19; the replica
      // provenance marker is cipher-tagged so REUSE=1 rebuilds.
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      def perm26(i: Int): String =
        if (i == 0) alpha
        else new scala.util.Random(i).shuffle(alpha.toList).mkString
      val perms26 = array((0 until n).map(i => lit(perm26(i))): _*)
      spark.read.parquet(s"$base/documents.parquet")
        .select(col("doc_id"), col("text")).select(cp, col("*"))
        .withColumn("p", element_at(perms26, col("cp").cast("int") + 1))
        .select((col("doc_id") + col("cp") * docOff).as("doc_id"),
          expr(s"translate(text, '$alpha', p)").as("text"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$dest/documents.parquet")
    }
    // Events-based shapes get a deeper replication (default 100x =
    // 10M rows): the table is small at sf0.1, and 10x would measure
    // fixed overhead, not window/aggregate work. Keys offset per copy
    // (user_id < 1500, event_id < 100000 at sf0.1) so per-key shapes
    // see disjoint key spaces — work linear in copies by construction.
    val eventsCopies =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_EVENTS_COPIES", "100").toInt
    def replicateEvents(n: Int, dest: String): Unit = {
      val cp = explode(sequence(lit(0), lit(n - 1))).as("cp")
      // events.ts is TIMESTAMP(NANOS) — read through CoreQueries.t
      // (nanosAsLong + micros conversion); the replica carries a plain
      // micros TIMESTAMP, which t() passes through untouched.
      queries.CoreQueries.t(spark, base, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value")).select(cp, col("*"))
        .select((col("event_id") + col("cp") * 10000000L).as("event_id"),
          col("ts"), (col("user_id") + col("cp") * 10000L).as("user_id"),
          col("event_type"), col("value"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$dest/events.parquet")
    }
    // Documents replicate 10x deeper than the pair shapes (docs are
    // tiny — 5k rows at sf0.1 — so the x100 point is only 500k docs;
    // the banding-knob claim needs a corpus where the default key
    // width actually starts to matter). The x100 rotation cipher
    // cannot go this deep: 26 rotations repeat every 26 copies, so at
    // 1000 copies each doc would have ~38 IDENTICAL versions and the
    // near-dup output would grow quadratically in copies/26 — and a
    // 1000-branch when-chain would be a codegen bomb anyway. Instead
    // each copy gets a FULL deterministic alphabet permutation from a
    // literal array (element_at + a non-foldable translate): distinct
    // permutations per copy, so copies share no letter mapping, dup
    // structure stays intra-copy, and work stays linear in copies by
    // construction. Copy 0 is the identity (the x1 control reads the
    // true corpus).
    val docsCopies = sys.env.getOrElse(
      "SPARK_GRAFT_SCALE_DOCS_COPIES", (10 * copies).toString).toInt
    def replicateDocsPerm(n: Int, dest: String): Unit = {
      val cp = explode(sequence(lit(0), lit(n - 1))).as("cp")
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      def perm(i: Int): String =
        if (i == 0) alpha
        else new scala.util.Random(i).shuffle(alpha.toList).mkString
      val perms = array((0 until n).map(i => lit(perm(i))): _*)
      spark.read.parquet(s"$base/documents.parquet")
        .select(col("doc_id"), col("text")).select(cp, col("*"))
        .withColumn("p", element_at(perms, col("cp").cast("int") + 1))
        .select((col("doc_id") + col("cp") * docOff).as("doc_id"),
          expr(s"translate(text, '$alpha', p)").as("text"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$dest/documents.parquet")
    }
    // Span-DENSE documents (r18): remove_spans' reassembly filter is
    // O(tokens x spans) per document, and the default corpus is span-
    // SPARSE (a handful of spans per affected doc) — the operator's
    // target workload (template-heavy crawl dumps) is the opposite.
    // This corpus makes ~half of all positions covered by MANY short
    // spans: 10 base docs concatenate into one ~1000-own-token
    // document, and a fixed 5-token boilerplate phrase is injected
    // between every 5-own-token chunk — every injection is a
    // cross-document duplicated 5-gram (one span each), so a ~2000-
    // token doc carries ~200 disjoint 5-token spans (~50% coverage,
    // tokens x spans ~ 400k interval checks/doc under the filter()
    // form). The per-copy alphabet permutation also permutes the
    // boilerplate's letters, so spans stay intra-copy and work stays
    // linear in copies by construction.
    def replicateDocsDense(n: Int, dest: String): Unit = {
      val boiler = "qzjxv wkqbz jvqxd pzqkw xqvzb"
      val grouped = spark.read.parquet(s"$base/documents.parquet")
        .groupBy(expr("doc_id div 10").as("gid"))
        .agg(concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(doc_id, text)))," +
            " s -> s.text)")).as("t0"))
        .withColumn("__t", split(trim(col("t0")), "\\s+"))
        .select(col("gid"), concat_ws(s" $boiler ", expr(
          "transform(sequence(0, cast((size(__t) + 4) / 5 as int) - 1)," +
            " k -> concat_ws(' ', slice(__t, k * 5 + 1, 5)))")).as("text"))
      val cp = explode(sequence(lit(0), lit(n - 1))).as("cp")
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      def perm(i: Int): String =
        if (i == 0) alpha
        else new scala.util.Random(i).shuffle(alpha.toList).mkString
      val perms = array((0 until n).map(i => lit(perm(i))): _*)
      grouped.select(col("gid"), col("text")).select(cp, col("*"))
        .withColumn("p", element_at(perms, col("cp").cast("int") + 1))
        .select((col("gid") + col("cp") * docOff).as("doc_id"),
          expr(s"translate(text, '$alpha', p)").as("text"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$dest/documents.parquet")
    }

    // Embeddings replicate deep like events (2000 vectors at sf0.1 —
    // 10x only measures overhead): 100x = 200k vectors. Vectors are
    // reused verbatim across copies (offset ids); that is fine for
    // TIMING — top-k scoring work depends on corpus size, not vector
    // values — and these replicas never feed the recall oracles.
    val embCopies =
      sys.env.getOrElse("SPARK_GRAFT_SCALE_EMB_COPIES", "100").toInt
    val embOff = 2000L
    def replicateEmb(n: Int, dest: String): Unit = {
      val cp = explode(sequence(lit(0), lit(n - 1))).as("cp")
      spark.read.parquet(s"$base/embeddings.parquet")
        .select(col("vec_id"), col("embedding")).select(cp, col("*"))
        .select((col("vec_id") + col("cp") * embOff).as("vec_id"),
          col("embedding"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")
    }
    val dir1 = s"$work/x1"
    val dirN = s"$work/x$copies"
    val dirE1 = s"$work/ev_x1"
    val dirEN = s"$work/ev_x$eventsCopies"
    val dirM1 = s"$work/emb_x1"
    val dirMN = s"$work/emb_x$embCopies"
    val dirD1 = s"$work/doc_x1"
    val dirDN = s"$work/doc_x$docsCopies"
    // SPARK_GRAFT_SCALE_REUSE=1 skips re-replicating a dest that was
    // completely written FROM THE SAME INPUTS — replication (especially
    // the 100M-row events decade) dominates wall time when iterating on
    // shapes. Replicas are a pure function of (base SF dir, copies), so
    // the provenance marker records exactly that pair: a reuse run
    // against a different SPARK_GRAFT_SF_DIR (or copy count) rebuilds
    // instead of silently benchmarking stale data.
    val reuse = sys.env.get("SPARK_GRAFT_SCALE_REUSE").contains("1")
    def marker(dest: String) = java.nio.file.Paths.get(s"$dest/_GRAFT_REPLICA")
    def complete(dest: String, tables: Seq[String], prov: String): Boolean =
      tables.forall(t => java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dest/$t.parquet/_SUCCESS"))) &&
        java.nio.file.Files.exists(marker(dest)) &&
        java.nio.file.Files.readString(marker(dest)) == prov
    // `tag` extends the provenance marker when a family's replication
    // RECIPE changes (not just its inputs): the r19 cipher fix must not
    // let REUSE=1 benchmark replicas written by the old rotation cipher.
    def build(dest: String, tables: Seq[String], n: Int, tag: String = "")(
        write: => Unit): Unit = {
      val prov = s"base=$base copies=$n$tag"
      if (!(reuse && complete(dest, tables, prov))) {
        java.nio.file.Files.deleteIfExists(marker(dest))
        write
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dest))
        java.nio.file.Files.writeString(marker(dest), prov)
      }
    }
    build(dir1, Seq("lineitem", "documents"), 1, " cipher=perm")(
      replicate(1, dir1))
    build(dirN, Seq("lineitem", "documents"), copies, " cipher=perm")(
      replicate(copies, dirN))
    build(dirE1, Seq("events"), 1)(replicateEvents(1, dirE1))
    build(dirEN, Seq("events"), eventsCopies)(replicateEvents(eventsCopies, dirEN))
    build(dirM1, Seq("embeddings"), 1)(replicateEmb(1, dirM1))
    build(dirMN, Seq("embeddings"), embCopies)(replicateEmb(embCopies, dirMN))
    build(dirD1, Seq("documents"), 1)(replicateDocsPerm(1, dirD1))
    build(dirDN, Seq("documents"), docsCopies)(
      replicateDocsPerm(docsCopies, dirDN))
    // ---- MID scale point (r18): the exponent's x1 denominator is a
    // 1-2 s wall that swings 2x with shared-box weather — ppjoin's te
    // read 0.99/1.01/1.04/1.11 across five artifacts of IDENTICAL code
    // and cost three rounds of adjudication prose. The stable signal
    // is the growth between the two LARGEST points (task time in tens
    // vs hundreds of seconds — relative jitter shrinks with the sum),
    // so every family also builds an n/10 replica and task_exponent is
    // now computed mid -> hi on MEDIAN summed task time (the x1-based
    // value stays in the artifact as task_exponent_x1 for
    // cross-artifact continuity). Mid replicas cost ~10% of the hi
    // build and each sample round one extra ~hi/10 execution.
    def midFor(n: Int): Option[Int] = {
      val m = math.max(2, n / 10)
      if (m < n) Some(m) else None
    }
    val midL = midFor(copies)
    val midE = midFor(eventsCopies)
    val midM = midFor(embCopies)
    val midD = midFor(docsCopies)
    val dirMidL = midL.map { m =>
      val d = s"$work/x$m"
      build(d, Seq("lineitem", "documents"), m, " cipher=perm")(
        replicate(m, d)); d
    }
    val dirMidE = midE.map { m =>
      val d = s"$work/ev_x$m"
      build(d, Seq("events"), m)(replicateEvents(m, d)); d
    }
    val dirMidM = midM.map { m =>
      val d = s"$work/emb_x$m"
      build(d, Seq("embeddings"), m)(replicateEmb(m, d)); d
    }
    val dirMidD = midD.map { m =>
      val d = s"$work/doc_x$m"
      build(d, Seq("documents"), m)(replicateDocsPerm(m, d)); d
    }

    // ---- the shapes: same operators the oracle-checked queries call,
    // with id bounds rewritten per-copy (doc_id % docOff, part % pkOff)
    // so seed/slice sizes scale WITH the data instead of staying
    // pinned to copy 0.
    import graft.operators.{Dedup, Graph}
    def li(dir: String) = spark.read.parquet(s"$dir/lineitem.parquet")
    def docs(dir: String) = spark.read.parquet(s"$dir/documents.parquet")
    // The LSH corpus: a 300-doc slice per copy plus TWO in-plan
    // mutants per doc (drop the first 3 / first 6 words; ids offset to
    // +600/+1200 within the copy's id space — disjoint from the slice
    // and from each other). The synthetic corpus has NO native
    // trigram near-dups (brute-forced r19: zero pairs at jaccard 0.5
    // in the slice), so the mutants supply the near-dup families the
    // operator exists to find — per-copy structure identical up to the
    // cipher, so candidate and verified-pair mass is ~linear in copies
    // by construction, and each family is a 3-clique for cc to merge.
    //
    // Operator DEFAULTS (shingleN=3, threshold 0.5): the r18/r19-run1
    // shape overrode shingleN to 1, and on this ~20-word vocabulary
    // unigram band keys are DEGENERATE — measured r19 (run-1 artifact
    // + bucket probe): band buckets of 531 docs at x100 grew to 2962
    // at x1000 (a bucket bigger than one copy's 300-doc slice spans
    // copies: short-word images under two alphabet permutations
    // coincide, so band keys collide ACROSS copies), 8.1M raw pairs
    // for 30k docs (270/doc — the banding discriminates nothing), and
    // the verify shuffle grew 93x for 10x data. At trigram shingling
    // the same probe reads max_bucket 4 and exactly-linear candidates
    // — banding doing its job. The unigram reading was the operator's
    // own scaladoc'd degenerate regime (tiny-vocab shingles; "probe
    // candidates first"), not a scale wall.
    def lshPairs(dir: String) = {
      val sl = docs(dir).filter(col("doc_id") % docOff < 300)
        .select(col("doc_id"), col("text"))
      def dropWords(n: Int, off: Int) = sl.select(
        (col("doc_id") + off).as("doc_id"),
        concat_ws(" ",
          slice(split(col("text"), " "), n + 1, 100000)).as("text"))
      val corpus = sl
        .unionByName(dropWords(3, 600)).unionByName(dropWords(6, 1200))
      Dedup.minhashLsh(corpus, "doc_id", "text",
        k = 8, bands = 4, shingleN = 3, threshold = 0.5)
    }
    val shapes: Seq[(String, String => DataFrame)] = Seq(
      "triangles" -> (dir => Graph.trianglesProfile(
        Graph.coOccurrenceEdges(li(dir), "l_orderkey", "l_partkey"))),
      "kcore_peel" -> (dir => Graph.kcorePeel(
        Graph.coOccurrenceEdges(li(dir).filter(col("l_orderkey") % 10 === 0),
          "l_orderkey", "l_partkey", broadcastBuild = true),
        k = 8, rounds = 3)),
      "bfs_hops" -> (dir => Graph.bfsReach(
        Graph.coOccurrenceEdges(li(dir).filter(col("l_orderkey") % 10 === 0),
          "l_orderkey", "l_partkey", broadcastBuild = true),
        seedPred = col("sn") % pkOff < 100, hops = 3)),
      // The BLOCKED banding (q199): the legacy 15-bit chunk join
      // (q39's shape) was measured quadratic at this scale point —
      // random chunk collisions grow n²/2^15, and at 500k docs that
      // was 3.5 GB of sorter spill, ~42 s GC and 608 s of task time
      // for a shape whose x1 task time is ~1 s. The multi-block
      // construction keys candidates on 30 concatenated bits
      // (C(6,3) tables), keeping them output-sized; recall at
      // hamming<=3 is complete in BOTH forms, so this measures the
      // same retrieval contract on the layout that survives scale.
      "simhash_dup" -> (dir =>
        Dedup.simhashDupBlocked(docs(dir), "doc_id", "text",
          maxHamming = 3, blocks = 6)),
      // Storage-layout pair: the SAME orderkey self-join (≈4 partners
      // per key, keys disjoint per copy → pairs linear in N) over
      // bucketed vs plain storage. The bucketed side pays its one-time
      // bucketBy write on the first sample only (Bucketed.ensure
      // memoizes per dir) and then joins with ZERO exchange —
      // shuffle_read_mb in its metrics must stay ~0 at both scales
      // while plain_join's grows ~linearly: the artifact-visible proof
      // that co-located layout removes the per-query shuffle, not just
      // defers it. Both pin the SMJ template (hint merge) so the
      // comparison is exchange-vs-no-exchange, not join-strategy drift.
      // The post-agg filter makes the harness count depend on the
      // joined values (same no-eliminated-work trick as the as-of pair).
      "bucketed_join" -> (dir => {
        import graft.operators.Bucketed
        val b = Bucketed.ensure(spark, dir, "lineitem",
          Seq("l_orderkey"), cpus)(li(dir))
        val l = b.select(col("l_orderkey"), col("l_partkey").as("pa"))
        val r = b.select(col("l_orderkey").as("ok_b"), col("l_partkey").as("pb"))
        Bucketed.colocatedJoin(l, r, l("l_orderkey") === r("ok_b"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("pa") + col("pb")).as("psum"))
          .where(col("n_pairs") >= 0)
      }),
      "plain_join" -> (dir => {
        val l = li(dir).select(col("l_orderkey"), col("l_partkey").as("pa"))
        val r = li(dir).select(col("l_orderkey").as("ok_b"),
          col("l_partkey").as("pb"))
        l.hint("merge").join(r, l("l_orderkey") === r("ok_b"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("pa") + col("pb")).as("psum"))
          .where(col("n_pairs") >= 0)
      }))
    // Events-based window/aggregate shapes — the oracle-checked query
    // lambdas run unmodified on the replicated dir (no id-bound
    // filters inside them).
    val eventShapes: Seq[(String, String => DataFrame)] = Seq(
      "mad_outliers" ->
        (dir => SparkEntry.queries("q178_mad_outliers")(spark, dir)),
      "cdc_apply" ->
        (dir => SparkEntry.queries("q173_cdc_apply")(spark, dir)),
      "time_weighted" ->
        (dir => SparkEntry.queries("q152_time_weighted")(spark, dir)),
      // Streaming shapes at 100x: what should amortize (micro-batch
      // row work) vs what must stay fixed (driver-side setup — probe,
      // checkpoint, query start; reported via setup_sec in metrics).
      // Output stays collect-safe at both scales: hourly agg is
      // hours x types (~3.6k rows), dedup keys are users x types
      // (~500k at 100x). The stream-stream join is deliberately NOT
      // run here: a drain-everything replay of a month of history in
      // one batch holds BOTH sides' full row sets in join state, which
      // measures the replay artifact, not the deployment shape (state
      // there is bounded by watermark x arrival rate).
      "stream_hourly" ->
        (dir => SparkEntry.queries("q44_stream_hourly")(spark, dir)),
      "stream_dedup" ->
        (dir => SparkEntry.queries("q184_stream_dedup")(spark, dir)),
      // The as-of pair: identical semantics, two physical strategies —
      // the union+window composition (q48) vs the native merge operator
      // (q189). Same scale, same data, so the xN delta is the direct
      // cost of the union row inflation + struct padding + window
      // buffering the native exec eliminates. The harness counts rows,
      // and Catalyst is aggressive about work that cannot affect a
      // count: a bare count() over the join prunes the unused window
      // column, and count() over a global aggregate folds to the
      // constant 1 without running it. The filter on the aggregate
      // output makes the count DEPEND on the matched values, so both
      // measurements complete the same work (verified: both return
      // n_matched=1842800 with identical gap sums at x100).
      "asof_window" ->
        (dir => SparkEntry.queries("q48_asof_join")(spark, dir)
          .agg(count(col("purchase_event_id")).as("n_matched"),
            sum(col("gap_us")).as("total_gap_us"))
          .where(col("n_matched") >= 0)),
      "asof_native" ->
        (dir => SparkEntry.queries("q189_asof_native")(spark, dir)
          .agg(count(col("purchase_event_id")).as("n_matched"),
            sum(col("gap_us")).as("total_gap_us"))
          .where(col("n_matched") >= 0)))

    // Documents-deep shapes (10x past the pair shapes' corpus): the
    // operators whose 100 TB story depends on candidate growth staying
    // output-sized as the corpus grows.
    def docsD(dir: String) = spark.read.parquet(s"$dir/documents.parquet")
    val docShapes: Seq[(String, String => DataFrame)] = Seq(
      // MinHash+LSH banding pairs (see lshPairs above for the corpus
      // construction and the two measured r19 corrections: the r18
      // rotation-cipher repeat that carried IDENTICAL cross-copy docs
      // above 26 copies, and the unigram-shingle banding degeneracy
      // that survived the cipher fix). Moved here in r19 from the
      // lineitem family, a decade deeper: mid = 90k docs (300 docs +
      // 600 mutants per copy x 100), hi = 900k — deep enough that the
      // top decade measures marginal signature+banding+verify work.
      "minhash_lsh" -> (dir => lshPairs(dir)),
      // Connected components over the LSH pair output — its edges ARE
      // lshPairs' output, so both r18/r19-run1 corpus artifacts fed it
      // directly (te read 1.31/1.05 in r18, 1.18 in r19 run 1); the
      // mutant families give it real 3-clique components to merge,
      // ~linear in copies by construction.
      "cc_distributed" -> (dir =>
        Dedup.connectedComponents(
          lshPairs(dir).select(col("id_a"), col("id_b")),
          driverEdgeThreshold = 0L)
          .groupBy(col("label")).agg(count(lit(1)).as("n_members"))),
      // The DEFAULT key (b=6, 30-bit tables) — a choice the knob probe
      // below justifies with measured counts instead of the n²/2^k
      // model alone: at 5M docs the widened b=8 key does cut distinct
      // candidates 2.8x (36.1M -> 13.0M), but its C(8,5)=56-table
      // explode carries 2.8x the rows through the banding join and
      // costs ~3x the wall (the r14 first cut ran b=8 here: 205-297 s
      // vs b=6, with the exchange of 280M keyed rows dominating —
      // paying explode volume to suppress collisions that are not yet
      // the bottleneck). Candidates at b=6 are 21x the true pairs and
      // output-bounded; the crossover to b=8 sits where random
      // collisions C(6,3)·n²/2^30 overtake the explode cost (~50M
      // docs by the model SCALE.md derives from the two measured
      // probe points).
      "simhash_deep" -> (dir =>
        Dedup.simhashDupBlocked(docsD(dir), "doc_id", "text",
          maxHamming = 3, blocks = 6)),
      // DSIR importance weights (q210's operator) at depth: three
      // token passes (raw bucket counts, target bucket counts, score
      // join against the broadcast 1024-row ratio table), all
      // map-side-combined aggregates over (id, bucket) pairs — expected
      // exponent ~1.0 in corpus tokens. The target is the same %19
      // slice at BOTH scales, so target-side work grows with the
      // corpus too; production pins the trusted corpus while raw
      // grows, so this measures the worse case. fastHash (xxhash64
      // buckets) is the scale configuration — the md5 default
      // allocates a 32-char string per token and measured ~24 s GC of
      // a 40 s wall at 5M docs; the oracle-exact md5 form stays q210's.
      "dsir_weights" -> (dir =>
        graft.operators.Curation.importanceTopK(
          graft.operators.Curation.importanceWeights(docsD(dir),
            docsD(dir).filter(col("doc_id") % 19 === 0),
            "doc_id", "text", nBuckets = 1024, seed = 7, fastHash = true),
          "doc_id", 50)),
      // DSIR on the paper's hashed-BIGRAM feature space (q213's
      // operator, n = 2, fastHash scale configuration): ~2x the feature
      // explode volume of the unigram shape (len-1 windows vs len
      // tokens, each concat-hashed), same bucket-aggregate plan — the
      // deep point measures whether the wider feature stream moves the
      // exponent (the (id, bucket) pair shuffle grows with n).
      "dsir_ngram" -> (dir =>
        graft.operators.Curation.importanceTopK(
          graft.operators.Curation.importanceWeights(docsD(dir),
            docsD(dir).filter(col("doc_id") % 19 === 0),
            "doc_id", "text", nBuckets = 1024, seed = 7, fastHash = true,
            n = 2),
          "doc_id", 50)),
      // Mixture apply (q205's operator) at depth: a broadcast 20-row
      // plan (rates 5000-25000 bp — down- AND up-sampling), copy counts
      // by md5 residue, replication via a narrow explode. ZERO
      // shuffles; output mass = the planned ~1.5x input rows of full
      // text. Linear by construction — the measurement guards the
      // explode-with-payload path, the one place a regression would
      // hide (e.g. a shuffle sneaking in ahead of the explode).
      "mixture_apply" -> (dir => {
        val plan = spark.range(20).select(
          concat(lit("src"), col("id")).as("source"),
          ((col("id") % 5 + 1) * 5000L).as("rate_bp"))
        graft.operators.Curation.applyMixture(
          docsD(dir).withColumn("source",
            concat(lit("src"), col("doc_id") % 20)),
          "source", plan, "text", seed = 11)
      }))
    // PPJoin-class prefix-filter join: oracle-covered (q138/q202) but
    // previously without a deep point — its candidate growth is the
    // next most likely hidden wall of the same class the simhash x100
    // extension caught (r13). The SHINGLED form (q202's exact
    // configuration: 3-word xxhash64 shingles, Jaccard >= 0.6) — the
    // word-token form is structurally quadratic on this corpus (31-word
    // vocabulary → word df Θ(n), random word-Jaccard ~0.59, TRUE output
    // Θ(n²); the first smoke of it measured 68 GB of shuffle scratch at
    // 500k docs before being killed — the probe caught a mis-specified
    // shape, not a broken operator). Shingled, the cipher keeps shingle
    // vocab disjoint per copy, so candidates (~300k/copy, measured in
    // DuckDB) scale linearly by construction and a superlinear exponent
    // here is a real algorithmic wall. Runs at its OWN corpus cap —
    // x100 docs (500k) — because its verify stage carries two ~52-long
    // arrays per candidate (~25 GB at x100; x1000 would be a 250 GB
    // verify for no extra signal about candidate growth).
    val ppjoinCopies = math.min(docsCopies, 100)
    val dirDP =
      if (ppjoinCopies == docsCopies) dirDN else s"$work/doc_x$ppjoinCopies"
    if (ppjoinCopies != docsCopies)
      build(dirDP, Seq("documents"), ppjoinCopies)(
        replicateDocsPerm(ppjoinCopies, dirDP))
    // ppjoin's mid point (doc_x10 at the default cap) — THE shape whose
    // x1-denominator te instability motivated the mid basis.
    val midP = midFor(ppjoinCopies)
    val dirMidP = midP.map { m =>
      val d = s"$work/doc_x$m"
      build(d, Seq("documents"), m)(replicateDocsPerm(m, d)); d
    }
    // Span-dense corpus (see replicateDocsDense): same x100 cap as the
    // other span shapes.
    val denseCopies = ppjoinCopies
    val dirDd1 = s"$work/doc_dense_x1"
    val dirDdN = s"$work/doc_dense_x$denseCopies"
    build(dirDd1, Seq("documents"), 1)(replicateDocsDense(1, dirDd1))
    build(dirDdN, Seq("documents"), denseCopies)(
      replicateDocsDense(denseCopies, dirDdN))
    val midDd = midFor(denseCopies)
    val dirMidDd = midDd.map { m =>
      val d = s"$work/doc_dense_x$m"
      build(d, Seq("documents"), m)(replicateDocsDense(m, d)); d
    }
    val denseShapes: Seq[(String, String => DataFrame)] = Seq(
      // remove_spans on the span-DENSE corpus: ~200 disjoint 5-token
      // spans per ~2000-token doc (~50% coverage). This is the deep
      // point that stresses the REASSEMBLY side (span-list aggregate +
      // per-token excision) rather than the detection side — the
      // operator's actual workload on template-heavy crawl data. Same
      // eliminated-work forcing as remove_spans: aggregate over the
      // computed columns, guard filter referencing them.
      "remove_spans_dense" -> (dir =>
        graft.operators.Curation.removeDuplicatedSpans(docsD(dir),
          "doc_id", "text", n = 5, minDf = 2, fastHash = true)
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_removed")).as("toks_removed"),
            sum(length(col("clean_text"))).as("clean_chars"))
          .where(col("toks_removed") >= 0 && col("clean_chars") >= 0)),
      // DETECTION-only at the same ~50% span density (r19): the dense
      // ladder above measures detect+excise together, so the two growth
      // terms — the gram-exchange/window-df side and the reassembly
      // side — were never separated at high dup density. This point
      // validates the OutputMass gram-exchange sizing independently of
      // reassembly: its output is span rows (the groupBy(id, span_id)
      // run-merge), so count() must execute the whole detection
      // pipeline — the dup-probe join feeding the groups cannot be
      // pruned away (same forcing argument as the sparse dup_spans
      // shape; the memory-gotcha class is LEFT-OUTER reassembly joins,
      // which detection does not have).
      "dup_spans_dense" -> (dir =>
        graft.operators.Curation.duplicatedSpans(docsD(dir),
          "doc_id", "text", n = 5, minDf = 2, fastHash = true)))
    val ppjoinShapes: Seq[(String, String => DataFrame)] = Seq(
      "ppjoin_prefix" -> (dir =>
        Dedup.prefixFilterPairs(docsD(dir), "doc_id", "text",
          thresholdBp = 6000, shingle = 3)),
      // Directed containment (q204's exact configuration) at the same
      // corpus cap and for the same reason: its candidate join probes
      // the FULL token index with A-prefix tokens (the B side cannot
      // be prefix-limited), so its hidden-wall risk is strictly higher
      // than the symmetric join's — r15 gives it a measured deep point
      // instead of an argument. Same verify lifecycle/strategy as
      // prefixFilterPairs since r15.
      // coMassBudget raised DELIBERATELY (the documented escape hatch):
      // the shingled form's mass is measured linear in copies
      // (containment_knob: 2.79M/copy, max per-shingle df 63), so a
      // deep point past ~700 copies legitimately exceeds the 2e9
      // default without being degenerate — this is the "I know how
      // much join traffic this is" case the parameter exists for.
      "containment" -> (dir =>
        Dedup.containmentPairs(docsD(dir), "doc_id", "text",
          thresholdBp = 6000, shingle = 3, coMassBudget = 50000000000L)),
      // Incremental corpus dedup (q160's operator) at depth — the last
      // dedup-family row whose scale story was argued, not measured.
      // The INCOMING batch is FIXED (the x1 corpus, 5k docs); the
      // CORPUS grows with the scale point, so the expected exponent is
      // ~1.0 driven by the corpus-side index build (signatures over
      // the corpus run per call here; a production deployment persists
      // that index between batches, making the per-batch cost the
      // probe joins only — the operator scaladoc carries the
      // contract). A superlinear exponent would mean the band-bucket
      // probe quadratics in corpus size — the wall this measurement
      // exists to catch.
      "dedup_against" -> (dir =>
        Dedup.dedupAgainst(
          corpus = docsD(dir),
          incoming = docsD(dirD1),
          "doc_id", "text", k = 8, bands = 4, shingleN = 1,
          threshold = 0.9)),
      // Duplicated-span detection (q211's operator): position explode
      // is token-sized, the window-df aggregate rides the output-mass-
      // sized gram exchange (OutputMass — 500M windows through 32
      // input-byte-sized partitions measured 18.4 GB mem + 5.3 GB disk
      // spill before the rewrite; zero after, te 1.06 → 0.91 at
      // x1000), min≠max df test for minDf=2, shuffle_hash dup probe,
      // run-merge window per DOCUMENT only. fastHash (xxhash64 LONG
      // keys) is the scale configuration — the md5-string default
      // measured 2.8 GB of 32-char-key shuffle at 50M windows. Runs at
      // the x100 cap for the ppjoin reason: the shape is measured
      // linear and x1000 only adds ~15 suite-minutes of the same
      // signal (the one-off x1000 point is recorded in SCALE.md).
      "dup_spans" -> (dir =>
        graft.operators.Curation.duplicatedSpans(docsD(dir),
          "doc_id", "text", n = 5, minDf = 2, fastHash = true)),
      // Span REMOVAL (q212's operator): detection (above) plus the
      // per-doc span-list aggregate and the one id-keyed join where
      // document bodies reassemble — the only body-width shuffle in
      // the span family, and the reason this shape exists: its output
      // mass is corpus-sized text, so a superlinear exponent here
      // would mean the reassembly join (not the detection) stopped
      // scaling. Same x100 cap and fastHash configuration as
      // dup_spans. Forced through an aggregate over the COMPUTED
      // columns (the asof-pair trick), with the guard filter on the
      // EXPENSIVE aggregates: a bare count() preserves the left-outer
      // join's cardinality, so Catalyst — correctly — eliminates the
      // unique-keyed spans side and the whole detection pipeline with
      // it (measured: 1.1 s "x100", i.e. a scan); and a guard on
      // n_docs alone lets column pruning drop the sums and reach the
      // same elimination (measured: count 0.77 s vs show 9.5 s on the
      // identical frame). The filter must reference the columns whose
      // computation is the work being timed.
      "remove_spans" -> (dir =>
        graft.operators.Curation.removeDuplicatedSpans(docsD(dir),
          "doc_id", "text", n = 5, minDf = 2, fastHash = true)
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_removed")).as("toks_removed"),
            sum(length(col("clean_text"))).as("clean_chars"))
          .where(col("toks_removed") >= 0 && col("clean_chars") >= 0)))

    // Similarity shapes: a FIXED 100-query set against the replicated
    // corpus — query work constant, corpus work xN. Brute force is the
    // exact baseline (expected exponent ~1: linear in corpus by
    // construction); the sign-bucketed IVF form is the scale path (an
    // equi-join on the cell, same top-k semantics, expected well under
    // brute's constant). Queries come from copy 0 so both scales rank
    // against identical query vectors.
    import graft.operators.Similarity
    def emb(dir: String) = spark.read.parquet(s"$dir/embeddings.parquet")
    val embShapes: Seq[(String, String => DataFrame)] = Seq(
      "ann_brute" -> (dir => Similarity.bruteForceTopK(
        emb(dir), emb(dir).filter(col("vec_id") < 100),
        "vec_id", "embedding", k = 5)),
      "ann_bucketed" -> (dir => Similarity.bucketedTopK(
        emb(dir), emb(dir).filter(col("vec_id") < 100),
        "vec_id", "embedding", k = 3)),
      // Semantic dedup WITH the skew guard armed, on deliberately
      // adversarial data: the replicas are 100 identical copies of each
      // base vector (offset ids), so every k-means cell is ~100x
      // oversized AND each distinct vector's copies share one sign
      // pattern — both guard tiers (sign sub-bucket, then id-hash salt)
      // must fire or the pair join quadratics out at ~(100|c|)^2 per
      // cell. With the guard, candidate pairs are hard-bounded at
      // ~N*maxCellSize/2 (SimilaritySpec pins the bound at unit scale).
      "semantic_dedup_guarded" -> (dir => Similarity.semanticDedup(
        emb(dir), "vec_id", "embedding", k = 8, iters = 1,
        threshold = 0.95, maxCellSize = 256)
        .groupBy(col("centroid_id"), col("dropped"))
        .agg(count(lit(1)).as("n"))))

    def r4(sec: Double): Double = math.rint(sec * 10000) / 10000
    // One timed execution: wall, spliced metrics, rows. A FAILED run
    // must still drain the trace and release shared state — a skipped
    // drain would splice the failed shape's setup/stream/phase entries
    // into the NEXT shape's metrics, and skipped cleanup would bleed
    // its caches/broadcasts into the next measurement (worse under
    // interleaving, where the contaminated successor differs per
    // round). The release is Bench's full barrier (r11): a clearCache
    // plus one GC left broadcast blocks, terminated-stream plans and
    // state-store providers draining ASYNC while the next shape
    // measured — one heavy predecessor (cdc's 10 GB external sort, the
    // ANN broadcast) bled multi-second GC into its successor and single
    // shapes spiked 3-6x run-to-run (time_weighted 8.7 s vs 53.5 s
    // across otherwise-identical runs).
    def onceMeasure(fn: String => DataFrame, dir: String): (Double, String, Long) = {
      metrics.reset()
      val t0 = System.nanoTime()
      var traced = ""
      val (sec, m0, rows) =
        try {
          // var + null-out, same discipline as Bench: a stack-reachable
          // frame pins its executed plan (broadcasts included) through
          // the release barrier, so the debris would survive into the
          // NEXT shape's measurement (observed: cdc/time_weighted x1000
          // task time 4-8x with the reference retained).
          var df = fn(dir)
          val rows = df.count()
          val sec = r4((System.nanoTime() - t0) / 1e9)
          df = null
          (sec, metrics.json(), rows)
        } finally {
          traced = util.Trace.drainJson()
          // A successful measurement must survive a cleanup hiccup: an
          // uncaught exception here would discard the already-computed
          // sample AND mark the shape failed for every remaining round
          // (the run loop skips failed shapes). Log and continue — a
          // missed release shows up in the next run's leak-visible
          // metrics rather than silently zeroing this shape's artifact.
          try Session.release(spark) catch { case e: Throwable =>
            System.err.println(s"[scale] post-measure release failed: $e")
          }
        }
      // Streaming shapes: the setup/micro-batch split lands in the run's
      // metrics (same contract as Bench) — the x1 vs xN compare is only
      // meaningful on stream_sec, since setup is fixed cost.
      val m = if (traced.isEmpty) m0 else m0.dropRight(1) + "," + traced + "}"
      (sec, m, rows)
    }

    // warmup: reader + codegen init off the clock, and the streaming
    // machinery too — the FIRST streaming query in a JVM pays ~10 s of
    // one-time cost (state-store providers, micro-batch planner,
    // streaming codegen/JIT) that would otherwise land in whichever
    // streaming shape runs first and invert its exponent (observed:
    // stream_hourly x1 12.6 s cold vs 2.0 s at x100 warm).
    li(dir1).count(); docs(dir1).count()
    SparkEntry.queries("q44_stream_hourly")(spark, dirE1).count()
    Session.release(spark)
    // Phase recording starts with the first measurement; each
    // onceMeasure drains it once.
    util.Trace.enabled = true

    // Targeted iteration: SPARK_GRAFT_SCALE_SHAPES=cdc_apply,stream_dedup
    // runs only the named shapes (full artifact runs leave it unset —
    // a filtered output must never replace the artifact of record, so
    // filtered runs write to SCALE_BENCH_partial.json).
    val shapeFilter = sys.env.get("SPARK_GRAFT_SCALE_SHAPES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // True median: average of the middle two for an even count (a
    // shape that failed after some rounds reports its completed
    // samples — lower-middle would quietly reintroduce the min bias
    // the median basis exists to remove).
    def median(runs: Seq[Double]): Double = {
      val s = runs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // THREE samples per scale point, reporting min AND median; the
    // exponent is computed on MEDIANS (min-of-N hides that a single
    // cold run can dominate a grade in either direction). Sampling is
    // INTERLEAVED: round-robin over all shapes per round, with the
    // shape order stride-permuted each round, so a shape's samples come
    // from three different run NEIGHBORHOODS. Sequential per-shape
    // blocks let one heavy predecessor (or accumulated shared-JVM
    // state — code-cache growth, megamorphic dispatch in the shared
    // aggregation iterators, G1 region history) contaminate all three
    // samples of the same shape identically, which a median cannot
    // reject (measured: mad_outliers [23.2, 21.9, 20.0] in-suite after
    // the six doc-shape blocks vs 14.4 s isolated — every sample
    // inflated the same way). Per-run metrics ride the min run
    // (least-noise attribution of WHERE time goes); the runs list
    // shows the spread.
    val samplesPerPoint = 3
    // The two streaming shapes take FIVE samples (r13 verdict: one of
    // three stream_hourly GC draws landed above the 5 s bar — the
    // median was under, but a 3-draw margin is thin for the noisiest
    // shapes in the suite and they are also its cheapest, so widening
    // the sample count costs minutes and buys an adjudicable margin).
    final case class Job(name: String, fn: String => DataFrame,
        lo: String, hi: String, n: Int,
        mid: Option[String] = None, m: Int = 0,
        samples: Int = samplesPerPoint)
    val jobs: Seq[Job] =
      (shapes.map { case (nm, fn) =>
        Job(nm, fn, dir1, dirN, copies, dirMidL, midL.getOrElse(0)) } ++
        eventShapes.map { case (nm, fn) =>
          Job(nm, fn, dirE1, dirEN, eventsCopies,
            dirMidE, midE.getOrElse(0),
            samples = if (nm.startsWith("stream_")) 5 else samplesPerPoint) } ++
        docShapes.map { case (nm, fn) =>
          Job(nm, fn, dirD1, dirDN, docsCopies,
            dirMidD, midD.getOrElse(0)) } ++
        ppjoinShapes.map { case (nm, fn) =>
          Job(nm, fn, dirD1, dirDP, ppjoinCopies,
            dirMidP, midP.getOrElse(0)) } ++
        denseShapes.map { case (nm, fn) =>
          Job(nm, fn, dirDd1, dirDdN, denseCopies,
            dirMidDd, midDd.getOrElse(0)) } ++
        embShapes.map { case (nm, fn) =>
          Job(nm, fn, dirM1, dirMN, embCopies,
            dirMidM, midM.getOrElse(0)) })
        .filter(j => shapeFilter.forall(_.contains(j.name)))
    val runs1 = scala.collection.mutable.Map.empty[String, Vector[(Double, String)]]
    val runsM = scala.collection.mutable.Map.empty[String, Vector[(Double, String)]]
    val runsN = scala.collection.mutable.Map.empty[String, Vector[(Double, String)]]
    val rowsOf = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val failed = scala.collection.mutable.Map.empty[String, String]
    val maxSamples = jobs.map(_.samples).maxOption.getOrElse(0)
    for (round <- 0 until maxSamples if jobs.nonEmpty) {
      // Deterministic round-dependent PERMUTATION, not a rotation. A
      // rotation preserves cyclic adjacency — every shape keeps the
      // SAME predecessor in every round except at the seam — so a
      // heavy cyclic neighbor's residual (page-cache turnover, G1
      // region history) would inflate all three samples identically,
      // which is exactly what the interleaving exists to prevent (and
      // what one time_weighted draw measured: 27 s in-suite vs ~10 s
      // isolated). Walking the list with a per-round STRIDE coprime to
      // n gives every shape a different predecessor each round (strides
      // are distinct mod n), still with no RNG.
      val n = jobs.size
      val strides = (1 until math.max(2, n))
        .filter(s => BigInt(s).gcd(BigInt(n)) == 1)
      val step = strides(math.min(round, strides.size - 1))
      val off = (round * math.max(1, n / samplesPerPoint)) % n
      val ordered = (0 until n).map(i => jobs((off + i * step) % n))
      for (job <- ordered
           if !failed.contains(job.name) && round < job.samples) {
        try {
          // Per-sample JIT warmup at the LO scale, discarded: the
          // interleaved rounds deliberately run 17 other shapes between
          // a shape's samples, and that traffic deopts/re-profiles the
          // SHARED generated iterators (window frames, hash-aggregate
          // maps) the shape is about to exercise — r12's time_weighted
          // recorded a 28 s x1000 median whose isolated steady state is
          // ~10 s purely from landing in the slow mode of that JIT
          // bimodality. Re-warming the shape's own code path right
          // before its timed pair is the same discipline the sf0.1
          // bench applies per query; it costs one cheap x1 execution
          // per sample and makes the artifact of record catch the
          // steady state instead of documenting it in prose.
          onceMeasure(job.fn, job.lo)
          val (s1, m1, r1) = onceMeasure(job.fn, job.lo)
          // mid between lo and hi: ascending data size keeps each
          // point's predecessor-pressure profile consistent across
          // rounds (the interleaving varies the BETWEEN-shape
          // neighborhood; within a shape the order stays fixed).
          val midRes = job.mid.map(d => onceMeasure(job.fn, d))
          val (sN, mN, rN) = onceMeasure(job.fn, job.hi)
          runs1(job.name) = runs1.getOrElse(job.name, Vector.empty) :+ ((s1, m1))
          midRes.foreach { case (sM, mM, _) =>
            runsM(job.name) = runsM.getOrElse(job.name, Vector.empty) :+ ((sM, mM))
          }
          runsN(job.name) = runsN.getOrElse(job.name, Vector.empty) :+ ((sN, mN))
          rowsOf(job.name) = (r1, rN)
        } catch {
          case e: Throwable =>
            failed(job.name) = e.getClass.getSimpleName + ": " +
              Option(e.getMessage).getOrElse("").take(200)
        }
      }
    }
    // ---- banding-knob probe: candidates vs key width at the deep
    // documents corpus. The 100 TB simhash story is "widen k*60/b as n
    // grows, paying more tables for candidates that stay output-sized";
    // this measures the movement instead of arguing it — the SAME
    // signature pass and join keys as simhashDupBlocked, counting in
    // place of verification, for the default 30-bit key (b=6) vs the
    // widened ~37-bit key (b=8) the simhash_deep shape runs. Skipped
    // under a shape filter unless named (never in the artifact of
    // record from a partial run).
    val knobFrag =
      if (!shapeFilter.forall(_.contains("simhash_knob"))) ""
      else {
        val pts = Seq(6, 8).map { b =>
          val t0 = System.nanoTime()
          val r = Dedup.simhashBlockedCandidateProfile(
            docsD(dirDN), "doc_id", "text", maxHamming = 3, blocks = b)
            .head()
          val sec = r4((System.nanoTime() - t0) / 1e9)
          try Session.release(spark) catch { case _: Throwable => () }
          val j = s"""{"blocks":$b,"k":${b - 3},"n_tables":${r.getAs[Int]("n_tables")},"key_bits":${r.getAs[Int]("key_bits")},"n_docs":${r.getAs[Long]("n_docs")},"raw_candidates":${r.getAs[Long]("raw_candidates")},"distinct_pairs":${r.getAs[Long]("distinct_pairs")},"sec":$sec}"""
          System.err.println(s"""{"simhash_knob":$j}""")
          j
        }
        s""","simhash_knob":{"corpus":"doc_x$docsCopies","max_hamming":3,"points":[${pts.mkString(",")}]}"""
      }
    // ---- PPJoin positional-filter probe: candidate volume with the
    // positional filter off vs on at the deep documents corpus. Wall
    // A/B at the deep points is GC-weather-noisy (r15: three same-code
    // draws spread 42.6-134.4 s); candidate counts are exact and
    // deterministic — the adjudicator for what the filter buys (r15
    // x100: raw 20.4M -> 7.26M, 2.81x). Same tokenize/prefix/join code
    // as prefixFilterPairs (shared ppjoinCandidates). Skipped unless
    // named in the shape filter, like simhash_knob.
    val ppjoinKnobFrag =
      if (!shapeFilter.forall(_.contains("ppjoin_knob"))) ""
      else {
        val pts = Seq(false, true).map { positional =>
          val t0 = System.nanoTime()
          val r = Dedup.prefixFilterCandidateProfile(
            docsD(dirDN), "doc_id", "text",
            thresholdBp = 6000, shingle = 3, positional = positional)
            .head()
          val sec = r4((System.nanoTime() - t0) / 1e9)
          try Session.release(spark) catch { case _: Throwable => () }
          val j = s"""{"positional":$positional,"n_docs":${r.getAs[Long]("n_docs")},"raw_candidates":${r.getAs[Long]("raw_candidates")},"distinct_pairs":${r.getAs[Long]("distinct_pairs")},"sec":$sec}"""
          System.err.println(s"""{"ppjoin_knob":$j}""")
          j
        }
        s""","ppjoin_knob":{"corpus":"doc_x$docsCopies","threshold_bp":6000,"shingle":3,"points":[${pts.mkString(",")}]}"""
      }
    // ---- LSH banding probe: minhashLsh's candidate volume and largest
    // band bucket at x1 vs the deep corpus — the same honesty contract
    // the simhash/ppjoin knobs established (exact counts from the
    // operator's own banding keys, counting in place of verification).
    // raw_candidates growing faster than docs = band buckets going
    // quadratic (collapse exact dups first / re-band); max_bucket is
    // the skew signal a total can hide. Skipped unless named, like the
    // other knobs.
    val lshKnobFrag =
      if (!shapeFilter.forall(_.contains("lsh_knob"))) ""
      else {
        val pts = Seq(("x1", dirD1), (s"x$docsCopies", dirDN)).map {
          case (lbl, dir) =>
            val t0 = System.nanoTime()
            val r = Dedup.lshCandidateProfile(
              docsD(dir), "doc_id", "text", k = 16, bands = 4, shingleN = 3)
              .head()
            val sec = r4((System.nanoTime() - t0) / 1e9)
            try Session.release(spark) catch { case _: Throwable => () }
            val j = s"""{"scale":"$lbl","n_docs":${r.getAs[Long]("n_docs")},"raw_candidates":${r.getAs[Long]("raw_candidates")},"distinct_pairs":${r.getAs[Long]("distinct_pairs")},"max_bucket":${r.getAs[Long]("max_bucket")},"sec":$sec}"""
            System.err.println(s"""{"lsh_knob":$j}""")
            j
        }
        s""","lsh_knob":{"k":16,"bands":4,"shingle_n":3,"points":[${pts.mkString(",")}]}"""
      }
    // ---- DSIR exchange-reuse probe: the raw corpus is tokenized +
    // bucket-hashed TWICE in the default importanceWeights plan (count
    // pass + scoring pass — PLANS.md documented the trade as "stay
    // lazy"); reuseBucketExchange compacts it once into a shared
    // (id, bucket, f) aggregate both passes consume (ReuseExchange).
    // This measures the trade at the deep corpus for BOTH hash paths:
    // the hypothesis is that reuse pays on md5 (a 32-char-string hash
    // per token deleted) and may lose on fastHash (xxhash64 re-hashing
    // is cheaper than shuffling the compacted pairs). Two draws per
    // configuration, min + the min draw's executor metrics (the
    // shuffle_write delta IS the trade). Skipped unless named, like
    // the other knobs.
    val dsirKnobFrag =
      if (!shapeFilter.forall(_.contains("dsir_knob"))) ""
      else {
        val pts = for {
          fast <- Seq(false, true)
          reuse <- Seq(false, true)
        } yield {
          def run() = onceMeasure(dir =>
            graft.operators.Curation.importanceTopK(
              graft.operators.Curation.importanceWeights(docsD(dir),
                docsD(dir).filter(col("doc_id") % 19 === 0),
                "doc_id", "text", nBuckets = 1024, seed = 7,
                fastHash = fast, reuseBucketExchange = reuse),
              "doc_id", 50), dirDN)
          val draws = Seq(run(), run())
          val (sec, met, _) = draws.minBy(_._1)
          val j = s"""{"fast_hash":$fast,"reuse":$reuse,"runs":[${draws.map(_._1).mkString(",")}],"min":$sec,"metrics":$met}"""
          System.err.println(s"""{"dsir_knob":$j}""")
          j
        }
        s""","dsir_knob":{"corpus":"doc_x$docsCopies","n_buckets":1024,"points":[${pts.mkString(",")}]}"""
      }
    // ---- DSIR long-doc knob (r18): the r17 dsir_knob measured
    // exchange-reuse as a NET LOSS on ~100-token docs (compaction
    // factor F/D ~ 1: the shared (id, bucket, f) exchange shuffles as
    // many pairs as there were features, for no saved work). The
    // documented inversion condition is doclen >> nBuckets — this
    // probe measures THAT side: 50 base docs concatenate to ~5000
    // tokens against 256 buckets (F/D ~ 19 predicted), and
    // dsirCompactionProfile's measured factor is recorded NEXT TO the
    // A/B so the profile's decision rule ("enable reuse when
    // compaction_x1000 >> 2000") is validated against the outcome it
    // predicts, on both hash paths. Skipped unless named.
    val dsirLongKnobFrag =
      if (!shapeFilter.forall(_.contains("dsir_longdoc_knob"))) ""
      else {
        val dirLong = s"$work/doc_long"
        build(dirLong, Seq("documents"), ppjoinCopies) {
          docsD(dirDP)
            .groupBy(expr("doc_id div 50").as("gid"))
            .agg(concat_ws(" ", expr(
              "transform(array_sort(collect_list(struct(doc_id, text)))," +
                " s -> s.text)")).as("text"))
            .select(col("gid").as("doc_id"), col("text"))
            .repartition(cpus)
            .write.mode("overwrite").parquet(s"$dirLong/documents.parquet")
        }
        val docsL = docsD(dirLong)
        val pr = graft.operators.Curation.dsirCompactionProfile(
          docsL, "doc_id", "text", nBuckets = 256, seed = 7,
          fastHash = true).head()
        val profJson =
          s"""{"n_docs":${pr.getAs[Long]("n_docs")},"n_features":${pr.getAs[Long]("n_features")},"distinct_pairs":${pr.getAs[Long]("distinct_pairs")},"compaction_x1000":${pr.getAs[Long]("compaction_x1000")}}"""
        System.err.println(s"""{"dsir_longdoc_profile":$profJson}""")
        try Session.release(spark) catch { case _: Throwable => () }
        val pts = for {
          fast <- Seq(false, true)
          reuse <- Seq(false, true)
        } yield {
          def run() = onceMeasure(dir =>
            graft.operators.Curation.importanceTopK(
              graft.operators.Curation.importanceWeights(docsD(dir),
                docsD(dir).filter(col("doc_id") % 19 === 0),
                "doc_id", "text", nBuckets = 256, seed = 7,
                fastHash = fast, reuseBucketExchange = reuse),
              "doc_id", 50), dirLong)
          val draws = Seq(run(), run())
          val (sec, met, _) = draws.minBy(_._1)
          val j = s"""{"fast_hash":$fast,"reuse":$reuse,"runs":[${draws.map(_._1).mkString(",")}],"min":$sec,"metrics":$met}"""
          System.err.println(s"""{"dsir_longdoc_knob":$j}""")
          j
        }
        s""","dsir_longdoc_knob":{"corpus":"doc_x$ppjoinCopies div 50","n_buckets":256,"profile":$profJson,"points":[${pts.mkString(",")}]}"""
      }
    // ---- containment co-mass guard: measure the word-level (shingle=1)
    // degenerate regime against the shingled form at both scales with
    // the containmentCoMass probe, then PROVE the budget gate fires —
    // word-level containment on the deep corpus must throw (its
    // Σ df(w)² is quadratic per replica copy) BEFORE launching the
    // join, with the steering message. Skipped unless named.
    val containKnobFrag =
      if (!shapeFilter.forall(_.contains("containment_knob"))) ""
      else {
        val pts = for {
          (lbl, dir) <- Seq(("x1", dirD1), (s"x$docsCopies", dirDN))
          sh <- Seq(1, 3)
        } yield {
          val t0 = System.nanoTime()
          val r = Dedup.containmentCoMass(
            docsD(dir), "doc_id", "text", shingle = sh).head()
          val sec = r4((System.nanoTime() - t0) / 1e9)
          try Session.release(spark) catch { case _: Throwable => () }
          val j = s"""{"scale":"$lbl","shingle":$sh,"n_docs":${r.getAs[Long]("n_docs")},"n_terms":${r.getAs[Long]("n_terms")},"max_df":${r.getAs[Long]("max_df")},"co_mass":${r.getAs[Long]("co_mass")},"sec":$sec}"""
          System.err.println(s"""{"containment_knob":$j}""")
          j
        }
        val guard =
          try {
            Dedup.containmentPairs(
              docsD(dirDN), "doc_id", "text", thresholdBp = 6000, shingle = 1)
            """"tripped":false"""
          } catch {
            case e: IllegalArgumentException
              if e.getMessage.contains("coMassBudget") =>
              val msg = e.getMessage.take(160)
                .replace("\\", "'").replace("\"", "'")
              s""""tripped":true,"message":"$msg""""
          }
        System.err.println(s"""{"containment_guard":{$guard}}""")
        s""","containment_knob":{"points":[${pts.mkString(",")}],"guard":{$guard}}"""
      }

    val entries = jobs.map { job =>
      val name = job.name
      val n = job.n
      (failed.get(name), runs1.get(name), runsN.get(name)) match {
        case (_, Some(r1s), Some(rNs)) if r1s.nonEmpty && rNs.nonEmpty =>
          val (t1, met1) = r1s.minBy(_._1)
          val (tN, metN) = rNs.minBy(_._1)
          val med1 = r4(median(r1s.map(_._1)))
          val medN = r4(median(rNs.map(_._1)))
          val ratio = r4(medN / med1)
          val exponent = r4(math.log(medN / med1) / math.log(n.toDouble))
          val (rows1, rowsN) = rowsOf(name)
          // Streaming shapes additionally report the exponent over
          // stream_sec (micro-batch execution only; setup_sec is the
          // fixed driver-side cost, recorded separately).
          // task_exponent: the same growth exponent over SUMMED task
          // time. The wall exponent conflates two things once a shape
          // saturates all local cores — work growth AND the loss of
          // parallel headroom (at saturation, wall MUST grow ~linearly
          // with work on fixed hardware; a cluster adds executors
          // instead). task_exponent isolates the work side: ~1.0 means
          // N x the data costs N x the CPU (no candidate blowup, no
          // superlinear cliff — the property that transfers to 1000
          // executors), >1.1 is a genuine algorithmic wall (the legacy
          // simhash chunk join measured 1.39 here before the blocked
          // rewrite).
          //
          // BASIS (r18): computed between the two LARGEST points
          // (mid = n/10 -> hi) on MEDIAN summed task time. The
          // previous x1 -> hi basis divided by a 1-2 s x1 wall that
          // swings 2x with shared-box weather — ppjoin's te read
          // 0.99-1.11 across five artifacts of identical code. Task
          // sums at mid are tens of seconds across hundreds of tasks;
          // their medians repeat, so same-code artifacts agree. The
          // x1-based value (min-run metrics, the pre-r18 definition)
          // stays as task_exponent_x1 for cross-artifact continuity.
          def metField(f: String)(met: String): Option[Double] =
            (s""""$f":([0-9]+)""").r.findFirstMatchIn(met)
              .map(_.group(1).toDouble)
          val taskMs = metField("task_time_ms") _
          val cpuMs = metField("task_cpu_ms") _
          def medOf(rs: Vector[(Double, String)],
              f: String => Option[Double]): Option[Double] = {
            val ts = rs.flatMap(r => f(r._2)).filter(_ > 0)
            if (ts.isEmpty) None else Some(median(ts))
          }
          // SERIES (r18, second iteration): task_cpu_ms, not
          // task_time_ms. Per-task "run time" counts time the task
          // thread is STALLED — OS timesharing under load (r17
          // ppjoin's x100 task sum swung 1035 vs 2199 s at os_load
          // ~5 on identical work) and GC pauses both inflate it; CPU
          // time counts only on-CPU cycles, so it is the series whose
          // medians actually repeat across same-code artifacts. Falls
          // back to task_time_ms if a run lacks the cpu counter.
          val teX1 = (for {
            t1m <- taskMs(met1); tNm <- taskMs(metN)
            if t1m > 0 && tNm > 0
          } yield r4(math.log(tNm / t1m) / math.log(n.toDouble)))
          val rMs = runsM.get(name).filter(_.nonEmpty)
          val teMid = (for {
            ms <- rMs; if job.m > 0 && job.m < n
            useCpu = medOf(ms, cpuMs).isDefined &&
              medOf(rNs, cpuMs).isDefined
            f = if (useCpu) cpuMs else taskMs
            tM <- medOf(ms, f); tN <- medOf(rNs, f)
          } yield (r4(math.log(tN / tM) / math.log(n.toDouble / job.m)),
            s"x${job.m}->x$n/median_" +
              (if (useCpu) "task_cpu_ms" else "task_ms")))
          // Error bar: the remaining variance channel after the mid
          // basis and the CPU series is the raw per-sample CPU sums
          // themselves — on this shared box the heaviest shapes'
          // samples swing up to ~2x within ONE run (ppjoin hi cpu
          // 602/1138/1434 s in a single r18 artifact; bandwidth /
          // frequency / JIT weather that a median of 3 cannot reject).
          // So the exponent ships WITH its half-width, derived from
          // the min/max sample at each endpoint:
          //   spread = (ln(maxHi/minHi) + ln(maxMid/minMid)) / (2 ln r)
          // and the cross-artifact agreement contract is
          //   |te_a - te_b| <= spread_a + spread_b
          // — machine-checkable from two committed artifacts (see
          // tools/scale_te.py), no adjudication prose.
          def spreadOf(rs: Vector[(Double, String)],
              f: String => Option[Double]): Option[Double] = {
            val ts = rs.flatMap(r => f(r._2)).filter(_ > 0)
            if (ts.isEmpty) None else Some(math.log(ts.max / ts.min))
          }
          val teSpread = (for {
            ms <- rMs; if job.m > 0 && job.m < n
            useCpu = medOf(ms, cpuMs).isDefined &&
              medOf(rNs, cpuMs).isDefined
            f = if (useCpu) cpuMs else taskMs
            sM <- spreadOf(ms, f); sN <- spreadOf(rNs, f)
          } yield r4((sM + sN) / (2 * math.log(n.toDouble / job.m))))
          // Mid-regime indicator (r19, machine-readable): the mid->hi
          // exponent is the MARGINAL exponent, and when the mid point's
          // work is still mostly fixed cost (JVM/driver/stage overhead)
          // it reads high at fixed-cost exit even for perfectly linear
          // shapes (r18: cdc's mid CPU was ~19 s vs ~2 s x1 for 100x
          // the data — under 10% of ideal linear growth). The rule:
          // mid work under 30% of ideal linear growth from x1
          // (med(mid) < 0.3 * m * med(x1), same series as te) tags the
          // shape "overhead" — read its te next to task_exponent_x1;
          // "in-regime" means the top decade measures marginal work
          // honestly. tools/scale_te.py recomputes the same rule for
          // pre-r19 artifacts and prints it next to te.
          val midRegime = (for {
            ms <- rMs; if job.m > 0
            useCpu = medOf(ms, cpuMs).isDefined &&
              medOf(r1s, cpuMs).isDefined
            f = if (useCpu) cpuMs else taskMs
            tM <- medOf(ms, f); t1 <- medOf(r1s, f)
          } yield if (tM < 0.3 * job.m * t1) "overhead" else "in-regime")
          val regimeFrag = midRegime
            .map(r => s""","mid_regime":"$r"""").getOrElse("")
          val taskFrag =
            ((teMid, teX1) match {
              case (Some((te, basis)), x1) =>
                s""","task_exponent":$te,"task_exponent_basis":"$basis"""" +
                  teSpread.map(s => s""","task_exponent_spread":$s""")
                    .getOrElse("") +
                  x1.map(v => s""","task_exponent_x1":$v""").getOrElse("")
              case (None, Some(v)) =>
                s""","task_exponent":$v,"task_exponent_basis":"x1->x$n/min_run","task_exponent_x1":$v"""
              case (None, None) => ""
            }) + regimeFrag
          // Per-run work counters at every point, so a reader can
          // recompute (or re-base) the exponent from the artifact
          // alone — the min-run metrics blob only carries one sample.
          def workLists(rs: Vector[(Double, String)]): String = {
            def arr(f: String => Option[Double]): String =
              rs.map(r => f(r._2).map(_.toLong.toString).getOrElse("null"))
                .mkString("[", ",", "]")
            s""""runs_task_ms":${arr(taskMs)},"runs_cpu_ms":${arr(cpuMs)}"""
          }
          // The mid point's own samples land in the artifact so a
          // reader can recompute the exponent from raw data.
          val midFrag = rMs.map { ms =>
            val (tM, metM) = ms.minBy(_._1)
            val medM = r4(median(ms.map(_._1)))
            s""","mid":{"copies":${job.m},"min":$tM,"median":$medM,"runs":[${ms.map(_._1).mkString(",")}],${workLists(ms)},"metrics":$metM}"""
          }.getOrElse("")
          // Per-run GC alongside the per-run walls: single-draw GC at
          // the deep points swings 2.8 s / 4.5 s / 16.9 s across
          // otherwise-identical suite runs (shared-JVM weather), so one
          // number cannot adjudicate a "GC regression" — the array can.
          def gcMs(met: String): String =
            """"gc_ms":([0-9]+)""".r.findFirstMatchIn(met)
              .map(_.group(1)).getOrElse("null")
          def gcList(rs: Vector[(Double, String)]): String =
            rs.map(r => gcMs(r._2)).mkString("[", ",", "]")
          // Guard BOTH ends: a stream_sec that rounds/parses to 0.0
          // would turn the log ratio into ±Infinity, which serializes
          // as a bare token and invalidates the whole artifact JSON.
          val streamFrag = (for {
            s1 <- streamSec(met1); sN <- streamSec(metN)
            if s1 > 0 && sN > 0
          } yield s""","stream_exponent":${r4(math.log(sN / s1) / math.log(n.toDouble))}""")
            .getOrElse("")
          // A shape that failed on a LATER round still reports its
          // completed samples, plus the error.
          val errFrag = failed.get(name)
            .map(m => s""","err":"${m.replace("\"", "'")}"""").getOrElse("")
          System.err.println(s"""{"shape":"$name","x1":$med1,"x$n":$medN,"ratio":$ratio,"exponent":$exponent$taskFrag$streamFrag$errFrag}""")
          s""""$name":{"x1":{"min":$t1,"median":$med1,"runs":[${r1s.map(_._1).mkString(",")}],"runs_gc_ms":${gcList(r1s)},${workLists(r1s)},"rows":$rows1,"metrics":$met1}$midFrag,"x$n":{"min":$tN,"median":$medN,"runs":[${rNs.map(_._1).mkString(",")}],"runs_gc_ms":${gcList(rNs)},${workLists(rNs)},"rows":$rowsN,"metrics":$metN},"copies":$n,"ratio":$ratio,"exponent":$exponent$taskFrag$streamFrag$errFrag}"""
        case (err, _, _) =>
          val m = err.getOrElse("no samples")
          System.err.println(s"""{"shape":"$name","err":"${m.replace("\"", "'")}"}""")
          s""""$name":{"err":"${m.replace("\"", "'")}"}"""
      }
    }
    val out =
      s"""{"metric":"scale_bench","sf":"$base","copies":$copies,"events_copies":$eventsCopies,"emb_copies":$embCopies,"docs_copies":$docsCopies,"cpus":$cpus,"heap_gb":$heapGb,"shapes":{${entries.mkString(",")}}$knobFrag$ppjoinKnobFrag$lshKnobFrag$dsirKnobFrag$dsirLongKnobFrag$containKnobFrag,"note":"disjoint replication: work scales ~linearly with copies by construction; 3 samples per scale point taken in INTERLEAVED rounds (shape order stride-permuted per round — distinct coprime stride each round, so every shape gets a DIFFERENT predecessor per sample and one heavy neighbor cannot inflate all of a shape's samples identically), each sample preceded by a DISCARDED x1 warmup execution of the same shape (the interleaving runs other shapes between samples, whose traffic deopts the shared generated iterators — the warmup re-heats the shape's code path so samples catch the steady state, not a JIT slow mode), min AND median recorded, ratio/exponent computed on MEDIANS (exponent=ln(medN/med1)/ln(N), ~1.0 = runtime tracks work, no superlinear cliff); task_exponent is the same exponent over SUMMED task time — the work-growth signal that stays meaningful once a shape saturates all local cores (wall must then grow ~linearly with work on fixed hardware; ~1.0 = N x data costs N x CPU, the property that transfers to a 1000-executor cluster; >1.1 = a genuine algorithmic wall); since r18 task_exponent is computed between the two LARGEST points (mid = n/10 -> hi, see task_exponent_basis) on MEDIAN summed task CPU time (task_cpu_ms — per-task run time counts stall time, which OS timesharing and GC inflate 2x with weather; CPU cycles repeat across same-code artifacts) — the pre-r18 x1->hi basis divided by a 1-2 s x1 wall that swings 2x with shared-box weather and made same-code artifacts disagree (ppjoin te 0.99-1.11 across five identical-code runs); the legacy value stays as task_exponent_x1 and every point carries runs_task_ms/runs_cpu_ms arrays so the exponent is recomputable (or re-basable) from the artifact alone; streaming shapes also carry stream_exponent over micro-batch execution only, from the min runs' metrics (setup_sec is fixed driver-side cost, recorded separately); mid_regime (r19) tags whether the mid point left the fixed-cost regime (med(mid work) >= 0.3 * m * med(x1 work)) — an 'overhead' tag means mid->hi is the marginal exponent taken at fixed-cost exit and reads high even for linear shapes, so read task_exponent next to task_exponent_x1 there"}"""
    println(out)
    // A shape-filtered run covers a subset — never let it replace the
    // artifact of record.
    val dest =
      if (shapeFilter.isEmpty) outFile else "SCALE_BENCH_partial.json"
    try java.nio.file.Files.write(java.nio.file.Paths.get(dest),
      (out + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
