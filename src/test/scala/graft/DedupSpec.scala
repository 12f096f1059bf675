package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")

  private lazy val sfDocs = graft.queries.CoreQueries.t(
    spark, "/root/testdata/sf0.001", "documents")

  /** (id_a, id_b, hamming) rows, sorted. */
  private def key(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(identity).toSeq

  test("exactByHash groups identical content, keeps min id") {
    val df = docs(
      (1L, "same text"), (2L, "same text"), (3L, "other text"))
    val out = Dedup.exactByHash(df, "doc_id", "text")
      .orderBy("keep_id").collect()
    assert(out.length === 2)
    assert(out(0).getLong(1) === 1L) // keep_id
    assert(out(0).getLong(2) === 2L) // n_copies
    assert(out(1).getLong(2) === 1L)
  }

  test("minhashLsh finds the planted near-duplicate pair only") {
    val df = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // 7/9 overlap
      (3L, "one two three four five six seven eight"))
    val pairs = Dedup.minhashLsh(df, "doc_id", "text",
      k = 16, bands = 8, shingleN = 1, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
    val j = pairs.head.getDouble(3)
    assert(math.abs(j - 7.0 / 9.0) < 1e-12)
  }

  test("simhash: identical docs equal, disjoint docs differ") {
    val df = docs(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "completely different words here"))
    val h = Dedup.simhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === h(2L))
    assert(h(1L) !== h(3L))
  }

  test("simhashDup: identical docs collide at hamming 0") {
    val df = docs(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "completely different words here"))
    val pairs = Dedup.simhashDup(df, "doc_id", "text", maxHamming = 0)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
  }

  test("simhashDupBlocked == simhashDup at equal maxHamming (both " +
    "recall-complete), and == brute-force hamming pairs on real docs") {
    val df = sfDocs
    for (h <- Seq(0, 3)) {
      val blocked = key(Dedup.simhashDupBlocked(
        df, "doc_id", "text", maxHamming = h).collect())
      val legacy = key(Dedup.simhashDup(
        df, "doc_id", "text", maxHamming = h).collect())
      assert(blocked === legacy, s"h=$h")
      // brute-force ground truth: every pair, no banding at all
      val sh = Dedup.simhash(df, "doc_id", "text")
      val a = sh.select(col("id").as("id_a"), col("simhash").as("h_a"))
      val b = sh.select(col("id").as("id_b"), col("simhash").as("h_b"))
      val brute = key(a.join(b, col("id_a") < col("id_b"))
        .withColumn("hamming", expr("bit_count(h_a ^ h_b)").cast("long"))
        .filter(col("hamming") <= h)
        .select(col("id_a"), col("id_b"), col("hamming")).collect())
      assert(blocked === brute, s"h=$h vs brute")
    }
    // invalid configs fail loudly
    intercept[IllegalArgumentException] {
      Dedup.simhashDupBlocked(df, "doc_id", "text", maxHamming = 6)
    }
  }

  test("simhashDup at maxHamming 16 == brute-force pairs sharing a " +
    "15-bit chunk within hamming 16") {
    val got = key(Dedup.simhashDup(
      sfDocs, "doc_id", "text", maxHamming = 16).collect())
    val sh = Dedup.simhash(sfDocs, "doc_id", "text")
    val a = sh.select(col("id").as("id_a"), col("simhash").as("h_a"))
    val b = sh.select(col("id").as("id_b"), col("simhash").as("h_b"))
    def chunk(h: String, i: Int) = shiftright(col(h), i * 15).bitwiseAND(0x7FFF)
    val sharesChunk = (0 until 4).map(i => chunk("h_a", i) === chunk("h_b", i))
      .reduce(_ || _)
    val brute = key(a.join(b, col("id_a") < col("id_b") && sharesChunk)
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)").cast("long"))
      .filter(col("hamming") <= 16)
      .select(col("id_a"), col("id_b"), col("hamming")).collect())
    assert(brute.nonEmpty)
    assert(got === brute)
  }

  test("dedupAgainst bands like minhashLsh: near_dup match_id is the " +
    "smallest corpus partner minhashLsh finds, unique docs have none") {
    val corpus = sfDocs.filter(col("doc_id") < 300)
    val incoming = sfDocs.filter(col("doc_id") >= 300 && col("doc_id") < 500)
    val (k, bands, shingleN, threshold) = (8, 4, 1, 0.9)
    val status = Dedup.dedupAgainst(corpus, incoming, "doc_id", "text",
      k = k, bands = bands, shingleN = shingleN, threshold = threshold)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    // corpus ids < incoming ids, so every corpus partner is an id_a
    val partner = Dedup.minhashLsh(corpus.unionByName(incoming),
      "doc_id", "text", k = k, bands = bands, shingleN = shingleN,
      threshold = threshold)
      .filter(col("id_a") < 300 && col("id_b") >= 300)
      .groupBy(col("id_b")).agg(min(col("id_a")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val near = status.collect { case (id, ("near_dup", m)) => id -> m }
    assert(near.nonEmpty)
    near.foreach { case (id, m) => assert(partner.get(id) === Some(m), s"id=$id") }
    status.collect { case (id, ("unique", _)) => id }
      .foreach(id => assert(!partner.contains(id), s"id=$id"))
  }

  test("dedupAgainst classifies incoming docs vs a corpus") {
    val corpus = docs(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight"))
    val incoming = docs(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // exact of 1
      (11L, "alpha beta gamma delta epsilon zeta eta iota"), // near of 1
      (12L, "totally unrelated fresh content right here"))
    val out = Dedup.dedupAgainst(corpus, incoming, "doc_id", "text",
      k = 16, bands = 8, shingleN = 1, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out(10L) === ("exact_dup", 1L))
    assert(out(11L) === ("near_dup", 1L))
    assert(out(12L) === ("unique", -1L))
    // an incoming exact dup of ANOTHER INCOMING doc is NOT flagged —
    // incoming-vs-incoming is the batch operators' job
    val out2 = Dedup.dedupAgainst(corpus,
      docs((20L, "x y z w"), (21L, "x y z w")), "doc_id", "text",
      k = 16, bands = 8, shingleN = 1, threshold = 0.5)
      .collect().map(_.getString(1)).toSeq
    assert(out2 === Seq("unique", "unique"))
  }

  test("containmentPairs flags a doc contained in a larger one, directed") {
    val df = docs(
      (1L, "alpha beta gamma"), // fully inside doc 2
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four")) // disjoint
    val out = Dedup.containmentPairs(df, "doc_id", "text",
      thresholdBp = 10000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    // only the 1→2 direction qualifies (2's tokens are NOT 100% in 1)
    assert(out.toSeq === Seq((1L, 2L, 10000L)))
  }

  test("ngramJaccardPairs computes exact bigram jaccard") {
    val df = docs(
      (1L, "a b c d"), // bigrams: ab bc cd
      (2L, "a b c e")) // bigrams: ab bc ce -> intersect 2, union 4
    val out = Dedup.ngramJaccardPairs(df, "doc_id", "text", n = 2,
      threshold = 0.0).collect()
    assert(out.length === 1)
    assert(out.head.getDouble(2) === 0.5)
  }

  test("connectedComponents resolves chains and keeps components separate") {
    // chain 1-2-3 (via 1-2, 2-3), separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) === 1L && labels(2L) === 1L && labels(3L) === 1L)
    assert(labels(10L) === 10L && labels(11L) === 10L)
  }

  test("distributed connectedComponents agrees with union-find path") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("id_a", "id_b")
    val uf = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponentsDistributed(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uf === dist)
  }

  test("connectedComponentsDistributed frees only the checkpoints it made") {
    // A caller's checkpointed frame made before the call: its blocks ARE
    // its data, so the operator's per-round release must not touch them.
    val callers = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .localCheckpoint()
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
      .toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val labels = Dedup.connectedComponentsDistributed(pairs)
    val added = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(added.size <= 1, s"persistent RDDs added: $added")
    assert(callers.count() === 3L)
    assert(labels.count() === 7L)
    added.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist()))
  }

  test("graph above driverEdgeThreshold routes through the distributed path") {
    // 300 edges: one long chain (diameter stresses the propagation
    // rounds) + a separate clique-ish component. Threshold 10 forces
    // the distributed path through the public entry point.
    val chain = (1L until 250L).map(i => (i, i + 1))
    val clique = for (a <- 1000L to 1010L; b <- (a + 1) to 1010L) yield (a, b)
    val pairs = (chain ++ clique).toDF("id_a", "id_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val labels = Dedup.connectedComponents(pairs, driverEdgeThreshold = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 250L).forall(labels(_) === 1L))
    assert((1000L to 1010L).forall(labels(_) === 1000L))
    // intermediate per-round checkpoints were released: at most the
    // result's own checkpoint blocks remain beyond the baseline
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= before + 1,
      s"leaked checkpoints: $before persistent RDDs before, $after after")
  }

  test("embeddingNearDup finds same-direction vectors within bucket") {
    val df = Seq(
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)),
      (2L, Array(2.0f, 2.0f, 2.0f, 2.0f)), // cos=1 with 1
      (3L, Array(-1.0f, 1.0f, -1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(df, "vec_id", "embedding",
      threshold = 0.99, signBits = 4).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((1L, 2L)))
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.1f)),
      (3L, Array(0.0f, 1.0f)),
      (4L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(df, df.filter($"vec_id" === 1),
      "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(2)).toSeq === Seq(4L, 2L)) // cos 1.0 then ~0.995
  }

  test("prefixFilterPairs finds exactly the above-threshold Jaccard pairs") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"), // J(1,2) = 4/6 ≈ 0.667
      (2L, "alpha beta gamma delta zeta"),
      (3L, "alpha beta gamma delta epsilon"), // J(1,3) = 1.0
      (4L, "one two three four five")) // disjoint from the rest
      .toDF("doc_id", "text")
    val at60 = Dedup.prefixFilterPairs(df, "doc_id", "text",
      thresholdBp = 6000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).sorted
    // all three above-0.6 pairs, with exact integer Jaccard
    assert(at60.toSeq === Seq((1L, 2L, 6666L), (1L, 3L, 10000L),
      (2L, 3L, 6666L)))
    val at90 = Dedup.prefixFilterPairs(df, "doc_id", "text",
      thresholdBp = 9000).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(at90.toSeq === Seq((1L, 3L))) // only the identical pair
  }

  test("prefixFilterPairs shingled == brute-force string-shingle Jaccard") {
    // real documents: the shingled (xxhash64) prefix-filter join must
    // equal the all-pairs STRING-shingle Jaccard — a prefix/length
    // filter that drops a candidate, or a hash collision, shows up as
    // a missing/extra pair. Same construction q202's DuckDB oracle
    // mirrors cross-engine.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val got = Dedup.prefixFilterPairs(docs, "doc_id", "text",
      thresholdBp = 6000, shingle = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sorted
    val sets = docs.select($"doc_id",
      array_distinct(graft.functions.text.shingles($"text", 3)).as("ts"))
    val brute = sets.as("a").crossJoin(sets.as("b"))
      .filter($"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
        size(array_intersect($"a.ts", $"b.ts")).cast("long").as("n_shared"),
        (size($"a.ts") + size($"b.ts")).cast("long").as("szsum"))
      .withColumn("jaccard_bp",
        expr("(n_shared * 10000) div (szsum - n_shared)"))
      .filter($"jaccard_bp" >= 6000)
      .select($"id_a", $"id_b", $"n_shared", $"jaccard_bp")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sorted
    assert(got.nonEmpty) // the corpus plants near-dups; empty = broken
    assert(got.toSeq === brute.toSeq)
  }

  test("sortedNeighborhoodPairs compares only in-block neighbors, exact bp Jaccard") {
    val df = Seq(
      // block "thequick": three near-identical docs sort adjacent
      (1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumped"),
      (3L, "the quick brown fox jumps high"),
      // different block prefix: never compared to the above
      (9L, "zzz completely different text entirely")) // solo in its block
      .toDF("doc_id", "text")
    val pairs = Dedup.sortedNeighborhoodPairs(df, "doc_id", "text",
      blockPrefixLen = 8, windowSize = 3, thresholdBp = 5000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // sort key order within the block: 2 (jumped) < 3 (jumps high... )
    //  -> actually keys: "thequickbrownfoxjumps", "thequickbrownfoxjumped",
    // "thequickbrownfoxjumpshigh"; windowSize 3 compares each to next 2,
    // so all three in-block pairs are examined; 9 pairs with nobody.
    // J(1,2)=4/6=6666bp, J(1,3)=5/6=8333bp, J(2,3)=4/7=5714bp
    assert(pairs.toSeq === Seq((1L, 2L, 6666L), (1L, 3L, 8333L),
      (2L, 3L, 5714L)))
    // tighter threshold drops the weaker pairs but keeps the family
    val tight = Dedup.sortedNeighborhoodPairs(df, "doc_id", "text",
      blockPrefixLen = 8, windowSize = 3, thresholdBp = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tight.toSeq === Seq((1L, 3L)))
  }

  test("sortedNeighborhoodPairs: token-free documents emit no pairs, no crash") {
    // empty/punctuation-only docs share the "" block and would meet in
    // the lead() window with union size 0 — the vacuous 0 >= 0 must not
    // reach the ANSI integer division (they are exact-dedup material,
    // not token-Jaccard material)
    val df = docs((1L, "..."), (2L, ""), (3L, "!!!"),
      (4L, "real words here"), (5L, "real words here too"))
    val pairs = Dedup.sortedNeighborhoodPairs(df, "doc_id", "text",
      blockPrefixLen = 8, windowSize = 3, thresholdBp = 5000).collect()
    assert(pairs.forall(r => r.getLong(0) >= 4L)) // only the token-ful pair
  }

  test("minhashLsh recall >= 0.9 at documented settings (scaladoc table)") {
    // 20 planted near-dup pairs: doc 2i has 20 tokens from a vocab
    // disjoint per pair; doc 2i+1 swaps one token out -> exact Jaccard
    // 19/21 ≈ 0.905 per pair, zero cross-pair overlap. Deterministic
    // (md5-seeded hashes), so this pins the measured-recall row of the
    // minhashLsh scaladoc table: k=8, bands=4 (r=2), shingleN=1.
    val fixture = (0 until 20).flatMap { i =>
      val toks = (0 until 20).map(j => s"w${i}_$j")
      Seq((2L * i, toks.mkString(" ")),
        (2L * i + 1, (toks.tail :+ s"x$i").mkString(" ")))
    }
    val df = docs(fixture: _*)
    val truth = (0 until 20).map(i => (2L * i, 2L * i + 1))
    val found = Dedup.minhashLsh(df, "doc_id", "text",
      k = 8, bands = 4, shingleN = 1, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.subsetOf(truth.toSet)) // precision 1.0 by construction
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall < 0.9: missed ${truth.toSet -- found}")
  }

  test("bucketedTopK only searches the query's sign bucket") {
    val df = Seq(
      (1L, Array(1.0f, 1.0f)),
      (2L, Array(2.0f, 1.0f)), // same bucket (+,+)
      (3L, Array(-1.0f, -1.0f))) // different bucket
      .toDF("vec_id", "embedding")
    val top = Similarity.bucketedTopK(df, df.filter($"vec_id" === 1),
      "vec_id", "embedding", k = 5, signBits = 2).collect()
    assert(top.map(_.getLong(2)).toSeq === Seq(2L)) // 3 never considered
  }
}
