package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.functions.text
import graft.operators.Curation

class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
  private def ts(m: Int): Timestamp = new Timestamp(t0 + m * 60000L)

  test("sessionize: 30-min gap starts a new session, ties break on id") {
    // user 1: events at 10:00, 10:10, 11:00 (gap 50m -> new), 11:20
    // user 2: one event
    val df = Seq(
      (1L, ts(0), 1L), (1L, ts(10), 2L), (1L, ts(60), 3L), (1L, ts(80), 4L),
      (2L, ts(5), 5L))
      .toDF("user_id", "ts", "event_id")
    val out = Curation.sessionize(df, "user_id", "ts", "event_id", 30)
      .select($"user_id", $"event_id", $"session_id")
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out === Array(
      (1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 5L, 1L)))
  }

  test("sessionize: exactly-at-gap stays in session, one past starts new") {
    val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val df = Seq(
      (1L, new Timestamp(base), 1L),
      (1L, new Timestamp(base + 30 * 60000L), 2L), // exactly 30m -> same
      (1L, new Timestamp(base + 60 * 60000L + 1), 3L)) // 30m + 1ms -> new
      .toDF("user_id", "ts", "event_id")
    val out = Curation.sessionize(df, "user_id", "ts", "event_id", 30)
      .select($"event_id", $"session_id").as[(Long, Long)]
      .collect().sortBy(_._1)
    assert(out === Array((1L, 1L), (2L, 1L), (3L, 2L)))
  }

  test("boilerplateProfile: repeated 5-gram spans are flagged") {
    val boiler = "one two three four five"
    val df = Seq(
      (1L, s"$boiler unique1a unique1b"),
      (2L, s"$boiler unique2a unique2b"),
      (3L, s"$boiler unique3a unique3b"),
      (4L, "all fresh words here nothing shared"))
      .toDF("doc_id", "text")
    val out = Curation.boilerplateProfile(df, "doc_id", "text", n = 5, minDf = 3)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // docs 1-3: 3 shingles each ("one two three four five",
    // "two three four five uniqueXa", "three four five uniqueXa uniqueXb")
    // — only the first is shared by >= 3 docs.
    assert(out.take(3).forall { case (_, n, b, bp) =>
      n === 3L && b === 1L && bp === 3333L })
    assert(out(3) === ((4L, 2L, 0L, 0L)))
  }

  test("contamination: only docs overlapping the benchmark survive") {
    val bench = "alpha beta gamma delta epsilon zeta eta"
    val df = Seq(
      (1L, bench), // benchmark
      (25L, s"$bench padded with extra words"), // contaminated copy
      (26L, "completely different content with no overlap at all"))
      .toDF("doc_id", "text")
    val out = Curation.contamination(
      df, "doc_id", "text", isBenchmark = col("doc_id") < 20, n = 5, minShared = 3)
      .as[(Long, Long)].collect().toSeq
    assert(out.map(_._1) === Seq(25L))
    assert(out.head._2 >= 3L)
  }

  test("stratifiedSample: deterministic across runs, n per stratum") {
    val df = (1 to 100).map(i => (s"lang${i % 3}", s"doc body $i", i.toLong))
      .toDF("lang", "text", "doc_id")
    def run() = Curation.stratifiedSample(df, "lang", col("text"), "doc_id", 5)
      .select($"lang", $"rn", $"doc_id")
      .as[(String, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    val a = run(); val b = run()
    assert(a === b)
    assert(a.groupBy(_._1).values.forall(_.size === 5))
  }

  test("chunkTokens: sliding windows with overlap, short docs one chunk") {
    val doc = (1 to 10).map(i => s"w$i").mkString(" ") // 10 tokens
    val df = Seq((1L, doc), (2L, "just three tokens")).toDF("doc_id", "text")
    val out = Curation.chunkTokens(df, "doc_id", "text", size = 4, stride = 3)
      .select($"doc_id", $"chunk_id", $"chunk_tokens", $"chunk_text")
      .as[(Long, Long, Long, String)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    // doc 1: k_max = ceil((10-4)/3) = 2 -> chunks at 0,3,6: 4,4,4 tokens
    assert(out.filter(_._1 == 1L).map(c => (c._2, c._3)) ===
      Seq((0L, 4L), (1L, 4L), (2L, 4L)))
    assert(out.head._4 === "w1 w2 w3 w4")
    assert(out(1)._4 === "w4 w5 w6 w7") // 1-token overlap
    assert(out(2)._4 === "w7 w8 w9 w10")
    // doc 2: shorter than size -> exactly one whole-doc chunk
    assert(out.filter(_._1 == 2L) === Seq((2L, 0L, 3L, "just three tokens")))
  }

  test("packingManifest: per-shard running bins, straddling recorded") {
    // shard A: 300 + 300 + 100 tokens into capacity-256 bins
    def words(n: Int) = (1 to n).map(_ => "x").mkString(" ")
    val df = Seq(
      ("A", 1L, words(300)), ("A", 2L, words(300)), ("A", 3L, words(100)),
      ("B", 1L, words(10)))
      .toDF("source", "doc_id", "text")
    val out = Curation.packingManifest(df, "source", "doc_id", "text", 256)
      .select($"source", $"doc_id", $"n_tokens", $"bin_start",
        $"offset_in_bin", $"bins_spanned")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .sortBy(r => (r._1, r._2)).toSeq
    assert(out(0) === (("A", 1L, 300L, 0L, 0L, 2L))) // 0..299 spans bins 0-1
    assert(out(1) === (("A", 2L, 300L, 1L, 44L, 2L))) // starts at 300
    assert(out(2) === (("A", 3L, 100L, 2L, 88L, 1L))) // starts at 600
    assert(out(3) === (("B", 1L, 10L, 0L, 0L, 1L))) // shards independent
  }

  test("removeDuplicatedSegments: shared segments drop, unique survive") {
    // Docs 1 and 2 share their first 8-token segment verbatim; doc 3 is
    // unique; doc 4 IS the shared segment alone (fully boilerplate).
    val boiler = "a b c d e f g h"
    val df = Seq(
      (1L, s"$boiler one two three"),
      (2L, s"$boiler four five"),
      (3L, "entirely unique text here"),
      (4L, boiler))
      .toDF("doc_id", "text")
    val out = Curation.removeDuplicatedSegments(df, "doc_id", "text",
      segTokens = 8, maxDf = 2)
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out(0) === ((1L, "one two three", 2L, 1L, 1L)))
    assert(out(1) === ((2L, "four five", 2L, 1L, 1L)))
    assert(out(2) === ((3L, "entirely unique text here", 1L, 1L, 0L)))
    assert(out(3) === ((4L, "", 1L, 0L, 1L))) // everything was boilerplate
  }

  test("removeDuplicatedSegments: reassembly preserves segment order") {
    // 20 tokens -> 3 segments; middle segment shared with doc 2.
    val seg0 = "t0 t1 t2 t3 t4 t5 t6 t7"
    val mid = "m0 m1 m2 m3 m4 m5 m6 m7"
    val tail = "z0 z1 z2 z3"
    val df = Seq(
      (1L, s"$seg0 $mid $tail"),
      (2L, mid))
      .toDF("doc_id", "text")
    val out = Curation.removeDuplicatedSegments(df, "doc_id", "text",
      segTokens = 8, maxDf = 2)
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out(0) === ((1L, s"$seg0 $tail", 3L, 2L, 1L)))
    assert(out(1) === ((2L, "", 1L, 0L, 1L)))
  }

  test("applyMixture: upsampling, downsampling, and pass-through in one plan") {
    val docs = (0 until 40).map(i =>
      (i.toLong, if (i < 20) "up" else if (i < 30) "down" else "other",
        s"doc $i content"))
      .toDF("doc_id", "source", "text")
    val plan = Seq(("up", 25000L), ("down", 5000L)).toDF("source", "rate_bp")
    val out = Curation.applyMixture(docs, "source", plan, "text", seed = 11)
      .select($"source", $"doc_id", $"copy_idx")
      .as[(String, Long, Long)].collect().toSeq
    val bySrc = out.groupBy(_._1)
    // rate 25000 bp: every doc appears 2 or 3 times, copy_idx 0..copies-1
    val up = bySrc("up")
    val upCopies = up.groupBy(_._2).view.mapValues(_.map(_._3).sorted).toMap
    assert(upCopies.keySet === (0L until 20L).toSet) // no doc dropped
    upCopies.values.foreach { idx =>
      assert(idx.size == 2 || idx.size == 3)
      assert(idx === (0L until idx.size.toLong)) // dense 0-based copy_idx
    }
    assert(up.size >= 40 && up.size <= 60) // E = 50
    // rate 5000 bp: copies in {0, 1} — a strict subset survives once
    val down = bySrc("down")
    assert(down.map(_._2).distinct.size === down.size)
    assert(down.forall(_._3 === 0L))
    assert(down.size < 10)
    // source absent from the plan: pass-through (rate 10000)
    val other = bySrc("other")
    assert(other.map(_._2).sorted === (30L until 40L))
    assert(other.forall(_._3 === 0L))
    // determinism: same output on a different partitioning
    val out2 = Curation.applyMixture(
      docs.repartition(7), "source", plan, "text", seed = 11)
      .select($"source", $"doc_id", $"copy_idx")
      .as[(String, Long, Long)].collect().toSeq
    assert(out2.sorted === out.sorted)
  }

  test("duplicatedSpans: overlapping windows merge to maximal spans, " +
      "multiple spans split on gaps, short docs report nothing") {
    val df = Seq(
      (1L, "one two three four five six seven u1 u2 u3"),
      (2L, "x1 one two three four five six seven x2 x3"),
      (3L, "a b c d e GAPX GAPY p q r s t"),
      (4L, "a b c d e MID1 MID2 p q r s t"),
      (5L, "tiny doc"))
      .toDF("doc_id", "text")
    val out = Curation.duplicatedSpans(df, "doc_id", "text", n = 5, minDf = 2)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
      .toSeq
    assert(out === Seq(
      // 7-token shared passage: 3 consecutive dup windows -> ONE span
      (1L, 1L, 0L, 6L, 7L),
      (2L, 1L, 1L, 7L, 7L),
      // two disjoint 5-token shared regions -> two spans per doc
      (3L, 1L, 0L, 4L, 5L), (3L, 2L, 7L, 11L, 5L),
      (4L, 1L, 0L, 4L, 5L), (4L, 2L, 7L, 11L, 5L)))
  }

  test("duplicatedSpans distinctDocs=false: within-document repeats flag " +
      "in occurrence mode and stay invisible to the default") {
    // doc 1 repeats a 5-gram twice INTERNALLY; nothing is shared
    // across documents.
    val df = Seq(
      (1L, "p q r s t GAP p q r s t"),
      (2L, "totally unrelated words sit here now"))
      .toDF("doc_id", "text")
    // default (distinct docs): no window reaches 2 distinct documents
    assert(Curation.duplicatedSpans(df, "doc_id", "text", n = 5, minDf = 2)
      .isEmpty)
    // occurrence mode: "p q r s t" occurs twice (pos 0 and 6) -> two
    // disjoint spans
    val occ = Curation.duplicatedSpans(
      df, "doc_id", "text", n = 5, minDf = 2, distinctDocs = false)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
      .toSeq
    assert(occ === Seq((1L, 1L, 0L, 4L, 5L), (1L, 2L, 6L, 10L, 5L)))
    // and removal excises both, keeping only the separator token
    val removed = Curation.removeDuplicatedSpans(
      df, "doc_id", "text", n = 5, minDf = 2, distinctDocs = false)
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(removed.head === ((1L, "GAP", 11L, 1L, 10L)))
  }

  test("removeDuplicatedSpans: excises maximal spans at start/end/whole-doc, " +
      "short docs pass through untouched") {
    val df = Seq(
      // shared 7-token passage at the START of doc 1, MIDDLE of doc 2
      (1L, "one two three four five six seven u1 u2 u3"),
      (2L, "x1 one two three four five six seven x2 x3"),
      // doc 3 IS a shared 5-gram alone -> whole doc removed
      (3L, "a b c d e"),
      // the same shared span sits at the END of doc 4
      (4L, "z1 z2 a b c d e"),
      // shorter than n: no windows, passes through
      (5L, "tiny doc"))
      .toDF("doc_id", "text")
    val out = Curation.removeDuplicatedSpans(
      df, "doc_id", "text", n = 5, minDf = 2)
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out(0) === ((1L, "u1 u2 u3", 10L, 3L, 7L)))
    assert(out(1) === ((2L, "x1 x2 x3", 10L, 3L, 7L)))
    assert(out(2) === ((3L, "", 5L, 0L, 5L))) // whole doc was the span
    assert(out(3) === ((4L, "z1 z2", 7L, 2L, 5L)))
    assert(out(4) === ((5L, "tiny doc", 2L, 2L, 0L)))
    // determinism under repartitioning
    val out2 = Curation.removeDuplicatedSpans(
      df.repartition(7), "doc_id", "text", n = 5, minDf = 2)
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out2 === out)
  }

  test("importanceWeights n=2: hashed-bigram features match a driver " +
      "brute force; short docs contribute one whole-text feature") {
    val docsMap = Map(
      1L -> "alpha beta beta gamma", 2L -> "alpha alpha delta",
      3L -> "gamma gamma gamma epsilon", 4L -> "beta delta zeta zeta",
      5L -> "solo") // 1 token < 2 -> whole-text feature
    val raw = docsMap.toSeq.toDF("doc_id", "text")
    val target = raw.filter($"doc_id" <= 2)
    val nB = 64; val seed = 7
    val out = Curation.importanceWeights(
      raw, target, "doc_id", "text", nB, seed, n = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq

    def bucket(w: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$w".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % nB
    }
    def features(t: String): Seq[String] = {
      val ws = t.split("\\s+").toSeq
      if (ws.size < 2) Seq(ws.mkString(" "))
      else ws.sliding(2).map(_.mkString(" ")).toSeq
    }
    val rawFeats = docsMap.toSeq.flatMap { case (id, t) =>
      features(t).map(w => (id, bucket(w))) }
    val tgtFeats = rawFeats.filter(_._1 <= 2L)
    val cR = rawFeats.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cT = tgtFeats.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val (rTot, tTot) = (rawFeats.size.toLong, tgtFeats.size.toLong)
    def ratioMicro(b: Long): Long =
      ((BigInt(cT.getOrElse(b, 0L)) + 1) * (rTot + nB) * 1000000 /
        ((BigInt(cR(b)) + 1) * (tTot + nB))).toLong
    val expected = rawFeats.groupBy(_._1).map { case (id, ts) =>
      (id, ts.size.toLong, ts.map(t => ratioMicro(t._2) - 1000000L).sum)
    }.toSeq.sortBy(_._1)
    assert(out === expected)
    // doc 1's 4 tokens yield 3 bigram features; doc 5's single token 1
    val byId = out.map(r => r._1 -> r._2).toMap
    assert(byId(1L) === 3L && byId(5L) === 1L)
  }

  test("importanceWeights: matches a driver brute force; deterministic " +
      "under partitioning; topK orders by (weight desc, id)") {
    val docsMap = Map(
      1L -> "alpha beta beta gamma", 2L -> "alpha alpha delta",
      3L -> "gamma gamma gamma epsilon", 4L -> "beta delta zeta zeta",
      5L -> "alpha gamma")
    val raw = docsMap.toSeq.toDF("doc_id", "text")
    val target = raw.filter($"doc_id" <= 2) // target favors alpha
    val nB = 64; val seed = 7
    val out = Curation
      .importanceWeights(raw, target, "doc_id", "text", nB, seed)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq

    // Driver brute force with the operator's exact integer arithmetic.
    def bucket(w: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$w".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % nB
    }
    val rawToks = docsMap.toSeq.flatMap { case (id, t) =>
      t.split("\\s+").map(w => (id, bucket(w))) }
    val tgtToks = rawToks.filter(_._1 <= 2L)
    val cR = rawToks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cT = tgtToks.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val (rTot, tTot) = (rawToks.size.toLong, tgtToks.size.toLong)
    def ratioMicro(b: Long): Long =
      ((BigInt(cT.getOrElse(b, 0L)) + 1) * (rTot + nB) * 1000000 /
        ((BigInt(cR(b)) + 1) * (tTot + nB))).toLong
    val expected = rawToks.groupBy(_._1).map { case (id, ts) =>
      (id, ts.size.toLong, ts.map(t => ratioMicro(t._2) - 1000000L).sum)
    }.toSeq.sortBy(_._1)
    assert(out === expected)
    // target-heavy docs (1, 2) must outscore the target-absent doc 3
    val byId = out.map(r => r._1 -> r._3).toMap
    assert(byId(1L) > byId(3L) && byId(2L) > byId(3L))

    val out2 = Curation.importanceWeights(
      raw.repartition(5), target, "doc_id", "text", nB, seed)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out2 === out)

    val top = Curation.importanceTopK(
      Curation.importanceWeights(raw, target, "doc_id", "text", nB, seed),
      "doc_id", 2).as[(Long, Long, Long)].collect().toSeq
    assert(top === expected.sortBy(e => (-e._3, e._1)).take(2))
  }

  test("importanceWeights plan shape: ratio table joins broadcast, " +
      "topK plans as TakeOrderedAndProject, no sort-merge join") {
    val raw = Seq((1L, "a b c"), (2L, "b c d"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val top = Curation.importanceTopK(
      Curation.importanceWeights(
        raw, raw.filter($"doc_id" === 1L), "doc_id", "text", 64, 7),
      "doc_id", 2)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"topK must not global-sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"ratio join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing here may sort-merge:\n$plan")
  }

  test("classifierScore: matches a driver brute force (hash, missing " +
      "buckets, bias, trunc-toward-zero mean on negative sums)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta gamma"),
      (3L, "zeta"), // shorter than n=2 -> ONE whole-text feature
      (4L, "alpha alpha alpha alpha alpha"))
      .toDF("doc_id", "text")
    val nB = 8
    // driver brute force: same md5-derived bucket hash, same shingle
    // contract (short doc -> one whole-text feature), Long '/' is
    // trunc-toward-zero like Spark div.
    def h32(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(("7:" + s).getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString, 16)
    def shingles(text: String): Seq[String] = {
      val t = text.trim.split("\\s+").toSeq
      if (t.size < 2) Seq(t.mkString(" "))
      else t.sliding(2).map(_.mkString(" ")).toSeq
    }
    // pin doc 3's single-feature bucket to a big negative weight so a
    // negative sum (and its trunc-toward-zero mean) is exercised no
    // matter where the other features hash; one other bucket is left
    // absent (-> weight 0).
    val negBucket = h32("zeta") % nB
    val absent = (negBucket + 1) % nB
    val wRows = (0L until nB).collect {
      case b if b == negBucket => b -> -700001L
      case b if b != absent => b -> (b * 97003L - 300000L)
    }.toSeq
    val weights = wRows.toDF("bucket", "weight_micro")
    val bias = -50000L
    val out = Curation.classifierScore(docs, "doc_id", "text", weights,
      nBuckets = nB, seed = 7, n = 2, biasMicro = bias)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val wMap = wRows.toMap.withDefaultValue(0L)
    docs.as[(Long, String)].collect().foreach { case (id, txt) =>
      val feats = shingles(txt).map(s => h32(s) % nB)
      val sum = feats.map(wMap).sum
      val expected = (feats.size.toLong, sum, bias + sum / feats.size)
      assert(out(id) === expected, s"doc $id")
    }
    // at least one doc must actually exercise a negative sum, or the
    // trunc-direction claim is untested
    assert(out.values.exists(_._2 < 0L))
  }

  test("classifierScore plan: weight table joins broadcast, no SMJ") {
    val docs = Seq((1L, "a b c"), (2L, "c d e")).toDF("doc_id", "text")
    val weights = Seq((0L, 1L), (1L, -2L)).toDF("bucket", "weight_micro")
    val plan = Curation.classifierScore(docs, "doc_id", "text", weights,
      nBuckets = 16).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"weights must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no SMJ here:\n$plan")
  }

  test("removeDuplicatedSpans: null text reads as zero tokens, " +
      "counts stay non-null and account") {
    val docs = Seq(
      (1L, "a b c d e f g"), (2L, "a b c d e x y"),
      (3L, null.asInstanceOf[String]), (4L, ""))
      .toDF("doc_id", "text")
    val out = Curation.removeDuplicatedSpans(docs, "doc_id", "text",
      n = 5, minDf = 2)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(3L) === ((3L, "", 0L, 0L, 0L))) // null: zero tokens
    assert(out(4L)._3 === 1L) // empty string: one empty token
    out.values.foreach { case (id, _, nt, nk, nr) =>
      assert(nk + nr === nt, s"accounting broke for doc $id") }
    // shared "a b c d e" excised whole from both sharers
    assert(out(1L)._2 === "f g")
    assert(out(2L)._2 === "x y")
  }

  test("removeDuplicatedSegments: null text reads as zero segments") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b x y"),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Curation.removeDuplicatedSegments(docs, "doc_id", "text",
      segTokens = 2, maxDf = 2)
      .as[(Long, String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(3L) === ((3L, "", 0L, 0L, 0L)))
    // segment "a b" occurs in 2 docs >= maxDf -> dropped from both
    assert(out(1L)._2 === "c d" && out(2L)._2 === "x y")
  }

  test("duplicatedSpans provenance: k smallest sharing docs per span; " +
      "provenanceK = 0 keeps the detection-only schema") {
    val shared = "p q r s t"
    val docs = Seq(
      (5L, s"$shared aa bb"), (9L, s"$shared cc dd"),
      (2L, s"$shared ee ff"), (7L, s"$shared gg hh"),
      (1L, "nothing shared here at all"))
      .toDF("doc_id", "text")
    val out = Curation.duplicatedSpans(docs, "doc_id", "text",
      n = 5, minDf = 2, provenanceK = 3)
    assert(out.columns.contains("sample_docs"))
    val rows = out
      .select($"doc_id", $"start_tok", $"end_tok", $"sample_docs")
      .as[(Long, Long, Long, String)].collect()
    assert(rows.length === 4)
    rows.foreach { case (_, st, en, sd) =>
      assert(st === 0L && en === 4L)
      // 4 sharers {2,5,7,9}; the 3 smallest, sorted, comma-joined
      assert(sd === "2,5,7")
    }
    val plain = Curation.duplicatedSpans(docs, "doc_id", "text",
      n = 5, minDf = 2)
    assert(plain.columns.toSeq ===
      Seq("doc_id", "span_id", "start_tok", "end_tok", "span_tokens"))
  }

  test("duplicatedSpans provenance state is O(k) for integral ids: " +
      "bottom-k sketch in the plan, exact on a mega-duplicated window") {
    // One boilerplate window shared by EVERY doc — the shape whose
    // provenance buffer used to hold the window's full distinct doc set
    // pre-slice (one collect_set buffer with n_docs entries). With the
    // KMV swap each partial holds at most k ids.
    val n = 500
    val docs = spark.range(n)
      .select((col("id") + 10L).as("doc_id"),
        concat(lit("p q r s t tail"), col("id").cast("string")).as("text"))
    val out = Curation.duplicatedSpans(docs, "doc_id", "text",
      n = 5, minDf = 2, provenanceK = 4)
    val plan = out.queryExecution.executedPlan.toString.toLowerCase
    assert(plan.contains("bottomkagg"),
      s"expected the bottom-k sketch aggregate in the plan:\n$plan")
    assert(!plan.contains("collect_set"),
      "the unbounded collect_set buffer must be gone for long ids")
    val rows = out.select($"doc_id", $"sample_docs")
      .as[(Long, String)].collect()
    assert(rows.length === n)
    // 500 sharers; the 4 smallest ids are 10,11,12,13 for every span.
    rows.foreach { case (_, sd) => assert(sd === "10,11,12,13") }
    // Non-integral id column: same semantics through the collect_set
    // fallback (k smallest distinct by the type's ordering).
    import spark.implicits._
    val sdocs = Seq(("dA", "p q r s t x"), ("dB", "p q r s t y"),
      ("dC", "p q r s t z")).toDF("doc_id", "text")
    val sout = Curation.duplicatedSpans(sdocs, "doc_id", "text",
      n = 5, minDf = 2, provenanceK = 2)
      .select($"sample_docs").as[String].collect()
    assert(sout.length === 3)
    sout.foreach(sd => assert(sd === "dA,dB"))
  }

  test("removeDuplicatedSpans provenanceK: removed_spans says who " +
      "caused each excision; schema unchanged when off") {
    val docs = Seq(
      (1L, "p q r s t f1 f2 u v w x y"), // both shared phrases
      (2L, "p q r s t aa bb cc dd ee"),  // shares the head phrase
      (3L, "zz u v w x y qq"))           // shares the tail phrase
      .toDF("doc_id", "text")
    val out = Curation.removeDuplicatedSpans(docs, "doc_id", "text",
      n = 5, minDf = 2, provenanceK = 2)
    assert(out.columns.last === "removed_spans")
    val rows = out.select($"doc_id", $"clean_text", $"removed_spans")
      .as[(Long, String, String)].collect().map(r => r._1 -> r).toMap
    assert(rows(1L)._2 === "f1 f2")
    assert(rows(1L)._3 === "0-4@1,2;7-11@1,3")
    assert(rows(2L)._3 === "0-4@1,2")
    assert(rows(3L)._3 === "1-5@1,3")
    // off: schema identical to the pre-provenance contract
    val off = Curation.removeDuplicatedSpans(docs, "doc_id", "text",
      n = 5, minDf = 2)
    assert(off.columns.toSeq ===
      Seq("doc_id", "clean_text", "n_tokens", "n_kept", "n_removed"))
  }

  test("trainClassifier: weights match a driver brute force; null " +
      "labels contribute to neither class; score end-to-end separates") {
    val docs = Seq(
      (1L, "good clean prose text", "pos"),
      (2L, "good solid prose here", "pos"),
      (3L, "spam spam buy now", "neg"),
      (4L, "buy cheap spam offer", "neg"),
      (5L, "totally unlabeled words", null.asInstanceOf[String]))
      .toDF("doc_id", "text", "label")
    val nB = 64
    val w = Curation.trainClassifier(docs, "text",
      when($"label".isNotNull, $"label" === "pos"), nBuckets = nB, seed = 7)
      .as[(Long, Long)].collect().toMap
    // driver brute force: same md5("seed:" + token) first-8-hex bucket,
    // add-one-smoothed class ratio in micro units, truncating division.
    def bucket(tok: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"7:$tok".getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(4).map(b => f"${b & 0xff}%02x").mkString, 16) % nB
    }
    val pos = Seq("good clean prose text", "good solid prose here")
    val neg = Seq("spam spam buy now", "buy cheap spam offer")
    def cnt(ts: Seq[String]) = ts.flatMap(_.split("\\s+")).map(bucket)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (cp, cn) = (cnt(pos), cnt(neg))
    val (pTot, nTot) = (cp.values.sum, cn.values.sum)
    val expected = (cp.keySet ++ cn.keySet).map { b =>
      val num = BigInt(cp.getOrElse(b, 0L) + 1) * (nTot + nB) * 1000000
      val den = BigInt(cn.getOrElse(b, 0L) + 1) * (pTot + nB)
      b -> ((num / den).toLong - 1000000L)
    }.toMap
    assert(w === expected)
    // the unlabeled doc's tokens are in no bucket count: brute force
    // above never saw doc 5, and the engine agrees.
    val scored = Curation.classifierScore(docs, "doc_id", "text",
      Seq.empty[(Long, Long)].toDF("bucket", "weight_micro")
        .unionByName(w.toSeq.toDF("bucket", "weight_micro")),
      nBuckets = nB, seed = 7)
      .select($"doc_id", $"score_micro").as[(Long, Long)].collect().toMap
    assert(scored(1L) > 0L && scored(2L) > 0L, s"positives: $scored")
    assert(scored(3L) < 0L && scored(4L) < 0L, s"negatives: $scored")
  }

  test("kmvDistinct: exact below k, estimate within 2x at 25 values") {
    val small = (1 to 5).map(i => ("g1", s"v$i")) // 5 distinct < k=8
    val big = (1 to 25).map(i => ("g2", s"w$i"))
    val df = (small ++ big).toDF("source", "text")
    val out = Curation.kmvDistinct(
      df, "source", text.md5Hash32(col("text"), 0), k = 8)
      .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out.head === (("g1", 5L, 5L))) // exact fallback
    val (_, exact2, est2) = out(1)
    assert(exact2 === 25L)
    assert(est2 > 12L && est2 < 50L) // KMV estimate in a sane band
  }
}
