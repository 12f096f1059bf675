package graft

import org.apache.spark.sql.functions._

import graft.operators.Ranking
import graft.plans.{MisraGriesAgg, ZOrder16}

/** Retrieval-scoring family: Z-order interleave (native expression vs a
  * Scala bit-twiddling reference, locality property, SQL registration),
  * Misra-Gries heavy hitters (guarantee under adversarial order and
  * repartitioning), and BM25 ranking sanity. */
class RankingSpec extends SparkSpec {

  // independent per-bit reference implementation
  private def mortonRef(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("zorder16 matches the per-bit reference on boundary and random points") {
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (255L, 256L), (43690L, 21845L)) ++
      (1 to 50).map(i => ((i * 2654435761L) & 0xFFFFL, (i * 40503L) & 0xFFFFL))
    import spark.implicits._
    val df = pts.toDF("x", "y")
      .select(col("x"), col("y"), ZOrder16.zorder16(col("x"), col("y")).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) == mortonRef(r.getLong(0), r.getLong(1)),
        s"(${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("zorder16 SQL registration and interpreted path agree with codegen") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong * 37 % 65536, i.toLong * 101 % 65536))
      .toDF("x", "y").createOrReplaceTempView("zpts")
    val viaSql = spark.sql(
      "SELECT x, y, graft_zorder16(x, y) AS z FROM zpts").collect()
    viaSql.foreach(r =>
      assert(r.getLong(2) == mortonRef(r.getLong(0), r.getLong(1))))
    spark.catalog.dropTempView("zpts")
  }

  test("zorder sort clusters 2-d neighborhoods (range-scan span shrinks)") {
    import spark.implicits._
    // 32x32 grid; rows sorted by zorder vs by row-major (x, y)
    val grid = for { x <- 0 until 32; y <- 0 until 32 } yield (x.toLong, y.toLong)
    val df = grid.toDF("x", "y")
      .withColumn("z", ZOrder16.zorder16(col("x"), col("y")))
    // positions of an 8x8 query box in each ordering
    val zSorted = df.orderBy("z").collect().zipWithIndex
    val xySorted = df.orderBy("x", "y").collect().zipWithIndex
    def span(rows: Seq[(org.apache.spark.sql.Row, Int)]): Int = {
      val pos = rows.collect {
        case (r, i) if r.getLong(0) < 8 && r.getLong(1) < 8 => i
      }
      pos.max - pos.min + 1
    }
    val zSpan = span(zSorted.toSeq)
    val xySpan = span(xySorted.toSeq)
    // z-order keeps the 8x8 box in one contiguous run of 64; row-major
    // scatters it across 8 stripes spanning ~8*32 rows
    assert(zSpan == 64, s"z-order span $zSpan")
    assert(xySpan > 200, s"row-major span $xySpan")
  }

  test("misra-gries guarantee: heavy items survive adversarial order and partitioning") {
    import spark.implicits._
    // 3 heavy items (freq > n/(k+1) with k=4) drowned in distinct noise,
    // heavy items emitted LAST so the decrement path is exercised first
    val noise = (1 to 900).map(i => s"noise_$i")
    val heavy = Seq.fill(400)("alpha") ++ Seq.fill(300)("beta") ++
      Seq.fill(250)("gamma")
    val data = (noise ++ heavy).toDF("w").repartition(7)
    val n = data.count() // 1850; n/5 = 370 -> only alpha qualifies at k=4
    val cands = data.agg(MisraGriesAgg.misraGries(col("w"), 4).as("c"))
      .head.getSeq[String](0).toSet
    assert(cands.contains("alpha"), s"alpha missing from $cands")
    assert(cands.size <= 4)
    // end-to-end: exact verify keeps exactly the true heavy hitters
    val hh = Ranking.heavyHitters(data, "w", k = 4, sketchK = 8)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val expected = Map("alpha" -> 400L, "beta" -> 300L)
      .filter { case (_, c) => c * 5 > n }
    assert(hh == expected, s"got $hh")
  }

  test("charQuality: empty document reports NULL ratio, no crash") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "ok")).toDF("doc_id", "text")
    val rows = Ranking.charQuality(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(rows(0).getLong(4) === 0L) // n_chars
    assert(rows(0).isNullAt(5)) // nonascii_bp NULL, not divide-by-zero
    assert(rows(1).getLong(5) === 0L)
  }

  test("bm25 ranks a term-dense short doc above a term-sparse long doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark join join join fast"),
      (2L, "spark " + ("filler " * 200) + "join"),
      (3L, "no relevant terms here at all")).toDF("doc_id", "text")
    val scores = Ranking.bm25(docs, "doc_id", "text", Seq("join"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(scores.contains(1L) && scores.contains(2L) && !scores.contains(3L))
    assert(scores(1L) > scores(2L))
  }

  test("bigram LM score: common continuation outranks rare continuation") {
    import spark.implicits._
    val docs = (1 to 10).map(i => (i.toLong, "the quick brown fox")) ++
      Seq((11L, "the slow brown fox"))
    val r = Ranking.bigramLmScore(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(x => (x.getLong(0), x.getLong(3))).toMap
    // doc 1: (the,quick)=10/11, (quick,brown)=10/10, (brown,fox)=11/11
    assert(r(1L) == (909090L + 1000000L + 1000000L) / 3)
    // doc 11: (the,slow)=1/11 drags the average down
    assert(r(11L) == (90909L + 1000000L + 1000000L) / 3)
    assert(r(1L) > r(11L))
  }

  test("perplexityProxy: matches a hand-computed add-one-smoothed " +
      "reference; unscoreable docs are absent") {
    import spark.implicits._
    val model = Seq(
      (100L, "the quick brown fox"), (101L, "the quick red fox"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "the quick brown fox"),   // all bigrams seen
      (2L, "the slow brown fox"),    // unseen bigram + unseen prefix
      (3L, "unseen words entirely novel"),
      (4L, "single"))                // < 2 tokens: not scored
      .toDF("doc_id", "text")
    val out = Ranking.perplexityProxy(docs, model, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // model: pairs (the,quick)x2, (quick,brown), (quick,red),
    // (brown,fox), (red,fox); prefixes the->2, quick->2, brown->1,
    // red->1; V = |{quick, brown, red, fox}| = 4.
    // doc1: 6e6/3-1e6=1e6; 6e6/2-1e6=2e6; 5e6/2-1e6=1.5e6
    assert(out(1L) === ((3L, 4500000L, 1500000L)))
    // doc2: (the,slow) 6e6/1-1e6=5e6; (slow,brown) 4e6/1-1e6=3e6;
    // (brown,fox) 1.5e6 -> sum 9.5e6, mean truncates to 3166666
    assert(out(2L) === ((3L, 9500000L, 3166666L)))
    // doc3: three fully-unseen bigrams at 3e6 each
    assert(out(3L) === ((3L, 9000000L, 3000000L)))
    assert(!out.contains(4L))
    // the weird tail ranks weirder: doc1 < doc3 <= doc2
    assert(out(1L)._3 < out(3L)._3 && out(3L)._3 <= out(2L)._3)
  }

  test("perplexityProxy: degenerate model (no doc with >= 2 tokens) " +
      "keeps the contract 0 = minimum, never negative") {
    import spark.implicits._
    // V would be 0 un-floored and every bigram would score a constant
    // -1e6, below the documented minimum; with greatest(V, 1) the
    // smoothed table is total and unseen bigrams read 0.
    val model = Seq((100L, "single"), (101L, "")).toDF("doc_id", "text")
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val out = Ranking.perplexityProxy(docs, model, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.toSeq === Seq((1L, 2L, 0L, 0L)))
  }

  test("perplexityProxy surrogate: monotone (strict on distinct p-hat " +
      "here) against a float -ln reference") {
    // enumerate smoothed (pair_n, prefix_n) combos at fixed V: the
    // integer surrogate 1e6*(1/p-1) must order EXACTLY like -ln(p)
    val V = 7L
    val pts = for {
      pair <- 0L to 6L
      prefix <- pair to 12L
    } yield {
      val p = (pair + 1).toDouble / (prefix + V)
      val s = (prefix + V) * 1000000L / (pair + 1) - 1000000L
      (p, s, -math.log(p))
    }
    for (a <- pts; b <- pts) {
      if (a._1 < b._1 - 1e-12) {
        assert(a._2 > b._2, s"surrogate not strictly decreasing: $a $b")
        assert(a._3 > b._3) // sanity: -ln agrees
      }
      if (math.abs(a._1 - b._1) < 1e-12)
        assert(a._2 === b._2)
    }
  }

  test("perplexityBuckets: value-ordered terciles, ties to the lower " +
      "bucket, partitioning-independent") {
    import spark.implicits._
    // 9 docs, scores with a tie straddling the n/3 rank: cut1 is the
    // VALUE at rank ceil(9/3)=3 (score 20), and both 20s land in head.
    val scored = Seq(
      (1L, 10L), (2L, 20L), (3L, 20L), (4L, 30L), (5L, 40L),
      (6L, 50L), (7L, 60L), (8L, 70L), (9L, 80L)
    ).toDF("doc_id", "s").repartition(7)
    val out = Ranking.perplexityBuckets(scored, "doc_id", "s")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    val byBucket = out.groupBy(_._3).view.mapValues(_.map(_._2).toSet).toMap
    assert(byBucket("head") === Set(10L, 20L))      // ranks 1-3 incl. tie
    assert(byBucket("middle") === Set(30L, 40L, 50L)) // ranks 4-6
    assert(byBucket("tail") === Set(60L, 70L, 80L))
    // every head score <= every middle score <= every tail score
    assert(byBucket("head").max <= byBucket("middle").min)
    assert(byBucket("middle").max <= byBucket("tail").min)
  }
}
