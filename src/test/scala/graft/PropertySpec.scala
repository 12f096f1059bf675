package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.config.{Calibration, PipelineConfig, ReadingCols}
import graft.model.TypeProfile
import graft.transform.Transforms
import graft.validate.Validation

/** ScalaCheck-generator properties from the SURVEY §5 plan: dedup
  * idempotence, calibration linearity, quality-score bounds, gap-count
  * identity. (scalatestplus is not on the offline classpath, so
  * generators are sampled with fixed seeds — deterministic runs.) */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val cfg = PipelineConfig.default

  private def forAllN[A](gen: Gen[A], n: Int = 20)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(f)
    }

  test("property: zorder16 interleave is exact and order-preserving") {
    import graft.plans.ZOrder16
    // reference de-interleave: extract even/odd bits
    def unspread(z: Long, off: Int): Long =
      (0 until 16).map(i => ((z >> (2 * i + off)) & 1L) << i).sum
    forAllN(Gen.zip(Gen.chooseNum(0L, 65535L), Gen.chooseNum(0L, 65535L)),
      n = 50) { case (x, y) =>
      val z = ZOrder16.spread(x) | (ZOrder16.spread(y) << 1)
      assert(unspread(z, 0) === x) // x occupies the even bits, intact
      assert(unspread(z, 1) === y) // y the odd bits
    }
    // monotone within a fixed other-dimension: the z curve preserves
    // per-dimension order (what makes min/max zones meaningful)
    forAllN(Gen.zip(Gen.chooseNum(0L, 65534L), Gen.chooseNum(0L, 65535L)),
      n = 50) { case (x, y) =>
      def z(a: Long, b: Long) = ZOrder16.spread(a) | (ZOrder16.spread(b) << 1)
      assert(z(x, y) < z(x + 1, y))
      assert(z(y, x) < z(y, x + 1))
    }
  }

  test("property: quality score always within [0, 100]") {
    val profiles = Gen.listOfN(4, for {
      pct <- Gen.choose(0.0, 100.0)
      n <- Gen.choose(1L, 1000L)
    } yield TypeProfile("t", n, (n * pct / 100).toLong, pct))
    val gen = for {
      miss <- profiles
      anom <- profiles
      gaps <- Gen.choose(0L, 10000L)
    } yield (miss, anom, gaps)
    forAllN(gen, 50) { case (miss, anom, gaps) =>
      val s = Validation.qualityScore(miss, anom, gaps, cfg)
      assert(s >= 0.0 && s <= 100.0)
    }
  }

  test("property: calibration applies the exact linear map") {
    val gen = for {
      v <- Gen.choose(-100.0, 100.0)
      m <- Gen.choose(0.1, 5.0)
      o <- Gen.choose(-10.0, 10.0)
    } yield (v, m, o)
    forAllN(gen, 10) { case (v, m, o) =>
      val df = Seq(("s1", java.sql.Timestamp.valueOf("2023-06-01 00:00:00"),
        "temperature", v, 90.0))
        .toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level")
      val out = Transforms.calibrate(
        Map("temperature" -> Calibration(m, o)), ReadingCols.sensor)(df)
        .select("value").as[Double].head()
      assert(out === v * m + o)
    }
  }

  test("property: dedup is idempotent and bounded by input size") {
    val rows = Gen.listOfN(30, for {
      id <- Gen.oneOf("s1", "s2")
      h <- Gen.choose(0, 3)
      v <- Gen.oneOf(1.0, 2.0)
    } yield (id, java.sql.Timestamp.valueOf(f"2023-06-01 $h%02d:00:00"),
      "temperature", v, 90.0))
    forAllN(rows, 5) { rs =>
      if (rs.nonEmpty) {
        val df = rs.toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level")
        val once = Transforms.dedupExact(df)
        val c1 = once.count()
        assert(c1 <= rs.size)
        assert(Transforms.dedupExact(once).count() === c1)
      }
    }
  }

  test("property: chunking covers every token, respects size and stride") {
    val gen = for {
      n <- Gen.choose(1, 60)
      size <- Gen.choose(2, 12)
      stride <- Gen.choose(1, size)
    } yield (n, size, stride)
    forAllN(gen, 15) { case (n, size, stride) =>
      val doc = (0 until n).map(i => s"t$i").mkString(" ")
      val chunks = graft.operators.Curation
        .chunkTokens(Seq((1L, doc)).toDF("doc_id", "text"),
          "doc_id", "text", size, stride)
        .select($"chunk_id", $"chunk_text")
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val covered = chunks.flatMap(_._2.split(" ")).toSet
      assert(covered === (0 until n).map(i => s"t$i").toSet) // full coverage
      assert(chunks.forall(_._2.split(" ").length <= size)) // size bound
      // chunk k starts exactly at token k*stride
      chunks.foreach { case (k, txt) =>
        assert(txt.split(" ").head === s"t${k * stride}")
      }
    }
  }

  test("property: packing manifest bins are contiguous and gapless") {
    val gen = Gen.listOfN(8, Gen.choose(1, 40))
    forAllN(gen, 10) { lens =>
      val docs = lens.zipWithIndex.map { case (n, i) =>
        ("s", i.toLong, (1 to n).map(_ => "x").mkString(" "))
      }
      val m = graft.operators.Curation
        .packingManifest(docs.toDF("source", "doc_id", "text"),
          "source", "doc_id", "text", capacity = 16)
        .select($"doc_id", $"n_tokens", $"bin_start", $"offset_in_bin")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
      // reconstruct the running stream: each doc starts exactly where
      // the previous ended (concatenate-and-cut leaves no gaps)
      var pos = 0L
      m.foreach { case (_, n, bin, off) =>
        assert(bin === pos / 16 && off === pos % 16)
        pos += n
      }
    }
  }

  test("property: gap count = grid size - observed hour-slots") {
    val gen = for {
      span <- Gen.choose(2, 20)
      hours <- Gen.nonEmptyListOf(Gen.choose(0, 19))
    } yield (span, hours)
    forAllN(gen, 10) { case (span, observedHours) =>
      // always include hour 0 and span-1 so the grid bounds are fixed
      val hours = (observedHours.map(_ % span) :+ 0 :+ (span - 1)).distinct
      val rows = hours.map(h =>
        ("s1", java.sql.Timestamp.valueOf(f"2023-06-01 $h%02d:30:00"),
          "temperature", 1.0, 90.0))
      val df = rows.toDF("sensor_id", "timestamp", "reading_type", "value", "battery_level")
      val missing = Validation.collectMetrics(PipelineConfig.default)(df)
        .metrics.get.totalMissingHours
      assert(missing === span - hours.size)
    }
  }

  test("property: segment dedup accounting and all-unique identity") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val gen = for {
      nDocs <- Gen.choose(2, 6)
      docs <- Gen.listOfN(nDocs, Gen.nonEmptyListOf(word).map(_.take(20)))
    } yield docs
    forAllN(gen, 8) { docs =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val out = graft.operators.Curation
        .removeDuplicatedSegments(df, "doc_id", "text", segTokens = 4, maxDf = 2)
        .as[(Long, String, Long, Long, Long)].collect()
      assert(out.length === docs.length) // one row per doc, always
      out.foreach { case (_, _, nSeg, nKept, nRemoved) =>
        assert(nKept + nRemoved === nSeg) // accounting identity
        assert(nSeg === math.max(1, 0) + (nSeg - 1)) // nSeg >= 1
      }
      // docs made globally unique (every token doc-prefixed, so no
      // cross-doc segment can collide) keep everything; within-doc
      // repeats survive by design (df counts DISTINCT docs)
      val salted = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.map(w => s"d$i$w").mkString(" ")) }
        .toDF("doc_id", "text")
      val kept = graft.operators.Curation
        .removeDuplicatedSegments(salted, "doc_id", "text", 4, 2)
        .as[(Long, String, Long, Long, Long)].collect()
      kept.foreach { case (id, clean, nSeg, nKept, nRemoved) =>
        assert(nRemoved === 0L)
        assert(nKept === nSeg)
        // reassembly reproduces the (whitespace-normalized) input
        assert(clean === docs(id.toInt).map(w => s"d$id$w").mkString(" "))
      }
    }
  }

  // Random-corpus generator for the exact similarity joins: 6-12 docs,
  // each 3-12 words from a 10-word vocabulary — small enough that the
  // driver-side brute force is trivially correct, adversarial enough
  // that set sizes collide with every ceil/floor boundary of the
  // integer-bp threshold math (the r15 positional filter's losslessness
  // rides exactly that arithmetic).
  private val corpusGen: Gen[(List[String], Int)] = for {
    n <- Gen.choose(6, 12)
    docs <- Gen.listOfN(n, for {
      k <- Gen.choose(3, 12)
      ws <- Gen.listOfN(k, Gen.oneOf(
        "ash", "birch", "cedar", "dew", "elm", "fern",
        "gale", "hazel", "iris", "juno"))
    } yield ws.mkString(" "))
    t <- Gen.oneOf(5000, 6000, 6666, 7500, 9000, 10000)
  } yield (docs, t)

  private def tokSet(s: String): Set[String] =
    s.trim.split("\\s+").toSet

  test("property: duplicatedSpans == driver brute force (run-merge " +
    "boundaries, both minDf paths, occurrence mode, docs shorter than n) " +
    "and removeDuplicatedSpans is its exact complement") {
    import graft.operators.Curation
    // driver brute force replicating the DEFINITION: windows, df count
    // (distinct docs or total occurrences), dup positions, run-merge.
    def bruteSpans(docs: List[String], n: Int, minDf: Int,
        distinctDocs: Boolean): Set[(Long, Long, Long, Long, Long)] = {
      val toks = docs.map(_.trim.split("\\s+").toList)
      val windows = toks.zipWithIndex.flatMap { case (t, id) =>
        if (t.size < n) Nil
        else (0 to t.size - n).map(p =>
          (id.toLong, p, t.slice(p, p + n).mkString(" ")))
      }
      val counts: Map[String, Int] =
        if (distinctDocs)
          windows.groupBy(_._3).view
            .mapValues(_.map(_._1).distinct.size).toMap
        else windows.groupBy(_._3).view.mapValues(_.size).toMap
      val dup = windows.filter(w => counts(w._3) >= minDf)
      dup.groupBy(_._1).flatMap { case (id, ws) =>
        val ps = ws.map(_._2).distinct.sorted
        val runs = ps.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p == e + 1 => (s, p) :: rest
          case (acc, p) => (p, p) :: acc
        }.reverse
        runs.zipWithIndex.map { case ((s, e), k) =>
          (id, (k + 1).toLong, s.toLong, (e + n - 1).toLong,
            (e + n - 1 - s + 1).toLong)
        }
      }.toSet
    }
    val gen = for {
      (docs, _) <- corpusGen
      n <- Gen.oneOf(2, 3, 5) // n=5 leaves some docs shorter than n
      minDf <- Gen.oneOf(2, 3) // 2 = min!=max fast path, 3 = countDistinct
      dd <- Gen.oneOf(true, false)
    } yield (docs, n, minDf, dd)
    forAllN(gen, 10) { case (docs, n, minDf, dd) =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
        .toDF("doc_id", "text")
      val got = Curation.duplicatedSpans(df, "doc_id", "text", n, minDf,
        distinctDocs = dd)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val want = bruteSpans(docs, n, minDf, dd)
      assert(got === want, s"n=$n minDf=$minDf dd=$dd docs=$docs")
      // removal = exact complement of the covered positions
      val toks = docs.map(_.trim.split("\\s+").toSeq)
      val removed = Curation.removeDuplicatedSpans(df, "doc_id", "text",
        n, minDf, distinctDocs = dd)
        .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(removed.size === docs.size) // one row per doc, always
      removed.foreach { case (id, clean, nTok, nKept, nRem) =>
        val t = toks(id.toInt)
        val cover = want.filter(_._1 == id)
          .flatMap(s => s._3 to s._4).toSet
        val keptToks = t.indices.filterNot(i => cover(i.toLong)).map(t)
        assert(nTok === t.size.toLong)
        assert(nKept === keptToks.size.toLong)
        assert(nKept + nRem === nTok) // accounting identity
        assert(clean === keptToks.mkString(" "),
          s"doc $id reassembly: n=$n minDf=$minDf dd=$dd")
      }
    }
  }

  test("property: prefixFilterPairs == driver brute force on random corpora") {
    forAllN(corpusGen, n = 8) { case (docs, t) =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .prefixFilterPairs(df, "doc_id", "text", thresholdBp = t)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val sets = docs.map(tokSet).zipWithIndex
      val want = (for {
        (a, i) <- sets; (b, j) <- sets if i < j
        inter = (a & b).size.toLong
        bp = inter * 10000L / (a.size + b.size - inter)
        if bp >= t
      } yield (i.toLong, j.toLong, inter, bp)).toSet
      assert(got === want, s"threshold=$t docs=$docs")
    }
  }

  test("property: sortedNeighborhoodPairs == driver brute force on random corpora") {
    val bp = 4
    val win = 3
    forAllN(corpusGen, n = 8) { case (docs, t) =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .sortedNeighborhoodPairs(df, "doc_id", "text",
          blockPrefixLen = bp, windowSize = win, thresholdBp = t)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      // driver brute force replicating the DEFINITION: block by the
      // normalized prefix, sort by (64-char key, id), compare each row
      // to its next win-1 neighbors, exact integer-bp token Jaccard.
      val rows = docs.zipWithIndex.map { case (d, i) =>
        val norm = d.toLowerCase.replaceAll("[^a-z0-9]", "")
        (i.toLong, tokSet(d), norm.take(64), norm.take(bp))
      }
      val want = rows.groupBy(_._4).values.flatMap { block =>
        val s = block.sortBy(r => (r._3, r._1))
        for {
          i <- s.indices
          j <- 1 until win
          if i + j < s.size
          a = s(i); b = s(i + j)
          inter = (a._2 & b._2).size.toLong
          uni = (a._2 | b._2).size.toLong
          if uni > 0 && inter * 10000 >= t.toLong * uni
        } yield (math.min(a._1, b._1), math.max(a._1, b._1),
          inter * 10000 / uni)
      }.toSeq.sorted
      assert(got === want, s"threshold=$t docs=$docs")
    }
  }

  // Corpus + incoming-batch generator for dedupAgainst: incoming docs
  // are a mix of verbatim corpus copies (exact path), word-reversed
  // copies (same token SET, different text — the deterministic-recall
  // near path: identical sets share every minhash band), and fresh
  // random docs. Same 10-word vocabulary as corpusGen.
  private val dedupAgainstGen: Gen[(List[String], List[String], Double)] = {
    val word = Gen.oneOf(
      "ash", "birch", "cedar", "dew", "elm", "fern",
      "gale", "hazel", "iris", "juno")
    val docGen = Gen.choose(3, 10)
      .flatMap(k => Gen.listOfN(k, word).map(_.mkString(" ")))
    for {
      nc <- Gen.choose(3, 8)
      corpus <- Gen.listOfN(nc, docGen)
      ni <- Gen.choose(3, 8)
      incoming <- Gen.listOfN(ni, for {
        mode <- Gen.choose(0, 3)
        idx <- Gen.choose(0, nc - 1)
        fresh <- docGen
      } yield mode match {
        case 0 => corpus(idx)
        case 1 => corpus(idx).split(" ").reverse.mkString(" ")
        case _ => fresh
      })
      t <- Gen.oneOf(0.5, 0.75, 0.9)
    } yield (corpus, incoming, t)
  }

  test("property: dedupAgainst is sound (verified matches) and " +
    "deterministically complete on exact/set-identical duplicates") {
    forAllN(dedupAgainstGen, n = 8) { case (corpusDocs, incomingDocs, t) =>
      val corpus = corpusDocs.zipWithIndex
        .map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")
      val incoming = incomingDocs.zipWithIndex
        .map { case (d, i) => (100L + i, d) }.toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .dedupAgainst(corpus, incoming, "doc_id", "text",
          k = 8, bands = 4, shingleN = 1, threshold = t)
        .collect()
        .map(r => (r.getLong(0),
          (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
        .toMap
      assert(got.keySet === incomingDocs.indices.map(100L + _).toSet)
      val corpusByText = corpusDocs.zipWithIndex
        .groupMap(_._1)(_._2.toLong)
      def jac(a: Set[String], b: Set[String]): Double =
        if ((a | b).isEmpty) 0.0 else (a & b).size.toDouble / (a | b).size
      incomingDocs.zipWithIndex.foreach { case (d, i) =>
        val (status, matchId) = got(100L + i)
        val set = tokSet(d)
        corpusByText.get(d) match {
          case Some(ids) =>
            // exact path is complete AND picks the minimum corpus id
            assert(status === "exact_dup", s"doc=$d")
            assert(matchId === ids.min, s"doc=$d")
          case None =>
            assert(status !== "exact_dup", s"doc=$d")
            if (status == "near_dup") {
              // soundness: the match really clears the exact-Jaccard bar
              assert(matchId >= 0 &&
                jac(set, tokSet(corpusDocs(matchId.toInt))) >= t,
                s"doc=$d matched ${corpusDocs(matchId.toInt)}")
            } else {
              // deterministic recall floor: an identical token SET
              // yields identical minhash signatures -> every band
              // collides -> never classified unique (J = 1 >= t)
              assert(!corpusDocs.exists(c => tokSet(c) == set),
                s"set-identical duplicate classified unique: $d")
            }
        }
      }
    }
  }

  test("property: containmentPairs == driver brute force on random corpora") {
    forAllN(corpusGen, n = 8) { case (docs, t) =>
      val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }
        .toDF("doc_id", "text")
      val got = graft.operators.Dedup
        .containmentPairs(df, "doc_id", "text", thresholdBp = t)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val sets = docs.map(tokSet).zipWithIndex
      val want = (for {
        (a, i) <- sets; (b, j) <- sets if i != j
        inter = (a & b).size.toLong if inter > 0
        bp = inter * 10000L / a.size
        if bp >= t
      } yield (i.toLong, j.toLong, inter, bp)).toSet
      assert(got === want, s"threshold=$t docs=$docs")
    }
  }
}
