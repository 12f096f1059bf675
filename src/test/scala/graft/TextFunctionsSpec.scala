package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{embeddings, text}

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  /** Composable-built-ins dot product: the equivalence reference for
    * the native FloatVecDot (same strict left fold over doubles). */
  private def dotComposed(a: Column, b: Column): Column =
    embeddings.arraySum(zip_with(embeddings.toDouble(a),
      embeddings.toDouble(b), (x, y) => x * y))

  /** Composable-built-ins cosine: the equivalence reference for the
    * native FloatVecCosine; null for zero vectors. */
  private def cosineComposed(a: Column, b: Column): Column = {
    val d = dotComposed(a, b)
    val na = sqrt(dotComposed(a, a))
    val nb = sqrt(dotComposed(b, b))
    when(na > 0 && nb > 0, d / (na * nb))
  }

  private def one(s: String) = Seq(s).toDF("text")

  test("token counts: whitespace and BPE-ish") {
    val df = one("Hello, world! 42 times.").select(
      text.tokenCount($"text").as("ws"),
      text.bpeTokenCount($"text").as("bpe"))
    val r = df.head
    assert(r.getInt(0) === 4)
    // Hello , world ! 42 times . -> 7
    assert(r.getInt(1) === 7)
  }

  test("punctuation and stopword counts") {
    val r = one("the cat, the hat!").select(
      text.punctCount($"text"),
      text.stopwordCount($"text")).head
    assert(r.getInt(0) === 2)
    assert(r.getInt(1) === 2) // 'the' twice; 'cat,'/'hat!' not bare stopwords
  }

  test("langId picks marker-majority language, 'und' when none") {
    assert(one("the cat and the dog is here")
      .select(text.langId($"text")).head.getString(0) === "en")
    assert(one("el gato y la casa que es")
      .select(text.langId($"text")).head.getString(0) === "es")
    assert(one("xyzzy qwerty")
      .select(text.langId($"text")).head.getString(0) === "und")
  }

  test("langIdNgram scores char trigram occurrences, 'und' when none") {
    assert(one("the thing and the other thing")
      .select(text.langIdNgram($"text")).head.getString(0) === "en")
    assert(one("der dichter und das schiff")
      .select(text.langIdNgram($"text")).head.getString(0) === "de")
    assert(one("zzz qqq")
      .select(text.langIdNgram($"text")).head.getString(0) === "und")
    // substrCount: non-overlapping occurrences
    assert(one("ababab").select(text.substrCount($"text", "ab")).head.getInt(0) === 3)
  }

  test("shingles: n-grams, short docs collapse to whole text") {
    val sh = one("a b c d").select(text.shingles($"text", 3)).head.getSeq[String](0)
    assert(sh === Seq("a b c", "b c d"))
    val short = one("a b").select(text.shingles($"text", 3)).head.getSeq[String](0)
    assert(short === Seq("a b"))
  }

  test("fingerprint is order-stable and input-sensitive") {
    val f1 = one("a b c d e").select(text.fingerprint($"text")).head.getString(0)
    val f2 = one("a b c d e").select(text.fingerprint($"text")).head.getString(0)
    val f3 = one("v w x y z").select(text.fingerprint($"text")).head.getString(0)
    assert(f1 === f2)
    assert(f1 !== f3)
  }

  test("minhash signature: length k, identical docs identical sigs") {
    val sig = one("a b c d e").select(text.minhash($"text", 8, 1)).head.getSeq[Long](0)
    assert(sig.length === 8)
    val sig2 = one("a b c d e").select(text.minhash($"text", 8, 1)).head.getSeq[Long](0)
    assert(sig === sig2)
    // permuted word order -> same unigram shingle SET -> same minhash
    val sig3 = one("e d c b a").select(text.minhash($"text", 8, 1)).head.getSeq[Long](0)
    assert(sig === sig3)
  }

  test("embeddings: dot, norm, cosine on known vectors") {
    val df = Seq((Array(3.0f, 4.0f), Array(4.0f, 3.0f))).toDF("a", "b")
    val r = df.select(
      embeddings.dot($"a", $"b"),
      embeddings.norm($"a"),
      embeddings.cosine($"a", $"b"),
      embeddings.cosine($"a", $"a")).head
    assert(r.getDouble(0) === 24.0)
    assert(r.getDouble(1) === 5.0)
    assert(r.getDouble(2) === 24.0 / 25.0)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
  }

  test("native FloatVecCosine is bit-identical to the composable form") {
    val emb = graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "embeddings")
    val a = emb.select($"vec_id", $"embedding".as("va"))
    val b = emb.select(($"vec_id" + 1).as("vec_id"), $"embedding".as("vb"))
    val joined = a.join(b, "vec_id")
    val diff = joined.select(
      embeddings.cosine($"va", $"vb").as("native"),
      cosineComposed($"va", $"vb").as("composed"))
      .filter($"native" =!= $"composed")
    assert(diff.count() === 0)
  }

  test("native FloatVecDot is bit-identical to the composable form") {
    val emb = graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "embeddings")
    val a = emb.select($"vec_id", $"embedding".as("va"))
    val b = emb.select(($"vec_id" + 1).as("vec_id"), $"embedding".as("vb"))
    val joined = a.join(b, "vec_id")
    val diff = joined.select(
      embeddings.dot($"va", $"vb").as("native"),
      dotComposed($"va", $"vb").as("composed"))
      .filter($"native" =!= $"composed")
    assert(diff.count() === 0)
  }

  test("vec dot/cosine on mismatched lengths: NULL, matching the composed " +
    "form — never a truncated partial sum") {
    // zip_with pads the shorter side with nulls, which nulls the fold;
    // the native expressions must agree so an upstream dimension bug
    // stays visible instead of producing a plausible partial result.
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("a", "b")
    val r = df.select(
      embeddings.dot($"a", $"b").as("nd"),
      dotComposed($"a", $"b").as("cd"),
      embeddings.cosine($"a", $"b").as("nc"),
      cosineComposed($"a", $"b").as("cc")).head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
    val dd = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("a", "b")
      .select(graft.plans.DoubleVecDot($"a", $"b").as("d")).head
    assert(dd.isNullAt(0))
    // equal lengths keep the zero-allocation fast path
    val ok = Seq((Array(3.0f, 4.0f), Array(4.0f, 3.0f))).toDF("a", "b")
      .select(embeddings.dot($"a", $"b").as("d")).head
    assert(ok.getDouble(0) === 24.0)
  }

  test("BottomKAgg: k smallest distinct values, stable across partitionings") {
    val df = Seq(5L, 3L, 9L, 3L, 1L, 7L, 1L, 8L).toDF("v")
    def run(parts: Int) = df.repartition(parts)
      .agg(graft.plans.BottomKAgg.bottomK($"v", 3)).head.getSeq[Long](0)
    assert(run(1) === Seq(1L, 3L, 5L))
    assert(run(7) === Seq(1L, 3L, 5L)) // merge path across partials
  }

  test("FuseFloatVecDot rule rewrites the composable pattern to the native expression") {
    val emb = graft.queries.CoreQueries.t(spark, "/root/testdata/sf0.001", "embeddings")
    val q = emb.select($"vec_id",
      dotComposed($"embedding", $"embedding").as("d"))
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("floatvecdot"), optimized)
    // fused result equals the native-API form on real data
    val native = emb.select($"vec_id",
      embeddings.dot($"embedding", $"embedding").as("d"))
    assert(q.exceptAll(native).count() === 0)
  }

  test("graft_float_dot is callable from SQL after registration") {
    Seq((Array(3.0f, 4.0f), Array(4.0f, 3.0f))).toDF("a", "b")
      .createOrReplaceTempView("vecs")
    val r = spark.sql("SELECT graft_float_dot(a, b) AS d FROM vecs").head
    assert(r.getDouble(0) === 24.0)
  }

  test("graft_float_cosine and graft_bottom_k callable from SQL") {
    Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
      .createOrReplaceTempView("vecs2")
    val cos = spark.sql("SELECT graft_float_cosine(a, b) AS c FROM vecs2").head
    assert(cos.getDouble(0) === 1.0)
    Seq(5L, 3L, 9L, 1L, 7L, 3L).toDF("v").createOrReplaceTempView("longs")
    val bk = spark.sql("SELECT graft_bottom_k(v, 3) AS s FROM longs").head
    assert(bk.getSeq[Long](0) === Seq(1L, 3L, 5L)) // distinct bottom-3
  }

  test("scrub: detects and redacts emails, phones, IPv4") {
    import graft.functions.scrub
    val df = Seq(
      "mail me at jo.doe+x@example.co.uk or call 555-0142 from 10.0.0.7",
      "clean text with no pii at all").toDF("t")
    val out = df.select(
      scrub.countMatches($"t", scrub.emailRe).as("e"),
      scrub.countMatches($"t", scrub.phoneRe).as("p"),
      scrub.countMatches($"t", scrub.ipRe).as("i"),
      scrub.redactPii($"t").as("r"))
      .collect()
    assert((out(0).getLong(0), out(0).getLong(1), out(0).getLong(2)) === ((1L, 1L, 1L)))
    assert(out(0).getString(3) ===
      "mail me at [EMAIL] or call [PHONE] from [IP]")
    assert((out(1).getLong(0), out(1).getLong(1), out(1).getLong(2)) === ((0L, 0L, 0L)))
    assert(out(1).getString(3) === "clean text with no pii at all")
  }

  test("signBucket: orthant code over leading dims") {
    val df = Seq(
      (Array(1.0f, -1.0f, 1.0f), "a"),
      (Array(1.0f, -1.0f, 2.0f), "b"), // same signs -> same bucket
      (Array(-1.0f, 1.0f, 1.0f), "c"))
      .toDF("v", "tag")
    val buckets = df.select($"tag", embeddings.signBucket($"v", 3))
      .as[(String, Long)].collect().toMap
    assert(buckets("a") === buckets("b"))
    assert(buckets("a") !== buckets("c"))
    assert(buckets("a") === (1L | 4L)) // dims 1 and 3 positive
  }

  test("WordShingleHash64 is bit-identical to the composable " +
      "transform(shinglesOf, xxhash64) form — all widths, edges") {
    import graft.plans.WordShingleHash64
    // adversarial corpus: short docs (< n), exact-n docs, repeated
    // tokens, unicode, single token, and the empty string (tokens("")
    // yields one empty token)
    val docs = Seq(
      "one two three four five six seven",
      "a b",
      "x",
      "",
      "répété répété café ñandú 漢字 漢字",
      "s s s s s s s s s s").toDF("text")
      .select(text.tokens($"text").as("t"))
    for (n <- Seq(1, 2, 3, 5)) {
      val reference = transform(
        when(size($"t") < n, array(concat_ws(" ", $"t")))
          .otherwise(transform(
            sequence(lit(0), size($"t") - n),
            i => concat_ws(" ", slice($"t", i + 1, lit(n))))),
        s => xxhash64(s))
      val rows = docs.select(
        WordShingleHash64($"t", n).as("native"),
        reference.as("composed")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) === r.getSeq[Long](1), s"n=$n")
      }
    }
    // null array -> null out (nullIntolerant)
    val withNull = Seq(Some(Seq("a", "b")), None).toDF("t")
    val out = withNull.select(WordShingleHash64($"t", 2).as("h")).collect()
    assert(out.count(_.isNullAt(0)) === 1)
    // null ELEMENTS skip like concat_ws: ["a", null, "b"] at n=3 hashes "a b"
    val withNullElem = Seq(Seq(Some("a"), None, Some("b")))
      .toDF("t")
    val h1 = withNullElem.select(WordShingleHash64($"t", 3).as("h"))
      .head.getSeq[Long](0)
    val h2 = Seq("a b").toDF("text").select(
      WordShingleHash64(text.tokens($"text"), 3).as("h")).head.getSeq[Long](0)
    assert(h1 === h2)
  }
}
