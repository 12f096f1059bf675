package graft

import scala.jdk.CollectionConverters._

class SessionSpec extends SparkSpec {

  test("withConf: the body sees the settings; a prior value comes back") {
    spark.conf.set("graft.test.prior", "before")
    val shuf = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      Session.withConf(spark,
          "graft.test.prior" -> "during",
          "spark.sql.shuffle.partitions" -> "3") {
        assert(spark.conf.get("graft.test.prior") === "during")
        assert(spark.conf.get("spark.sql.shuffle.partitions") === "3")
      }
      assert(spark.conf.get("graft.test.prior") === "before")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === shuf)
    } finally spark.conf.unset("graft.test.prior")
  }

  test("withConf: a key that was absent is unset again") {
    assert(spark.conf.getOption("graft.test.absent").isEmpty)
    val r = Session.withConf(spark, "graft.test.absent" -> "x") {
      spark.conf.get("graft.test.absent")
    }
    assert(r === "x")
    assert(spark.conf.getOption("graft.test.absent").isEmpty)
    assert(!spark.conf.getAll.contains("graft.test.absent"))
  }

  test("withConf: restores and unsets when the body throws") {
    spark.conf.set("graft.test.prior", "before")
    try {
      val e = intercept[IllegalStateException] {
        Session.withConf(spark,
            "graft.test.prior" -> "during",
            "graft.test.absent" -> "x") {
          throw new IllegalStateException("boom")
        }
      }
      assert(e.getMessage === "boom")
      assert(spark.conf.get("graft.test.prior") === "before")
      assert(spark.conf.getOption("graft.test.absent").isEmpty)
    } finally spark.conf.unset("graft.test.prior")
  }

  test("release: a cached frame and a broadcast join side leave nothing " +
    "behind") {
    import org.apache.spark.sql.functions.broadcast
    var cached = spark.range(1000).selectExpr("id", "id % 7 AS k").cache()
    val side = spark.range(7).selectExpr("id AS k", "id * 2 AS v")
    assert(cached.join(broadcast(side), "k").count() === 1000)
    assert(!org.apache.spark.sql.GraftColumnBridge.cacheIsEmpty(spark))
    assert(org.apache.spark.SparkEnv.get.blockManager
      .getMatchingBlockIds(_.isBroadcast).nonEmpty)
    cached = null
    val r = Session.release(spark)
    assert(r.broadcastBlocks === Nil)
    assert(r.persistentRdds === 0)
    assert(!r.cacheNonEmpty)
    assert(r.isEmpty)
  }

  test("Pipeline.main and CurationPipeline.main settings match the " +
    "benchmark's mirror in perfbench/engine.py") {
    val engine = new java.io.File("perfbench/engine.py")
    assert(engine.isFile, s"not found: ${engine.getAbsolutePath}")
    val script =
      "import json, sys; sys.path.insert(0, 'perfbench'); import engine; " +
        "print(json.dumps({k: engine.session_conf(k, 7, 'scratch') " +
        "for k in ('sensor', 'corpus')}))"
    val root = PythonOracle.json("-c", script)
    def mirrored(kind: String): Map[String, String] =
      root.get(kind).properties.asScala
        .map(e => e.getKey -> e.getValue.asText).toMap - "spark.local.dir" ++
        sys.env.get("SPARK_MASTER").map("spark.master" -> _)
    assert(Session.pipeline(7) === mirrored("sensor"))
    assert(Session.curation(7) === mirrored("corpus"))
  }
}
