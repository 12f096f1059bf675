package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, matching
  * the guide's one-session-per-suite advice but cheaper: getOrCreate
  * returns the same session across suites in the forked test JVM). It
  * runs on Bench's engine settings — the deploy-path extension
  * registration included, so the injection path itself is continuously
  * tested — and a spec that needs another setting scopes it with
  * [[Session.withConf]]. */
object SparkSpec {
  lazy val spark: SparkSession = Session.start(
    Session.engine() ++ Map(
      "spark.app.name" -> "graft-test",
      "spark.sql.warehouse.dir" ->
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString),
    logLevel = "ERROR")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
}
