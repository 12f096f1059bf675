package graft

import java.io.IOException
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.sys.process.{Process, ProcessLogger}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.Assertions

import graft.config.PipelineConfig

/** The specs' one way to run Python: `python3` with a JSON answer on
  * stdout, parsed with Jackson. The DuckDB oracle
  * (tools/validation_oracle.py) goes through [[oracle]], once per spec
  * run over a manifest of every case. When python3 cannot start, or a
  * script exits non-zero (the oracle names a missing duckdb or pyarrow
  * module), the spec fails with that message: a canceled check is not
  * a passing one. */
object PythonOracle {

  private val mapper = new ObjectMapper()

  /** `python3 args`, its stdout read as one JSON document. */
  def json(args: String*): JsonNode = {
    val out, err = new StringBuilder
    val code =
      try Process("python3" +: args).!(ProcessLogger(
        line => out.append(line).append('\n'),
        line => err.append(line).append('\n')))
      catch {
        case e: IOException => Assertions.fail(
          s"python3 could not be started (${e.getMessage}); the specs " +
            "need python3 with the duckdb and pyarrow modules")
      }
    if (code != 0)
      Assertions.fail(s"python3 ${args.head} exited with $code:\n$err")
    mapper.readTree(out.toString)
  }

  /** `df` written to a parquet directory `<dir>/<name>.parquet`;
    * returns its path. Timestamps are written as TIMESTAMP_MICROS
    * instants (Spark's default INT96 is not read as an instant). */
  def parquet(spark: SparkSession, df: DataFrame, dir: Path,
      name: String = "frame"): String = {
    val path = dir.resolve(s"$name.parquet")
    Session.withConf(spark,
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      df.coalesce(1).write.parquet(path.toString)
    }
    path.toString
  }

  /** A validation case: `path` read under `cfg`'s frequency, ranges and
    * thresholds, with `zone` as the session time zone. */
  def validation(name: String, path: String, cfg: PipelineConfig,
      zone: String): ObjectNode = {
    val c = mapper.createObjectNode()
      .put("name", name).put("path", path).put("time_zone", zone)
      .put("expected_frequency_hours", cfg.validation.expectedFrequencyHours)
    val ranges = c.putObject("ranges")
    cfg.ranges.foreach { case (typ, r) =>
      ranges.putArray(typ).add(r.min).add(r.max) }
    c.putArray("battery_range").add(cfg.batteryRange.min).add(cfg.batteryRange.max)
    c.putObject("thresholds")
      .put("max_missing_percentage", cfg.validation.maxMissingPercentage)
      .put("max_anomaly_percentage", cfg.validation.maxAnomalyPercentage)
      .put("max_gap_hours", cfg.validation.maxGapHours)
    c
  }

  /** An SQL case: `sql` over each parquet path as the named view. */
  def sql(name: String, tables: Map[String, String], sql: String,
      zone: String): ObjectNode = {
    val c = mapper.createObjectNode()
      .put("name", name).put("sql", sql).put("time_zone", zone)
    val views = c.putObject("tables")
    tables.foreach { case (view, path) => views.put(view, path) }
    c
  }

  /** Every case through tools/validation_oracle.py in one run: the
    * result of each, by name. */
  def oracle(cases: Seq[ObjectNode]): Map[String, JsonNode] = {
    val manifest = Files.createTempFile("graft-oracle", ".json")
    val list = mapper.createArrayNode()
    cases.foreach(list.add(_))
    try {
      mapper.writeValue(manifest.toFile, list)
      json("tools/validation_oracle.py", manifest.toString)
        .properties.asScala.map(e => e.getKey -> e.getValue).toMap
    } finally Files.delete(manifest)
  }
}
