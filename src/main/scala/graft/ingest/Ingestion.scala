package graft.ingest

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.jdk.CollectionConverters._

import graft.model.IngestionStats

/** Schema compatibility lattice (reference ingestion.py:268-292):
  * timestamp unit variants are interchangeable, FLOAT widens to DOUBLE,
  * string spellings collapse. Missing/extra columns reject the file;
  * wrong order is accepted (position-independent diff). */
object SchemaCompat {

  private def group(dt: DataType): String = dt match {
    case _: TimestampType | TimestampNTZType => "timestamp"
    case FloatType | DoubleType => "float"
    case StringType | _: VarcharType | _: CharType => "string"
    case IntegerType | LongType | ShortType | ByteType => "integer"
    case BooleanType => "boolean"
    case DateType => "date"
    case other => other.typeName
  }

  def compatible(actual: DataType, expected: DataType): Boolean =
    group(actual) == group(expected)

  /** Diff a file's footer schema against the expected one. Returns the
    * list of problems; empty = accepted. Column order differences are
    * allowed (reference ingestion.py:233-236 warns but accepts). */
  def diff(actual: StructType, expected: StructType): Seq[String] = {
    val a = actual.fields.map(f => f.name -> f.dataType).toMap
    val e = expected.fields.map(f => f.name -> f.dataType).toMap
    val missing = e.keySet -- a.keySet
    val extra = a.keySet -- e.keySet
    val incompat = e.collect {
      case (name, dt) if a.contains(name) && !compatible(a(name), dt) =>
        s"incompatible type for $name: ${a(name).simpleString} vs ${dt.simpleString}"
    }
    missing.toSeq.sorted.map(c => s"missing column $c") ++
      extra.toSeq.sorted.map(c => s"extra column $c") ++
      incompat.toSeq.sorted
  }
}

/** S2-S4 — file-name checkpoint, JSON format identical to the
  * reference's (ingestion.py:143-201, data/.checkpoint):
  * {"processed_files": [...], "last_update": iso, "last_run_stats": {...}}. */
final case class Checkpoint(
    processedFiles: Set[String],
    lastUpdate: String,
    lastRunStats: Map[String, Long])

object Checkpoint {
  private val mapper = new ObjectMapper()

  val empty: Checkpoint = Checkpoint(Set.empty, "", Map.empty)

  /** Corrupt or absent checkpoint degrades to empty — full reload
    * (reference tests/test_ingestion.py:128). */
  def load(fs: FileSystem, path: Path): Checkpoint =
    Try {
      val in = fs.open(path)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
      val root = mapper.readTree(bytes)
      Checkpoint(
        Option(root.get("processed_files")).map(
          _.elements.asScala.map(_.asText).toSet).getOrElse(Set.empty),
        Option(root.get("last_update")).map(_.asText).getOrElse(""),
        Option(root.get("last_run_stats")).map(
          _.asInstanceOf[ObjectNode].properties.asScala
            .map(e => e.getKey -> e.getValue.asLong).toMap).getOrElse(Map.empty))
    }.getOrElse(empty)

  def save(fs: FileSystem, path: Path, cp: Checkpoint): Unit = {
    val root = mapper.createObjectNode()
    val arr = root.putArray("processed_files")
    cp.processedFiles.toSeq.sorted.foreach(arr.add)
    root.put("last_update", cp.lastUpdate)
    val stats = root.putObject("last_run_stats")
    cp.lastRunStats.toSeq.sortBy(_._1).foreach { case (k, v) => stats.put(k, v) }
    val out = fs.create(path, true)
    try out.write(mapper.writerWithDefaultPrettyPrinter.writeValueAsBytes(root))
    finally out.close()
  }
}

/** S1, S3, S5-S7 — schema-validated incremental multi-file Parquet
  * ingestion (reference ingestion.py:44-108). Per-file footer probe
  * ([[RawParquet.footer]]) with error isolation, then one multi-path
  * vectorized read of the accepted files per set of TIMESTAMP(NANOS)
  * columns — at 100 TB the footer probes are driver-side metadata calls
  * while the data read stays fully distributed. */
object ParquetIngestor {

  final case class Result(
      data: Option[DataFrame],
      accepted: Seq[String],
      skipped: Seq[String],
      failed: Seq[(String, String)],
      stats: IngestionStats,
      private val save: Long => Unit = _ => ()) {
    /** Mark this batch's files as processed, recording how many records
      * were actually read. A no-op unless the ingest ran in incremental
      * mode with a checkpoint path and fresh files (reference
      * ingestion.py:96-98 guards the same way). Call AFTER the batch has
      * been materialized/written — committing at ingest() time would
      * permanently skip the files if the downstream job fails, because
      * the returned DataFrame is lazy. */
    def commit(recordsIngested: Long): Unit = save(recordsIngested)
  }

  /** S1 — discover *.parquet files, name-sorted (reference ingestion.py:110-141). */
  def discover(spark: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName).toSeq
  }

  def ingest(
      spark: SparkSession,
      dir: String,
      expected: StructType,
      checkpointPath: Option[String] = None,
      incremental: Boolean = true): Result = {

    val all = discover(spark, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cp = checkpointPath
      .map(p => Checkpoint.load(fs, new Path(p)))
      .getOrElse(Checkpoint.empty)

    // S3 — incremental filter on file NAME, as the reference does
    // (ingestion.py:136-141).
    val fresh =
      if (incremental) all.filterNot(p => cp.processedFiles(p.getName)) else all

    // S5+S7 — footer-only schema probe with per-file error isolation,
    // on a bounded driver thread pool: each probe is one footer read (an
    // HTTP-range fetch on object storage) and launches no Spark job, so
    // at 100k files the wall-clock is files/poolSize round-trips, not
    // files. Futures keep the input order, so results — and therefore
    // accepted-file order and the reads — stay deterministic.
    val probed = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(16, fresh.size)))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(fresh.map(p =>
          Future(p -> Try(RawParquet.footer(spark, p))))), Duration.Inf)
      finally pool.shutdown()
    }
    val failed = probed.collect { case (p, Failure(e)) =>
      p.getName -> s"unreadable: ${e.getMessage}"
    }
    val checked = probed.collect { case (p, Success(f)) =>
      (p, SchemaCompat.diff(f.schema, expected), f.nanos)
    }
    val skipped = checked.collect { case (p, problems, _) if problems.nonEmpty =>
      p.getName -> problems.mkString("; ")
    }
    val ok = checked.collect { case (p, Nil, nanos) => (p, nanos) }
    val accepted = ok.map(_._1)

    // S6 — one multi-path read per set of nanos columns (not N reads +
    // union): each is a single FileSourceScanExec with the expected
    // schema pinned, so FLOAT widens to DOUBLE and timestamp units
    // collapse in every file of the group; the groups align by name.
    val pinned = StructType(expected.fields.map(_.copy(nullable = true)))
    val data = ok.map(_._2).distinct.map { nanos =>
      val df = RawParquet.read(spark, pinned, nanos,
        ok.collect { case (p, `nanos`) => p.toString }: _*)
      df.select(expected.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    }.reduceOption(_ unionByName _)

    // S4 — checkpoint update, DEFERRED to Result.commit: the reference
    // saves only in incremental mode and only after the (eager) read
    // (ingestion.py:96-98); our read is lazy, so the save must wait for
    // the caller to materialize the batch. Only accepted file names are
    // recorded — skipped/failed files stay eligible for retry.
    val save: Long => Unit =
      if (checkpointPath.isDefined && incremental && fresh.nonEmpty) {
        nRecords =>
          Checkpoint.save(fs, new Path(checkpointPath.get), Checkpoint(
            cp.processedFiles ++ accepted.map(_.getName),
            java.time.Instant.now.toString,
            Map(
              "files_discovered" -> all.size.toLong,
              "files_processed" -> accepted.size.toLong,
              "files_skipped" -> skipped.size.toLong,
              "files_failed" -> failed.size.toLong,
              "records_ingested" -> nRecords)))
      } else _ => ()

    Result(
      data,
      accepted.map(_.getName),
      skipped.map(_._1),
      failed,
      IngestionStats(
        filesDiscovered = all.size,
        filesProcessed = accepted.size,
        filesSkipped = skipped.size,
        filesFailed = failed.size),
      save)
  }
}
