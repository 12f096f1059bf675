package graft.ingest

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.jdk.CollectionConverters._

import graft.Session
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

/** Detects TIMESTAMP(NANOS) parquet columns, which Spark's reader
  * refuses outright (pandas-written raw files — like the reference's
  * raw parquet inputs — are timestamp[ns]). With
  * `spark.sql.legacy.parquet.nanosAsLong` they surface as LongType; the
  * footer's logical-type annotation tells us which longs are really
  * nanosecond timestamps so we can convert (truncate) them to
  * microsecond TimestampType on read. */
object NanosProbe {
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.parquet.schema.LogicalTypeAnnotation
  import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit

  def nanosCols(spark: SparkSession, path: Path): Set[String] = {
    val in = HadoopInputFile.fromPath(
      path, spark.sparkContext.hadoopConfiguration)
    val reader = ParquetFileReader.open(in)
    try {
      reader.getFileMetaData.getSchema.getFields.asScala.collect {
        case f if f.isPrimitive &&
          (f.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit == TimeUnit.NANOS
            case _ => false
          }) => f.getName
      }.toSet
    } finally reader.close()
  }
}

/** S1, S3, S5-S7 — schema-validated incremental multi-file Parquet
  * ingestion (reference ingestion.py:44-108). Per-file footer probe (no
  * data scan) with error isolation, then ONE multi-path vectorized read
  * of all accepted files — at 100 TB the footer probes are driver-side
  * metadata calls while the data read stays fully distributed. */
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

    // S5+S7 — footer-only schema probe with per-file error isolation.
    // Nanosecond-timestamp columns (pandas default) read as LongType
    // under nanosAsLong; the footer annotation marks them for conversion.
    // Probes run on a bounded driver thread pool: each is an independent
    // footer-metadata read (an HTTP-range fetch on object storage), so at
    // 100k files the wall-clock is files/poolSize round-trips, not
    // files. Futures keep the input order, so results — and therefore
    // accepted-file order and the multi-path read — stay deterministic.
    // Set for the duration of the probe + read CONSTRUCTION only, then
    // restored (like Loader.write restores partitionOverwriteMode): the
    // LongType mapping for TIMESTAMP(NANOS) columns is captured when
    // spark.read resolves each schema, so later lazy execution of the
    // returned DataFrame does not need the flag (verified empirically),
    // and unrelated reads in the same session keep default behavior.
    Session.withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
    val probed = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(16, fresh.size)))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(
        Future.sequence(fresh.map { p =>
          Future {
            p -> Try {
              val s = spark.read.parquet(p.toString).schema
              val ns = NanosProbe.nanosCols(spark, p)
              val effective = StructType(s.fields.map { f =>
                if (ns(f.name) && f.dataType == LongType)
                  f.copy(dataType = TimestampType)
                else f
              })
              (effective, ns)
            }
          }
        }), Duration.Inf)
      finally pool.shutdown()
    }
    val failed = probed.collect { case (p, Failure(e)) =>
      p.getName -> s"unreadable: ${e.getMessage}"
    }
    val checked = probed.collect { case (p, Success((s, ns))) =>
      (p, SchemaCompat.diff(s, expected), ns)
    }
    val skipped = checked.collect { case (p, problems, _) if problems.nonEmpty =>
      p.getName -> problems.mkString("; ")
    }
    val acceptedPlain = checked.collect {
      case (p, Nil, ns) if ns.isEmpty => p
    }
    val acceptedNs = checked.collect {
      case (p, Nil, ns) if ns.nonEmpty => (p, ns)
    }
    val accepted = acceptedPlain ++ acceptedNs.map(_._1)

    // S6 — one multi-path read per file shape (not N reads + union): a
    // single FileSourceScanExec over all plain files, schema pinned so
    // FLOAT widens to DOUBLE and timestamp units collapse; ns files get
    // their nanosecond longs truncated to microsecond timestamps
    // (matching DuckDB's read behavior) then align by name.
    def conform(df: DataFrame): DataFrame =
      df.select(expected.fields.map(f =>
        col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)

    val plainDf =
      if (acceptedPlain.isEmpty) None
      else Some(conform(
        spark.read.schema(
          StructType(expected.fields.map(_.copy(nullable = true))))
          .parquet(acceptedPlain.map(_.toString): _*)))

    val nsDf =
      if (acceptedNs.isEmpty) None
      else {
        val nsCols = acceptedNs.flatMap(_._2).toSet
        val raw = spark.read.parquet(acceptedNs.map(_._1.toString): _*)
        val converted = nsCols.foldLeft(raw)((d, c) =>
          d.withColumn(c, timestamp_micros(expr(s"`$c` div 1000"))))
        Some(conform(converted))
      }

    val data = (plainDf, nsDf) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }

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
}
