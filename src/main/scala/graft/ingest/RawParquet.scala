package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer => ParquetFooter, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The one reader that decides how a raw parquet timestamp becomes a
  * Spark TimestampType; ingest, the query tables (`CoreQueries.t`) and
  * the event stream all read through it. Spark refuses TIMESTAMP(NANOS)
  * columns (pandas' `timestamp[ns]`) unless read as their raw INT64, and
  * Spark 4 surfaces tz-naive TIMESTAMP(MICROS) as TIMESTAMP_NTZ.
  * [[footer]] opens one footer on the driver — no Spark job, no session
  * conf change; [[read]] pins each nanos column to LongType, and
  * [[normalize]] truncates those nanos to microsecond instants (DuckDB's
  * truncate-on-read) and casts TIMESTAMP_NTZ to TimestampType (the same
  * instant under the engine's pinned UTC session). */
object RawParquet {

  /** A file's Spark schema, its TIMESTAMP(NANOS) columns already shown
    * as TimestampType (what [[read]] yields), and those columns' names. */
  final case class Footer(schema: StructType, nanos: Set[String])

  /** Footer of `path`, or of a directory's first data file in name order.
    * The converter is the session's own, so inference matches
    * `spark.read`'s, and Spark-written row metadata is still honoured. */
  def footer(spark: SparkSession, path: Path): Footer = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(hconf)
    val file =
      if (fs.getFileStatus(path).isFile) path
      else fs.listStatus(path).filter(_.isFile).map(_.getPath)
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .sortBy(_.getName).headOption.getOrElse(throw
          new IllegalArgumentException(s"no parquet data file in $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, hconf))
    val meta = try reader.getFooter finally reader.close()
    val nanos = meta.getFileMetaData.getSchema.getFields.asScala.collect {
      case f if f.isPrimitive && (f.getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      }) => f.getName
    }.toSet
    val conf = spark.sessionState.conf.clone()
    conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new ParquetFooter(file, meta), new ParquetToSparkSchemaConverter(conf))
    Footer(StructType(schema.map(f =>
      if (nanos(f.name)) f.copy(dataType = TimestampType) else f)), nanos)
  }

  /** `schema` with each nanos column as the raw INT64 it is read as. */
  def pin(schema: StructType, nanos: Set[String]): StructType =
    StructType(schema.map(f =>
      if (nanos(f.name)) f.copy(dataType = LongType) else f))

  /** Nanos longs → microsecond TimestampType; TIMESTAMP_NTZ → TimestampType. */
  def normalize(df: DataFrame, nanos: Set[String]): DataFrame =
    df.withColumns(df.schema.fields.collect {
      case f if nanos(f.name) =>
        f.name -> timestamp_micros(expr(s"`${f.name}` div 1000"))
      case f if f.dataType == TimestampNTZType =>
        f.name -> col(s"`${f.name}`").cast(TimestampType)
    }.toMap)

  /** One multi-path scan of files that share `nanos`, under `schema`. */
  def read(spark: SparkSession, schema: StructType, nanos: Set[String],
      paths: String*): DataFrame =
    normalize(spark.read.schema(pin(schema, nanos)).parquet(paths: _*), nanos)

  /** A table path (file or directory) read under its own footer. */
  def table(spark: SparkSession, path: String): DataFrame = {
    val f = footer(spark, new Path(path))
    read(spark, f.schema, f.nanos, path)
  }
}
