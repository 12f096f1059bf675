package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Writes real parquet TIMESTAMP(NANOS) fixtures — pandas'
  * `timestamp[ns]` encoding, which Spark itself cannot write — with
  * parquet-hadoop's example writer. Row values are matched to columns by
  * position: String, Long (nanos for a [[nanos]] column), Float, Double,
  * or null. */
object NanosParquet {

  def nanos(name: String): PrimitiveType = Types.optional(INT64)
    .as(LogicalTypeAnnotation.timestampType(false,
      LogicalTypeAnnotation.TimeUnit.NANOS)).named(name)
  def string(name: String): PrimitiveType =
    Types.optional(BINARY).as(LogicalTypeAnnotation.stringType()).named(name)
  def long(name: String): PrimitiveType = Types.optional(INT64).named(name)
  def float(name: String): PrimitiveType = Types.optional(FLOAT).named(name)
  def double(name: String): PrimitiveType = Types.optional(DOUBLE).named(name)

  def write(path: String, cols: Seq[PrimitiveType], rows: Seq[Seq[Any]]): Unit = {
    val schema = new MessageType("schema", cols: _*)
    val w = ExampleParquetWriter.builder(new Path(path))
      .withConf(new Configuration()).withType(schema).build()
    try rows.foreach { row =>
      val g = new SimpleGroup(schema)
      row.zipWithIndex.foreach {
        case (null, _) =>
        case (v: String, i) => g.add(i, v)
        case (v: Long, i) => g.add(i, v)
        case (v: Float, i) => g.add(i, v)
        case (v: Double, i) => g.add(i, v)
        case (v, _) => throw new IllegalArgumentException(s"unsupported value $v")
      }
      w.write(g)
    } finally w.close()
  }
}
