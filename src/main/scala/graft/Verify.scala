package graft
import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional further args restrict the dump to the named queries
    // (local iteration); the driver always passes exactly two.
    val only = args.drop(2).toSet
    val spark = Session.start(Session.engine())
    new File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Session.release(spark)
    }
    val mapper = new ObjectMapper()
    val json = mapper.createObjectNode()
    SparkEntry.oracleSql.foreach { case (k, v) => json.put(k, v) }
    mapper.writeValue(new File(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
