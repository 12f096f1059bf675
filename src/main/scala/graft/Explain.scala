package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-inspection main, on the same session settings Bench measures.
  * For each named query (default: a representative set) prints the
  * formatted physical plan, then forces the query through the `noop`
  * sink — Bench's forcing basis — and prints the final adaptive plan
  * with its ReusedExchange count. A query that fails is reported and
  * skipped; whatever a query left behind is freed by
  * [[Session.release]] before the next.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_agg", "q13_gap_report", "q19_join_revenue", "q09_rolling_avg")
    val spark = Session.start(Session.engine(), logLevel = "ERROR")
    // Listener events arrive asynchronously; the noop write is the only
    // V2 overwrite ("overwrite") a query run issues.
    val writes = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == "overwrite") writes.put(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explain] no such query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            df.explain("formatted")
            writes.clear()
            df.write.mode("overwrite").format("noop").save()
            Option(writes.poll(60, TimeUnit.SECONDS)) match {
              case None => println("(final adaptive plan not reported)")
              case Some(qe) =>
                val plan = qe.executedPlan.toString
                val reused = plan.split("== Initial Plan ==").head
                  .linesIterator.count(_.contains("ReusedExchange"))
                println(s"---------- final adaptive plan: $reused ReusedExchange ----------")
                println(plan)
            }
          } catch { case e: Throwable =>
            System.err.println(s"[explain] $name failed: ${e.getMessage}")
          }
          Session.release(spark)
      }
    }
    spark.stop()
  }
}
