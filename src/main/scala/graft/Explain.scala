package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-inspection main, on the same session settings Bench measures.
  * For each named query (default: a representative set) prints the
  * formatted physical plan, then forces the query through the `noop`
  * sink — Bench's forcing basis — and prints the final adaptive plan
  * with its ReusedExchange count. An eager operator (one that ends in
  * a `localCheckpoint`) runs its real plan while the query is built,
  * so each Dataset action that ran before the forcing write is printed
  * too, in run order, with its action name. A query that fails is
  * reported and skipped; whatever a query left behind is freed by
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
    // Listener events arrive asynchronously but in run order; the noop
    // write is the only V2 overwrite ("overwrite") a query run issues,
    // so every action reported before it ran while the query was built.
    val actions = new LinkedBlockingQueue[(String, QueryExecution)]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        actions.put((f, qe))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explain] no such query: $name")
        case Some(fn) =>
          try {
            actions.clear()
            val df = fn(spark, sfDir)
            df.explain("formatted")
            df.write.mode("overwrite").format("noop").save()
            val (eager, forced) = Iterator
              .continually(actions.poll(60, TimeUnit.SECONDS))
              .takeWhile(_ != null).span(_._1 != "overwrite")
            eager.zipWithIndex.foreach { case ((f, qe), i) =>
              println(s"---------- eager action $i: $f ----------")
              println(qe.executedPlan)
            }
            forced.nextOption().map(_._2) match {
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
