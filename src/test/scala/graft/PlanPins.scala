package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** The specs' plan pins: which Dataset actions a call runs, and what
  * the executed plans of those actions (or of a result) read. */
trait PlanPins extends AdaptiveSparkPlanHelper { this: SparkSpec =>

  /** Every Dataset action `body` ran, as (output columns, its query
    * execution). Listener events arrive asynchronously but in order: a
    * marker action fences each side of `body`. */
  def actionsOf(body: => Unit): Seq[(String, QueryExecution)] = {
    val actions = new LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        actions.put((qe.analyzed.output.map(_.name).mkString(","), qe))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        actions.put((s"failed $f", qe))
    }
    def fence(marker: String): Seq[(String, QueryExecution)] = {
      spark.range(1).toDF(marker).collect()
      Iterator.continually(actions.poll(60, TimeUnit.SECONDS))
        .map(a => { assert(a != null, s"no event for $marker"); a })
        .takeWhile(_._1 != marker).toSeq
    }
    spark.listenerManager.register(listener)
    try {
      fence("plan_pins_actions_before")
      body
      fence("plan_pins_actions_after")
    } finally spark.listenerManager.unregister(listener)
  }

  /** The leaf scans of an executed plan's final form (after AQE, through
    * its query stages and its subqueries) by node class: each is one
    * read of a source, or a reused exchange. */
  def leafScans(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) {
      case p if allChildren(p).isEmpty => p.getClass.getSimpleName
    }
}
