package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Tracks the frames ONE operator invocation localCheckpoint'ed so
  * release() frees exactly those. A checkpointed frame is a bare
  * LogicalRDD whose cached blocks are only reachable through the
  * plan's RDD handle — but a CALLER may legitimately pass an
  * already-checkpointed (LogicalRDD-backed) DataFrame in, and
  * unpersisting that RDD as a side effect would invalidate the
  * caller's data (its lineage is truncated; the blocks ARE the data).
  * So the RDD-handle branch fires only for RDDs this tracker
  * registered; anything else falls back to the cache-manager
  * unpersist, a no-op for frames the operator never persisted.
  * Used by [[Graph]]'s iterative operators, [[Similarity]]'s
  * semantic dedup and [[Dedup.connectedComponentsDistributed]]. */
private[operators] final class Owned {
  private val rdds = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
  /** Eager localCheckpoint, registered for later release. */
  def checkpoint(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint()
    c.queryExecution.analyzed match {
      case l: LogicalRDD => rdds.add(l.rdd)
      case _ => ()
    }
    c
  }
  def release(df: DataFrame): Unit = {
    df.queryExecution.analyzed match {
      case l: LogicalRDD if rdds.remove(l.rdd) =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
    // Drop any cache-manager entry this operator created for the same
    // frame (no-op when absent; never touches a caller's checkpoint).
    df.unpersist(blocking = false)
  }
}
