package graft.util

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

/** The one per-measurement recorder for the bench artifacts.
  *
  * Iterative operators (k-core peel, PageRank, triangle closure) spend
  * their wall time across internally-forced rounds the harness cannot
  * see from outside: a slow sample shows up as one opaque number and
  * the round's adjudication degenerates to guessing (r10: q171 flagged
  * weak because 3.5 s of wall could not be split into its three peel
  * rounds + edge build). Operators wrap each internal stage in
  * [[timed]]. A bounded streaming drain (`Streaming.runToCompletion`)
  * records its setup vs micro-batch split and per-trigger accounting
  * through [[stream]], so a slow streaming sample self-identifies as
  * "more batches" vs "slower batches" (r10: q185's 76 s of task time
  * for 0.58 MB of shuffle was unattributable without it).
  *
  * Collection is process-wide and append-only between drains — the
  * harnesses run queries strictly one at a time, so everything drained
  * after a run belongs to that run (same contract as the bench's
  * MetricsListener). Each measurement drains exactly once, failed runs
  * included, so nothing carries into the next one.
  *
  * Recording is OFF unless a harness sets [[enabled]] (the benches do,
  * after their warm-up): in a long-lived JVM that never drains —
  * Verify, or any production use of the instrumented operators — an
  * always-on recorder would grow one entry per phase per invocation,
  * forever. Off, [[timed]] is a pass-through and nothing is retained.
  */
object Trace {
  private val phases = new ConcurrentLinkedQueue[(String, Double)]()
  private val streamRun = new AtomicReference[String](null)

  /** Set by a harness that drains via [[drainJson]] per measurement. */
  @volatile var enabled: Boolean = false

  private def ms1(ns: Long): Double = math.rint(ns / 1e5) / 10

  private def sec4(ns: Long): Double = math.rint(ns / 1e5) / 1e4

  /** Run `f`, recording its wall-time under `label` (ms, 1 decimal). */
  def timed[T](label: String)(f: => T): T =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try f
      finally phases.add(label -> ms1(System.nanoTime() - t0))
    }

  /** Record an externally-measured duration. */
  def add(label: String, ms: Double): Unit =
    if (enabled) phases.add(label -> (math.rint(ms * 10) / 10))

  /** Record one bounded streaming run: setup (source resolution,
    * checkpoint dir, query start) vs micro-batch execution, the
    * per-trigger walls in execution order, how many triggers consumed
    * rows, and the state partitions it ran with. A later run in the
    * same measurement replaces an earlier one. */
  def stream(setupNs: Long, streamNs: Long, batchMs: Seq[Long],
      nDataBatches: Int, statePartitions: Int): Unit =
    if (enabled) streamRun.set(
      s""""setup_sec":${sec4(setupNs)},"stream_sec":${sec4(streamNs)}""" +
        s""","n_batches":${batchMs.size},"n_data_batches":$nDataBatches""" +
        s""","batch_ms":${batchMs.mkString("[", ",", "]")}""" +
        s""","state_partitions":$statePartitions""")

  /** Everything recorded since the last drain, as JSON members to
    * splice into a run's metrics object — the streaming fields at the
    * top level, then `"phases":{...}` — or "" when nothing was
    * recorded; clears. Duplicate phase labels get a numeric suffix
    * (second `round` becomes `round#2`): JSON objects cannot carry
    * repeated keys. */
  def drainJson(): String = {
    val buf = Vector.newBuilder[(String, Double)]
    var e = phases.poll()
    while (e != null) { buf += e; e = phases.poll() }
    val all = buf.result()
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val phaseJson =
      if (all.isEmpty) None
      else Some(all.map { case (l, ms) =>
        val n = seen.updateWith(l)(c => Some(c.getOrElse(0) + 1)).get
        val key = if (n == 1) l else s"$l#$n"
        "\"" + key + "\":" + ms
      }.mkString("\"phases\":{", ",", "}"))
    (Option(streamRun.getAndSet(null)) ++ phaseJson).mkString(",")
  }
}
