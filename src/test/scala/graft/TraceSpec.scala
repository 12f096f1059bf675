package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Trace

class TraceSpec extends AnyFunSuite {

  private def recording[T](body: => T): T = {
    Trace.drainJson()
    Trace.enabled = true
    try body
    finally { Trace.enabled = false; Trace.drainJson() }
  }

  test("off: timed is a pass-through and nothing is retained") {
    assert(!Trace.enabled)
    var ran = 0
    assert(Trace.timed("round") { ran += 1; 42 } === 42)
    assert(ran === 1)
    Trace.add("external", 3.0)
    Trace.stream(1000000L, 2000000L, Seq(5L, 7L), 1, 8)
    assert(Trace.drainJson() === "")
  }

  test("a drain clears the recorder") {
    recording {
      Trace.add("edge_build", 1.25)
      Trace.stream(1000000L, 2000000L, Seq(5L), 1, 8)
      assert(Trace.drainJson().nonEmpty)
      assert(Trace.drainJson() === "")
    }
  }

  test("a repeated label drains as label#2") {
    recording {
      Trace.add("round", 1.0)
      Trace.add("round", 2.0)
      Trace.add("round", 3.0)
      assert(Trace.drainJson() ===
        "\"phases\":{\"round\":1.0,\"round#2\":2.0,\"round#3\":3.0}")
    }
  }

  test("the drained fragment splices into a run's metrics object") {
    val fragment = recording {
      assert(Trace.timed("peel_r1")("x") === "x")
      Trace.stream(12345678L, 2000000000L, Seq(1500L, 3L), 1, 8)
      Trace.drainJson()
    }
    val m = new Bench.MetricsListener().json()
    val spliced = m.dropRight(1) + "," + fragment + "}"
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(spliced)
    assert(root.path("task_time_ms").isNumber)
    assert(root.path("setup_sec").asDouble === 0.0123)
    assert(root.path("stream_sec").asDouble === 2.0)
    assert(root.path("n_batches").asInt === 2)
    assert(root.path("n_data_batches").asInt === 1)
    assert(root.path("batch_ms").size === 2)
    assert(root.path("state_partitions").asInt === 8)
    assert(root.path("phases").path("peel_r1").isNumber)
    assert(!root.path("stream_sec").isMissingNode &&
      root.path("phases").path("stream_sec").isMissingNode)
    assert(ScaleBench.streamSec(spliced) === Some(2.0))
  }
}
