package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins Bench.parseIsolated — the quiet-box adjudication child's
  * stdout parse — without forking a JVM. The contract under test: a
  * query that ERRORED in the child must never publish its
  * time-to-failure as isolated_sec (it would read as a clean fast run
  * and wrongly acquit a real regression); missing queries and a
  * missing summary line degrade to explicit annotations. */
class BenchParseSpec extends AnyFunSuite with TempPaths {

  private val summary =
    """{"metric":"total","value":9.9,"unit":"sec","basis":"noop",""" +
      """"queries":{"q1":1.5,"q2":0.07,"q3":4.0},""" +
      """"errors":{"q2":"SparkException: stage failed"},""" +
      """"details":{"q1":{"metrics":{"task_time_ms":123,"task_cpu_ms":77,"os_load":0.5}},""" +
      """"q3":{"runs":[4.0],"min":4.0}}}"""

  private val stdout =
    s"""some stray warmup noise\n$summary\n{"metric":"summary","total_sec":9.9}\n"""

  test("clean query lands isolated sec + metrics") {
    val (oks, errs) = Bench.parseIsolated(stdout, Seq("q1"), 0)
    assert(oks === Map("q1" -> ((1.5, "123", "77", "0.5"))))
    assert(errs.isEmpty)
  }

  test("child-errored query lands in errs, never publishes its " +
      "time-to-failure (exit 3)") {
    val (oks, errs) = Bench.parseIsolated(stdout, Seq("q1", "q2"), 3)
    assert(oks.keySet === Set("q1"))
    assert(errs.keySet === Set("q2"))
    assert(errs("q2").contains("child errored (exit=3)"))
    assert(errs("q2").contains("stage failed"))
  }

  test("pipeline entry without a metrics block still lands sec " +
      "(nulls for the counters)") {
    val (oks, errs) = Bench.parseIsolated(stdout, Seq("q3"), 0)
    assert(oks === Map("q3" -> ((4.0, "null", "null", "null"))))
    assert(errs.isEmpty)
  }

  test("name absent from the child's queries is annotated, not dropped") {
    val (oks, errs) = Bench.parseIsolated(stdout, Seq("q404"), 0)
    assert(oks.isEmpty)
    assert(errs("q404").contains("missing from child output"))
  }

  test("no summary line at all (crashed/killed child) annotates " +
      "every requested name") {
    val (oks, errs) =
      Bench.parseIsolated("gibberish\nno json here\n", Seq("q1", "q2"), -1)
    assert(oks.isEmpty)
    assert(errs.keySet === Set("q1", "q2"))
    assert(errs.values.forall(_.contains("no child summary line (exit=-1)")))
  }

  test("isolation verdict: quiet box under cpus/4, contaminated above, " +
      "unknown when the gauge is missing (planted high-load case)") {
    // the r18 committed case: os_load 15.2 on a 32-cpu box must NOT
    // read as a quiet-box confirmation.
    assert(Bench.isolationVerdict("15.2", 32) === "load-contaminated")
    assert(Bench.isolationVerdict("2.7", 32) === "quiet")
    assert(Bench.isolationVerdict("8.0", 32) === "quiet") // boundary: <=
    assert(Bench.isolationVerdict("8.1", 32) === "load-contaminated")
    assert(Bench.isolationVerdict("null", 32) === "unknown")
    assert(Bench.isolationVerdict("", 32) === "unknown")
    assert(Bench.isolationVerdict("1.5", 4) === "load-contaminated")
  }

  private def summaryFile(body: String): java.nio.file.Path = {
    val f = tempFile("bench_summary", ".json")
    java.nio.file.Files.writeString(f, body)
    f
  }
  private def prev(sf: String = "/sf", basis: String = "\"basis\":\"noop\",",
      cpus: String = "\"cpus\":4,") = summaryFile(
    s"""{"metric":"total",$basis$cpus"sf":"$sf","queries":{"q1":1.5,"q2":0.07}}""")

  test("baseline: a summary taken like this run arms the gate") {
    assert(Bench.baseline(prev(), "/sf", "noop", 4) ===
      Right(Map("q1" -> 1.5, "q2" -> 0.07)))
    // an absent basis reads as noop
    assert(Bench.baseline(prev(basis = ""), "/sf", "noop", 4).isRight)
  }

  test("baseline: sf, basis and cpus mismatches disarm it with a reason") {
    assert(Bench.baseline(prev(sf = "/other"), "/sf", "noop", 4) ===
      Left("sf /other != /sf"))
    assert(Bench.baseline(prev(basis = "\"basis\":\"count\","), "/sf", "noop", 4) ===
      Left("basis count != noop"))
    assert(Bench.baseline(prev(), "/sf", "noop", 8) === Left("cpus 4 != 8"))
    assert(Bench.baseline(prev(cpus = ""), "/sf", "noop", 4) ===
      Left("no cpus field"))
  }

  test("baseline: a missing or unparseable file disarms it with a reason") {
    val missing = java.nio.file.Paths.get("/nonexistent/bench_summary.json")
    assert(Bench.baseline(missing, "/sf", "noop", 4) === Left(s"no $missing"))
    val junk = summaryFile("{not json")
    assert(Bench.baseline(junk, "/sf", "noop", 4) ===
      Left(s"$junk does not parse as a JSON object"))
  }

  test("sampling: a named-subset run takes three samples of every query") {
    // Subset: a 0.1 s cold first sample with no history is not a figure.
    assert(Bench.threeSamples(subset = true, first = 0.1, prev = None))
    assert(Bench.threeSamples(subset = true, first = 0.1, prev = Some(0.1)))
    // Full suite: light queries keep one sample...
    assert(!Bench.threeSamples(subset = false, first = 0.1, prev = None))
    assert(!Bench.threeSamples(subset = false, first = 0.9, prev = Some(0.5)))
    // ...heavy ones (this run or the last) and would-be regressions do not.
    assert(Bench.threeSamples(subset = false, first = 1.2, prev = None))
    assert(Bench.threeSamples(subset = false, first = 0.3, prev = Some(1.5)))
    assert(Bench.threeSamples(subset = false, first = 0.9, prev = Some(0.3)))
  }
}
