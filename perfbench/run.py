#!/usr/bin/env python3
"""Runs one benchmark workload against the engine built from source.

    python3 perfbench/run.py --workload sensor_batch --seed 1 --seconds 10 --trace 0

From the root of a checkout: builds the engine with the command server
(perfbench/jvm), makes the workload's inputs from the seed, sets up and
warms up, then runs the workload's ops in a closed loop with one client
for ``--seconds`` and checks every op's output against the generator's
ground truth. With ``--trace 1`` it then runs one traced cycle and
reports per-layer metrics instead of end-to-end ones.

The last line of stdout is the result: ``{"correct", "attempted",
"failed", "metrics"}``. The line before it records the settings and
sample counts of the run.
"""
import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import engine as eng  # noqa: E402
from spans import SELF_TIME_TOLERANCE, Trace, median  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SETUP_REPS = 3
WARMUP_CYCLES = 1
# A run must end within 180 s once built; stop waiting on the engine
# well before that.
RUN_DEADLINE_S = 170


def info(msg):
    print(msg, file=sys.stderr, flush=True)


def run_ops(fn, ops_log):
    """Runs a batch of ops and logs them. An op the engine answered with
    an exception ends the batch and counts as failed."""
    try:
        ops = fn()
    except eng.OpError as e:
        ops = [{"kind": "main", "wall_s": None, "errors": [str(e)]}]
    for op in ops:
        if op["wall_s"] is not None:
            info(f"op {op['kind']}: {op['wall_s']:.3f} s")
        for e in op["errors"]:
            info(f"CHECK FAILED [{op['kind']}]: {e}")
    ops_log.extend(ops)
    return [op for op in ops if op["wall_s"] is not None]


def e2e_metrics(timed, setup_s, stored_bytes_per_record, heap_peak_mb):
    main = [o for o in timed if o["kind"] == "main"]
    reads = [o for o in timed if o["kind"] == "read"]
    planted = sum(o["planted"] for o in main)
    return {
        "setup_s": (setup_s, "s"),
        "records_per_s": (median([o["records"] / o["wall_s"] for o in main]), "1/s"),
        "batch_latency_p50_s": (median([o["wall_s"] for o in main]), "s"),
        "read_latency_p50_s": (median([o["wall_s"] for o in reads]), "s"),
        "stored_bytes_per_record": (stored_bytes_per_record, "B"),
        "heap_live_peak_mb": (heap_peak_mb, "MB"),
        "dedup_recall": (sum(o["removed"] for o in main) / planted if planted else 1.0, "ratio"),
    }


def layer_metrics(tr, untraced_main_s):
    """Per-layer metrics of one traced cycle. A layer the workload does
    not exercise reports 0."""
    m = {}

    def first(name):
        ids = tr.named(name)
        return ids[0] if ids else None

    def put(key, value, unit):
        m[key] = (value, unit)

    def wall(name):
        sid = first(name)
        return tr.wall_s(sid) if sid is not None else 0.0

    def on(name, fn, default=0.0):
        sid = first(name)
        return fn(sid) if sid is not None else default

    cpu = lambda sid: tr.task_sum(sid, "cpu_ns") / 1e9  # noqa: E731
    shuffle = lambda sid: tr.task_sum(sid, "shuffle_write_bytes")  # noqa: E731
    jobs = lambda sid: len(tr.jobs_in(sid))  # noqa: E731

    put("ingest.wall_s", wall("ingest"), "s")
    put("ingest.jobs", on("ingest", jobs), "count")
    put("ingest.files_discovered", on("ingest", lambda s: tr.counter(s, "files_discovered")), "count")
    put("ingest.files_probed", on("ingest", lambda s: tr.counter(s, "files_probed")), "count")

    put("transform.wall_s", wall("transform"), "s")
    put("transform.task_cpu_s", on("transform", cpu), "s")
    put("transform.gc_s", on("transform", lambda s: tr.task_sum(s, "gc_ms") / 1000.0), "s")
    put("transform.shuffle_write_bytes", on("transform", shuffle), "B")
    put("transform.spill_bytes", on("transform", lambda s: tr.task_sum(s, "spill_bytes")), "B")
    put("transform.slot_util", on("transform", tr.slot_util), "ratio")
    put("transform.input_records", on("transform", lambda s: tr.counter(s, "input_records")), "count")
    put("transform.output_records", on("transform", lambda s: tr.counter(s, "output_records")), "count")

    put("validate.wall_s", wall("validate"), "s")
    put("validate.jobs", on("validate", jobs), "count")
    put("validate.driver_s", on("validate", tr.driver_s), "s")
    put("validate.task_cpu_s", on("validate", cpu), "s")
    put("validate.shuffle_write_bytes", on("validate", shuffle), "B")
    put("validate.report_s", wall("validate.report"), "s")

    put("load.write_s", wall("load.write"), "s")
    put("load.write_task_cpu_s", on("load.write", cpu), "s")
    put("load.write_shuffle_bytes", on("load.write", shuffle), "B")
    put("load.files_written", on("load.write", lambda s: tr.action_sum(s, "files_written")), "count")
    put("load.output_bytes", on("load.write", lambda s: tr.task_sum(s, "output_bytes")), "B")
    put("load.stats_s", wall("load.stats"), "s")
    put("load.metadata_s", wall("load.metadata"), "s")
    reads = tr.named("load.read")
    put("load.read_s", median([tr.wall_s(s) for s in reads]) if reads else 0.0, "s")
    put("load.read_jobs", median([len(tr.jobs_in(s)) for s in reads]) if reads else 0.0, "count")
    put("load.read_driver_s", median([tr.driver_s(s) for s in reads]) if reads else 0.0, "s")
    scanned = sum(tr.action_sum(s, "scan_rows") for s in reads)
    returned = sum(tr.counter(s, "rows_returned") for s in reads)
    put("load.read_scan_efficiency", returned / scanned if scanned else 0.0, "ratio")

    root = first("pipeline")
    put("pipeline.wall_s", tr.wall_s(root), "s")
    put("pipeline.driver_s", tr.driver_s(root), "s")
    put("pipeline.jobs", len(tr.jobs_in(root)), "count")
    put("pipeline.tasks", tr.task_sum(root, "tasks"), "count")
    put("trace.overhead_ratio", tr.wall_s(root) / untraced_main_s, "ratio")
    put("trace.self_time_error", max(tr.self_time_error(r) for r in tr.roots()), "ratio")

    for span in ("dedup.exact", "dedup.lsh", "dedup.components",
                 "similarity.semantic", "curation.pack"):
        put(f"{span}_s", wall(span), "s")
        put(f"{span}.task_cpu_s", on(span, cpu), "s")
        put(f"{span}.shuffle_write_bytes", on(span, shuffle), "B")
        put(f"{span}.driver_s", on(span, tr.driver_s), "s")
    candidates = on("dedup.lsh_profile", lambda s: tr.counter(s, "distinct_pairs"))
    pairs = on("dedup.lsh", lambda s: tr.counter(s, "pairs"))
    put("dedup.lsh_candidates", candidates, "count")
    put("dedup.lsh_pairs", pairs, "count")
    put("dedup.lsh_precision", pairs / candidates if candidates else 0.0, "ratio")
    return m


def measure(args, wl, jvm, conf, start, ops_log):
    """Set-up, warm-up, the timed closed loop and, with --trace 1, one
    traced cycle. Returns the metrics and the info the run records."""
    session = jvm.call("session", conf=conf)
    session_s = time.monotonic() - start
    setup_reps = []
    for _ in range(SETUP_REPS):
        t0 = time.monotonic()
        wl.make_inputs()
        setup_reps.append(time.monotonic() - t0)
    # Warm-up: a main op, which also builds the store, then reads of it.
    t0 = time.monotonic()
    for _ in range(WARMUP_CYCLES):
        run_ops(lambda: wl.main_op(jvm) + wl.read_ops(jvm), ops_log)
    warmup_s = time.monotonic() - t0
    setup_s = session_s + median(setup_reps) + warmup_s

    # Closed loop, one client, for --seconds: an op starts only after
    # the previous one returned, and at least one cycle runs. A timed
    # cycle reads first, so its reads go on from the warm-up's reads
    # rather than from the transient of a fresh main op.
    timed = []
    t_end = time.monotonic() + args.seconds
    while time.monotonic() < t_end:
        timed += run_ops(lambda: wl.read_ops(jvm) + wl.main_op(jvm), ops_log)
    main_ops = [o for o in timed if o["kind"] == "main"]
    main_walls = [o["wall_s"] for o in main_ops]
    if not main_walls:
        raise eng.EngineError("no timed op succeeded")

    run_info = {
        "spark_version": session["spark_version"],
        "samples": {"main_ops": len(main_walls),
                    "read_ops": sum(o["kind"] == "read" for o in timed)},
        "setup": {"session_s": session_s, "input_reps_s": setup_reps, "warmup_s": warmup_s},
    }
    if not args.trace:
        heap_peak_mb = max(o["live_mb"] for o in main_ops)
        return e2e_metrics(timed, setup_s, wl.stored_bytes_per_record, heap_peak_mb), run_info

    jvm.call("trace_start", run_id=f"{args.workload}-{args.seed}")
    run_ops(lambda: wl.read_ops(jvm, traced=True) + wl.main_op(jvm, traced=True), ops_log)
    record = jvm.call("trace_stop")["trace"]
    # The JVM is still warming up: an untraced main op after the traced
    # one brackets it with the timed ones before it.
    after = [o["wall_s"] for o in run_ops(lambda: wl.main_op(jvm), ops_log)]
    untraced = median([median(main_walls)] + ([median(after)] if after else []))
    metrics = layer_metrics(Trace(record), untraced)
    run_info["trace_file"] = os.path.join(
        ".perfbench_work", f"trace-{args.workload}-{args.seed}.json")
    with open(run_info["trace_file"], "w") as f:
        json.dump({"record": record, "metrics": {k: v for k, (v, _) in metrics.items()}}, f)
    err = metrics["trace.self_time_error"][0]
    if err > SELF_TIME_TOLERANCE:
        ops_log.append({"kind": "trace", "wall_s": None, "errors": [
            f"span self times miss the root wall time by {err:.2%}"]})
        info(f"CHECK FAILED [trace]: {ops_log[-1]['errors'][0]}")
    return metrics, run_info


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # Stopped from outside: unwind, so the engine JVM is killed and reaped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = eng.build(os.getcwd(), os.path.join(build_dir, "perfbench"))

    start = time.monotonic()
    workdir = os.path.abspath(os.path.join(
        ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    cores = eng.nproc()
    wl = WORKLOADS[args.workload](args.seed, workdir)
    conf = eng.session_conf(wl.kind, cores, os.path.join(workdir, "spark-local"))
    ops_log = []
    try:
        with eng.Engine(classes, workdir, start + RUN_DEADLINE_S) as jvm:
            metrics, run_info = measure(args, wl, jvm, conf, start, ops_log)
    except eng.EngineError as e:
        info(str(e))
        sys.exit(1)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    failed = sum(1 for o in ops_log if o["errors"])
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "nproc": cores,
        "session_conf": {k: v for k, v in conf.items() if k != "spark.local.dir"},
        "jvm_options": eng.JVM_OPTIONS, **run_info,
        "op_failure_ratio": failed / len(ops_log),
    }))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops_log), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
