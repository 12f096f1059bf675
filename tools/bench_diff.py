#!/usr/bin/env python3
"""Diff two bench_summary.json artifacts and print the weather-vs-real
verdict table the judge otherwise reconstructs by hand each round.

Usage: python3 tools/bench_diff.py OLD.json NEW.json [--threshold 1.3]

For every query whose time moved by more than --threshold (default
1.3x, either direction) and by >0.3 s absolute, the tool classifies the
move from the artifacts' own counters — the same adjudication ladder
the round reports use:

  ISOLATED-CPU-OK  the isolated sample's task CPU is within 1.3x of the
                 old run's task CPU -> the WORK is unchanged; the wall
                 moved with stall time / JIT / catalog latency (q201's
                 fresh-JVM wall floor is ~2x its warm in-suite time at
                 identical cpu) -> ambient/structural, not the plan
  ISOLATED-OK    the new artifact carries an isolated fresh-JVM verdict
                 within 1.3x of the old time -> ambient/suite weather
  ISOLATED-LOADED the isolated sample itself ran at os_load above
                 cpus/4 (or its verdict field says load-contaminated):
                 the quiet-box premise failed, so the sample can
                 neither acquit nor convict -> re-run on a quiet box
                 (counted as unresolved: exit 2)
  ISOLATED-SLOW  a QUIET isolated verdict confirms the slowdown -> REAL
  TASK-FLAT      wall moved but median summed task time moved <1.15x ->
                 driver/ambient (GC neighbors, os_load), not the plan
  JIT            the slow run's jit_ms delta dominates its wall delta ->
                 compiler threads stealing cores
  GC             gc_ms grew by more than the wall delta -> heap weather
                 (check heap_gb / neighbors)
  SPILL/SHUFFLE  spill or shuffle bytes changed materially -> REAL plan
                 or data change
  TASK-MOVED     summed task time moved with the wall and nothing above
                 explains it -> REAL (investigate)

Sanity gates first: refuses to compare artifacts from different sf dirs
or forcing bases (those are different experiments, not regressions).
Exit status: 0 = no unexplained moves, 2 = at least one TASK-MOVED /
ISOLATED-SLOW survived.
"""
import json
import os
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def med(xs):
    if not xs:
        return None
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def classify(name, old, new, o_det, n_det, isolated, cpus):
    """Returns (verdict, evidence) for one moved query."""
    o_sec, n_sec = old, new
    iso = isolated.get(name)
    if iso is not None and isinstance(iso.get("sec"), (int, float)):
        # CPU first: the isolated child's task_cpu_ms vs the OLD run's
        # task_cpu_ms is the one compare that survives both stall-time
        # inflation and the fresh-vs-warm JVM wall gap. A flat CPU means
        # the plan does the same work — whatever the walls say.
        o_cpu = (o_det or {}).get("metrics", {}).get("task_cpu_ms")
        i_cpu = iso.get("task_cpu_ms")
        if isinstance(o_cpu, (int, float)) and o_cpu > 0 and \
                isinstance(i_cpu, (int, float)) and i_cpu > 0 and \
                i_cpu <= o_cpu * 1.3:
            return ("ISOLATED-CPU-OK",
                    f"isolated task cpu {i_cpu/1000:.1f}s vs prev "
                    f"{o_cpu/1000:.1f}s — work unchanged, wall is "
                    "stall/JIT/catalog latency")
        if iso["sec"] <= max(o_sec * 1.3, o_sec + 0.3):
            return ("ISOLATED-OK",
                    f"fresh-JVM re-run {iso['sec']:.2f}s vs prev {o_sec:.2f}s")
        # The isolated wall is slow — but a wall measured on a loaded
        # box cannot confirm anything (the r18 artifact committed an
        # isolated sample at os_load 15.2 and this branch printed
        # "confirms"). Consult the sample's own os_load / verdict field
        # before claiming confirmation.
        load = iso.get("os_load")
        verdict = iso.get("verdict")
        loaded = verdict == "load-contaminated" or (
            verdict is None and isinstance(load, (int, float)) and
            load > cpus * 0.25)
        if loaded:
            return ("ISOLATED-LOADED",
                    f"isolated {iso['sec']:.2f}s but sampled at os_load "
                    f"{load} (cpus={cpus}) — quiet-box premise failed; "
                    "inconclusive, re-run on a quiet box")
        return ("ISOLATED-SLOW",
                f"quiet fresh-JVM re-run {iso['sec']:.2f}s confirms "
                f"(prev {o_sec:.2f}s, os_load {load})")
    if not o_det or not n_det:
        return ("NO-DETAIL", "single-run entries carry no run arrays")
    o_task = med(o_det.get("runs_task_ms", []))
    n_task = med(n_det.get("runs_task_ms", []))
    if o_task and n_task:
        task_ratio = n_task / o_task
        wall_ratio = n_sec / o_sec if o_sec > 0 else float("inf")
        if wall_ratio > 1 and task_ratio < 1.15:
            return ("TASK-FLAT",
                    f"wall x{wall_ratio:.2f} but task x{task_ratio:.2f} "
                    f"({o_task:.0f}->{n_task:.0f} ms)")
    o_m = o_det.get("metrics", {})
    n_m = n_det.get("metrics", {})
    jits = n_det.get("runs_jit_ms", [])
    if jits and (max(jits) - min(jits)) / 1000.0 > abs(n_sec - o_sec) * 0.7:
        return ("JIT", f"jit_ms spread {min(jits)}-{max(jits)} dominates")
    gc_delta = (n_m.get("gc_ms", 0) - o_m.get("gc_ms", 0)) / 1000.0
    if gc_delta > abs(n_sec - o_sec) * 0.7:
        return ("GC", f"gc_ms {o_m.get('gc_ms', 0)}->{n_m.get('gc_ms', 0)}")
    for f in ("spill_disk_mb", "spill_mem_mb", "shuffle_write_mb"):
        ov, nv = o_m.get(f, 0) or 0, n_m.get(f, 0) or 0
        if nv > max(2 * ov, ov + 64):
            return ("SPILL/SHUFFLE", f"{f} {ov:.0f}->{nv:.0f} MB")
    return ("TASK-MOVED",
            f"task {o_task and int(o_task)}->{n_task and int(n_task)} ms "
            "moved with the wall; no counter explains it")


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    thr = 1.3
    # Core count for the quiet-box os_load gate (bench artifacts do not
    # record it); default = this harness's local[32].
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    for a in sys.argv[1:]:
        if a.startswith("--threshold"):
            thr = float(a.split("=", 1)[1]) if "=" in a \
                else float(sys.argv[sys.argv.index(a) + 1])
        if a.startswith("--cpus"):
            cpus = int(a.split("=", 1)[1]) if "=" in a \
                else int(sys.argv[sys.argv.index(a) + 1])
    if len(args) < 2:
        sys.exit(__doc__)
    old, new = load(args[0]), load(args[1])
    for field in ("sf", "basis"):
        if old.get(field) != new.get(field):
            sys.exit(f"refusing to diff: {field} differs "
                     f"({old.get(field)} vs {new.get(field)}) — "
                     "different experiments, not a regression")
    oq, nq = old.get("queries", {}), new.get("queries", {})
    iso = new.get("isolated", {})
    print(f"total: {old.get('value')} -> {new.get('value')} s")
    both = sorted(set(oq) & set(nq))
    gone, added = sorted(set(oq) - set(nq)), sorted(set(nq) - set(oq))
    if gone:
        print(f"removed entries: {', '.join(gone)}")
    if added:
        print(f"new entries: {', '.join(added)}")
    o_err, n_err = old.get("errors", {}), new.get("errors", {})
    for q in sorted(set(n_err) - set(o_err)):
        print(f"NEW ERROR {q}: {n_err[q][:120]}")
    real = 0
    moved = 0
    for q in both:
        o, n = oq[q], nq[q]
        if o <= 0 or n < 0:
            continue
        if (n > o * thr or o > n * thr) and abs(n - o) > 0.3:
            moved += 1
            direction = "SLOWER" if n > o else "faster"
            verdict, why = classify(
                q, o, n, old.get("details", {}).get(q),
                new.get("details", {}).get(q), iso, cpus)
            if verdict in ("TASK-MOVED", "ISOLATED-SLOW",
                           "ISOLATED-LOADED") and n > o:
                real += 1
            print(f"{q}: {o:.2f} -> {n:.2f} s ({direction})  "
                  f"[{verdict}] {why}")
    if moved == 0:
        print(f"no per-query moves beyond x{thr} / 0.3s")
    lc = new.get("leak_checks", {})
    if any(v for v in lc.values()):
        print(f"leak_checks nonzero: {lc}")
    sys.exit(2 if real else 0)


if __name__ == "__main__":
    main()
