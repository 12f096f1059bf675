"""The workloads: inputs, the timed ops, and the
output check of every op against the generator's ground truth.

A workload has two kinds of op: ``main_op`` (the pipeline or curation
run) and ``read_ops`` (point reads of what the last main op stored).
Each returns one record per op: ``kind`` ("main" or "read"),
``wall_s`` as timed inside the engine around the call, ``records`` (the
op's input rows or documents) and ``errors`` (failed checks; empty when
the output is right). After the main op, outside its timing, the engine
settles (full collections until Spark's cleaner is done) and measures
its live heap: ``live_mb`` of the main op.
"""
import json
import os
import shutil

import numpy as np
import pyarrow.parquet as pq

import gen


def _reset(*dirs):
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)


def _settle(engine, op):
    op["live_mb"] = engine.call("gc")["live_mb"]
    return op


def _expect(errors, what, got, want):
    if got != want:
        errors.append(f"{what}: got {got!r}, want {want!r}")


class SensorBatch:
    """A forced full reload by ``Pipeline.run`` over dense day files
    (a reading every 5 minutes from 20 sensors over 2 days, 60 date x
    sensor partitions), then ``Loader.readBack`` point reads of
    (date, sensor) partitions."""

    name = "sensor_batch"
    kind = "sensor"
    n_sensors = 20
    step_minutes = 5
    n_days = 2
    reads_per_batch = 10

    def __init__(self, seed, workdir):
        self.seed = seed
        self.raw = os.path.join(workdir, "raw")
        self.out = os.path.join(workdir, "store")
        self.report = os.path.join(workdir, "dq_report")
        self.rng = np.random.default_rng([seed, 3])

    def make_inputs(self):
        _reset(self.raw, self.out)
        self.days = gen.write_sensor_days(self.raw, self.seed, range(self.n_days),
                                          self.n_sensors, self.step_minutes)
        self.store = gen.partition_counts(self.days)

    def main_op(self, engine, traced=False):
        r = engine.call("pipeline", raw=self.raw, out=self.out, report=self.report,
                        force=True, traced=traced)
        errors = []
        want = sum(t["stored"] for t in self.days)
        raw_rows = sum(t["raw_rows"] for t in self.days)
        _expect(errors, "success", r["success"], True)
        _expect(errors, "records_stored", r["records_stored"], want)
        _expect(errors, "records_ingested", r["records_ingested"], want)
        if traced:
            _expect(errors, "accepted files", sorted(r["accepted"]),
                    sorted(t["file"] for t in self.days))
            _expect(errors, "skipped files", r["skipped"], [gen.BROKEN_FILE])
            _expect(errors, "failed files", r["failed"], [gen.CORRUPT_FILE])
        _expect(errors, "checkpoint written by a forced reload",
                os.path.exists(os.path.join(self.raw, ".checkpoint")), False)
        with open(os.path.join(self.out, "_validation_metadata.json")) as f:
            st = json.load(f)["storage_stats"]
        _expect(errors, "metadata records_stored", st["records_stored"], want)
        _expect(errors, "stored partitions", st["partitions"], len(self.store))
        self.stored_bytes_per_record = st["total_bytes"] / want
        return [_settle(engine, {
            "kind": "main", "wall_s": r["wall_s"], "records": raw_rows, "errors": errors,
            "planted": sum(t["planted_duplicates"] for t in self.days),
            "removed": raw_rows - sum(t["null_critical"] for t in self.days)
            - r["records_stored"]})]

    def read_ops(self, engine, traced=False):
        ops = []
        keys = sorted(self.store)
        for i in self.rng.choice(len(keys), self.reads_per_batch, replace=False):
            date, sensor = keys[i]
            rr = engine.call("readback", out=self.out, date=date, sensor=sensor, traced=traced)
            errs = []
            _expect(errs, f"readBack({date}, {sensor}) rows", rr["rows"], self.store[keys[i]])
            ops.append({"kind": "read", "wall_s": rr["wall_s"], "records": rr["rows"],
                        "errors": errs})
        return ops


class CorpusCurate:
    """``CurationPipeline.curate`` on 1,000 base documents plus planted
    duplicates, then the survivor and packing-manifest writes; reads are
    point lookups of a surviving document."""

    name = "corpus_curate"
    kind = "corpus"
    n_base = 1000
    reads_per_batch = 10

    def __init__(self, seed, workdir):
        self.seed = seed
        self.inputs = os.path.join(workdir, "corpus_in")
        self.out = os.path.join(workdir, "corpus_out")
        self.rng = np.random.default_rng([seed, 4])

    def make_inputs(self):
        _reset(self.inputs, self.out)
        self.truth = gen.write_corpus(self.inputs, self.seed, self.n_base)

    def main_op(self, engine, traced=False):
        t = self.truth
        r = engine.call("curate", docs=os.path.join(self.inputs, "docs.parquet"),
                        emb=os.path.join(self.inputs, "embeddings.parquet"),
                        out=self.out, traced=traced)
        errors = []
        _expect(errors, "n_input", r["n_input"], t["n_docs"])
        _expect(errors, "n_after_exact", r["n_after_exact"], t["n_after_exact"])
        exact_dups = {d for d, _ in t["planted"]["exact"]}
        if traced:
            _expect(errors, "exact-stage survivors",
                    r["after_exact_ids"], sorted(set(range(t["n_docs"])) - exact_dups))
        clean = os.path.join(self.out, "corpus_clean")
        survivors = set(pq.read_table(clean, columns=["doc_id"]).column(0).to_pylist())
        _expect(errors, "survivor count", len(survivors), r["n_after_semantic"])
        _expect(errors, "exact duplicates surviving", sorted(exact_dups & survivors), [])
        _expect(errors, "unplanted documents removed",
                sorted(set(t["unplanted"]) - survivors)[:10], [])
        manifest = pq.read_table(os.path.join(self.out, "pack_manifest"), columns=["doc_id"])
        _expect(errors, "manifest rows", manifest.num_rows, len(survivors))
        planted = [d for kind in t["planted"].values() for d, _ in kind]
        files = [os.path.join(clean, f) for f in os.listdir(clean) if f.endswith(".parquet")]
        self.stored_bytes_per_record = sum(map(os.path.getsize, files)) / len(survivors)
        return [_settle(engine, {
            "kind": "main", "wall_s": r["wall_s"], "records": t["n_docs"], "errors": errors,
            "planted": len(planted),
            "removed": sum(1 for d in planted if d not in survivors)})]

    def read_ops(self, engine, traced=False):
        ops = []
        clean = os.path.join(self.out, "corpus_clean")
        unplanted = self.truth["unplanted"]
        for i in self.rng.choice(len(unplanted), self.reads_per_batch, replace=False):
            lr = engine.call("lookup", path=clean, doc_id=int(unplanted[i]))
            errs = []
            _expect(errs, f"lookup({unplanted[i]}) rows", lr["rows"], 1)
            ops.append({"kind": "read", "wall_s": lr["wall_s"], "records": lr["rows"],
                        "errors": errs})
        return ops


WORKLOADS = {w.name: w for w in (SensorBatch, CorpusCurate)}
