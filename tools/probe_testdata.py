#!/usr/bin/env python3
"""Round-start testdata contract probe.

The driver regenerates /root/testdata between rounds, and physical
parquet types have changed across regenerations (events.ts shipped as
TIMESTAMP(NANOS) through round 7, then tz-naive TIMESTAMP(MICROS) in
round 8 — which silently broke 11 queries until the readers were
normalized). This script prints every table's column:type so a schema
drift is visible BEFORE any engine run burns a round on it.

Usage:  python3 tools/probe_testdata.py [/root/testdata/sf0.01]

Exit code 1 if any KNOWN-ASSUMPTION column deviates from the types the
engine's one raw-parquet reader (graft.ingest.RawParquet, behind
CoreQueries.t and Streaming.eventsStream) turns into timestamps:
  - timestamp columns must be INT64 TIMESTAMP (any unit, any tz-ness);
    a plain INT64 stays a long and is flagged
  - embeddings.embedding must be list<float>
"""
import sys
import glob
import os

import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Columns the engine reads as instants; any physical type drift here is
# what broke round 8.
TS_COLS = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}


def main() -> int:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    rc = 0
    for t in TABLES:
        path = os.path.join(base, f"{t}.parquet")
        if not os.path.exists(path):
            print(f"{t}: MISSING ({path})")
            continue
        schema = pq.read_schema(path)
        cols = ", ".join(f"{n}:{schema.field(n).type}" for n in schema.names)
        print(f"{t}: {cols}")
        for c in TS_COLS.get(t, []):
            typ = str(schema.field(c).type)
            if not typ.startswith("timestamp["):
                print(f"  !! {t}.{c} has unexpected physical type {typ} — "
                      "graft.ingest.RawParquet reads only parquet "
                      "TIMESTAMP columns as timestamps")
                rc = 1
        if t == "embeddings":
            typ = str(schema.field("embedding").type)
            if "float" not in typ:
                print(f"  !! embeddings.embedding is {typ}, expected "
                      "list<float> — the native vector expressions "
                      "(FloatVecDot/FloatVecCosine) read float elements")
                rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
