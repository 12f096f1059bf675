#!/usr/bin/env python3
"""DuckDB oracle for the sensor pipeline's data-quality suite.

The reference validates in DuckDB SQL (validation.py:56-124 and
:247-419). This tool transcribes those queries (SURVEY.md rows A4-A13,
J2, J3 and W2) so that `Validation.collectMetrics` can be checked
against the reference's own engine instead of a second Spark copy of
the same rules.

Usage: python3 tools/validation_oracle.py MANIFEST.json

The manifest is a JSON list of cases. A validation case:

    {"name": "...", "path": "<parquet file or directory>",
     "time_zone": "UTC",
     "expected_frequency_hours": 1,
     "ranges": {"temperature": [-10.0, 60.0], ...},
     "battery_range": [0.0, 100.0],
     "thresholds": {"max_missing_percentage": 20.0,
                    "max_anomaly_percentage": 10.0,
                    "max_gap_hours": 1.0}}

reads (sensor_id, timestamp, reading_type, value, battery_level and,
when present, anomalous_reading) and yields every ValidationResult
field. An SQL case, {"name", "tables": {view: path}, "sql",
"time_zone"}, runs one query over the named tables and yields its
columns and rows.

Timestamps are read as UTC instants and the session runs under the
case's time zone (`SET TimeZone`), as Spark's session time zone does;
they come back as epoch microseconds. A NaN or missing average comes
back as null. Prints one JSON object: case name -> result.

Needs the duckdb and pyarrow Python modules.
"""
import datetime as dt
import json
import sys

try:
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
except ImportError as e:
    sys.exit(f"validation_oracle: Python module missing: {e.name} "
             f"(the oracle needs duckdb and pyarrow)")


EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def connect(tables, zone):
    """A session under `zone` with each parquet path as a view whose
    timestamp columns are UTC instants."""
    con = duckdb.connect()
    con.execute("SET TimeZone = '%s'" % zone.replace("'", "''"))
    for view, path in tables.items():
        t = pq.read_table(path)
        schema = pa.schema([
            f.with_type(pa.timestamp("us", tz="UTC"))
            if pa.types.is_timestamp(f.type) else f for f in t.schema])
        con.register(view, t.cast(schema))
    return con


def rows(con, sql, params=()):
    return con.execute(sql, list(params)).fetchall()


def validate(case):
    con = connect({"readings": case["path"]}, case["time_zone"])
    freq = int(case["expected_frequency_hours"])
    th = case["thresholds"]
    bmin, bmax = case["battery_range"]
    columns = {r[0] for r in rows(con, "DESCRIBE readings")}

    # A4-A6, A11: the scalars. A4's NOT (x IS NULL OR TRY_CAST(x AS
    # DOUBLE) IS NOT NULL) probes untyped input; the ingest gate admits
    # only DOUBLE value and battery_level columns, where SURVEY A4 reads
    # it as the null count, and so does the engine.
    (total, null_ts, null_values, null_batteries, battery_violations,
     distinct_sensors, lo, hi, avg_value, avg_battery) = rows(con, """
        SELECT COUNT(*),
               COUNT(*) FILTER (WHERE timestamp IS NULL),
               COUNT(*) FILTER (WHERE value IS NULL),
               COUNT(*) FILTER (WHERE battery_level IS NULL),
               COUNT(*) FILTER (WHERE battery_level < ? OR battery_level > ?),
               COUNT(DISTINCT sensor_id),
               epoch_us(MIN(timestamp)), epoch_us(MAX(timestamp)),
               ROUND(AVG(value), 2), ROUND(AVG(battery_level), 1)
        FROM readings""", (bmin, bmax))[0]

    # A5: per configured type, values outside [min, max].
    range_violations = {
        typ: rows(con, """
            SELECT COUNT(*) FROM readings
            WHERE reading_type = ? AND (value < ? OR value > ?)""",
                  (typ, lo_v, hi_v))[0][0]
        for typ, (lo_v, hi_v) in case["ranges"].items()}

    # Where the reference leaves a tie's order open, the engine's
    # contract breaks it: the profiles by type, the coverage by sensor,
    # the gaps by sensor then type; nulls sort first, as in Spark.
    # A8: missing-value profile.
    missing = rows(con, """
        SELECT reading_type, COUNT(*) AS total_readings,
               SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS missing_count,
               ROUND(100.0 * SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                     / COUNT(*), 2) AS missing_percentage
        FROM readings GROUP BY reading_type
        ORDER BY missing_percentage DESC, reading_type NULLS FIRST""")

    # A9: anomaly profile (no flag column, no profile).
    anomalies = rows(con, """
        SELECT reading_type, COUNT(*) AS total_readings,
               SUM(CASE WHEN anomalous_reading THEN 1 ELSE 0 END) AS anomaly_count,
               ROUND(100.0 * SUM(CASE WHEN anomalous_reading THEN 1 ELSE 0 END)
                     / COUNT(*), 2) AS anomaly_percentage
        FROM readings WHERE anomalous_reading IS NOT NULL
        GROUP BY reading_type
        ORDER BY anomaly_percentage DESC, reading_type NULLS FIRST""") \
        if "anomalous_reading" in columns else []

    # A10: per-sensor coverage.
    coverage = rows(con, """
        SELECT sensor_id, COUNT(DISTINCT reading_type) AS reading_types,
               COUNT(*) AS total_readings,
               epoch_us(MIN(timestamp)) AS first_reading,
               epoch_us(MAX(timestamp)) AS last_reading,
               ROUND(AVG(battery_level), 1) AS avg_battery
        FROM readings GROUP BY sensor_id
        ORDER BY total_readings DESC, sensor_id NULLS FIRST""")

    # W2: the expected instants min_ts + k*f hours up to max_ts. J2: every
    # distinct (sensor, type) pair times that grid. J3: keep the grid
    # rows whose hour no reading of the pair shares. A7: count them.
    gaps = rows(con, f"""
        WITH bounds AS (
          SELECT MIN(timestamp) AS min_ts, MAX(timestamp) AS max_ts
          FROM readings),
        expected_times AS (
          SELECT unnest(generate_series(min_ts, max_ts,
                        INTERVAL {freq} HOUR)) AS expected_time
          FROM bounds),
        grid AS (
          SELECT p.sensor_id, p.reading_type, e.expected_time
          FROM (SELECT DISTINCT sensor_id, reading_type FROM readings) p
          CROSS JOIN expected_times e),
        missing AS (
          SELECT g.sensor_id, g.reading_type, g.expected_time
          FROM grid g LEFT JOIN readings sd
            ON g.sensor_id = sd.sensor_id
           AND g.reading_type = sd.reading_type
           AND date_trunc('hour', g.expected_time) = date_trunc('hour', sd.timestamp)
          WHERE sd.sensor_id IS NULL)
        SELECT sensor_id, reading_type, COUNT(*) AS missing_hours,
               epoch_us(MIN(expected_time)) AS first_missing,
               epoch_us(MAX(expected_time)) AS last_missing
        FROM missing GROUP BY sensor_id, reading_type
        ORDER BY missing_hours DESC, sensor_id NULLS FIRST,
                 reading_type NULLS FIRST""")
    total_missing = sum(g[2] for g in gaps)

    # A12: 100 minus the capped penalties, floored at 0.
    missing_penalty = sum(
        min(p[3], th["max_missing_percentage"]) for p in missing)
    anomaly_penalty = sum(
        min(p[3], th["max_anomaly_percentage"]) for p in anomalies)
    gap_penalty = min(2.0 * total_missing, 30.0)
    score = max(0.0, 100.0 - missing_penalty - anomaly_penalty - gap_penalty)

    # A13: the threshold assessment.
    issues = (
        [f"High missing values for {p[0]}: {p[3]}%"
         for p in missing if p[3] > th["max_missing_percentage"]]
        + [f"High anomaly rate for {p[0]}: {p[3]}%"
           for p in anomalies if p[3] > th["max_anomaly_percentage"]]
        + [f"Data gap for {g[0]}/{g[1]}: {g[2]} missing hours"
           for g in gaps if g[2] > th["max_gap_hours"]])

    return {
        "passed": not issues,
        "total_records": total,
        "issues_found": issues,
        "quality_score": score,
        "metrics": {
            "total_records": total,
            "null_timestamps": null_ts,
            "invalid_values": null_values,
            "invalid_batteries": null_batteries,
            "range_violations": range_violations,
            "battery_violations": battery_violations,
            "distinct_sensors": distinct_sensors,
            "time_range": [lo, hi],
            "missing_profile": [list(p) for p in missing],
            "anomaly_profile": [list(p) for p in anomalies],
            "coverage": [list(c) for c in coverage],
            "gaps": [list(g) for g in gaps],
            "total_missing_hours": total_missing,
            "avg_value": avg_value,
            "avg_battery": avg_battery,
        },
    }


def query(case):
    con = connect(case["tables"], case["time_zone"])
    cur = con.execute(case["sql"])
    return {"columns": [d[0] for d in cur.description],
            "rows": [list(r) for r in cur.fetchall()]}


def plain(v):
    """JSON-safe value: timestamps as epoch microseconds, NaN as null."""
    if isinstance(v, float) and v != v:
        return None
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return (v - EPOCH) // dt.timedelta(microseconds=1)
    if isinstance(v, dict):
        return {k: plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [plain(x) for x in v]
    return v


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    with open(sys.argv[1]) as f:
        cases = json.load(f)
    out = {c["name"]: plain(query(c) if "sql" in c else validate(c))
           for c in cases}
    json.dump(out, sys.stdout)


if __name__ == "__main__":
    main()
