"""Seeded input generators with ground truth.

Sensor data: one ``YYYY-MM-DD.parquet`` file per UTC day in the
``Schemas.raw`` shape (sensor_id, timestamp, reading_type, value,
battery_level), written like the reference's pandas files (nanosecond
timestamps). Each file plants exact duplicate rows, rows with a null
critical column, null batteries, out-of-range values and missing hours.
A raw directory also gets one schema-broken and one corrupt file.

Corpus data: documents (doc_id, text) and embeddings (vec_id,
embedding) with planted exact duplicates (case and whitespace
variants), near duplicates (one word replaced) and semantic duplicates
(new text, near-identical embedding). Every planted duplicate has a
higher id than the document it copies, so the engine keeps the
original.

The same seed always gives the same files and the same truth.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

READING_TYPES = ("temperature", "humidity")
CRITICAL = ("sensor_id", "timestamp", "reading_type", "value")
# The pipeline's default timezone, UTC+05:30: stored rows are
# partitioned by the local date.
LOCAL_OFFSET = np.timedelta64(330, "m")
EPOCH_DAY = dt.date(2024, 1, 1)

RAW_SCHEMA = pa.schema([
    ("sensor_id", pa.string()),
    ("timestamp", pa.timestamp("ns")),
    ("reading_type", pa.string()),
    ("value", pa.float64()),
    ("battery_level", pa.float64()),
])

# Share of rows (or hours) that get each planted defect.
P_MISSING_HOUR = 0.02
P_NULL_CRITICAL = 0.003
P_NULL_BATTERY = 0.05
P_OUT_OF_RANGE = 0.002
P_DUPLICATE = 0.005


def _rng(seed, stream, index=0):
    return np.random.default_rng([seed, stream, index])


def day_name(day_index):
    return (EPOCH_DAY + dt.timedelta(days=day_index)).isoformat()


def sensor_day(seed, day_index, n_sensors, step_minutes):
    """One day file's table and its truth. ``truth['partitions']`` maps
    (local date, sensor_id) to the rows the pipeline should store there
    from this file."""
    rng = _rng(seed, 1, day_index)
    per_hour = 60 // step_minutes
    sensors = np.array([f"sensor_{i:03d}" for i in range(n_sensors)], dtype=object)
    day0 = np.datetime64(day_name(day_index), "ns")

    # Full grid (sensor, type, hour, slot); missing hours drop whole
    # (sensor, type, hour) blocks.
    s_idx, t_idx, hour, slot = np.meshgrid(
        np.arange(n_sensors), np.arange(len(READING_TYPES)),
        np.arange(24), np.arange(per_hour), indexing="ij")
    s_idx, t_idx, hour, slot = (a.ravel() for a in (s_idx, t_idx, hour, slot))
    hour_missing = rng.random((n_sensors, len(READING_TYPES), 24)) < P_MISSING_HOUR
    keep = ~hour_missing[s_idx, t_idx, hour]
    s_idx, t_idx, hour, slot = s_idx[keep], t_idx[keep], hour[keep], slot[keep]
    n = len(s_idx)

    ts = day0 + (hour * 60 + slot * step_minutes).astype("timedelta64[m]")
    is_temp = t_idx == 0
    value = np.where(is_temp, rng.normal(25.0, 5.0, n), rng.uniform(30.0, 90.0, n))
    out_of_range = rng.random(n) < P_OUT_OF_RANGE
    value = np.where(out_of_range, np.where(is_temp, 999.0, -5.0), value)
    battery = rng.uniform(20.0, 100.0, n)
    battery_null = rng.random(n) < P_NULL_BATTERY

    sensor_col = sensors[s_idx].copy()
    type_col = np.array(READING_TYPES, dtype=object)[t_idx]
    null_crit = rng.random(n) < P_NULL_CRITICAL
    which = rng.integers(0, len(CRITICAL), n)
    null_mask = {c: null_crit & (which == i) for i, c in enumerate(CRITICAL)}

    columns = {
        "sensor_id": pa.array(sensor_col, pa.string(), mask=null_mask["sensor_id"]),
        "timestamp": pa.array(ts, pa.timestamp("ns"), mask=null_mask["timestamp"]),
        "reading_type": pa.array(type_col, pa.string(), mask=null_mask["reading_type"]),
        "value": pa.array(value, pa.float64(), mask=null_mask["value"]),
        "battery_level": pa.array(battery, pa.float64(), mask=battery_null),
    }
    base = pa.table(columns, schema=RAW_SCHEMA)

    # Exact duplicates: copies of rows with every critical column set.
    candidates = np.flatnonzero(~null_crit)
    dup_rows = rng.choice(candidates, size=int(round(len(candidates) * P_DUPLICATE)),
                          replace=False)
    table = pa.concat_tables([base, base.take(dup_rows)])
    table = table.take(rng.permutation(table.num_rows))

    good = ~null_crit
    local_day = (ts[good] + LOCAL_OFFSET).astype("datetime64[D]").astype(np.int64)
    key, counts = np.unique(local_day * n_sensors + s_idx[good], return_counts=True)
    partitions = {
        (str(np.datetime64(int(k // n_sensors), "D")), sensors[k % n_sensors]): int(c)
        for k, c in zip(key, counts)}
    truth = {
        "raw_rows": table.num_rows,
        "planted_duplicates": len(dup_rows),
        "null_critical": int(null_crit.sum()),
        "null_battery": int(battery_null.sum()),
        "out_of_range": int(out_of_range.sum()),
        "missing_hours": int(hour_missing.sum()),
        "stored": int(good.sum()),
        "partitions": partitions,
    }
    return table, truth


def write_sensor_day(raw_dir, seed, day_index, n_sensors, step_minutes):
    table, truth = sensor_day(seed, day_index, n_sensors, step_minutes)
    truth["file"] = f"{day_name(day_index)}.parquet"
    pq.write_table(table, os.path.join(raw_dir, truth["file"]))
    return truth


BROKEN_FILE = "0000-00-00_broken.parquet"
CORRUPT_FILE = "0000-00-00_corrupt.parquet"


def write_bad_files(raw_dir):
    """A file whose schema the ingest gate rejects (value is a string,
    battery_level is missing, an extra column) and a file that is not
    parquet at all."""
    broken = pa.table({
        "sensor_id": ["sensor_000"],
        "timestamp": pa.array([np.datetime64(day_name(0), "ns")], pa.timestamp("ns")),
        "reading_type": ["temperature"],
        "value": ["not_a_double"],
        "extra": [1],
    })
    pq.write_table(broken, os.path.join(raw_dir, BROKEN_FILE))
    with open(os.path.join(raw_dir, CORRUPT_FILE), "w") as f:
        f.write("this is not parquet")


def write_sensor_days(raw_dir, seed, day_indices, n_sensors, step_minutes):
    """Writes the day files plus the two bad files; returns the truth of
    every day file, in day order."""
    os.makedirs(raw_dir, exist_ok=True)
    write_bad_files(raw_dir)
    return [write_sensor_day(raw_dir, seed, d, n_sensors, step_minutes)
            for d in day_indices]


def partition_counts(truths):
    """Rows the store should hold per (local date, sensor) after loading
    the given day files together."""
    counts = {}
    for t in truths:
        for k, v in t["partitions"].items():
            counts[k] = counts.get(k, 0) + v
    return counts


# --- corpus -----------------------------------------------------------

VOCAB = 20000
EMB_DIM = 32
TOPICS = 16
PUNCT = ".,;:!?"


def _words(rng, n):
    # Zipf-like word ranks, so common words repeat as in real text.
    ranks = (rng.zipf(1.1, n) - 1) % VOCAB
    return [f"w{r}" for r in ranks]


def _variant(rng, text):
    """A copy that normalizes to the same text: changed case, extra
    whitespace or stripped-by-normalization punctuation."""
    kind = rng.integers(0, 3)
    if kind == 0:
        return text.upper()
    if kind == 1:
        return "  " + text.replace(" ", "   ") + " "
    words = text.split(" ")
    i = int(rng.integers(0, len(words)))
    words[i] = words[i] + PUNCT[int(rng.integers(0, len(PUNCT)))]
    return " ".join(words)


def corpus(seed, n_base, p_exact=0.04, p_near=0.04, p_semantic=0.03):
    """Returns (docs table, embeddings table, truth)."""
    rng = _rng(seed, 2)
    texts = []
    for i in range(n_base):
        n_words = int(rng.integers(100, 200))
        words = _words(rng, n_words)
        # A document-unique marker keeps base documents distinct.
        words[int(rng.integers(0, n_words))] = f"doc{seed}x{i}"
        texts.append(" ".join(words))
    # Embeddings fall in equal-sized topic clusters, so the semantic
    # stage's k-means cells are about the same size on every seed.
    centers = rng.normal(size=(TOPICS, EMB_DIM))
    emb = (centers[np.arange(n_base) % TOPICS]
           + rng.normal(scale=0.6, size=(n_base, EMB_DIM))).astype(np.float32)

    sources = rng.permutation(n_base)
    n_exact, n_near, n_sem = (int(n_base * p) for p in (p_exact, p_near, p_semantic))
    exact_src = sources[:n_exact]
    near_src = sources[n_exact:n_exact + n_near]
    sem_src = sources[n_exact + n_near:n_exact + n_near + n_sem]

    planted = {"exact": [], "near": [], "semantic": []}
    vectors = [emb]
    next_id = n_base
    for s in exact_src:
        texts.append(_variant(rng, texts[s]))
        vectors.append(rng.normal(size=(1, EMB_DIM)).astype(np.float32))
        planted["exact"].append([next_id, int(s)])
        next_id += 1
    for s in near_src:
        words = texts[s].split(" ")
        # Replace an inner word so three shingles change: Jaccard stays
        # above 0.93 for the shortest documents.
        i = int(rng.integers(2, len(words) - 2))
        words[i] = f"edit{seed}x{next_id}"
        texts.append(" ".join(words))
        vectors.append(rng.normal(size=(1, EMB_DIM)).astype(np.float32))
        planted["near"].append([next_id, int(s)])
        next_id += 1
    for s in sem_src:
        words = _words(rng, int(rng.integers(100, 200)))
        words[0] = f"sem{seed}x{next_id}"
        texts.append(" ".join(words))
        noise = rng.normal(scale=0.01, size=(1, EMB_DIM)).astype(np.float32)
        vectors.append(emb[s:s + 1] + noise * np.linalg.norm(emb[s]) / np.sqrt(EMB_DIM))
        planted["semantic"].append([next_id, int(s)])
        next_id += 1

    ids = np.arange(next_id, dtype=np.int64)
    order = rng.permutation(next_id)
    docs = pa.table({
        "doc_id": pa.array(ids[order]),
        "text": pa.array([texts[i] for i in order], pa.string()),
    })
    vec = np.concatenate(vectors)
    embeddings = pa.table({
        "vec_id": pa.array(ids[order]),
        "embedding": pa.array(list(vec[order]), pa.list_(pa.float32())),
    })
    dup_ids = {d for kind in planted.values() for d, _ in kind}
    truth = {
        "n_docs": next_id,
        "n_after_exact": next_id - n_exact,
        "planted": planted,
        "unplanted": sorted(set(range(next_id)) - dup_ids),
    }
    return docs, embeddings, truth


def write_corpus(out_dir, seed, n_base):
    os.makedirs(out_dir, exist_ok=True)
    docs, emb, truth = corpus(seed, n_base)
    pq.write_table(docs, os.path.join(out_dir, "docs.parquet"))
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return truth
