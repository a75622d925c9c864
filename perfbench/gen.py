"""Seeded input generator for the graft benchmark.

Each table the workloads read (`region`, `nation`, `customer`,
`supplier`, `events`, `documents`) has the schema of graft's test table
of that name and the value domains it uses: uniform keys, five event types, exponential
event values, `{"k": n}` props, documents drawn from a 30-word
vocabulary with a share of near-duplicates. The seed drives every value,
so the same seed writes identical tables and another seed writes other
rows of the same sizes and schema. `perfbench/run.py` calls
`generate` with each workload's tables and sizes.
"""
import datetime as dt
import hashlib
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
US_PER_DAY = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def region(rng, n):
    names = list(rng.permutation(REGIONS))
    return pa.table({
        "r_regionkey": pa.array(np.arange(n, dtype=np.int32)),
        "r_name": pa.array([names[i % len(names)] for i in range(n)]),
    })


def nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(np.arange(n, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(n)]),
        "n_regionkey": pa.array(rng.integers(0, 5, n, dtype=np.int32)),
    })


def customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    })


def supplier(rng, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def events(rng, n):
    users = max(1, (n * 3) // 200)
    start_us = int((EVENTS_START - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    ts = np.sort(rng.integers(0, EVENTS_DAYS * US_PER_DAY, n)) + start_us
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # about 5% near-duplicates (an earlier document plus a marker word)
    # and a few exact copies, so dedup has pairs to find
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


MAKERS = {f.__name__: f for f in (region, nation, customer, supplier,
                                  events, documents)}


def table_hash(table):
    """Content hash of a table: its Arrow IPC stream bytes."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def generate(out_dir, seed, rows):
    """Write one parquet file per table in `rows` ({name: row count}) and
    return the manifest: rows, bytes and content hash per table."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {"seed": seed, "tables": {}}
    for name in sorted(rows):
        # one independent stream per table, so a table's rows depend only
        # on the seed, its name and its size
        ss = np.random.SeedSequence([seed, zlib.crc32(name.encode())])
        table = MAKERS[name](np.random.Generator(np.random.PCG64(ss)), rows[name])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        manifest["tables"][name] = {
            "rows": table.num_rows, "bytes": os.path.getsize(path),
            "hash": table_hash(table)}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest
