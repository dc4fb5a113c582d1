"""Seeded input generator for the benchmark.

Every table the program reads is made here from `--seed`, so the same seed
gives the same bytes. The shapes follow the sf tables the engine was
written against: `events` (TIMESTAMP(NANOS) `ts`, sf0.1: 100,000 rows over
1,500 users), `embeddings` (64-dim float vectors), and the `lineitem` /
`orders` columns the offline evaluation reads (sf0.01 shapes).
`stream_events` is the open-loop ingest generator: it writes one parquet
file of fresh events per second on a fixed schedule.
"""
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes, and the workload shapes the JVM is given (`jvm`).
SCALES = {
    # what the benchmark measures
    "bench": dict(users=1500, events=100_000, embeddings=2000, dim=64,
                  orders=15_000, customers=1_500, parts=2_000,
                  stream_keys=15_000, rate=500,
                  jvm=dict(users=1500, base=500, copies=10, nlist=32,
                           nprobe=4, buckets=64)),
    # sf0.001 shapes, for the smoke test
    "tiny": dict(users=15, events=1000, embeddings=200, dim=64,
                 orders=1500, customers=150, parts=200,
                 stream_keys=150, rate=20,
                 jvm=dict(users=15, base=200, copies=10, nlist=16,
                          nprobe=4, buckets=8)),
}

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EPOCH_2024_NS = 1704067200 * 10**9
MONTH_NS = 30 * 86400 * 10**9
STREAM_EVENT_ID_BASE = 10**9
# The generator publishes a file every quarter second: with one file a
# second, whether a file made a trigger moved a whole second of events by a
# trigger, which spread freshness (see perfbench/NOTES.md).
FILES_PER_S = 4


def zipf_sampler(rng, n, s=1.0):
    """Bounded Zipf over ids 0..n-1: rank r has weight 1/r^s, and the rank
    to id map is a seeded permutation so hot ids are not the low ones."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w / w.sum())
    ids = rng.permutation(n)

    def draw(k):
        return ids[np.minimum(np.searchsorted(cdf, rng.random(k)), n - 1)]
    return draw


def _write(table, path):
    pq.write_table(table, path, version="2.6", use_dictionary=False)


def event_columns(rng, event_ids, user_ids, ts):
    k = len(event_ids)
    return {
        "event_id": pa.array(event_ids, pa.int64()),
        "ts": ts,
        "user_id": pa.array(user_ids, pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, k)]),
        "value": pa.array(np.round(rng.uniform(0, 200, k), 2)),
        "props": pa.array([f'{{"k": {x}}}' for x in rng.integers(0, 100, k)]),
    }


# The tables each workload reads.
TABLES = {"ingest_serve": ("events", "embeddings"), "eval": ("lineitem",)}


def generate(out_dir, seed, scale, workload):
    """Write the workload's tables for `seed`. Each table has its own random
    stream, so a table's bytes do not depend on which others are made."""
    p = SCALES[scale]
    os.makedirs(out_dir, exist_ok=True)
    want = TABLES[workload]
    if "events" in want:
        events(out_dir, np.random.default_rng([seed, 1]), p)
    if "embeddings" in want:
        embeddings(out_dir, np.random.default_rng([seed, 2]), p)
    if "lineitem" in want:
        lineitem_orders(out_dir, np.random.default_rng([seed, 3]), p)


def events(out_dir, rng, p):
    n = p["events"]
    ts = np.sort(rng.integers(0, MONTH_NS, n)) + EPOCH_2024_NS
    ev = event_columns(rng, np.arange(n), rng.integers(0, p["users"], n),
                       pa.array(ts, pa.timestamp("ns")))
    _write(pa.table(ev), os.path.join(out_dir, "events.parquet"))


def embeddings(out_dir, rng, p):
    m, d = p["embeddings"], p["dim"]
    vec = rng.standard_normal((m, d)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))


def lineitem_orders(out_dir, rng, p):
    no = p["orders"]
    day_us = 86400 * 10**6
    odate = (np.datetime64("1995-01-01", "us").astype(np.int64)
             + rng.integers(0, 2400, no) * day_us)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, p["customers"], no), pa.int64()),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
    })
    _write(orders, os.path.join(out_dir, "orders.parquet"))

    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines)
    nl = len(okey)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p["parts"], nl), pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_shipdate": pa.array(np.repeat(odate, lines)
                               + rng.integers(1, 122, nl) * day_us,
                               pa.timestamp("us")),
    })
    _write(lineitem, os.path.join(out_dir, "lineitem.parquet"))


def stream_events(out_dir, seed, scale, seconds, t0, prefix="part",
                  first_id=STREAM_EVENT_ID_BASE):
    """Open-loop ingest generator. Each second holds the scale's `rate`
    events, created evenly over it and split into `FILES_PER_S` files. File
    i holds the events created over its slice [start, end) of the second and
    is published (written under a hidden name, then renamed) at `end`,
    whether or not the consumer has kept up. Each event's `ts` is its
    creation time and its user id is Zipf-distributed over the customers.
    Returns how late each file was published, in ms."""
    p = SCALES[scale]
    per_file = p["rate"] // FILES_PER_S
    slice_us = 10**6 // FILES_PER_S
    rng = np.random.default_rng([seed, first_id])
    draw = zipf_sampler(rng, p["stream_keys"])
    os.makedirs(out_dir, exist_ok=True)
    late_ms = []
    for i in range(seconds * FILES_PER_S):
        start_us = round(t0 * 10**6) + i * slice_us
        due = (start_us + slice_us) / 1e6
        ids = first_id + i * per_file + np.arange(per_file)
        created_us = start_us + np.arange(per_file) * (slice_us // per_file)
        cols = event_columns(rng, ids, draw(per_file),
                             pa.array(created_us, pa.timestamp("us", tz="UTC")))
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(out_dir, f".{prefix}-{i:05d}.parquet")
        _write(pa.table(cols), tmp)
        os.rename(tmp, os.path.join(out_dir, f"{prefix}-{i:05d}.parquet"))
        late_ms.append((time.time() - due) * 1000.0)
    return late_ms
