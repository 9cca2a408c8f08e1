"""Seeded benchmark inputs, generated once per (workload, seed, size).

Everything the engine reads in a run is produced here from the seed,
outside the timed region, and cached under the work directory so a
repeated (workload, seed, size) reuses the same files. The same seed
gives byte-identical files; a different seed gives different ones.

``headline_queries`` reads a TPC-H-like star schema with the layout of
the engine's parquet test tables (same tables, columns, types and value
domains). ``landing_job`` reads landed NDJSON (the paper's file
buffer), a CDC base table with seeded change files, and a user-event
stream with late and duplicated arrivals.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per size class. "full" is what the benchmark measures;
# "tiny" serves the smoke test.
STAR_SIZES = {
    # customers; suppliers, parts, orders and lineitems scale with it
    "full": {"customers": 300, "events": 2000, "documents": 200},
    "tiny": {"customers": 150, "events": 1000, "documents": 100},
}
LANDING_SIZES = {
    "full": {
        "user_events": 4000, "transactions": 800,
        # three micro-batches: the first runs in a cold JVM, and their
        # median is a warm one
        "cdc_base_rows": 15000, "cdc_files": 3, "cdc_rows_per_file": 400,
        "stream_files": 3, "stream_rows_per_file": 1400, "stream_users": 100,
    },
    "tiny": {
        "user_events": 400, "transactions": 100,
        "cdc_base_rows": 1500, "cdc_files": 2, "cdc_rows_per_file": 50,
        "stream_files": 3, "stream_rows_per_file": 150, "stream_users": 20,
    },
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_KINDS = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000

# CDC change mix: most updates hit recent keys, some scatter, and some
# rows insert past the base table's max key.
CDC_RECENT, CDC_SCATTER = 0.7, 0.2
# Event stream: a share of each file's last 20 minutes of event time
# arrives one file late, and another share of that tail is delivered
# twice; both stay inside the stream watermark. A share of each file's
# first 15 minutes arrives two files late, beyond the watermark, and
# is dropped.
FILE_SPAN = timedelta(hours=2, minutes=30)
LATE_WINDOW = timedelta(minutes=20)
EARLY_WINDOW = timedelta(minutes=15)
LATE_SHARE, DUP_SHARE, BEYOND_SHARE = 0.1, 0.05, 0.2
STREAM_WATERMARK, STREAM_WATERMARK_S = "2 hours", 7200


def _write_parquet(path: str, columns: dict) -> None:
    pq.write_table(pa.table(columns), path)


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def write_star_schema(out: str, seed: int, size: str) -> None:
    """Write the nine tables the headline queries read."""
    rng = np.random.default_rng(seed)
    n_cust = STAR_SIZES[size]["customers"]
    n_supp, n_part = n_cust // 15, n_cust * 4 // 3
    n_ord, n_line = n_cust * 10, n_cust * 40
    n_ev, n_docs = STAR_SIZES[size]["events"], STAR_SIZES[size]["documents"]
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def col(values, typ):
        return pa.array(values, type=typ)

    _write_parquet(f"{out}/region.parquet", {
        "r_regionkey": col(range(5), i32), "r_name": col(REGIONS, s)})
    _write_parquet(f"{out}/nation.parquet", {
        "n_nationkey": col(range(25), i32),
        "n_name": col([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": col([i % 5 for i in range(25)], i32)})
    _write_parquet(f"{out}/customer.parquet", {
        "c_custkey": col(np.arange(n_cust), i64),
        "c_name": col([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": col(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": col(_round2(rng.uniform(-999.99, 9999.99, n_cust)), f64),
        "c_mktsegment": col(rng.choice(SEGMENTS, n_cust), s)})
    _write_parquet(f"{out}/supplier.parquet", {
        "s_suppkey": col(np.arange(n_supp), i64),
        "s_name": col([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": col(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": col(_round2(rng.uniform(-999.99, 9999.99, n_supp)), f64)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write_parquet(f"{out}/part.parquet", {
        "p_partkey": col(np.arange(n_part), i64),
        "p_name": col(rng.choice(names, n_part), s),
        "p_brand": col([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": col(rng.choice(PART_TYPES, n_part), s),
        "p_size": col(rng.integers(1, 51, n_part), i32),
        "p_retailprice": col(
            np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), f64)})
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write_parquet(f"{out}/orders.parquet", {
        "o_orderkey": col(np.arange(n_ord), i64),
        "o_custkey": col(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": col(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": col(_round2(rng.uniform(1000, 500000, n_ord)), f64),
        "o_orderdate": col(EPOCH_1995 + order_days * DAY_US, ts),
        "o_orderpriority": col(rng.choice(PRIORITIES, n_ord), s)})
    qty = rng.integers(1, 51, n_line).astype(float)
    _write_parquet(f"{out}/lineitem.parquet", {
        "l_orderkey": col(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": col(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": col(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": col(rng.integers(1, 8, n_line), i32),
        "l_quantity": col(qty, f64),
        "l_extendedprice": col(_round2(qty * rng.uniform(900, 2100, n_line)), f64),
        "l_discount": col(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": col(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": col(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": col(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": col(
            EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US, ts)})
    # events: increasing timestamps over 30 days, 10 per user on average
    # per 66 events (the test tables' users-to-events ratio)
    ev_us = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write_parquet(f"{out}/events.parquet", {
        "event_id": col(np.arange(n_ev), i64),
        "ts": col(EPOCH_2024 + ev_us, ts),
        "user_id": col(rng.integers(0, max(n_ev // 66, 2), n_ev), i64),
        "event_type": col(rng.choice(EVENT_KINDS, n_ev), s),
        "value": col(np.maximum(_round2(rng.exponential(50, n_ev)), 0.01), f64),
        "props": col([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})
    texts = [
        " ".join(rng.choice(WORDS, int(n)))
        for n in rng.integers(10, 100, n_docs)
    ]
    # a few exact copies, so content-hash dedup has groups to collapse
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[(i + 1) % n_docs]
    _write_parquet(f"{out}/documents.parquet", {
        "doc_id": col(np.arange(n_docs), i64),
        "text": col(texts, s),
        "lang": col(rng.choice(LANGS, n_docs, p=LANG_P), s),
        "source": col([f"src{k}" for k in rng.integers(0, 20, n_docs)], s),
        "n_chars": col([len(t) for t in texts], i64)})


def _write_ndjson(path: str, records: list[dict], mtime: int) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        for rec in records:
            fh.write(json.dumps(rec, sort_keys=True) + "\n")
    # the file stream source orders new files by modification time:
    # pin it so one-file-per-trigger replays the files in name order
    os.utime(path, (mtime, mtime))


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f") + "Z"


def write_landing_inputs(out: str, seed: int, size: str) -> None:
    """Landed NDJSON for the medallion refresh, the CDC base table and
    change files, and the user-event stream files."""
    from group5_spark.generator import events as gen

    sz = LANDING_SIZES[size]
    customers = gen.make_customers(1000, seed=seed)
    products = gen.make_products(2000, seed=seed + 1)
    land = f"{out}/landing"
    os.makedirs(land)
    ue = gen.make_user_events(sz["user_events"], customers, products, seed=seed + 2)
    txn = gen.make_transactions(sz["transactions"], customers, products, seed=seed + 3)
    _write_ndjson(f"{land}/user_events_batch_1.json", ue, 1_700_000_000)
    _write_ndjson(f"{land}/transaction_events_batch_1.json", txn, 1_700_000_000)

    # CDC: the base orders table, then change files of whole rows
    rng = np.random.default_rng(seed + 4)
    n_base = sz["cdc_base_rows"]
    _write_parquet(f"{out}/cdc_base.parquet", {
        "o_orderkey": pa.array(np.arange(n_base), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 1500, n_base), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_base)),
        "o_totalprice": pa.array(_round2(rng.uniform(1000, 500000, n_base))),
        "o_orderdate": pa.array(
            EPOCH_1995 + rng.integers(0, 2404, n_base) * DAY_US, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_base))})
    cdc = f"{out}/cdc_changes"
    os.makedirs(cdc)
    next_key = n_base
    recent_lo = n_base - n_base // 10
    for f in range(sz["cdc_files"]):
        n = sz["cdc_rows_per_file"]
        n_recent, n_scatter = int(n * CDC_RECENT), int(n * CDC_SCATTER)
        recent = rng.choice(np.arange(recent_lo, n_base), n_recent, replace=False)
        scatter = np.setdiff1d(
            rng.choice(recent_lo, n_scatter * 2, replace=False), recent)[:n_scatter]
        inserts = np.arange(next_key, next_key + n - n_recent - len(scatter))
        next_key += len(inserts)
        keys = np.concatenate([recent, scatter, inserts])
        rows = [
            {
                "o_orderkey": int(k),
                "o_custkey": int(rng.integers(0, 1500)),
                "o_orderstatus": str(rng.choice(["F", "O", "P"])),
                "o_totalprice": float(_round2(rng.uniform(1000, 500000))),
                "o_orderdate": str(
                    EPOCH_1995 + int(rng.integers(0, 2404)) * DAY_US
                ).replace(".000000", ""),
                "o_orderpriority": str(rng.choice(PRIORITIES)),
            }
            for k in keys
        ]
        _write_ndjson(f"{cdc}/changes_{f:03d}.json", rows, 1_700_000_000 + f)
    with open(f"{out}/cdc_meta.json", "w") as fh:
        json.dump({"hot_key": int(recent_lo),
                   "change_rows": sz["cdc_files"] * sz["cdc_rows_per_file"]}, fh)

    _write_event_stream(f"{out}/stream", seed + 5, sz)


def _write_event_stream(out: str, seed: int, sz: dict) -> None:
    """Time-ordered user events split into files; a share of each
    file's tail arrives one file late and a share is delivered twice,
    and a share of its head arrives two files late."""
    os.makedirs(out)
    rng = random.Random(seed)
    n_files, per_file = sz["stream_files"], sz["stream_rows_per_file"]
    users = [f"u{i:04d}" for i in range(sz["stream_users"])]
    start = datetime(2026, 1, 1, tzinfo=timezone.utc)
    events = []
    step = FILE_SPAN.total_seconds() / per_file
    for i in range(n_files * per_file):
        t = start + timedelta(seconds=int(i * step + rng.random() * step))
        events.append({
            "event_id": f"e{i:07d}",
            "user_id": rng.choice(users),
            "event_type": rng.choice(["page_view", "click", "add_to_cart"]),
            "timestamp": _iso(t),
            "_t": t,
        })
    files = [events[k * per_file:(k + 1) * per_file] for k in range(n_files)]
    for k in range(n_files - 1):
        tail_start = max(e["_t"] for e in files[k]) - LATE_WINDOW
        tail = [e for e in files[k] if e["_t"] >= tail_start]
        late = [e for e in tail if rng.random() < LATE_SHARE]
        dups = [e for e in tail if e not in late and rng.random() < DUP_SHARE]
        files[k] = [e for e in files[k] if e not in late]
        files[k + 1] = late + files[k + 1] + dups
    for k in range(n_files - 2):
        head_end = min(e["_t"] for e in files[k]) + EARLY_WINDOW
        beyond = [e for e in files[k] if e["_t"] < head_end and rng.random() < BEYOND_SHARE]
        files[k] = [e for e in files[k] if e not in beyond]
        files[k + 2] = files[k + 2] + beyond
    for k, batch in enumerate(files):
        _write_ndjson(
            f"{out}/user_events_batch_{k:03d}.json",
            [{key: v for key, v in e.items() if key != "_t"} for e in batch],
            1_700_000_000 + k,
        )


def _cdc_meta(data_dir: str) -> dict:
    with open(f"{data_dir}/cdc_meta.json") as fh:
        return json.load(fh)


def cdc_hot_key(data_dir: str) -> int:
    """Lowest key of the recent range most CDC updates hit."""
    return _cdc_meta(data_dir)["hot_key"]


def cdc_change_rows(data_dir: str) -> int:
    return _cdc_meta(data_dir)["change_rows"]


WRITERS = {"headline_queries": write_star_schema, "landing_job": write_landing_inputs}


def ensure_inputs(work: str, workload: str, seed: int, size: str) -> str:
    """Return the input directory for (workload, seed, size), generating
    it first if it is not cached. Generation writes to a temporary
    directory that is renamed into place, so a cut run leaves no
    half-written cache entry."""
    final = os.path.join(work, "inputs", f"{workload}-{size}-s{seed}")
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    WRITERS[workload](tmp, seed, size)
    os.rename(tmp, final)
    return final
