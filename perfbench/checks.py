"""Output checks: each returns None when the output is right and a short
reason when it is not. A failed check counts the operation as failed.

The references are independent of Spark: DuckDB over the same input
files, or plain Python over the generated records.
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
from datetime import date

import duckdb

from perfbench import inputs

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents",
)


def load_oracle_compare(root: str):
    """``compare`` from ``tools/check_oracle.py``: the comparison rules
    of the repository's oracle gate (columns, row count, sorted values)."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def star_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


# -- landing job: medallion refresh ----------------------------------------

def _records(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh]


def expected_medallion_counts(data_dir: str) -> dict[str, dict[str, int]]:
    """Row counts every medallion step must report, from the landed
    records alone."""
    ue = _records(f"{data_dir}/landing/user_events_batch_1.json")
    txn = _records(f"{data_dir}/landing/transaction_events_batch_1.json")
    items = [i for t in txn for i in t["line_items"]]
    dim_days = (date(2026, 12, 31) - date(2024, 1, 1)).days + 1
    return {
        "etl": {"transactions": len(items), "user_events": len(ue)},
        "bronze": {"raw_user_events": len(ue), "raw_transactions": len(txn)},
        "silver": {
            "stg_user_events": len({e["event_id"] for e in ue}),
            "stg_transactions": len({t["transaction_id"] for t in txn}),
            "stg_transaction_items": len(items),
        },
        "gold": {
            "dim_customer": len({e["user_id"] for e in ue}),
            "dim_product": len({i["product_id"] for i in items}),
            "dim_date": dim_days,
            "fact_transactions": len(txn),
            "fact_transaction_items": len(items),
            "fact_user_activity": len(ue),
            "agg_daily_revenue": len({t["timestamp"][:10] for t in txn}),
        },
    }


def check_counts(step: str, got: dict, expected: dict) -> str | None:
    want = expected[step]
    if got != want:
        return f"{step} counts {got} != expected {want}"
    return None


# -- landing job: CDC upsert -----------------------------------------------

_ORDER_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
    "epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority"
)


def _cdc_final_sql(data_dir: str) -> str:
    """The base table with the change files applied last-write-wins:
    a later file wins, and each file holds a key at most once."""
    return f"""
        WITH ch AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
                   o_orderpriority, filename
            FROM read_json_auto('{data_dir}/cdc_changes/*.json', filename=true)
        ), latest AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY o_orderkey ORDER BY filename DESC) AS rn
                FROM ch) WHERE rn = 1
        )
        SELECT {_ORDER_COLS} FROM '{data_dir}/cdc_base.parquet'
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
        UNION ALL
        SELECT {_ORDER_COLS} FROM latest
    """


def _norm_order(row) -> tuple:
    key, cust, status, price, date_us, prio = row
    return (int(key), int(cust), status, round(float(price), 2), int(date_us), prio)


def check_cdc_table(data_dir: str, rows: list) -> str | None:
    """``rows``: the merged table as (key, cust, status, price,
    orderdate epoch micros, priority)."""
    want = duckdb.connect().execute(_cdc_final_sql(data_dir)).fetchall()
    got_n, want_n = len(rows), len(want)
    if got_n != want_n:
        return f"cdc table has {got_n} rows, expected {want_n}"
    got = sorted(_norm_order(r) for r in rows)
    exp = sorted(_norm_order(r) for r in want)
    if len({r[0] for r in got}) != got_n:
        return "cdc table holds a key twice"
    for g, e in zip(got, exp):
        if g != e:
            return f"cdc row {g} != expected {e}"
    return None


def check_cdc_aggregate(data_dir: str, agg: list) -> str | None:
    """``agg``: (status, rows, sum of price) per status over the hot
    key range, from the timed read of the merged table."""
    want = duckdb.connect().execute(
        f"SELECT o_orderstatus, count(*), round(sum(o_totalprice), 2) "
        f"FROM ({_cdc_final_sql(data_dir)}) "
        f"WHERE o_orderkey >= {inputs.cdc_hot_key(data_dir)} GROUP BY 1").fetchall()
    got = sorted((s, int(n), round(float(v), 2)) for s, n, v in agg)
    exp = sorted((s, int(n), round(float(v), 2)) for s, n, v in want)
    if got != exp:
        return f"cdc aggregate {got} != expected {exp}"
    return None


# -- landing job: event stream ---------------------------------------------

def _stream_files(data_dir: str) -> str:
    return f"{data_dir}/stream/user_events_batch_*.json"


def check_dedup(data_dir: str, event_ids: list[str]) -> str | None:
    """Every landed event id exactly once, except the rows that arrive
    beyond the watermark. The stream delivers some events twice and
    dedup must drop the second copy. Spark drops a row as late when its
    event time is at or before the watermark of the trigger before: the
    latest event time of the files up to two triggers back, minus the
    delay."""
    want = {r[0] for r in duckdb.connect().execute(f"""
        WITH ev AS (
            SELECT event_id,
                   epoch(CAST("timestamp" AS TIMESTAMPTZ)) AS t,
                   CAST(regexp_extract(filename, 'batch_(\\d+)', 1) AS INT) AS k
            FROM read_json('{_stream_files(data_dir)}', format = 'newline_delimited',
                           columns = {{event_id: 'VARCHAR', "timestamp": 'VARCHAR'}},
                           filename = true)
        ), file_max AS (
            SELECT k, max(t) AS m FROM ev GROUP BY k
        ), late_wm AS (
            SELECT a.k, max(b.m) - {inputs.STREAM_WATERMARK_S} AS wm
            FROM file_max a JOIN file_max b ON b.k <= a.k - 2 GROUP BY a.k
        )
        SELECT DISTINCT event_id FROM ev LEFT JOIN late_wm USING (k)
        WHERE wm IS NULL OR t > wm""").fetchall()}
    if len(event_ids) != len(set(event_ids)):
        return "dedup emitted an event id twice"
    if set(event_ids) != want:
        return (f"dedup emitted {len(event_ids)} ids, expected the {len(want)} "
                f"landed inside the watermark")
    return None


def landed_stream_rows(data_dir: str) -> int:
    rows = 0
    for path in glob.glob(_stream_files(data_dir)):
        with open(path, encoding="utf-8") as fh:
            rows += sum(1 for _ in fh)
    return rows
