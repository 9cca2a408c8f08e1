"""Scale-curve harness: measure how every bench query's wall-clock
grows as the data grows 1× → 64×, with a deliberately hot key — the
measured evidence behind SCALE.md's "survives 100×" claims.

Methodology
-----------
- **Shard-disjoint replication.** Each replica r of sf0.1 gets its
  fact keys offset (``o_orderkey/l_orderkey/event_id/doc_id/vec_id +=
  r * (max+1)``), so an N× dataset behaves like N disjoint shards of
  one larger table: joins stay N× (naive duplication would make
  lineitem⋈orders N²× — an artifact, not scale). Dimensions
  (region/nation/customer/supplier/part) stay fixed, like real
  warehouses where dims grow sub-linearly; per-customer/user history
  deepens N×.
- **Hot key at every scale.** 20% of ALL events are reassigned to one
  user (deterministic: ``event_id % 5 == 0 → user 1337``), mirroring
  the reference's weighted producers
  (``Assets/Jobs/user_events_producer.py:66-100``). Event queries must
  absorb the skew, not just uniform data.
- **Fresh JVM per scale** (the ladder runner in ``tools/ladder.py``
  spawns one subprocess per scale), one untimed warm-up pass then one
  timed pass — same steady-state methodology as bench.py.
- **Exponent** = least-squares slope of ln(seconds) vs ln(N): 1.0 is
  linear scaling, <1 sub-linear (fixed overhead amortizing), >1 a
  scale problem.

Both ladders update their keys of the record file in place and keep
every other key (``notes``, ``skew_128``, the keyed ladders of
``SCALE_TRAINOPS.json``, ...).

Usage
-----
    python tools/scale_curve.py                  # full run, writes SCALE_CURVE.json
    python tools/scale_curve.py --scales=1,4,16,64
    python tools/scale_curve.py trainops-curve   # writes SCALE_TRAINOPS.json
    python tools/scale_curve.py trainops-curve --scales=1,4
    python tools/scale_curve.py materialize 16   # build the shard dir only
    python tools/scale_curve.py run 16           # time bench queries at 16x
    python tools/scale_curve.py skew 64          # salted-vs-unsalted experiment

The per-scale commands (``materialize``, ``materialize-docs``, ``run``,
``trainops``, ``skew``) print one ``RESULT <json>`` line.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.ladder import (  # noqa: E402
    Ladder,
    dispatch,
    fit_exponent,
    run_scales,
    stopwatch,
)

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCALE_ROOT = Path(os.environ.get("SPARK_GRAFT_SCALE_ROOT", "/tmp/group5_scale"))
HOT_USER = 1337
HOT_FRACTION_MOD = 5  # event_id % 5 == 0 → 20% of events on HOT_USER
DIMS = ("region", "nation", "customer", "supplier", "part")


def _spark(app: str):
    from group5_spark.session import create_spark_session

    spark = create_spark_session(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def materialize(n: int) -> Path:
    """Build the N× shard-disjoint replica of BASE_SF (idempotent)."""
    out = SCALE_ROOT / f"x{n:03d}"
    if (out / "_DONE").exists():
        return out
    from pyspark.sql import functions as F

    from group5_spark.catalog import load_table

    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    spark = _spark(f"scale-materialize-x{n}")
    for d in DIMS:
        shutil.copy(f"{BASE_SF}/{d}.parquet", out / f"{d}.parquet")

    files = max(4, min(32, 2 * n))

    def replicate(df, key_cols: list[str], offset_base: int):
        rep = df.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
        )
        for k in key_cols:
            rep = rep.withColumn(
                k, F.col(k) + F.col("_r") * F.lit(offset_base)
            )
        return rep.drop("_r").repartition(files)

    orders = load_table(spark, BASE_SF, "orders")
    okey_base = orders.agg(F.max("o_orderkey")).first()[0] + 1
    replicate(orders, ["o_orderkey"], okey_base).write.mode(
        "overwrite"
    ).parquet(str(out / "orders.parquet"))

    li = load_table(spark, BASE_SF, "lineitem")
    replicate(li, ["l_orderkey"], okey_base).write.mode("overwrite").parquet(
        str(out / "lineitem.parquet")
    )

    ev = load_table(spark, BASE_SF, "events")
    ekey_base = ev.agg(F.max("event_id")).first()[0] + 1
    hot = replicate(ev, ["event_id"], ekey_base).withColumn(
        "user_id",
        F.when(
            F.pmod(F.col("event_id"), F.lit(HOT_FRACTION_MOD)) == 0,
            F.lit(HOT_USER),
        ).otherwise(F.col("user_id")),
    )
    hot.write.mode("overwrite").parquet(str(out / "events.parquet"))

    docs = load_table(spark, BASE_SF, "documents")
    dkey_base = docs.agg(F.max("doc_id")).first()[0] + 1
    replicate(docs, ["doc_id"], dkey_base).write.mode("overwrite").parquet(
        str(out / "documents.parquet")
    )

    emb = load_table(spark, BASE_SF, "embeddings")
    vkey_base = emb.agg(F.max("vec_id")).first()[0] + 1
    replicate(emb, ["vec_id"], vkey_base).write.mode("overwrite").parquet(
        str(out / "embeddings.parquet")
    )
    spark.stop()
    (out / "_DONE").touch()
    return out


def run_bench(n: int) -> dict:
    """Warm-up + timed pass of the bench HEADLINE set at N×."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from bench import HEADLINE

    from group5_spark.queries import QUERIES

    sf_dir = str(SCALE_ROOT / f"x{n:03d}")
    spark = _spark(f"scale-run-x{n}")
    for name in HEADLINE:
        if name in QUERIES:
            QUERIES[name](spark, sf_dir).count()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in QUERIES:
            continue
        with stopwatch() as t:
            QUERIES[name](spark, sf_dir).count()
        timings[name] = t.s
    spark.stop()
    return {"scale": n, "queries": timings, "total": round(sum(timings.values()), 3)}


def run_skew(n: int) -> dict:
    """Hot-key shapes at N×: salted operators vs their unsalted forms.

    The join comparison disables auto-broadcast (at 100 TB the user
    dim wouldn't fit) and is run three ways: plain shuffle join with
    AQE skew handling, the same with AQE skew OFF (what a stateful
    operator faces — AQE can't split keys that must meet in one
    task), and the static salted rewrite.
    """
    from pyspark.sql import functions as F

    from group5_spark.catalog import load_table
    from group5_spark.operators.skew import salted_join, salted_sum_count

    sf_dir = str(SCALE_ROOT / f"x{n:03d}")
    spark = _spark(f"scale-skew-x{n}")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    ev = load_table(spark, sf_dir, "events")
    # a per-user attribute table built from the events themselves:
    # big enough that broadcast is off the table, keyed by the hot key
    users = ev.select("user_id").distinct().withColumn(
        "tier", F.pmod(F.col("user_id"), F.lit(5))
    )

    def timed(label, df, results):
        with stopwatch() as t:
            df.count()
        results[label] = t.s

    results: dict[str, float] = {}
    # -------- aggregation: two-phase partials vs explicit salting ----
    plain_agg = ev.groupBy("user_id").agg(
        F.sum("value").alias("sum_value"), F.count(F.lit(1)).alias("n_rows")
    )
    salted_agg = salted_sum_count(ev, "user_id", ["value"])
    for label, df in [("agg_unsalted", plain_agg), ("agg_salted", salted_agg)]:
        df.count()  # warm
        timed(label, df, results)

    # -------- join: AQE skew vs no-AQE vs salted ---------------------
    join_plain = ev.join(users, "user_id").groupBy("tier").count()
    join_salted = salted_join(ev, users, "user_id").groupBy("tier").count()
    join_plain.count()
    timed("join_unsalted_aqe", join_plain, results)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    join_noaqe = ev.join(users, "user_id").groupBy("tier").count()
    join_noaqe.count()
    timed("join_unsalted_noaqe", join_noaqe, results)
    join_salted.count()
    timed("join_salted", join_salted, results)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    hot_rows = ev.filter(F.col("user_id") == HOT_USER).count()
    total = ev.count()
    spark.stop()
    return {
        "scale": n,
        "hot_user_rows": hot_rows,
        "total_rows": total,
        "hot_share": round(hot_rows / total, 4),
        "timings": results,
    }


# --------------------------------------------------------------------
# Training-data operator curve: replica-DISTINCT corpus
# --------------------------------------------------------------------
# Naive text replication makes every replica an exact duplicate of its
# source doc, so near-dup pair enumeration (MinHash/SimHash) would
# measure the output exploding quadratically in copy count — real
# behavior for a 64x-duplicated corpus, but an artifact of the ladder,
# not an engine property. materialize_docs() therefore suffixes every
# word with the replica id (shingle sets become disjoint across
# replicas: duplicate-GROUP sizes stay at their 1x values while the
# corpus grows Nx). Replica EMBEDDINGS are FRESH deterministic unit
# vectors (Box-Muller over xxhash64 uniforms, L2-normalized; replica 0
# keeps the base corpus byte-identical) — the previous 1e-3-nudge
# construction made the exact top-10 at >=16x the query's own
# near-copies, saturating ladder recall at 1.0 by construction
# (round-9 VERDICT #3); fresh vectors keep recall informative at
# every scale because the true neighborhood is a real point cloud.

TRAINOPS = [
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_incremental_neardup",
    "sim_ivf_topk",
    "contamination_check",
    "tfidf_top_terms",
    "doc_repetition_filter",
    "doc_chunk_windows",
    "corpus_shard_shuffle",
    "text_quality",
    "packed_sequence_bins",
    "kmv_users_by_event_type",
    "monthly_open_order_lines",
]


def materialize_docs(n: int) -> Path:
    """Replica-distinct documents/embeddings at N× (plus the hot-key
    events of :func:`materialize` via symlink, for the sketch query).

    Marker is ``_DONE2``: the round-10 fresh-embedding construction
    (see the block comment above TRAINOPS) must invalidate xd dirs
    built with the old 1e-3-perturbation replicas."""
    base = materialize(n)  # ensures events exist
    out = SCALE_ROOT / f"xd{n:03d}"
    if (out / "_DONE2").exists():
        return out
    from pyspark.sql import functions as F

    from group5_spark.catalog import load_table

    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    spark = _spark(f"scale-docs-x{n}")
    files = max(4, min(32, 2 * n))

    docs = load_table(spark, BASE_SF, "documents")
    dkey = docs.agg(F.max("doc_id")).first()[0] + 1
    rep = docs.withColumn(
        "_r", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
    )
    rep = (
        rep.withColumn("doc_id", F.col("doc_id") + F.col("_r") * dkey)
        # suffix every word with the replica id -> disjoint shingles
        .withColumn(
            "text",
            F.regexp_replace(
                F.col("text"), r"(\S+)",
                F.concat(F.lit("$1_"), F.col("_r").cast("string")),
            ),
        )
        .drop("_r")
        .repartition(files)
    )
    rep.write.mode("overwrite").parquet(str(out / "documents.parquet"))

    emb = load_table(spark, BASE_SF, "embeddings")
    vkey = emb.agg(F.max("vec_id")).first()[0] + 1
    erep = emb.withColumn(
        "_r", F.explode(F.sequence(F.lit(0), F.lit(n - 1)))
    ).withColumn("vec_id", F.col("vec_id") + F.col("_r") * vkey)
    # replica 0 = the base corpus byte-identical; every other replica
    # is a FRESH deterministic unit vector: per-element standard
    # normals via Box-Muller over two xxhash64-derived uniforms (keyed
    # on the replica-offset vec_id + element index, so every replica
    # of every vector draws its own), then L2-normalized to match the
    # base corpus's unit-norm distribution. All JVM-side expressions.
    M = 2147483647

    def _unif(tag):
        def f(i):
            return (
                F.pmod(
                    F.xxhash64(F.col("vec_id"), i, F.lit(tag)), F.lit(M)
                ).cast("double")
                + 1.0
            ) / float(M + 1)

        return f

    u1, u2 = _unif("bm-u1"), _unif("bm-u2")

    def gauss(i):
        return F.sqrt(F.lit(-2.0) * F.log(u1(i))) * F.cos(
            F.lit(2.0 * math.pi) * u2(i)
        )

    fresh = F.transform(F.col("embedding"), lambda x, i: gauss(i))
    norm = F.sqrt(
        F.aggregate(fresh, F.lit(0.0), lambda a, z: a + z * z)
    )
    unit = F.transform(fresh, lambda z: (z / norm).cast("float"))
    erep = (
        erep.withColumn(
            "embedding",
            F.when(F.col("_r") == 0, F.col("embedding")).otherwise(unit),
        )
        .drop("_r")
        .repartition(files)
    )
    erep.write.mode("overwrite").parquet(str(out / "embeddings.parquet"))
    spark.stop()
    (out / "events.parquet").symlink_to(base / "events.parquet")
    (out / "_DONE2").touch()
    return out


def run_trainops(n: int) -> dict:
    """Warm-up + timed pass of the TRAINOPS set at N× (distinct docs).

    MinHash/SimHash run in production hash mode (xxhash64 — one JVM
    intrinsic per shingle) rather than the registry queries'
    oracle-parity md5 mode: md5 mode spends ~95% of its time in
    digest+hex+parse, a constant factor that would swamp the scaling
    signal this curve exists to measure.
    """
    from pyspark.sql import functions as F

    from group5_spark.catalog import load_table
    from group5_spark.extensions.dedup import (
        incremental_near_dups,
        lsh_band_buckets,
        minhash_lsh_pairs,
        simhash_near_pairs,
    )
    from group5_spark.queries import QUERIES

    sf_dir = str(SCALE_ROOT / f"xd{n:03d}")
    # the interval-join query reads lineitem/orders — those live in the
    # hot-key ladder dir (xd replicates only the doc-family tables)
    fact_dir = str(SCALE_ROOT / f"x{n:03d}")
    spark = _spark(f"scale-trainops-x{n}")

    def build(name):
        if name == "dedup_minhash_lsh":
            return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"))
        if name == "dedup_simhash_pairs":
            return simhash_near_pairs(load_table(spark, sf_dir, "documents"))
        if name == "dedup_incremental_neardup":
            docs = load_table(spark, sf_dir, "documents").select(
                "doc_id", "text"
            )
            newb = docs.filter(F.col("doc_id") % 10 >= 8)
            corpus = docs.filter(F.col("doc_id") % 10 < 8)
            return incremental_near_dups(
                newb, corpus,
                corpus_index=lsh_band_buckets(corpus, shingle_n=1),
                shingle_n=1, threshold=0.9,
            )
        if name == "monthly_open_order_lines":
            return QUERIES[name](spark, fact_dir)
        return QUERIES[name](spark, sf_dir)

    for name in TRAINOPS:
        build(name).count()
    timings: dict[str, float] = {}
    for name in TRAINOPS:
        with stopwatch() as t:
            build(name).count()
        timings[name] = t.s
    spark.stop()
    return {"scale": n, "queries": timings, "total": round(sum(timings.values()), 3)}


def _summary(runs: list[dict], scales: list[int]) -> dict:
    """A query-set ladder's top-level record keys: the per-scale
    timings and each query's fitted exponent."""
    return {
        "base_sf_dir": BASE_SF,
        "scales": scales,
        "per_scale": runs,
        "exponents": {
            q: fit_exponent(
                [(r["scale"], r["queries"][q]) for r in runs if q in r["queries"]]
            )
            for q in runs[0]["queries"]
        },
    }


def _curve_summary(runs: list[dict], scales: list[int]) -> dict:
    """The bench-query ladder's record: :func:`_summary` plus the skew
    experiment, run at the largest scale."""
    skew = run_scales(__file__, "skew", scales[-1:])[0]
    return {**_summary(runs, scales), "skew": skew}


WORKERS = {
    "materialize": lambda n: str(materialize(n)),
    "materialize-docs": lambda n: str(materialize_docs(n)),
    "run": run_bench,
    "trainops": run_trainops,
    "skew": run_skew,
}

LADDERS = {
    "": Ladder(
        "run", prep="materialize", file="SCALE_CURVE.json",
        summary=_curve_summary,
    ),
    "trainops-curve": Ladder(
        "trainops", prep="materialize-docs", summary=_summary
    ),
}


def main() -> None:
    # this tool spells its scale list `--scales=1,4,16`
    args = [
        s
        for a in sys.argv[1:]
        for s in (a.split("=", 1)[1].split(",") if a.startswith("--scales") else [a])
    ]
    dispatch(__file__, WORKERS, LADDERS, args)


if __name__ == "__main__":
    main()
