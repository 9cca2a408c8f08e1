"""Measured scale curve for the PERSISTED IVF index: a fixed 64-query
probe batch and a fixed 1x maintenance batch against an Nx corpus.

The production framing (mirrors fixed_batch_neardup in
SCALE_TRAINOPS.json): the index is built once per corpus state — the
ingest-time cost, untimed here — and every serving-path operation is
priced by the batch plus the probed slice, never the corpus:

- probe: ivf_index_search touches n_probe/n_cells of the index FILES
  (manifest partition pruning). Cells grow as 16·sqrt(N) — the FAISS
  heuristic — so the probed fraction shrinks as the corpus grows and
  probed bytes grow ~sqrt(N), not N.
- append: a 1x batch assigned against the frozen centroids and
  committed to a zero-copy CLONE of the index (snapshot_clone), so
  the measured table is never mutated; cost is batch x n_cells argmax
  work + one manifest commit.

Writes the `fixed_batch_ivf` key of SCALE_TRAINOPS.json in place
(every other key is kept). `--pq` runs the product-quantization ladder
(`fixed_batch_pq`) and `--ivfpq` the composed IVF-PQ ladder
(`fixed_batch_ivfpq`), described on their workers below.

Usage (a ladder flag may be followed by scales, e.g. `--pq 1 4`):
    python tools/ivf_probe_curve.py                 # scales 1 4 16 64 128
    python tools/ivf_probe_curve.py --one 16        # single scale (subprocess worker)
    python tools/ivf_probe_curve.py --pq
    python tools/ivf_probe_curve.py --one-pq 16
    python tools/ivf_probe_curve.py --ivfpq
    python tools/ivf_probe_curve.py --one-ivfpq 16
"""

from __future__ import annotations

import math
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.ladder import Ladder, dispatch, stopwatch  # noqa: E402
from tools.scale_curve import SCALE_ROOT, _spark, materialize_docs  # noqa: E402

SCALES = (1, 4, 16, 64, 128)


def n_cells_for(n: int) -> int:
    return 16 * max(1, round(math.sqrt(n)))


def run_one(n: int) -> dict:
    from pyspark.sql import functions as F

    from group5_spark.catalog import load_table
    from group5_spark.extensions.similarity import (
        ivf_index_append,
        ivf_index_init,
        ivf_index_search,
    )
    from group5_spark.medallion.snapshots import snapshot_clone

    materialize_docs(1)  # probe/append batches come from the 1x tables
    materialize_docs(n)
    sf_dir = str(SCALE_ROOT / f"xd{n:03d}")
    idx = SCALE_ROOT / f"_ivfidx_x{n:03d}"
    spark = _spark(f"ivf-curve-x{n}")
    cells = n_cells_for(n)

    build_s = None
    if not (idx / "_DONE2").exists():
        shutil.rmtree(idx, ignore_errors=True)
        emb = load_table(spark, sf_dir, "embeddings")
        with stopwatch() as build:
            ivf_index_init(emb, str(idx), n_cells=cells)
        build_s = build.s
        (idx / "_DONE2").touch()

    base = load_table(spark, str(SCALE_ROOT / "xd001"), "embeddings")
    probe_batch = base.filter(F.col("vec_id") < 64)

    # warm-up, then timed probe
    ivf_index_search(probe_batch, str(idx), k=10, n_probe=4).count()
    with stopwatch() as probe:
        rows = ivf_index_search(probe_batch, str(idx), k=10, n_probe=4).count()

    # timed maintenance append on a zero-copy clone (never mutate the
    # measured index); ids shifted out of the corpus id space
    append_batch = base.withColumn("vec_id", F.col("vec_id") + 10_000_000)
    clone = SCALE_ROOT / f"_ivfidx_clone_x{n:03d}"
    shutil.rmtree(clone, ignore_errors=True)
    snapshot_clone(str(idx), str(clone))
    with stopwatch() as append:
        ivf_index_append(append_batch, str(clone))
    shutil.rmtree(clone, ignore_errors=True)

    spark.stop()
    return {
        "scale": n,
        "n_cells": cells,
        "build_seconds_untimed_ingest": build_s,
        "probe_seconds": probe.s,
        "probe_rows": rows,
        "append_seconds": append.s,
    }


PQ_M, PQ_K, PQ_ITERS = 32, 16, 3
PQ_QUERIES = 4


def run_one_pq(n: int) -> dict:
    """The PQ ANN's three costs and
    its quality, vs corpus size. The codebooks train ONCE on the 1×
    sample (the production pattern — train on a sample, serve
    everywhere; untimed ingest), then per scale: ENCODE the Nx corpus
    to the persisted m-codes index (timed — one map-only scan, the
    per-ingest cost), QUERY a fixed batch over the persisted codes via
    the ADC LUT path (timed — m element_at lookups per row, raw
    vectors never reload), and measure quality vs the exact L2 top-10
    at that scale: id recall@10 plus the DISTANCE RATIO (mean true
    distance of PQ's top-10 / exact top-10's — 1.0 is perfect). The
    Nx corpus is the base 1x plus FRESH deterministic unit vectors
    (materialize_docs), so the exact top-10 is a real
    neighborhood at every scale and recall stays informative — the
    old replica construction saturated it at 1.0 for >=16x."""
    import math as _math

    from pyspark.sql import functions as F

    from group5_spark.catalog import load_table
    from group5_spark.extensions.clustering import (
        pq_encode,
        pq_topk,
        pq_train,
    )

    materialize_docs(1)
    materialize_docs(n)
    spark = _spark(f"pq-curve-x{n}")
    base = load_table(spark, str(SCALE_ROOT / "xd001"), "embeddings")
    corpus = load_table(
        spark, str(SCALE_ROOT / f"xd{n:03d}"), "embeddings"
    ).cache()
    n_vecs = corpus.count()

    with stopwatch() as train:
        books = pq_train(base, m=PQ_M, k=PQ_K, iters=PQ_ITERS)

    idx = SCALE_ROOT / f"_pqidx_x{n:03d}"
    shutil.rmtree(idx, ignore_errors=True)
    with stopwatch() as encode:
        pq_encode(corpus, books).select("vec_id", "pq_codes").write.parquet(
            str(idx)
        )
    codes = spark.read.parquet(str(idx))

    qrows = base.orderBy("vec_id").limit(PQ_QUERIES).collect()
    queries = [
        ([float(x) for x in r["embedding"]], r["vec_id"]) for r in qrows
    ]
    # warm-up, then the timed serving-path probes (persisted codes)
    pq_topk(codes, books, queries[0][0], k_top=10, codes_col="pq_codes").count()
    pq_top: dict[int, list[int]] = {}
    with stopwatch() as query:
        for qv, qid in queries:
            pq_top[qid] = [
                r["cand_id"]
                for r in pq_topk(
                    codes, books, qv, k_top=11, codes_col="pq_codes"
                ).collect()
                if r["cand_id"] != qid
            ][:10]

    def true_dist(qv, emb):
        return sum((a - float(b)) ** 2 for a, b in zip(qv, emb))

    recalls, ratios = [], []
    for qv, qid in queries:
        arr = "array(" + ",".join(f"{x!r}D" for x in qv) + ")"
        d = F.expr(
            "aggregate(zip_with(cast(embedding as array<double>),"
            f" {arr}, (x,y)->(x-y)*(x-y)), 0.0D, (a,z)->a+z)"
        )
        exact = [
            (r["cand_id"], r["d"])
            for r in corpus.select(
                F.col("vec_id").alias("cand_id"), d.alias("d")
            )
            .orderBy("d", "cand_id")
            .limit(11)
            .collect()
            if r["cand_id"] != qid
        ][:10]
        exact_ids = {c for c, _ in exact}
        recalls.append(len(exact_ids & set(pq_top[qid])) / 10)
        cand_emb = {
            r["vec_id"]: r["embedding"]
            for r in corpus.where(
                F.col("vec_id").isin(pq_top[qid])
            ).collect()
        }
        mean_pq = _math.fsum(
            true_dist(qv, cand_emb[c]) for c in pq_top[qid]
        ) / len(pq_top[qid])
        mean_ex = _math.fsum(dd for _, dd in exact) / len(exact)
        ratios.append(mean_pq / mean_ex if mean_ex else 1.0)
    corpus.unpersist()
    spark.stop()
    return {
        "scale": n,
        "corpus_vecs": n_vecs,
        "m": PQ_M,
        "k": PQ_K,
        "train_seconds_untimed_ingest": train.s,
        "encode_seconds": encode.s,
        "query_seconds": query.s,
        "recall_at_10": round(sum(recalls) / len(recalls), 3),
        "distance_ratio": round(sum(ratios) / len(ratios), 4),
    }


def run_one_ivfpq(n: int) -> dict:
    """The IVF-PQ composition ladder: the composed index's two
    serving-path costs and its quality, vs corpus size. Per scale:
    the Nx corpus builds the cell-partitioned coded index ONCE
    (untimed ingest; cells grow as 16·sqrt(N) like the plain-IVF
    ladder), then a fixed 4-query batch probes it (cells prune files,
    ADC prunes math, exact re-rank of the 64-row shortlist — timed)
    and a fixed 1x append batch lands on a zero-copy CLONE (frozen
    model assign+encode — timed). Quality: id recall@10 vs exact
    cosine at that scale, over the fresh-vector Nx corpus (see
    run_one_pq — informative at every scale, no replica near-ties)."""
    from pyspark.sql import functions as F

    from group5_spark.catalog import load_table
    from group5_spark.extensions.similarity import (
        cosine_topk,
        ivf_pq_index_append,
        ivf_pq_index_init,
        ivf_pq_topk,
    )
    from group5_spark.medallion.snapshots import snapshot_clone

    materialize_docs(1)
    materialize_docs(n)
    sf_dir = str(SCALE_ROOT / f"xd{n:03d}")
    idx = SCALE_ROOT / f"_ivfpqidx_x{n:03d}"
    spark = _spark(f"ivfpq-curve-x{n}")
    cells = n_cells_for(n)

    corpus = load_table(spark, sf_dir, "embeddings")
    build_s = None
    if not (idx / "_DONE2").exists():
        shutil.rmtree(idx, ignore_errors=True)
        with stopwatch() as build:
            ivf_pq_index_init(
                corpus, str(idx), n_cells=cells, m=8, k_codes=16, iters=2
            )
        build_s = build.s
        (idx / "_DONE2").touch()

    base = load_table(spark, str(SCALE_ROOT / "xd001"), "embeddings")
    qrows = base.orderBy("vec_id").limit(4).collect()
    queries = [
        ([float(x) for x in r["embedding"]], r["vec_id"]) for r in qrows
    ]
    # warm-up, then timed probes over the persisted coded index
    ivf_pq_topk(
        spark, str(idx), queries[0][0], k=10, n_probe=4, rerank=64
    ).count()
    got: dict[int, set] = {}
    with stopwatch() as probe:
        for qv, qid in queries:
            got[qid] = {
                r["cand_id"]
                for r in ivf_pq_topk(
                    spark, str(idx), qv, k=10, n_probe=4, rerank=64,
                    exclude_id=qid,
                ).collect()
            }

    # the recovery dials, measured: scale BOTH approximation knobs
    # with sqrt(N) — n_probe as a constant 1/4 of the cells (cells
    # grow 16*sqrt(N)) and the exact-re-rank shortlist as 64*sqrt(N).
    # Identical to the fixed dials at 1x, diverging as the corpus
    # grows. (Measured separately because the two losses differ:
    # cell routing misses neighbors whose cell wasn't probed; a
    # too-small shortlist drops neighbors the coarse ADC mis-ranks —
    # at isotropic 128x the shortlist is the binding constraint.)
    frac_probe = max(4, cells // 4)
    frac_rerank = 64 * max(1, round(math.sqrt(n)))
    got_frac: dict[int, set] = {}
    with stopwatch() as probe_frac:
        for qv, qid in queries:
            got_frac[qid] = {
                r["cand_id"]
                for r in ivf_pq_topk(
                    spark, str(idx), qv, k=10, n_probe=frac_probe,
                    rerank=frac_rerank, exclude_id=qid,
                ).collect()
            }

    # timed maintenance append on a zero-copy clone
    append_batch = base.withColumn("vec_id", F.col("vec_id") + 10_000_000)
    clone = SCALE_ROOT / f"_ivfpqidx_clone_x{n:03d}"
    shutil.rmtree(clone, ignore_errors=True)
    snapshot_clone(str(idx), str(clone))
    with stopwatch() as append:
        ivf_pq_index_append(append_batch, str(clone))
    shutil.rmtree(clone, ignore_errors=True)

    hits = total = hits_frac = 0
    for qv, qid in queries:
        exact = {
            r["cand_id"]
            for r in cosine_topk(
                corpus,
                corpus.where(F.col("vec_id") == qid),
                k=10,
            ).collect()
        }
        hits += len(exact & got[qid])
        hits_frac += len(exact & got_frac[qid])
        total += len(exact)
    spark.stop()
    return {
        "scale": n,
        "n_cells": cells,
        "build_seconds_untimed_ingest": build_s,
        "probe_seconds": probe.s,
        "append_seconds": append.s,
        "recall_at_10": round(hits / total, 3),
        "n_probe_frac": frac_probe,
        "rerank_frac": frac_rerank,
        "probe_seconds_frac": probe_frac.s,
        "recall_at_10_frac": round(hits_frac / total, 3),
    }


WORKERS = {"--one": run_one, "--one-pq": run_one_pq, "--one-ivfpq": run_one_ivfpq}

LADDERS = {
    "": Ladder(
        "--one",
        "fixed_batch_ivf",
        "fixed 64-query probe batch + fixed 1x append batch vs the "
        "PERSISTED cell-partitioned IVF index of an Nx corpus "
        "(index built untimed = ingest-time cost; cells grow as "
        "16*sqrt(N) so probes touch ~4/n_cells of the files; "
        "appends land on a zero-copy clone)",
        (
            ("probe_exponent", "probe_seconds"),
            ("append_exponent", "append_seconds"),
        ),
        scales=SCALES,
    ),
    "--pq": Ladder(
        "--one-pq",
        "fixed_batch_pq",
        "codebooks trained once on the 1x sample (m=32 subspaces, "
        "k=16 codewords, untimed ingest); per scale the Nx corpus "
        "is ENCODED to the persisted m-codes index (timed map-only "
        "scan) and a fixed 4-query batch probes the PERSISTED "
        "codes via the ADC LUT path (timed; raw vectors never "
        "reload); quality vs the exact L2 top-10 at that scale = "
        "id recall@10 plus the distance ratio (mean true distance "
        "of PQ's top-10 / exact's, 1.0 perfect). The Nx corpus is "
        "the round-10 fresh-vector construction (base 1x + "
        "deterministic fresh unit vectors — no replica near-ties), "
        "so both quality columns are informative at every scale: "
        "the exact top-10 is a genuine neighborhood that tightens "
        "as N grows, the hard test for 1x-trained codebooks",
        (
            ("encode_seconds_exponent", "encode_seconds"),
            ("query_seconds_exponent", "query_seconds"),
            ("recall_at_10_by_scale", "recall_at_10"),
            ("distance_ratio_by_scale", "distance_ratio"),
        ),
        scales=SCALES,
    ),
    "--ivfpq": Ladder(
        "--one-ivfpq",
        "fixed_batch_ivfpq",
        "composed IVF-PQ index of the Nx corpus (cells = "
        "16*sqrt(N), m=8 subspaces x k=16 codewords, built untimed "
        "= ingest cost); fixed 4-query batch probes the persisted "
        "index (file-pruned cells -> ADC over persisted codes -> "
        "exact cosine re-rank of the 64-row shortlist, timed) and "
        "a fixed 1x append batch lands on a zero-copy clone via "
        "the frozen model (timed). recall@10 vs exact cosine at "
        "each scale over the round-10 fresh-vector Nx corpus "
        "(base 1x + deterministic fresh unit vectors, no replica "
        "near-ties) — informative at every scale. Model trains "
        "per scale, so the fixed-budget recall column isolates "
        "the APPROXIMATION-BUDGET dials (probed fraction "
        "4/n_cells and shortlist fraction 64/corpus both shrink "
        "as the corpus grows); the _frac columns scale both with "
        "sqrt(N) — n_probe = n_cells/4, rerank = 64*sqrt(N) — "
        "the recovery recipe priced: recall holds while probe "
        "cost grows with the probed volume instead of falling "
        "with the fraction",
        (
            ("probe_seconds_exponent", "probe_seconds"),
            ("append_seconds_exponent", "append_seconds"),
            ("recall_at_10_by_scale", "recall_at_10"),
            ("probe_seconds_frac_exponent", "probe_seconds_frac"),
            ("recall_at_10_frac_by_scale", "recall_at_10_frac"),
        ),
        scales=SCALES,
    ),
}


def main() -> None:
    dispatch(__file__, WORKERS, LADDERS)


if __name__ == "__main__":
    main()
