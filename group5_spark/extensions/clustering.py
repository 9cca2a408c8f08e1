"""K-means clustering over embedding columns (SURVEY §2 B-7
"beyond-reference": topic/quality bucketing of a training corpus by
embedding geometry — IVF's sibling; reference has no equivalent).

Lloyd's algorithm, Spark-shaped:
- The *points* table only ever streams through map-side expressions:
  distance evaluation against k broadcast centroid literals is pure
  whole-stage-codegen (aggregate/zip_with HOFs — no UDF), and the
  re-centering step is one hash aggregation on (cluster, dim_pos).
- Driver state is k×dim doubles per iteration (the centroids) — the
  same bounded-collect contract as similarity.ivf_topk's centroid
  sample; nothing data-sized ever reaches the driver.
- Iterations are Spark jobs over a cached points projection; at 100 TB
  each iteration is one scan + one shuffle of k×dim partial sums.

Cross-engine determinism (the DuckDB oracle replays the algorithm
exactly):
- centroid components round to 6 decimals after init and after every
  re-centering, so both engines iterate from identical state;
- squared-L2 distances fold the 64 addends in array order (Spark
  `aggregate` and DuckDB `list_sum` are both sequential left folds
  over identical operands — bit-identical IEEE sums) and round to 6
  before the argmin;
- argmin ties break on cluster id (struct-ordering array_min here,
  ROW_NUMBER over (dist, cid) in the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["kmeans_assign", "kmeans_oracle_sql", "pq_train", "pq_encode", "pq_topk", "pq_oracle_sql"]


def _dist_sql(vec_col: str, centroid: list[float]) -> str:
    """Rounded squared-L2 distance to a literal centroid, as one SQL
    expression string (HOF lambdas composed as SQL text — the Column
    API mis-binds extra literals inside lambdas on 4.1.2, see
    dedup._shingles_sql)."""
    arr = "array(" + ", ".join(f"{c!r}D" for c in centroid) + ")"
    return (
        f"round(aggregate(zip_with({vec_col}, {arr},"
        f" (x, y) -> (x - y) * (x - y)),"
        f" 0.0D, (acc, z) -> acc + z), 6)"
    )


def _assign(pts: DataFrame, centroids: list[list[float]]) -> DataFrame:
    structs = ", ".join(
        f"struct({_dist_sql('v', c)} AS d, {cid} AS cid)"
        for cid, c in enumerate(centroids)
    )
    best = F.expr(f"array_min(array({structs}))")
    return pts.withColumn("best", best).select(
        "id",
        "v",
        F.col("best.cid").cast("bigint").alias("cluster_id"),
        F.col("best.d").alias("dist"),
    )


def kmeans_assign(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Run ``iters`` assignment passes of Lloyd's k-means (recentering
    between passes) and return ``(id, cluster_id, dist)`` for the final
    assignment.

    Deterministic init: the ``k`` lowest-id vectors, components rounded
    to 6. :func:`kmeans_oracle_sql` emits DuckDB SQL replaying the
    identical iteration, so the result is exactly oracle-checkable.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    pts = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    assigned, _ = _lloyd(pts, k, iters)
    return assigned.select("id", "cluster_id", "dist")


def _lloyd(
    pts: DataFrame, k: int, iters: int
) -> tuple[DataFrame, list[list[float]]]:
    """The shared Lloyd loop over a ``(id, v)`` projection: ``iters``
    assignment passes with recentering in between. Returns the final
    assignment AND the final centroids (PQ keeps the centroids as a
    subspace codebook; plain k-means only wants the assignment)."""
    seed_rows = pts.orderBy("id").limit(k).collect()
    centroids = [[round(x, 6) for x in r["v"]] for r in seed_rows]
    assigned = _assign(pts, centroids)
    for _ in range(iters - 1):
        means = (
            assigned.select(
                "cluster_id", F.posexplode("v").alias("pos", "x")
            )
            .groupBy("cluster_id", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        for r in means:
            by_cid.setdefault(r["cluster_id"], {})[r["pos"]] = r["m"]
        # a cluster emptied by reassignment keeps its previous centroid
        centroids = [
            [by_cid[cid][p] for p in sorted(by_cid[cid])]
            if cid in by_cid
            else centroids[cid]
            for cid in range(k)
        ]
        assigned = _assign(pts, centroids)
    return assigned, centroids


def kmeans_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
) -> str:
    """DuckDB SQL replaying :func:`kmeans_assign` step for step,
    returning per-cluster ``(cluster_id, n_members, inertia)``.

    Unrolls the iterations as chained CTEs: assignment = point ×
    centroid distances with ROW_NUMBER argmin (ties on cid),
    re-centering = per-(cid, pos) AVG rounded to 6. The empty-cluster
    carry-over branch in kmeans_assign has no CTE equivalent, so the
    oracle assumes every cluster stays populated — true for the
    checked data and asserted by the paired unit test.
    """
    d_expr = (
        f"round(list_sum([ (p.v[i] - c.cv[i]) * (p.v[i] - c.cv[i])"
        f" FOR i IN range(1, {dim + 1}) ]), 6)"
    )
    sql = f"""WITH pts AS (
      SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}
    ),
    c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid,
             [round(x, 6) FOR x IN v] AS cv
      FROM pts ORDER BY id LIMIT {k}
    )"""
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        sql += f""",
    a{it} AS (
      SELECT id, v, cid, d FROM (
        SELECT p.id, p.v, c.cid, {d_expr} AS d,
               ROW_NUMBER() OVER (
                   PARTITION BY p.id ORDER BY {d_expr}, c.cid) AS rn
        FROM pts p CROSS JOIN {prev} c
      ) WHERE rn = 1
    )"""
        if it < iters:
            sql += f""",
    c{it} AS (
      SELECT cid, list(round(m, 6) ORDER BY i) AS cv FROM (
        SELECT cid, i, AVG(v[i]) AS m
        FROM a{it} CROSS JOIN generate_series(1, {dim}) t(i)
        GROUP BY cid, i
      ) GROUP BY cid
    )"""
    sql += f"""
    SELECT cid AS cluster_id, COUNT(*) AS n_members,
           ROUND(SUM(d), 4) AS inertia
    FROM a{iters} GROUP BY cid
    """
    return sql


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-bounded ANN
# ---------------------------------------------------------------------------


def _slice_dist_sql(vec_col: str, centroid: list[float], offset: int) -> str:
    """Rounded squared-L2 distance between a SUBVECTOR (1-based
    ``offset``) and a literal codeword — :func:`_dist_sql` on a
    slice."""
    arr = "array(" + ", ".join(f"{c!r}D" for c in centroid) + ")"
    return (
        f"round(aggregate(zip_with("
        f"slice({vec_col}, {offset + 1}, {len(centroid)}), {arr},"
        f" (x, y) -> (x - y) * (x - y)),"
        f" 0.0D, (acc, z) -> acc + z), 6)"
    )


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: split the vector into
    ``m`` contiguous subspaces and run :func:`_lloyd` k-means (same
    deterministic seed/round discipline as :func:`kmeans_assign`) in
    each. Returns ``codebooks[m][k][dim/m]``.

    Scale design: the ``m`` Lloyd loops run side by side — one seed
    collect, then ONE pass per recentering that assigns every subspace
    (the :func:`pq_encode` expression over the current codebooks) and
    averages every (subspace, codeword, position) cell, instead of
    ``m`` separate passes. Driver state is k × dim doubles. The
    trained codebooks are ~m·k·(dim/m) = k·dim doubles TOTAL (a few
    KB) — they broadcast as expression literals into every downstream
    encode/search, never as a join side.
    """
    pts = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    dim = len(pts.select("v").orderBy("id").first()["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    d = dim // m
    # the k lowest-id vectors seed every subspace (rounded to 6, as
    # _lloyd seeds one subspace)
    seeds = [
        [round(x, 6) for x in r["v"]]
        for r in pts.orderBy("id").limit(k).collect()
    ]
    books = [[c[s * d:(s + 1) * d] for c in seeds] for s in range(m)]
    for _ in range(iters - 1):
        means = (
            pq_encode(pts, books, vec_col="v", out="codes")
            .select(
                "codes", F.posexplode(F.slice("v", 1, dim)).alias("pos", "x")
            )
            .select(
                F.expr(f"pos div {d}").alias("s"),
                F.expr(f"element_at(codes, int(pos div {d}) + 1)").alias("cid"),
                F.expr(f"pos % {d}").alias("p"),
                "x",
            )
            .groupBy("s", "cid", "p")
            .agg(F.round(F.avg("x"), 6).alias("m"))
            .collect()
        )
        cells: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            cells.setdefault((r["s"], r["cid"]), {})[r["p"]] = r["m"]
        # a codeword emptied by reassignment keeps its previous value
        books = [
            [
                [cells[s, cid][p] for p in sorted(cells[s, cid])]
                if (s, cid) in cells
                else books[s][cid]
                for cid in range(k)
            ]
            for s in range(m)
        ]
    return books


def _pq_code_sql(vec_col: str, book: list[list[float]], offset: int) -> str:
    """The subspace code (argmin codeword, ties to the lower id) as a
    SQL expression — same struct-array-min election as k-means
    assignment."""
    structs = ", ".join(
        f"struct({_slice_dist_sql(vec_col, cw, offset)} AS d, {cid} AS cid)"
        for cid, cw in enumerate(book)
    )
    return f"array_min(array({structs})).cid"


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out: str = "pq_codes",
) -> DataFrame:
    """Encode vectors to ``m`` small codes (``array<int>``, one argmin
    codeword id per subspace) — at k=256 that is m BYTES per vector
    where the raw float32 vector is 4·dim: the memory cut that lets an
    ANN index of a 100 TB corpus live in RAM. Map-only codegen; the
    codebooks ride as expression literals."""
    d = len(codebooks[0][0])
    v = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    codes = ", ".join(
        _pq_code_sql(v, book, s * d) for s, book in enumerate(codebooks)
    )
    return df.withColumn(out, F.expr(f"array({codes})"))


def pq_topk(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_top: int = 10,
    codes_col: str | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query's distance to every
    codeword is precomputed into an m×k lookup table (computed ON
    SPARK over literals, so the fold and rounding are engine-exact),
    and each database vector's approximate distance is the sum of m
    table lookups at its codes — no full-vector math per row. Returns
    ``(cand_id, pq_dist, rank)``.

    With ``codes_col`` the scan runs over a PERSISTED
    :func:`pq_encode` column — m ``element_at`` lookups per row, no
    raw-vector math and no re-encoding: the production serving path,
    where the queryable index is m small ints per vector (the 100 TB
    corpus's raw embeddings never load again). Without it the codes
    are recomputed inline from ``vec_col`` (ad-hoc mode, identical
    results — tested).

    Scale: the scan is map-only codegen over the (tiny) code
    expressions; top-k is ``TakeOrderedAndProject`` (per-partition
    heaps, no global sort); the rank window runs over k_top rows.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    m = len(codebooks)
    d = len(codebooks[0][0])
    # LUT on Spark: one 1-row select of m·k literal-fold expressions
    qarr = "array(" + ", ".join(f"{x!r}D" for x in query_vec) + ")"
    lut_exprs = [
        F.expr(_slice_dist_sql(qarr, cw, s * d)).alias(f"l_{s}_{c}")
        for s, book in enumerate(codebooks)
        for c, cw in enumerate(book)
    ]
    lut_row = spark.range(1).select(*lut_exprs).first()
    v = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    lookups = []
    for s, book in enumerate(codebooks):
        lut = "array(" + ", ".join(
            f"{lut_row[f'l_{s}_{c}']!r}D" for c in range(len(book))
        ) + ")"
        code = (
            f"element_at({codes_col}, {s + 1})"
            if codes_col is not None
            else _pq_code_sql(v, book, s * d)
        )
        lookups.append(f"element_at({lut}, {code} + 1)")
    dist = F.expr(f"round({' + '.join(lookups)}, 6)")
    top = (
        df.select(F.col(id_col).alias("cand_id"), dist.alias("pq_dist"))
        .orderBy("pq_dist", "cand_id")
        .limit(k_top)
    )
    w = Window.orderBy("pq_dist", "cand_id")
    return top.withColumn("rank", F.row_number().over(w))


def pq_oracle_sql(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    k_top: int = 10,
) -> str:
    """DuckDB SQL replaying :func:`pq_train` + :func:`pq_topk` step
    for step: per subspace, the same unrolled Lloyd CTE chain as
    :func:`kmeans_oracle_sql` on the slice; then the query vector's
    codeword LUT and the ADC sum, ROW_NUMBER-ranked. The query is the
    lowest-id vector (excluded from candidates). Same empty-cluster
    caveat as the k-means oracle."""
    d = dim // m
    sql = f"""WITH pts AS (
      SELECT {id_col} AS id, CAST({vec_col} AS DOUBLE[]) AS v FROM {table}
    ),
    q AS (SELECT id, v FROM pts ORDER BY id LIMIT 1)"""
    for s in range(m):
        o = s * d
        d_expr = (
            f"round(list_sum([ (p.v[{o}+i] - c.cv[i])"
            f" * (p.v[{o}+i] - c.cv[i])"
            f" FOR i IN range(1, {d + 1}) ]), 6)"
        )
        sql += f""",
    s{s}c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cid,
             [round(v[{o}+i], 6) FOR i IN range(1, {d + 1})] AS cv
      FROM pts ORDER BY id LIMIT {k}
    )"""
        for it in range(1, iters + 1):
            prev = f"s{s}c{it - 1}"
            sql += f""",
    s{s}a{it} AS (
      SELECT id, v, cid, d FROM (
        SELECT p.id, p.v, c.cid, {d_expr} AS d,
               ROW_NUMBER() OVER (
                   PARTITION BY p.id ORDER BY {d_expr}, c.cid) AS rn
        FROM pts p CROSS JOIN {prev} c
      ) WHERE rn = 1
    )"""
            if it < iters:
                sql += f""",
    s{s}c{it} AS (
      SELECT cid, list(round(mn, 6) ORDER BY i) AS cv FROM (
        SELECT cid, i, AVG(v[{o}+i]) AS mn
        FROM s{s}a{it} CROSS JOIN generate_series(1, {d}) t(i)
        GROUP BY cid, i
      ) GROUP BY cid
    )"""
        # the query's LUT against this subspace's FINAL codebook
        sql += f""",
    s{s}lut AS (
      SELECT c.cid,
             round(list_sum([ (q.v[{o}+i] - c.cv[i])
                              * (q.v[{o}+i] - c.cv[i])
               FOR i IN range(1, {d + 1}) ]), 6) AS ld
      FROM s{s}c{iters - 1} c CROSS JOIN q
    )"""
    joins = " ".join(
        f"JOIN s{s}lut l{s} ON l{s}.cid = a{s}.cid"
        for s in range(m)
    )
    froms = "s0a%d a0" % iters + "".join(
        f" JOIN s{s}a{iters} a{s} ON a{s}.id = a0.id" for s in range(1, m)
    )
    dist = " + ".join(f"l{s}.ld" for s in range(m))
    sql += f"""
    SELECT cand_id, pq_dist, rank FROM (
      SELECT a0.id AS cand_id, round({dist}, 6) AS pq_dist,
             ROW_NUMBER() OVER (
                 ORDER BY round({dist}, 6), a0.id) AS rank
      FROM {froms} {joins}
      WHERE a0.id != (SELECT id FROM q)
    ) WHERE rank <= {k_top}
    """
    return sql
