"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline (a single map +
top-k reduce — no shuffle of the corpus); the scale path is
LSH-bucketed search (random-hyperplane signs) which prunes candidates
before the distance computation.

All dot products use sequential ``F.aggregate`` over doubles so results
are bit-reproducible across engines (summation order fixed).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from padua_spark.functions.scalar import _IH_M
from padua_spark.io_utils import local_frame


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product (deterministic summation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _query_norm(query: list[float]) -> float:
    """Driver-side L2 norm of a constant query vector, with the SAME
    left-associated sequential summation as :func:`dot` (and as the
    DuckDB ``list_dot_product`` loop the oracles use) — bit-identical
    to the in-plan expression it replaces, computed once instead of
    per corpus row (higher-order functions are never constant-folded).
    """
    import math

    acc = 0.0
    for x in query:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector.

    Plan: one projection computing the score + a global top-k
    (``orderBy().limit(k)`` → Spark's TakeOrderedAndProject, a per-
    partition heap + driver merge — no full sort, no shuffle). Ties are
    broken by id for determinism.
    """
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = _query_norm(query)
    v = _as_double(F.col(vec_col))
    scored = df.select(
        F.col(id_col),
        (dot(v, q) / (l2_norm(v) * F.lit(qn))).alias("cosine_sim"),
    )
    return scored.orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    ).limit(k)


def hyperplane_lsh_bucket(
    vec: Column, dim: int, n_planes: int = 16, seed: int = 11
) -> Column:
    """Random-hyperplane LSH bucket id: sign pattern of ``n_planes``
    deterministic pseudo-random hyperplanes (Irwin–Hall-free: plane
    component (p, d) = centered uniform from exact integer hashing).
    Same-bucket vectors are cosine-close with high probability."""
    v = _as_double(vec)
    bits = []
    for p in range(n_planes):
        comps = []
        for d in range(dim):
            h = (((p * dim + d + 1) * 2654435761 + 1013904223) % _IH_M)
            comps.append(F.lit(h / _IH_M - 0.5))
        plane = F.array(*comps)
        bits.append(F.when(dot(v, plane) >= 0, F.lit(1)).otherwise(F.lit(0)))
    bucket = F.lit(0)
    for b in bits:
        bucket = bucket * F.lit(2) + b
    return bucket


def lsh_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_planes: int = 8,
) -> DataFrame:
    """Approximate top-k: restrict the exact scan to the query's LSH
    bucket. At 100 TB, bucket the corpus once (write partitioned by
    bucket) and each query touches ~1/2^n_planes of the data."""
    dim = len(query)
    bucketed = df.withColumn(
        "_bucket", hyperplane_lsh_bucket(F.col(vec_col), dim, n_planes)
    )
    qdf_bucket = hyperplane_lsh_bucket(
        F.array(*[F.lit(float(x)) for x in query]), dim, n_planes
    )
    candidates = bucketed.filter(F.col("_bucket") == qdf_bucket)
    return brute_force_topk(candidates, vec_col, id_col, query, k)


def cosine_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_cols: list[str],
    threshold: float = 0.8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within blocks.

    Norms are precomputed per row in a staged projection, so the
    per-pair work is a single dot product. For unblocked 100 TB corpora
    use :func:`hyperplane_lsh_bucket` as the blocking key — same shape,
    the bucket column replaces the natural blocks.
    """
    staged = df.select(
        *block_cols,
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("_v"),
    ).withColumn("_nrm", l2_norm(F.col("_v")))
    left = staged.select(
        *block_cols, F.col(id_col).alias("id_a"),
        F.col("_v").alias("_va"), F.col("_nrm").alias("_na")
    )
    right = staged.select(
        *block_cols, F.col(id_col).alias("id_b"),
        F.col("_v").alias("_vb"), F.col("_nrm").alias("_nb")
    )
    cos = dot(F.col("_va"), F.col("_vb")) / (
        F.col("_na") * F.col("_nb")
    )
    return (
        left.join(right, on=block_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(*block_cols, "id_a", "id_b", cos.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate nearest neighbor — the scale path the
# driver north-star asks for alongside LSH. The corpus is partitioned
# into Voronoi cells around centroids; a query probes only the nprobe
# nearest cells, so the scan touches ~nprobe/n_cells of the data. At
# 100 TB: write the corpus bucketed/partitioned BY cell once, and every
# query prunes to a handful of partitions (partition pruning on the
# cell key) instead of a full scan.
# ---------------------------------------------------------------------------


def ivf_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
    n_iter: int = 0,
) -> DataFrame:
    """(cell, centroid) table. Seeding is deterministic — the vectors of
    the ``n_cells`` smallest ids (engine-portable, no RNG), then
    ``n_iter`` Lloyd refinement steps (assign → per-dimension mean via
    posexplode + hash agg — no driver-side loop over the corpus).

    ``n_iter=0`` (seeds as centroids) is bit-reproducible across
    engines and is what the oracle checks; Lloyd means involve
    engine-ordered float summation, so refined centroids are only
    reproducible within one engine.
    """
    from pyspark.sql import Window

    w = Window.orderBy(id_col)
    cents = (
        df.select(id_col, _as_double(F.col(vec_col)).alias("_c"))
        .orderBy(id_col)
        .limit(n_cells)
        .select(F.row_number().over(w).alias("cell"), "_c")
    )
    for _ in range(n_iter):
        assigned = ivf_assign(df, id_col, vec_col, cents)
        exploded = assigned.select(
            "cell", F.posexplode("_v").alias("_d", "_x")
        )
        means = exploded.groupBy("cell", "_d").agg(F.avg("_x").alias("_m"))
        refined = (
            means.groupBy("cell")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("_d", "_m"))
                ).alias("_dm")
            )
            .select(
                "cell",
                F.transform(F.col("_dm"), lambda s: s["_m"]).alias("_c"),
            )
        )
        # standard empty-cluster handling: a cell that lost every member
        # has no mean row — keep its previous centroid so the table
        # always has exactly n_cells cells with stable ids
        cents = (
            cents.select("cell", F.col("_c").alias("_prev"))
            .join(refined, on="cell", how="left")
            .select("cell", F.coalesce("_c", "_prev").alias("_c"))
        )
    return cents


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
) -> DataFrame:
    """Assign every vector to its best cell (max cosine, ties → lowest
    cell id — an explicit total order so any engine agrees).

    Plan shape matters at 100 TB: the centroid table is collapsed to a
    ONE-ROW array of (cell, centroid, norm) structs and broadcast, so
    the assignment is a single map stage — per row, an ``array_max``
    over (cos, -cell) pairs. The corpus is never shuffled, never
    row-multiplied ×n_cells, and never window-sorted (an earlier
    row_number-over-(id)-window formulation shuffled n×n_cells rows).
    """
    cents_row = centroids.select(
        F.struct(
            F.col("cell"),
            F.col("_c"),
            l2_norm(F.col("_c")).alias("_cn"),
        ).alias("_cent")
    ).agg(F.sort_array(F.collect_list("_cent")).alias("_cents"))
    staged = df.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("_v")
    ).withColumn("_nrm", l2_norm(F.col("_v")))
    v, nrm = F.col("_v"), F.col("_nrm")
    scored = staged.crossJoin(F.broadcast(cents_row))
    best = F.array_max(
        F.transform(
            F.col("_cents"),
            lambda c: F.struct(
                (dot(v, c["_c"]) / (nrm * c["_cn"])).alias("_cos"),
                (-c["cell"]).alias("_negcell"),
            ),
        )
    )
    return scored.select(
        id_col, "_v", (-best["_negcell"]).alias("cell")
    )


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    n_iter: int = 0,
) -> DataFrame:
    """Approximate top-k by cosine: probe the ``nprobe`` cells whose
    centroids are nearest the query, brute-force only within them.

    Everything is one lazy plan: centroid build (tiny), probe-cell
    selection (tiny, broadcast), cell-filtered exact scoring, then
    TakeOrderedAndProject for the global top-k. Ties break by id.
    """
    cents = ivf_centroids(df, id_col, vec_col, n_cells, n_iter)
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = _query_norm(query)
    probes = (
        cents.select(
            "cell",
            (
                dot(F.col("_c"), q) / (l2_norm(F.col("_c")) * F.lit(qn))
            ).alias("_qcos"),
        )
        .orderBy(F.col("_qcos").desc(), F.col("cell").asc())
        .limit(nprobe)
        .select("cell")
    )
    assigned = ivf_assign(df, id_col, vec_col, cents)
    candidates = assigned.join(F.broadcast(probes), on="cell")
    scored = candidates.select(
        F.col(id_col),
        F.col("cell"),
        (dot(F.col("_v"), q) / (l2_norm(F.col("_v")) * F.lit(qn))).alias(
            "cosine_sim"
        ),
    )
    return scored.orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    ).limit(k)


def knn_join(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    k: int = 10,
) -> DataFrame:
    """Exact k-nearest-neighbor JOIN: for every row of ``queries``, the
    ``k`` corpus rows with highest cosine similarity →
    ``(query_id, corpus_id, cosine_sim)``. The multi-query
    generalization of :func:`brute_force_topk` (which handles one
    constant vector).

    Plan shape at 100 TB: the query side (an eval set, a probe batch)
    is collapsed to a ONE-ROW array of (id, vector, norm) structs and
    broadcast, so scoring is a single map stage over the corpus — the
    corpus is never shuffled by anything vector-ish and never
    row-multiplied before its own partition. The per-query top-k is a
    rank-limit window that Spark 3.5+ compiles to WindowGroupLimit:
    each map task pre-prunes to its local k rows per query BEFORE the
    exchange, so the shuffle carries at most k·tasks rows per query —
    never the full Q×N score matrix. Ties break by corpus id (total
    order, any engine agrees).
    """
    from pyspark.sql import Window

    qn = l2_norm(_as_double(F.col(query_vec)))
    qrow = queries.select(
        F.struct(
            F.col(query_id).alias("qid"),
            _as_double(F.col(query_vec)).alias("qv"),
            qn.alias("qn"),
        ).alias("_q")
    ).agg(F.sort_array(F.collect_list("_q")).alias("_qs"))
    staged = corpus.select(
        F.col(corpus_id), _as_double(F.col(corpus_vec)).alias("_v")
    ).withColumn("_nrm", l2_norm(F.col("_v")))
    v, nrm = F.col("_v"), F.col("_nrm")
    scored = (
        staged.crossJoin(F.broadcast(qrow))
        .select(
            corpus_id,
            F.explode(
                F.transform(
                    F.col("_qs"),
                    lambda q: F.struct(
                        q["qid"].alias("qid"),
                        (dot(v, q["qv"]) / (nrm * q["qn"])).alias("sim"),
                    ),
                )
            ).alias("_s"),
        )
        .select(
            F.col("_s.qid").alias("query_id"),
            F.col(corpus_id),
            F.col("_s.sim").alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.lit(k))
        .drop("_rn")
    )


def mean_pool_embeddings(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str,
    out_col: str = "pooled",
) -> DataFrame:
    """Element-wise mean of vectors per group — the chunk→document (or
    doc→cluster/label centroid) pooling step of an embedding pipeline.

    Relational shape: posexplode to (group, dim, x) → hash aggregate
    with map-side partial combine → reassemble the array from the
    sorted (dim, mean) pairs. Rows multiply ×dim at the explode, but
    each task pre-aggregates its local (group, dim) sums before the
    shuffle, so the exchange carries at most groups×dim partial rows
    per task — never the exploded corpus. (Same pattern as the IVF
    Lloyd step; no per-row Python, no collect.)"""
    exploded = df.select(
        *group_cols,
        F.posexplode(_as_double(F.col(vec_col))).alias("_d", "_x"),
    )
    means = exploded.groupBy(*group_cols, "_d").agg(
        F.avg("_x").alias("_m")
    )
    return (
        means.groupBy(*group_cols)
        .agg(
            F.array_sort(F.collect_list(F.struct("_d", "_m"))).alias("_dm")
        )
        .select(
            *group_cols,
            F.transform(F.col("_dm"), lambda s: s["_m"]).alias(out_col),
        )
    )


def quantize_int8(
    df: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the 4× memory
    compression step before ANN indexing (each float32 component maps
    to round(x/scale) with scale = max|x|/127, clamped into int8 range
    by construction). Output keeps the quantized vector plus audit
    aggregates: ``n_dims``, ``scale``, ``q_l1``/``q_max`` (exact
    integer cross-checks) and ``mse`` (reconstruction error).

    One projection per stage (HOF expressions get no CSE — each
    intermediate is staged as a materialized attribute); zero
    shuffles — a pure map over the vector table."""
    reserved = {"n_dims", "scale", "q", "q_l1", "q_max", "mse", "_e",
                "_maxabs"}
    if id_col in reserved:
        raise ValueError(
            f"id_col {id_col!r} collides with a quantize output column"
        )
    e = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.select(
        F.col(id_col),
        e.alias("_e"),
        F.array_max(
            F.transform(e, lambda x: F.abs(x))
        ).alias("_maxabs"),
    )
    scale = F.col("_maxabs") / F.lit(127.0)
    qv = F.when(
        F.col("_maxabs") == 0,
        F.transform(F.col("_e"), lambda x: F.lit(0).cast("bigint")),
    ).otherwise(
        F.transform(
            F.col("_e"),
            lambda x: F.round(x / (F.col("_maxabs") / F.lit(127.0)))
            .cast("bigint"),
        )
    )
    q = staged.select(
        id_col, "_e", scale.alias("scale"), qv.alias("q")
    )
    sq_err = F.aggregate(
        F.zip_with(
            F.col("_e"),
            F.col("q"),
            lambda x, v: (x - v.cast("double") * F.col("scale"))
            * (x - v.cast("double") * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return q.select(
        id_col,
        F.size("_e").alias("n_dims"),
        "scale",
        "q",
        F.aggregate(
            F.transform(F.col("q"), lambda v: F.abs(v)),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        ).alias("q_l1"),
        F.array_max(
            F.transform(F.col("q"), lambda v: F.abs(v))
        ).alias("q_max"),
        (sq_err / F.size("_e").cast("double")).alias("mse"),
    )


def quantized_topk(
    quantized: DataFrame,
    id_col: str,
    query_id,
    k: int = 10,
) -> DataFrame:
    """Brute-force top-k cosine over int8-quantized vectors (the output
    of :func:`quantize_int8`) — the compressed-index search path: the
    per-pair inner loop is an EXACT int64 dot product (q ≤ 127, so
    127²·dims stays far inside int64), and cosine needs no scales at
    all — they cancel: cos(s_a·qa, s_b·qb) = qa·qb/(|qa||qb|). The only
    float ops are one sqrt and one division per candidate, both IEEE
    correctly-rounded — so the ranking is bit-reproducible on any
    engine, unlike float-accumulated dot products.

    Scale shape: 1-row query broadcast, map-side integer dots, global
    top-k via TakeOrderedAndProject (per-partition heap). Zero-norm
    vectors rank last (NULL cosine)."""
    q = quantized.where(F.col(id_col) == F.lit(query_id)).select(
        F.col("q").alias("_qq")
    )
    dot_i = F.aggregate(
        F.zip_with(F.col("q"), F.col("_qq"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda v: v * v),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    staged = (
        quantized.join(F.broadcast(q))
        .select(
            id_col,
            dot_i.alias("int_dot"),
            sq("q").alias("_na"),
            sq("_qq").alias("_nb"),
        )
    )
    cos = F.col("int_dot").cast("double") / (
        F.sqrt(F.col("_na").cast("double"))
        * F.sqrt(F.col("_nb").cast("double"))
    )
    return (
        staged.select(id_col, "int_dot", cos.alias("approx_cos"))
        .orderBy(F.col("approx_cos").desc_nulls_last(), F.col(id_col))
        .limit(k)
    )


# Serialize this module BY VALUE into UDF closures: executor Python
# workers don't have the repo on sys.path when the driver is launched
# from a foreign cwd (see functions/distributions.py).
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # pragma: no cover - best effort on older pyspark
    pass


def _jl_project_batch(
    vecs, out_dim: int, seed: int
):
    """numpy twin of the JL expression path — bit-identical results.

    The sign matrix is recomputed from the xorshift hash (vectorized
    int64, all values non-negative so ``%``/``>>`` agree with the SQL
    semantics), and the accumulation is an explicit per-j left fold
    (``acc += term[:, j]`` in order) — NOT ``np.dot``, whose blocked
    summation changes float addition order and would break the
    hash-level oracle match."""
    import numpy as np

    by_len: dict[int, list[int]] = {}
    for idx, v in enumerate(vecs):
        if v is None:
            continue  # NULL vector -> NULL projection, like the expr path
        by_len.setdefault(len(v), []).append(idx)
    out = [None] * len(vecs)
    for d, idxs in by_len.items():
        X = np.empty((len(idxs), d), dtype=np.float64)
        for r, idx in enumerate(idxs):
            X[r, :] = np.asarray(vecs[idx], dtype=np.float64)
        i = np.arange(1, out_dim + 1, dtype=np.int64)[:, None]
        j = np.arange(1, d + 1, dtype=np.int64)[None, :]
        h = (i * 1048576 + j + int(seed)) % 2147483648
        for _ in range(2):
            h = (((h >> 16) ^ h) * 73244475) % 2147483648
        h = (h >> 16) ^ h
        S = np.where(h % 2 == 0, 1.0, -1.0)  # (out_dim, d)
        proj = np.zeros((len(idxs), out_dim), dtype=np.float64)
        for jj in range(d):  # sequential fold, same order as F.aggregate
            proj += X[:, jj : jj + 1] * S[:, jj][None, :]
        # divide (not multiply-by-reciprocal): x/sqrt(k) and
        # x*(1/sqrt(k)) differ in the last ulp, and the oracle divides
        proj /= float(out_dim) ** 0.5
        for r, idx in enumerate(idxs):
            out[idx] = proj[r]
    return out


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int,
    seed: int = 40503,
    use_arrow: bool = True,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a
    DETERMINISTIC sign matrix: ``y_i = (1/√k) · Σ_j x_j · s(i,j)``
    where ``s(i,j) ∈ {−1,+1}`` comes from a portable integer hash of
    the (output, input) coordinate pair — no RNG, no materialized
    projection matrix, no driver state. Achlioptas (2003) shows ±1
    entries satisfy the JL lemma with the same guarantees as Gaussian
    projections, so pairwise distances/cosines are preserved within
    ~(1±ε) at k = O(ln n / ε²).

    At 100 TB this matters twice over: (a) the projection is a pure
    map stage — zero shuffles, the matrix is *recomputed from the hash*
    inside the expression rather than broadcast, so nothing scales with
    corpus size; (b) identical output on any engine/partitioning/retry,
    because the hash is plain int64 arithmetic and the accumulation is
    the module's sequential left fold.

    ``use_arrow`` (default) evaluates the projection in a vectorized
    pandas UDF (:func:`_jl_project_batch`, bit-identical arithmetic):
    Catalyst higher-order functions are INTERPRETED, so the expression
    path pays ~out_dim·dims interpreted evals per row (~3 ms/row at
    64→16) while the Arrow path runs the same math as numpy batch ops
    (~20× faster, still a pure map stage — zero shuffles either way).
    Pass ``False`` for a no-Python, pure-SQL-expressible plan.

    Output: ``(id_col, proj array<double>, in_dims)``.
    """
    reserved = {"proj", "in_dims", "_e", "_j"}
    if id_col in reserved:
        raise ValueError(
            f"id_col {id_col!r} collides with a projection output column"
        )
    if use_arrow:
        from pyspark.sql.functions import pandas_udf

        od, sd = int(out_dim), int(seed)

        @pandas_udf("array<double>")
        def _jl_udf(vecs: pd.Series) -> pd.Series:
            return pd.Series(
                _jl_project_batch(vecs.tolist(), od, sd),
                index=vecs.index,
            )

        return df.select(
            F.col(id_col),
            _jl_udf(_as_double(F.col(vec_col))).alias("proj"),
            F.size(F.col(vec_col)).alias("in_dims"),
        )
    staged = df.select(
        F.col(id_col),
        _as_double(F.col(vec_col)).alias("_e"),
    ).select(
        id_col,
        "_e",
        F.sequence(F.lit(1), F.size("_e")).alias("_j"),
    )

    def out_component(i: Column) -> Column:
        def signed(x: Column, j: Column) -> Column:
            # xorshift-multiply finalizer (Wang-style 31-bit avalanche).
            # The naive parity-of-linear-hash sign is XOR-SEPARABLE
            # (low bit of x·odd == low bit of x), which collapses the
            # matrix to rank 1 and destroys the JL guarantee — the
            # shift-xor rounds are what make s(i,j) jointly mixed.
            h = (
                i.cast("bigint") * F.lit(1048576)
                + j.cast("bigint")
                + F.lit(int(seed))
            ) % F.lit(2147483648)
            for _ in range(2):
                h = (
                    F.shiftright(h, 16).bitwiseXOR(h) * F.lit(73244475)
                ) % F.lit(2147483648)
            h = F.shiftright(h, 16).bitwiseXOR(h)
            return F.when(h % 2 == 0, x).otherwise(-x)

        return F.aggregate(
            F.zip_with(F.col("_e"), F.col("_j"), signed),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ) / F.sqrt(F.lit(float(out_dim)))

    return staged.select(
        id_col,
        F.transform(
            F.sequence(F.lit(1), F.lit(int(out_dim))), out_component
        ).alias("proj"),
        F.size("_e").alias("in_dims"),
    )


#: k·dims at/below which :func:`kmeans_quantized` embeds its centroids
#: as a per-row literal array; above it scoring joins a broadcast
#: k-row centroid frame. Tests set it to 1 to pin the join path.
KMEANS_LITERAL_CENTROIDS = 4096


def kmeans_quantized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    n_iter: int = 2,
    scale: float = 1_000_000.0,
) -> DataFrame:
    """Distributed Lloyd's k-means whose EVERY iteration is
    bit-reproducible across engines — the oracle-checkable refinement
    that :func:`ivf_centroids` documents as impossible for raw float
    means.

    The trick is the package's exact-arithmetic discipline: vectors
    are quantized once to int64 micro-units (``round(x·scale)`` —
    exact for float32 inputs), so per-(cluster, dim) centroid sums
    are ORDER-FREE integer aggregations, and each centroid dimension
    is the exact rational ``sum/n`` evaluated in one IEEE division.
    Squared distances fold sequentially over the dimension array
    (``F.aggregate`` left fold == DuckDB ``list_reduce`` left fold),
    so distances, argmin assignments (ties → lowest cluster id), and
    therefore the NEXT integer sums are bit-identical on any engine,
    by induction over iterations.

    Seeding: the vectors of the ``k`` smallest ids (deterministic, no
    RNG), cluster ids 1..k in id order. Empty clusters keep their
    previous centroid. Per iteration the cluster stats collected to
    the driver are k·dims integers (tiny — the convergence-scalar
    pattern); the corpus itself is never collected and never
    shuffled except the one stats aggregation per iteration.

    **Scoring path by k·dims** (:data:`KMEANS_LITERAL_CENTROIDS`):
    small centroid sets are embedded as a per-row literal array (zero
    shuffle, zero join). Above the threshold a k·dims literal
    expression tree becomes a plan-size/codegen hazard (thousands of
    Literal nodes per iteration at IVF-scale k), so scoring switches
    to a broadcast join against a k-row centroid frame +
    lexicographic ``min(struct(dist, cluster))`` per id. Both paths
    compute the SAME means (one driver-side IEEE division per
    dimension), the same left-fold distances, and the same tie rule
    (min dist, then min cluster id), so assignments are bit-identical
    between paths — asserted by ``tests`` at k=8 and by an oracle
    gate; the plan shape at k≥256 is pinned by a plan test.

    Output: ``(id, cluster, dist)`` — final assignment with its
    quantized-unit distance (micro-units; divide by ``scale`` for
    input units).
    """
    q = df.select(
        F.col(id_col),
        F.transform(
            _as_double(F.col(vec_col)),
            lambda x: F.round(x * F.lit(scale)).cast("long"),
        ).alias("_q"),
    )
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    q = q.persist(StorageLevel.MEMORY_AND_DISK)
    seeds = q.orderBy(id_col).limit(k).collect()
    # state: [(cluster, [int sums per dim], n_members)]
    cents = [
        (c + 1, [int(v) for v in row["_q"]], 1)
        for c, row in enumerate(seeds)
    ]

    dims = len(cents[0][1]) if cents else 0

    def _sqdist(qcol, mcol):
        return F.aggregate(
            F.zip_with(
                qcol,
                mcol,
                lambda xi, mi: (xi.cast("double") - mi)
                * (xi.cast("double") - mi),
            ),
            F.lit(0.0),
            lambda acc, e: acc + e,
        )

    def _assign_literal(state):
        # The centroid constant is k·dims double literals; built as
        # F.lit Column objects that is k·dims py4j round trips PER
        # assignment stage (k=8, dims=64, 3 stages ≈ 1,500 trips —
        # the winnowing power-table lesson, round 13 §3.10). Parse the
        # identical array(named_struct(...)) literal as ONE SQL
        # expression instead: `{v!r}D` is the exact double literal
        # (repr round-trips, and Spark parses it with the same
        # correctly-rounded semantics), `cl` is a plain int literal —
        # same values, one py4j trip. Guide §4/§7.3.
        arr = F.expr(
            "array("
            + ",".join(
                "named_struct('cl', {cl}, 'm', array({m}))".format(
                    cl=int(cl),
                    m=",".join(
                        f"{float(s) / float(n)!r}D" for s in sums
                    ),
                )
                for cl, sums, n in state
            )
            + ")"
        )
        scored = q.withColumn("_cents", arr)
        best = F.array_min(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    _sqdist(F.col("_q"), c["m"]).alias("dist"),
                    c["cl"].alias("cl"),
                ),
            )
        )
        return scored.select(
            id_col, "_q",
            best["cl"].alias("cluster"),
            F.sqrt(best["dist"]).alias("dist"),
        )

    def _assign_broadcast(state):
        # k-row centroid frame with the SAME driver-side means as the
        # literal path; broadcast NL join fans out k rows per doc,
        # then the lexicographic struct-min reproduces array_min's
        # (min dist, then min cluster id) tie rule. The per-id
        # aggregation partially combines map-side (all k rows of an
        # id share its partition), so the shuffle carries one row per
        # doc — same volume as the literal path's stats shuffle.
        spark = df.sparkSession
        rows = [
            (cl, [float(s) / float(n) for s in sums])
            for cl, sums, n in state
        ]
        cents_df = local_frame(
            spark, rows, "cl int, m array<double>"
        )
        scored = q.crossJoin(F.broadcast(cents_df)).select(
            id_col,
            "_q",
            F.struct(
                _sqdist(F.col("_q"), F.col("m")).alias("dist"),
                F.col("cl").alias("cl"),
            ).alias("_cand"),
        )
        best = (
            scored.groupBy(id_col)
            .agg(
                F.min("_cand").alias("_b"),
                F.first("_q").alias("_q"),  # identical across the k rows
            )
        )
        return best.select(
            id_col, "_q",
            F.col("_b")["cl"].alias("cluster"),
            F.sqrt(F.col("_b")["dist"]).alias("dist"),
        )

    _assign = (
        _assign_literal
        if k * max(dims, 1) <= KMEANS_LITERAL_CENTROIDS
        else _assign_broadcast
    )

    for _ in range(n_iter):
        assigned = _assign(cents)
        stats = (
            assigned.select(
                "cluster", F.posexplode("_q").alias("_d", "_x")
            )
            .groupBy("cluster", "_d")
            .agg(F.sum("_x").alias("_s"), F.count(F.lit(1)).alias("_n"))
            .collect()
        )
        by_cl: dict[int, dict] = {}
        for r in stats:
            e = by_cl.setdefault(
                r["cluster"], {"n": r["_n"], "s": {}}
            )
            e["s"][r["_d"]] = int(r["_s"])
        cents = [
            (
                cl,
                [by_cl[cl]["s"][d] for d in sorted(by_cl[cl]["s"])]
                if cl in by_cl
                else sums,
                by_cl[cl]["n"] if cl in by_cl else n,
            )
            for cl, sums, n in cents
        ]
    out = _assign(cents).select(id_col, "cluster", "dist")
    return track_cached(out, q)


def retrieval_precision_at_k(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Label-agreement precision@k — the standard intrinsic eval for
    an embedding space over a labeled corpus (and the quality gate to
    run before trusting ANN-based dedup/curation decisions): for each
    query row, the fraction of its ``k`` exact nearest neighbors (by
    cosine, self excluded via the caller's corpus/query split)
    sharing the query's label.

    Plan shape: :func:`knn_join` does the heavy lifting (broadcast
    query block, map-side WindowGroupLimit top-k — the corpus is
    never shuffled by anything vector-ish); this adds two label
    lookups (one broadcast-size join per side) and a per-query
    aggregation over k rows. Output:
    ``(query_id, label, n_same_label, precision)``.
    """
    nn = knn_join(
        corpus, id_col, vec_col, queries, id_col, vec_col, k=k
    )
    q_lab = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("label"),
    )
    c_lab = corpus.select(
        F.col(id_col).alias(id_col),
        F.col(label_col).alias("_nlabel"),
    )
    joined = nn.join(F.broadcast(q_lab), on="query_id").join(
        c_lab, on=id_col
    )
    same = F.when(F.col("_nlabel") == F.col("label"), 1).otherwise(0)
    return (
        joined.groupBy("query_id", "label")
        .agg(F.sum(same).cast("long").alias("n_same_label"))
        .withColumn(
            "precision",
            F.col("n_same_label").cast("double") / F.lit(float(k)),
        )
    )


def write_ivf_partitioned(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_cells: int = 16,
    n_iter: int = 0,
    mode: str = "overwrite",
) -> DataFrame:
    """Materialize the corpus AT REST partitioned by its IVF cell —
    the storage layout the in-memory :func:`ivf_topk` docstring
    promises for 100 TB: one parquet subdirectory per Voronoi cell,
    so a probe query's ``cell IN (...)`` predicate becomes PARTITION
    PRUNING and only nprobe/n_cells of the corpus bytes are ever
    opened (asserted via the scan's PartitionFilters + input-file
    subset in tests/test_units.py).

    Returns the (cell, centroid) table used for the assignment —
    persist it next to the data; probes need it to choose cells.

    The centroid table is MATERIALIZED once (collected — n_cells rows
    of dims doubles — and rebuilt as a literal frame) before the
    assignment join, so the write and the returned table see the SAME
    centroid values. Returning the lazy clustering plan instead would
    re-run it on every later action, and with ``n_iter > 0`` the
    float-mean Lloyd refinement is engine-order-dependent — the
    returned centroids could then disagree with the cell assignment
    actually written to disk.
    """
    cents_lazy = ivf_centroids(df, id_col, vec_col, n_cells, n_iter)
    spark = df.sparkSession
    cents = local_frame(
        spark, cents_lazy.collect(), schema=cents_lazy.schema
    )
    assigned = ivf_assign(df, id_col, vec_col, cents)
    out = assigned.join(
        df.select(F.col(id_col), F.col(vec_col)), on=id_col
    ).select(id_col, vec_col, "cell")
    out.write.mode(mode).partitionBy("cell").parquet(path)
    return cents


def ivf_topk_at_rest(
    spark,
    path: str,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Probe a :func:`write_ivf_partitioned` layout: choose the
    ``nprobe`` best cells DRIVER-side from the tiny centroid table
    (so the cell predicate is a literal IN-list the reader can prune
    partitions with — a lazy join would defeat static pruning), then
    brute-force cosine only inside those subdirectories."""
    q = F.array(*[F.lit(float(x)) for x in query])
    qn = _query_norm(query)
    probe_rows = (
        centroids.select(
            "cell",
            (
                dot(F.col("_c"), q) / (l2_norm(F.col("_c")) * F.lit(qn))
            ).alias("_qcos"),
        )
        .orderBy(F.col("_qcos").desc(), F.col("cell").asc())
        .limit(nprobe)
        .collect()
    )
    cells = [int(r["cell"]) for r in probe_rows]
    corpus = spark.read.parquet(path).where(F.col("cell").isin(cells))
    v = _as_double(F.col(vec_col))
    scored = corpus.select(
        F.col(id_col),
        F.col("cell"),
        (dot(v, q) / (l2_norm(v) * F.lit(qn))).alias("cosine_sim"),
    )
    return scored.orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    ).limit(k)


def ann_recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    id_col: str,
    k: int,
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one:
    ``|ids(approx) ∩ ids(exact)| / k`` — the acceptance metric for any
    ANN configuration (nprobe/n_cells, LSH planes) before its output
    gates curation or retrieval decisions. One inner join of two
    k-row frames + a scalar aggregate. Output 1 row:
    ``(k, n_overlap, recall)``.
    """
    inter = approx.select(F.col(id_col)).join(
        exact.select(F.col(id_col)), on=id_col, how="inner"
    )
    return inter.agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).alias("n_overlap"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.lit(float(k)), 6
        ).alias("recall"),
    )


def pq_codebooks(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m_subspaces: int = 4,
    k_codes: int = 16,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the vector is split into
    ``m_subspaces`` contiguous sub-vectors and each subspace gets a
    ``k_codes``-entry codebook. Codewords are the sub-vectors of the
    ``k_codes`` smallest ids — the package's deterministic no-RNG
    seeding rule (:func:`ivf_centroids`), so the codebooks are
    bit-reproducible on any engine and the whole PQ pipeline is
    oracle-checkable.

    Returns a driver-side nested list ``codebooks[s][c] = codeword``
    (m·k·(dims/m) floats — a bounded collect of ``k_codes`` rows, the
    convergence-scalar pattern; at 100 TB the codebooks are KB-sized
    regardless of corpus size). Dims must divide evenly by
    ``m_subspaces``.
    """
    rows = (
        df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("_v"))
        .orderBy(id_col)
        .limit(k_codes)
        .collect()
    )
    if not rows:
        raise ValueError("pq_codebooks: empty input")
    dims = len(rows[0]["_v"])
    if dims % m_subspaces != 0:
        raise ValueError(
            f"pq_codebooks: dims ({dims}) not divisible by "
            f"m_subspaces ({m_subspaces})"
        )
    sub = dims // m_subspaces
    return [
        [
            [float(x) for x in r["_v"][s * sub:(s + 1) * sub]]
            for r in rows
        ]
        for s in range(m_subspaces)
    ]


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """PQ encoding: each vector becomes ``m`` small integer codes —
    the memory-compressed at-rest representation for billion-vector
    ANN (dims·4 bytes → m bytes per vector at k ≤ 256).

    Scale shape: ZERO shuffle — the codebooks are embedded as literal
    arrays (m·k·(dims/m) = k·dims literals, the same documented bound
    as :func:`kmeans_quantized`'s literal path; use that function's
    broadcast pattern above it) and each subspace's argmin is
    per-row array algebra: left-fold squared L2 against each
    codeword, ``array_min`` over (dist, code) structs — ties break to
    the lowest code, the engine-portable rule. Output:
    ``(id, code_0 .. code_{m-1})`` int codes as plain columns
    (hash-friendly, no array compare needed).
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    v = _as_double(F.col(vec_col))
    staged = df.select(F.col(id_col), v.alias("_v"))
    out_cols = [F.col(id_col)]
    for s in range(m):
        cb = F.array(
            *[
                F.struct(
                    F.array(*[F.lit(x) for x in w]).alias("w"),
                    F.lit(c).alias("c"),
                )
                for c, w in enumerate(codebooks[s])
            ]
        )
        sl = F.slice(F.col("_v"), s * sub + 1, sub)
        best = F.array_min(
            F.transform(
                cb,
                lambda cw: F.struct(
                    F.aggregate(
                        F.zip_with(
                            sl,
                            cw["w"],
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, e: acc + e,
                    ).alias("d"),
                    cw["c"].alias("c"),
                ),
            )
        )
        out_cols.append(best["c"].alias(f"code_{s}"))
    return staged.select(*out_cols)


def pq_topk(
    encoded: DataFrame,
    id_col: str,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query is
    NOT quantized — per subspace a k-entry distance table
    ``d[s][c] = ||q_s − codeword_{s,c}||²`` is precomputed (m·k
    doubles, driver-side left-fold identical to the encode fold), and
    each document's approximate squared distance is ``Σ_s
    d[s][code_s]`` — m array lookups + an m-term sum per row, zero
    shuffle, then a TakeOrdered top-k. This is the classic
    memory-bandwidth-bound ANN scoring loop expressed relationally.

    Output: top-``k`` rows ``(id, adc_dist)`` ascending, ties by id.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if len(query) != m * sub:
        raise ValueError("pq_topk: query dims != m * subspace dims")
    dtables = []
    for s in range(m):
        qs = query[s * sub:(s + 1) * sub]
        row = []
        for w in codebooks[s]:
            acc = 0.0
            for a, b in zip(qs, w):
                acc = acc + (float(a) - float(b)) * (float(a) - float(b))
            row.append(acc)
        dtables.append(row)
    score = None
    for s in range(m):
        tbl = F.array(*[F.lit(x) for x in dtables[s]])
        term = F.element_at(tbl, F.col(f"code_{s}") + 1)
        score = term if score is None else score + term
    return (
        encoded.select(F.col(id_col), score.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_build(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 8,
    m_subspaces: int = 4,
    k_codes: int = 16,
):
    """IVF-PQ composition — the classic billion-vector ANN layout
    (coarse Voronoi cells + product-quantized RESIDUALS): the IVF
    part prunes which corpus fraction is scanned, the PQ part
    compresses what remains to ``m`` bytes-ish per vector, and
    queries pay nprobe cells × ADC lookups.

    Deterministic end to end (no RNG): cells come from
    :func:`ivf_centroids` seeds, PQ codebooks from the residuals of
    the ``k_codes`` smallest ids — both the package's smallest-ids
    rule. Returns ``(encoded, cents, codebooks)``:

    - ``encoded``: ``(id, cell, code_0..code_{m-1})`` — zero-shuffle
      after the one broadcast join attaching each row's cell centroid
      for the residual;
    - ``cents``: the materialized (cell, centroid) frame;
    - ``codebooks``: driver-side nested list (KB-sized at any scale).
    """
    spark = df.sparkSession
    cents_lazy = ivf_centroids(df, id_col, vec_col, n_cells)
    cents = local_frame(
        spark, cents_lazy.collect(), schema=cents_lazy.schema
    )
    assigned = ivf_assign(df, id_col, vec_col, cents)
    v = _as_double(F.col(vec_col))
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    # three consumers (codebook seed collect, the encode pass, and the
    # cell re-attach join) — persist the residual frame or the
    # assign+join pipeline re-runs per consumer
    with_res = (
        assigned.join(
            df.select(F.col(id_col), F.col(vec_col)), on=id_col
        )
        .join(F.broadcast(cents), on="cell")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.zip_with(v, F.col("_c"), lambda a, b: a - b).alias(
                "_res"
            ),
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    res_cb_src = with_res.select(
        F.col(id_col), F.col("_res").alias("embedding")
    )
    codebooks = pq_codebooks(
        res_cb_src, id_col, "embedding", m_subspaces, k_codes
    )
    encoded = pq_encode(res_cb_src, id_col, "embedding", codebooks)
    encoded = encoded.join(
        with_res.select(F.col(id_col), F.col("cell")), on=id_col
    )
    return track_cached(encoded, with_res), cents, codebooks


def ivfpq_topk(
    encoded: DataFrame,
    id_col: str,
    cents: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Query the :func:`ivfpq_build` layout: pick the ``nprobe``
    closest cells driver-side from the tiny centroid table (squared
    L2, the IVF-PQ convention), then for EACH probed cell run ADC
    against the residual query ``q − centroid_cell`` — a per-cell
    distance table, so the scan is a literal ``cell IN (...)``
    filter (partition-prunable at rest) plus m lookups per row.
    Output: top-``k`` ``(id, cell, adc_dist)`` ascending."""
    crows = cents.collect()

    def _sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + (float(x) - float(y)) * (float(x) - float(y))
        return acc

    ranked = sorted(
        ((_sq(query, r["_c"]), int(r["cell"]), list(r["_c"]))
         for r in crows)
    )
    probes = ranked[:nprobe]
    m = len(codebooks)
    sub = len(codebooks[0][0])
    parts = []
    for _, cell, cvec in probes:
        rq = [float(q) - float(c) for q, c in zip(query, cvec)]
        dtables = []
        for s in range(m):
            qs = rq[s * sub:(s + 1) * sub]
            dtables.append(
                [_sq(qs, w) for w in codebooks[s]]
            )
        score = None
        for s in range(m):
            tbl = F.array(*[F.lit(x) for x in dtables[s]])
            term = F.element_at(tbl, F.col(f"code_{s}") + 1)
            score = term if score is None else score + term
        parts.append(
            encoded.where(F.col("cell") == cell).select(
                F.col(id_col), F.col("cell"), score.alias("adc_dist")
            )
        )
    from functools import reduce

    un = reduce(lambda a, b: a.unionByName(b), parts)
    return un.orderBy(
        F.col("adc_dist").asc(), F.col(id_col).asc()
    ).limit(k)


def write_ivfpq_partitioned(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_cells: int = 8,
    m_subspaces: int = 4,
    k_codes: int = 16,
    mode: str = "overwrite",
):
    """Materialize the IVF-PQ index AT REST: :func:`ivfpq_build`'s
    ``(id, code_0..code_{m-1})`` rows written ``partitionBy("cell")``
    — the composition of :func:`write_ivf_partitioned`'s prunable
    layout with PQ residual compression, i.e. the billion-vector
    on-disk story (Jégou et al.'s IVFADC as parquet partitions). A
    probe opens only ``nprobe/n_cells`` of the subdirectories via
    partition pruning, and what it opens is the m-byte codes, not the
    raw vectors: at 100 TB of float32 embeddings with m=16 and
    nprobe/n_cells=1/16, the probe touches ~0.4 % of the raw bytes.

    Returns ``(cents, codebooks)`` — the materialized (cell,
    centroid) frame and the driver-side nested codebook list; persist
    both next to the data, probes need them. Deterministic end to end
    (smallest-ids seeding, no RNG), so a rebuild over the same corpus
    reproduces the written assignment exactly.
    """
    from padua_spark.io_utils import unpersist_intermediates

    encoded, cents, codebooks = ivfpq_build(
        df, id_col, vec_col, n_cells, m_subspaces, k_codes
    )
    encoded.write.mode(mode).partitionBy("cell").parquet(path)
    unpersist_intermediates(encoded)
    return cents, codebooks


def ivfpq_topk_at_rest(
    spark,
    path: str,
    cents: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str,
    query: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Probe a :func:`write_ivfpq_partitioned` layout. Delegates to
    :func:`ivfpq_topk`, whose per-probe literal ``cell == c`` filter
    becomes static PARTITION PRUNING against the ``partitionBy
    ("cell")`` parquet tree — the scan metrics show only the probed
    subdirectories' files opened (asserted in
    tests/test_units.py::test_ivfpq_at_rest_pruning_and_recall), and
    the columns read are the byte codes alone (the layout stores no
    raw vectors)."""
    encoded = spark.read.parquet(path)
    return ivfpq_topk(
        encoded, id_col, cents, codebooks, query, k=k, nprobe=nprobe
    )


def rrf_fuse(
    rankings: list[DataFrame],
    item_col: str,
    rank_col: str,
    k: float = 60.0,
    weights: list[float] | None = None,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of N retriever rankings (Cormack et al.,
    SIGIR'09) — the standard score-free way to combine lexical
    (:func:`padua_spark.extensions.text.bm25_topk`) and embedding
    (:func:`brute_force_topk` / :func:`ivf_topk`) retrieval into one
    hybrid list: ``rrf(d) = Σ_r w_r / (k + rank_r(d))`` summed over the
    rankings that contain ``d``. Using ranks, not raw scores, sidesteps
    the incomparable-score-scale problem entirely.

    Each input frame carries ``(key_cols..., item_col, rank_col)`` with
    rank 1-based. Inputs are tagged, unioned, and aggregated — the
    frame is bounded by Σ list sizes (per key), so everything after the
    retrievers is cardinality-sized: the per-key re-ranking window
    never sees corpus-scale data. ``fused_rank`` orders by
    (rrf_score desc, item) for determinism.

    Returns ``(key_cols..., item, rrf_score, n_lists, fused_rank)``.
    """
    from pyspark.sql import Window

    keys = key_cols or []
    if weights is None:
        weights = [1.0] * len(rankings)
    if len(weights) != len(rankings):
        raise ValueError("rrf_fuse: one weight per ranking required")
    tagged = None
    for df, w in zip(rankings, weights):
        part = df.select(
            *keys,
            F.col(item_col).alias("item"),
            (
                F.lit(float(w))
                / (F.lit(float(k)) + F.col(rank_col).cast("double"))
            ).alias("_contrib"),
        )
        tagged = part if tagged is None else tagged.unionByName(part)
    fused = tagged.groupBy(*keys, "item").agg(
        F.sum("_contrib").alias("rrf_score"),
        F.count(F.lit(1)).cast("bigint").alias("n_lists"),
    )
    wo = Window.partitionBy(*keys).orderBy(
        F.round("rrf_score", 9).desc(), F.col("item").asc()
    )
    return fused.withColumn(
        "fused_rank", F.row_number().over(wo).cast("bigint")
    )


def retrieval_ndcg_at_k(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Binary-relevance NDCG@k per query over a labeled corpus — the
    position-weighted companion to :func:`retrieval_precision_at_k`
    (precision ignores WHERE in the top-k the relevant hits land;
    NDCG discounts by log2 rank, which is what leaderboards report):

    ``dcg = Σ_i rel_i / log2(i + 1)``,  ``ndcg = dcg / idcg(n_rel)``

    with rel_i = 1 when the i-th neighbor shares the query's label.
    The ideal DCG for m relevant hits is a PRECOMPUTED k-element
    literal lookup (``idcg[m] = Σ_{i<=m} 1/log2(i+1)``) — no second
    ranking pass. Ranks order by (rounded cosine desc, id) so the
    discount assignment is engine-deterministic under near-tie
    float jitter.

    Plan shape: :func:`knn_join` (broadcast query block, map-side
    WindowGroupLimit) + two label joins + one per-query window over k
    rows + one aggregation. Output: ``(query_id, label, n_rel,
    ndcg)``; ``ndcg`` NULL when nothing relevant is in range.
    """
    import math

    from pyspark.sql import Window

    ln2 = math.log(2.0)
    idcg = []
    acc = 0.0
    for i in range(1, k + 1):
        acc += ln2 / math.log(i + 1.0)
        idcg.append(acc)
    nn = knn_join(
        corpus, id_col, vec_col, queries, id_col, vec_col, k=k
    )
    q_lab = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("label"),
    )
    c_lab = corpus.select(
        F.col(id_col), F.col(label_col).alias("_nlabel")
    )
    joined = nn.join(F.broadcast(q_lab), on="query_id").join(
        c_lab, on=id_col
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.round("cosine_sim", 6).desc(), F.col(id_col).asc()
    )
    ranked = joined.withColumn("_rk", F.row_number().over(wq))
    rel = F.when(F.col("_nlabel") == F.col("label"), 1).otherwise(0)
    term = F.when(
        rel == 1,
        F.lit(ln2) / F.log(F.col("_rk").cast("double") + 1.0),
    ).otherwise(F.lit(0.0))
    agg = ranked.groupBy("query_id", "label").agg(
        F.sum(rel).cast("bigint").alias("n_rel"),
        F.sum(term).alias("_dcg"),
    )
    idcg_arr = F.array(*[F.lit(v) for v in idcg])
    return agg.select(
        "query_id",
        "label",
        "n_rel",
        F.when(
            F.col("n_rel") > 0,
            F.col("_dcg")
            / F.element_at(idcg_arr, F.col("n_rel").cast("int")),
        ).alias("ndcg"),
    )


def rbo_weights(p: float, k: int) -> list:
    """Per-item RBO contribution table: an item whose WORSE rank is m
    contributes ``w(m) = (1-p) * sum_{d=m..k} p^(d-1)/d`` to truncated
    RBO@k — the whole rank-biased overlap collapses to one weighted
    count (see :func:`rbo_rankings`)."""
    w = [0.0] * (k + 2)
    acc = 0.0
    for d in range(k, 0, -1):
        acc += p ** (d - 1) / d
        w[d] = (1.0 - p) * acc
    return w[1 : k + 1]


def rbo_rankings(
    df: DataFrame,
    group_cols: list,
    rank_a_col: str,
    rank_b_col: str,
    p: float = 0.9,
    k: int = 20,
) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between two rankings
    of the same items, per group — the top-weighted ranking-agreement
    metric for "did the new scorer reorder my top-k?" (Kendall /
    Spearman weight every position equally; RBO geometrically
    discounts depth, which is how retrieval quality actually works).

    Input: one row per (group, item) with the item's 1-based rank
    under each ranking (NULL rank = not retrieved by that side).
    Truncated RBO@k:
    ``RBO = (1-p) * sum_{d=1..k} p^(d-1) * |A_d intersect B_d| / d``
    — and since an item enters every depth ``d >= max(r_a, r_b)``,
    each item's total contribution is the CLOSED weight
    ``w(max(r_a, r_b))`` from :func:`rbo_weights`. So the whole
    metric is ONE aggregation: look the weight up in a broadcast
    array literal and sum — no per-depth pass, no UDF, no collect.
    Output per group: ``(groups..., n_both_topk, rbo)``, 6dp.
    """
    if not 0 < p < 1:
        raise ValueError("rbo_rankings: p must be in (0, 1)")
    ra = F.col(rank_a_col).cast("int")
    rb = F.col(rank_b_col).cast("int")
    weights = rbo_weights(float(p), int(k))
    arr = F.array(*[F.lit(w) for w in weights])
    m = F.greatest(ra, rb)
    in_both = (
        ra.isNotNull() & rb.isNotNull()
        & (ra <= k) & (rb <= k) & (ra >= 1) & (rb >= 1)
    )
    w = F.when(in_both, F.element_at(arr, m)).otherwise(F.lit(0.0))
    agg = df.groupBy(*group_cols).agg(
        F.sum(in_both.cast("int")).cast("bigint").alias(
            "n_both_topk"
        ),
        F.sum(w).alias("_rbo"),
    )
    return agg.select(
        *group_cols, "n_both_topk",
        F.round("_rbo", 6).alias("rbo"),
    )


def _cluster_centroid_sums(
    df: DataFrame,
    vec_col: str,
    cluster_col: str,
    exact_scale: int,
) -> DataFrame:
    """Per-cluster exact integer micro-unit position sums:
    ``(cluster, n, sums: array<bigint>)`` — elements are
    ``Σ round(x_i·scale)`` in position order. One posexplode + one
    (cluster, pos) aggregation + one re-assembly; order-free because
    the sums are integers."""
    sc = int(exact_scale)
    pos = df.where(
        F.col(vec_col).isNotNull() & F.col(cluster_col).isNotNull()
    ).select(
        F.col(cluster_col).alias("_c"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * sc).cast(
                    "bigint"
                ),
            )
        ).alias("_p", "_e"),
    )
    per = pos.groupBy("_c", "_p").agg(
        F.sum("_e").alias("_s"),
        F.count(F.lit(1)).cast("bigint").alias("_n"),
    )
    return per.groupBy("_c").agg(
        F.max("_n").alias("n"),
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("_p", "_s"))
            ),
            lambda e: e["_s"],
        ).alias("sums"),
    )


def calinski_harabasz(
    df: DataFrame,
    vec_col: str,
    cluster_col: str,
    exact_scale: int = 1_000_000,
) -> DataFrame:
    """Calinski–Harabasz index (variance-ratio criterion) of a
    cluster assignment over an embedding column — the cheap global
    "are these clusters real?" score (higher = tighter, better
    separated), computable WITHOUT any per-pair or per-doc-to-centroid
    distance pass:

    ``CH = (B/(k−1)) / (W/(n−k))`` with
    ``W = Σ‖x‖² − Σ_c ‖s_c‖²/n_c`` and
    ``B = Σ_c ‖s_c‖²/n_c − ‖s‖²/n`` (the classical sum-of-squares
    identities — only SUMS are needed).

    Engine-exactness: vectors are converted to integer micro-units
    (``round(x·scale)``), so every sum of squares is an exact
    decimal(38,0)/HUGEINT aggregation; the divisions happen once in
    double. ONE posexplode pass for the cluster sums + one scan-side
    fold for ``Σ‖x‖²``. Output 1 row: ``(n, k_clusters, within_ss,
    between_ss, ch_score)`` — SS in squared micro-units scaled back
    by ``scale²`` (6dp); NULLs when k < 2 or n ≤ k.

    Beyond the reference; standard per Caliński & Harabasz 1974.
    """
    sc = int(exact_scale)
    cen = _cluster_centroid_sums(df, vec_col, cluster_col, sc)
    per_c = cen.select(
        "n",
        F.aggregate(
            "sums",
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, s: acc
            + (s.cast("decimal(38,0)") * s.cast("decimal(38,0)")),
        ).alias("_ss2"),
    )
    cagg = per_c.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum(
            F.col("_ss2").cast("double") / F.col("n").cast("double")
        ).alias("_bc"),
    ).withColumn("_one", F.lit(1))
    # global sums: Σ‖x‖² exactly, and the grand per-position sums
    micro = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * sc).cast("bigint"),
    )
    doc = df.where(
        F.col(vec_col).isNotNull() & F.col(cluster_col).isNotNull()
    ).select(micro.alias("_m"))
    tot = doc.select(
        F.aggregate(
            "_m",
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, e: acc
            + (e.cast("decimal(38,0)") * e.cast("decimal(38,0)")),
        ).alias("_sq"),
        F.col("_m").alias("_m2"),
    )
    grand = tot.select(
        "_sq", F.posexplode("_m2").alias("_p", "_e")
    ).groupBy("_p").agg(
        F.sum("_e").alias("_gs"),
        F.sum(
            F.when(F.col("_p") == 0, F.col("_sq")).otherwise(
                F.lit(0).cast("decimal(38,0)")
            )
        ).alias("_sqpart"),
    ).agg(
        F.sum(
            F.col("_gs").cast("decimal(38,0)")
            * F.col("_gs").cast("decimal(38,0)")
        ).cast("double").alias("_g2"),
        F.sum("_sqpart").cast("double").alias("_sumsq"),
    ).withColumn("_one", F.lit(1))
    j = cagg.join(F.broadcast(grand), on="_one")
    nd = F.col("n_tot").cast("double")
    kd = F.col("k").cast("double")
    within = F.col("_sumsq") - F.col("_bc")
    between = F.col("_bc") - F.col("_g2") / nd
    ch = F.when(
        (F.col("k") >= 2) & (nd > kd) & (within > 0),
        (between / (kd - 1.0)) / (within / (nd - kd)),
    )
    s2 = float(sc) * float(sc)
    out = j.select(
        F.col("n_tot").alias("n"),
        F.col("k").alias("k_clusters"),
        F.round(within / s2, 6).alias("within_ss"),
        F.round(between / s2, 6).alias("between_ss"),
        F.round(ch, 6).alias("ch_score"),
    )
    return out


def silhouette_simplified(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    exact_scale: int = 1_000_000,
    max_clusters: int = 256,
) -> DataFrame:
    """Simplified (centroid-based) silhouette of a cluster assignment
    — per-document ``s = (b − a)/max(a, b)`` with ``a`` the L2
    distance to the OWN centroid and ``b`` the nearest OTHER centroid
    (the medoid-free variant sklearn calls "simplified"; exact
    silhouette needs all pairwise distances — quadratic and off the
    table at corpus scale):

    centroids come from the exact integer micro-unit sums
    (:func:`calinski_harabasz`'s construction), are bounded by an
    enforced ``max_clusters`` guard and BROADCAST; each document
    computes its k distances in one ordered in-row fold (zip over
    positions — both engines add the same floats in the same order).
    Output per cluster: ``(cluster, n, mean_silhouette)`` plus the
    ``overall`` mean repeated per row (window over ≤k rows), 6dp;
    NULL silhouette when k < 2.

    Beyond the reference; standard per Rousseeuw 1987 (simplified
    form).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from padua_spark.io_utils import track_cached

    sc = int(exact_scale)
    cen = _cluster_centroid_sums(df, vec_col, cluster_col, sc).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    k = cen.count()
    if k > max_clusters:
        cen.unpersist()
        raise ValueError(
            f"silhouette_simplified: {k} clusters exceed "
            f"max_clusters={max_clusters} — every document computes "
            "k distances; coarsen the assignment first"
        )
    cents = cen.select(
        F.col("_c").alias("_cc"),
        F.transform(
            F.zip_with(
                "sums",
                F.array_repeat(F.col("n"), F.size("sums")),
                lambda s, nn: s.cast("double") / nn.cast("double"),
            ),
            lambda x: x,
        ).alias("_cent"),
    )
    micro = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * sc).cast("bigint"),
    )
    doc = df.where(
        F.col(vec_col).isNotNull() & F.col(cluster_col).isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        F.col(cluster_col).alias("_c"),
        micro.alias("_m"),
    )
    dist2 = F.aggregate(
        F.zip_with(
            "_m", F.col("_cent"),
            lambda e, c: (e.cast("double") - c)
            * (e.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    per = doc.join(F.broadcast(cents)).select(
        "_id", "_c", "_cc", F.sqrt(dist2).alias("_d")
    )
    ab = per.groupBy("_id", "_c").agg(
        F.min(
            F.when(F.col("_cc") == F.col("_c"), F.col("_d"))
        ).alias("_a"),
        F.min(
            F.when(F.col("_cc") != F.col("_c"), F.col("_d"))
        ).alias("_b"),
    )
    s = F.when(
        F.col("_b").isNotNull()
        & (F.greatest(F.col("_a"), F.col("_b")) > 0),
        (F.col("_b") - F.col("_a"))
        / F.greatest(F.col("_a"), F.col("_b")),
    ).when(F.col("_b").isNotNull(), F.lit(0.0))
    per_doc = ab.select("_c", F.round(s, 9).alias("_s"))
    per_cluster = per_doc.groupBy(F.col("_c").alias("cluster")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("_s").alias("_ms"),
    )
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    overall = F.sum(
        F.col("_ms") * F.col("n").cast("double")
    ).over(w) / F.sum(F.col("n")).over(w).cast("double")
    out = per_cluster.select(
        "cluster", "n",
        F.round("_ms", 6).alias("mean_silhouette"),
        F.round(overall, 6).alias("overall"),
    )
    return track_cached(out, cen)


def mmr_rerank(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    score_col: str,
    k: int = 10,
    lam: float = 0.7,
    max_candidates: int = 5000,
    exact_scale: int = 1_000_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — diversify a retrieval pool: greedily pick the candidate
    maximizing ``λ·relevance − (1−λ)·max_{s∈selected} cos(d, s)``,
    so near-duplicates of already-chosen results are pushed down
    (the standard RAG/context-packing diversifier on top of
    :func:`brute_force_topk`'s relevance-only order).

    Scale contract: MMR is inherently sequential (each pick depends
    on all previous picks) and runs on a RERANK POOL, not a corpus —
    the candidate frame is counted first and an explicit
    ``max_candidates`` guard raises above the bound (the
    stuart_maxwell bounded-collect discipline); the greedy then runs
    driver-side over int64 micro-unit vectors, so every dot product
    and norm is EXACT integer arithmetic (numpy int64; 64-dim
    micro-unit dots stay < 2⁶³) and the cosine doubles are
    bit-identical to any engine computing from the same integers.
    Ties break toward the smaller id. Output: ``(rank, id, score,
    mmr_score)`` for the first ``k`` picks, 6dp.

    Beyond the reference; standard per Carbonell & Goldstein 1998.
    """
    import numpy as np

    from pyspark import StorageLevel

    sc = int(exact_scale)
    base = df.where(
        F.col(id_col).isNotNull()
        & F.col(vec_col).isNotNull()
        & F.col(score_col).isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        F.col(score_col).cast("double").alias("_score"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * sc).cast("bigint"),
        ).alias("_m"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n = base.count()
    if n > max_candidates:
        base.unpersist()
        raise ValueError(
            f"mmr_rerank: {n} candidates exceed "
            f"max_candidates={max_candidates} — MMR is a RERANK of a "
            "bounded pool; pre-select with brute_force_topk/ivf_topk "
            "first"
        )
    rows = base.collect()
    base.unpersist()
    spark = df.sparkSession
    schema = (
        "rank int, id {}, score double, mmr_score double".format(
            df.schema[id_col].dataType.simpleString()
        )
    )
    if not rows:
        return local_frame(spark, [], schema)
    ids = [r["_id"] for r in rows]
    scores = np.array([r["_score"] for r in rows], dtype=np.float64)
    mat = np.array([r["_m"] for r in rows], dtype=np.int64)
    norms = np.sqrt((mat * mat).sum(axis=1).astype(np.float64))
    lam_f = float(lam)
    selected: list[int] = []
    # the max over selected sims can be NEGATIVE (anti-correlated
    # vectors REWARD selection) — initialize at -inf, not 0
    max_sim = np.full(len(ids), -np.inf, dtype=np.float64)
    taken = np.zeros(len(ids), dtype=bool)
    out = []
    for rank in range(1, min(int(k), len(ids)) + 1):
        if selected:
            mmr = lam_f * scores - (1.0 - lam_f) * max_sim
        else:
            mmr = lam_f * scores
        best = None
        for i in range(len(ids)):
            if taken[i]:
                continue
            key = (mmr[i], ids[i])
            if best is None or key[0] > best[0] or (
                key[0] == best[0] and key[1] < best[1]
            ):
                best = (key[0], key[1], i)
        _, _, bi = best
        taken[bi] = True
        selected.append(bi)
        out.append(
            (rank, ids[bi], float(scores[bi]), round(float(
                mmr[bi]
            ), 6))
        )
        # refresh max-sim against the newly selected vector: exact
        # int64 dots, then one double division
        dots = (mat @ mat[bi]).astype(np.float64)
        denom = norms * norms[bi]
        with np.errstate(invalid="ignore", divide="ignore"):
            sims = np.where(denom > 0, dots / denom, 0.0)
        max_sim = np.maximum(max_sim, sims)
    return local_frame(spark, out, schema)


def hard_negative_mining(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    anchors: DataFrame,
    k: int = 10,
    max_anchors: int = 10_000,
) -> DataFrame:
    """Hard-negative mining for contrastive training — for each
    ANCHOR, the ``k`` most-similar corpus items with a DIFFERENT
    label (the negatives that actually teach the model something;
    random negatives are trivially separable):

    the :func:`knn_join` plan with a label veto: the anchor set (ids
    from ``anchors``, joined to their corpus rows) is collapsed to a
    one-row (id, label, vector, norm) struct array and BROADCAST
    under an enforced ``max_anchors`` guard, so the corpus is scanned
    ONCE, never shuffled by anything vector-ish; same-label pairs and
    self-pairs are dropped before the per-anchor rank-limit window
    (WindowGroupLimit prunes to k per task before the exchange).
    Ties break by corpus id. Output: ``(anchor_id, negative_id,
    anchor_label, negative_label, cosine_sim, rank)``, sim 6dp.

    Beyond the reference; the standard contrastive-pipeline miner
    (e.g. dense-retrieval hard negatives).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    base = df.where(
        F.col(id_col).isNotNull()
        & F.col(vec_col).isNotNull()
        & F.col(label_col).isNotNull()
    ).select(
        F.col(id_col).alias("_cid"),
        F.col(label_col).alias("_clab"),
        _as_double(F.col(vec_col)).alias("_v"),
    ).withColumn("_nrm", l2_norm(F.col("_v")))
    an = anchors.select(
        F.col(id_col).alias("_aid")
    ).where(F.col("_aid").isNotNull()).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_anchors = an.count()
    if n_anchors > max_anchors:
        an.unpersist()
        raise ValueError(
            f"hard_negative_mining: {n_anchors} anchors exceed "
            f"max_anchors={max_anchors} — the anchor block is "
            "broadcast; mine in batches"
        )
    arow = (
        base.join(an, base["_cid"] == an["_aid"])
        .select(
            F.struct(
                F.col("_cid").alias("aid"),
                F.col("_clab").alias("alab"),
                F.col("_v").alias("av"),
                F.col("_nrm").alias("an"),
            ).alias("_a")
        )
        .agg(F.sort_array(F.collect_list("_a")).alias("_as"))
    )
    v, nrm = F.col("_v"), F.col("_nrm")
    scored = (
        base.crossJoin(F.broadcast(arow))
        .select(
            "_cid", "_clab",
            F.explode(
                F.transform(
                    F.col("_as"),
                    lambda a: F.struct(
                        a["aid"].alias("aid"),
                        a["alab"].alias("alab"),
                        (
                            dot(v, a["av"]) / (nrm * a["an"])
                        ).alias("sim"),
                    ),
                )
            ).alias("_s"),
        )
        .where(
            (F.col("_s.alab") != F.col("_clab"))
            & (F.col("_s.aid") != F.col("_cid"))
        )
        .select(
            F.col("_s.aid").alias("anchor_id"),
            F.col("_cid").alias("negative_id"),
            F.col("_s.alab").alias("anchor_label"),
            F.col("_clab").alias("negative_label"),
            F.col("_s.sim").alias("_sim"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("_sim").desc(), F.col("negative_id").asc()
    )
    out = (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= F.lit(int(k)))
        .select(
            "anchor_id", "negative_id", "anchor_label",
            "negative_label",
            F.round("_sim", 6).alias("cosine_sim"),
            F.col("_rn").cast("int").alias("rank"),
        )
    )
    from padua_spark.io_utils import track_cached

    return track_cached(out, an)


def dimension_truncation_recall(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query: list[float],
    k: int = 10,
    dims: tuple[int, ...] = (8, 16, 32),
) -> DataFrame:
    """Matryoshka-style truncation audit — recall@k of cosine search
    over PREFIX-truncated embeddings against the full-dimension
    ranking, per candidate dimension ("how many dims can we store/
    index before retrieval quality drops?" — the storage-vs-recall
    dial for MRL-trained embedding columns):

    for each ``d`` in ``dims``: run the exact top-k on vectors
    truncated to their first d coordinates (query truncated the same
    way, cosine renormalized over the prefix) and report the overlap
    with the full-dimension exact top-k.

    Scale shape: each dimension's pass is :func:`brute_force_topk`'s
    plan — one projection + TakeOrderedAndProject (per-partition
    heap, no shuffle, no sort); the full-dim top-k is computed once
    and persisted (k rows), each d-branch joins its k rows against
    it. Output per dim: ``(dim, k, n_overlap, recall)``, 6dp.

    Beyond the reference; standard per Kusupati et al. 2022
    (Matryoshka Representation Learning) evaluation practice.
    """
    from functools import reduce

    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    full = brute_force_topk(df, vec_col, id_col, query, k=k).select(
        F.col(id_col)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    branches = []
    for d in dims:
        d = int(d)
        if d <= 0 or d > len(query):
            raise ValueError(
                f"dimension_truncation_recall: dim {d} outside "
                f"1..{len(query)}"
            )
        trunc = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col), 1, d).alias("_tv"),
        )
        topd = brute_force_topk(
            trunc, "_tv", id_col, list(query[:d]), k=k
        ).select(F.col(id_col))
        hit = topd.join(full, on=id_col)
        branches.append(
            hit.agg(
                F.lit(d).alias("dim"),
                F.lit(int(k)).alias("k"),
                F.count(F.lit(1)).cast("bigint").alias("n_overlap"),
                F.round(
                    F.count(F.lit(1)).cast("double") / float(k), 6
                ).alias("recall"),
            )
        )
    out = reduce(lambda a, b: a.unionAll(b), branches)
    return track_cached(out, full)


def embedding_mmd(
    df: DataFrame,
    vec_col: str,
    group_col: str,
    group_a,
    group_b,
    id_col: str | None = None,
    n_perms: int = 99,
) -> DataFrame:
    """Linear-kernel Maximum Mean Discrepancy between two embedding
    sub-corpora — the two-sample test for VECTOR columns ("did the
    embedding distribution shift between snapshots/sources?"), where
    :func:`~padua_spark.extensions.quality.psi_drift` sees only one
    projected coordinate at a time:

    ``MMD² = ‖μ_a − μ_b‖²`` over the raw embedding coordinates (the
    linear-kernel V-statistic — mean embeddings ARE the kernel mean
    maps, so no pairwise kernel matrix exists anywhere). Significance
    by ``n_perms`` deterministic Lehmer-hash label re-randomizations
    preserving the a-fraction in expectation (the documented
    :func:`~padua_spark.operators.stats.randomization_test_mean`
    binomial trade): ``p = (1 + #{MMD²_b ≥ MMD²})/(1 + B)``.

    Scale shape: ONE posexplode to (row, dim, value) — a map-stage
    fan-out, no shuffle of vectors — then per-dim conditional sums
    (dims × 2 bounded cells), the observed statistic off that bounded
    frame; the permutation pass replays the same aggregation on the
    (row × B) exploded frame grouped by (perm, dim). Output 1 row:
    ``(n_a, n_b, dim, mmd2, p_value, n_perms)``, mmd2 9dp.

    Beyond the reference; standard per Gretton et al. 2012 (linear
    kernel base case).
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached
    from padua_spark.operators.stats import _LEHMER_A, _LEHMER_M

    g = F.col(group_col)
    idc = (
        F.col(id_col)
        if id_col is not None
        else F.monotonically_increasing_id()
    )
    base = df.where(
        g.isin([group_a, group_b]) & F.col(vec_col).isNotNull()
    ).select(
        idc.cast("long").alias("_id"),
        (g == group_a).cast("int").alias("_a"),
        F.col(vec_col).alias("_v"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ex = base.select(
        "_id", "_a", F.posexplode("_v").alias("_d", "_x")
    )
    per = ex.groupBy("_d").agg(
        F.sum(F.when(F.col("_a") == 1, F.col("_x")).otherwise(0.0))
        .alias("_sa"),
        F.sum(F.when(F.col("_a") == 0, F.col("_x")).otherwise(0.0))
        .alias("_sb"),
        F.sum("_a").cast("bigint").alias("_na"),
        F.sum(1 - F.col("_a")).cast("bigint").alias("_nb"),
    )
    obs = per.agg(
        F.max("_na").alias("_na"),
        F.max("_nb").alias("_nb"),
        F.count(F.lit(1)).cast("bigint").alias("_dim"),
        F.sum(
            F.pow(
                F.col("_sa") / F.col("_na").cast("double")
                - F.col("_sb") / F.col("_nb").cast("double"),
                2,
            )
        ).alias("_mmd2"),
    )
    B = int(n_perms)
    st = base.select(
        "_id", "_v",
        F.explode(F.sequence(F.lit(1), F.lit(B))).alias("_b"),
    )
    h0 = (
        (F.col("_id") % F.lit(_LEHMER_M))
        + F.col("_b").cast("long") * F.lit(1_000_003)
    ) % F.lit(_LEHMER_M)
    h1 = (h0 * h0) % F.lit(_LEHMER_M)
    h2 = (h1 * F.lit(_LEHMER_A) + h0) % F.lit(_LEHMER_M)
    h3 = (h2 * h2) % F.lit(_LEHMER_M)
    bit = (h3 < F.lit(_LEHMER_M // 2)).cast("int")
    pex = st.select(
        "_b", bit.alias("_pa"),
        F.posexplode("_v").alias("_d", "_x"),
    )
    pper = pex.groupBy("_b", "_d").agg(
        F.sum(F.when(F.col("_pa") == 1, F.col("_x")).otherwise(0.0))
        .alias("_sa"),
        F.sum(F.when(F.col("_pa") == 0, F.col("_x")).otherwise(0.0))
        .alias("_sb"),
        F.sum("_pa").cast("bigint").alias("_na"),
        F.sum(1 - F.col("_pa")).cast("bigint").alias("_nb"),
    )
    pmmd = pper.where(
        (F.col("_na") > 0) & (F.col("_nb") > 0)
    ).groupBy("_b").agg(
        F.sum(
            F.pow(
                F.col("_sa") / F.col("_na").cast("double")
                - F.col("_sb") / F.col("_nb").cast("double"),
                2,
            )
        ).alias("_m2b")
    )
    joined = pmmd.crossJoin(F.broadcast(obs))
    fin = joined.agg(
        F.max("_na").alias("_na"),
        F.max("_nb").alias("_nb"),
        F.max("_dim").alias("_dim"),
        F.max("_mmd2").alias("_mmd2"),
        F.sum(
            (F.col("_m2b") >= F.col("_mmd2")).cast("int")
        ).cast("bigint").alias("_ext"),
    )
    out = fin.select(
        F.col("_na").cast("bigint").alias("n_a"),
        F.col("_nb").cast("bigint").alias("n_b"),
        F.col("_dim").alias("dim"),
        F.round("_mmd2", 9).alias("mmd2"),
        F.round(
            (F.col("_ext") + 1).cast("double") / float(B + 1), 6
        ).alias("p_value"),
        F.lit(B).alias("n_perms"),
    )
    return track_cached(out, base)


def retrieval_mrr_at_k(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Binary-relevance reciprocal rank @k per query — the
    "how deep must a user scroll?" companion to
    :func:`retrieval_ndcg_at_k` (NDCG rewards ALL relevant hits;
    RR only the FIRST, which is what navigational search and
    RAG-context selection care about). MRR is the mean of this
    column.

    ``rr = 1/rank`` of the first neighbor sharing the query's label
    within the top-k (rank by rounded cosine desc, id — the ndcg
    determinism rule); NULL when no relevant neighbor is in range.

    Plan shape: :func:`knn_join` (broadcast query block, map-side
    WindowGroupLimit) + two label joins + one per-query MIN over k
    rows — no second ranking pass. Output: ``(query_id, label,
    first_rel_rank, reciprocal_rank)``, rr 6dp.
    """
    from pyspark.sql import Window

    nn = knn_join(
        corpus, id_col, vec_col, queries, id_col, vec_col, k=k
    )
    q_lab = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("label"),
    )
    c_lab = corpus.select(
        F.col(id_col), F.col(label_col).alias("_nlabel")
    )
    joined = nn.join(F.broadcast(q_lab), on="query_id").join(
        c_lab, on=id_col
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.round("cosine_sim", 6).desc(), F.col(id_col).asc()
    )
    ranked = joined.withColumn("_rk", F.row_number().over(wq))
    agg = ranked.groupBy("query_id", "label").agg(
        F.min(
            F.when(F.col("_nlabel") == F.col("label"), F.col("_rk"))
        ).cast("bigint").alias("first_rel_rank")
    )
    return agg.select(
        "query_id", "label", "first_rel_rank",
        F.round(
            F.when(
                F.col("first_rel_rank").isNotNull(),
                1.0 / F.col("first_rel_rank").cast("double"),
            ),
            6,
        ).alias("reciprocal_rank"),
    )


def davies_bouldin(
    df: DataFrame,
    vec_col: str,
    cluster_col: str,
    exact_scale: int = 1_000_000,
) -> DataFrame:
    """Davies–Bouldin index of a cluster assignment — the
    worst-neighbor validity score beside :func:`calinski_harabasz`
    (CH is a global variance ratio; DB asks each cluster "how
    confusable are you with your MOST confusable neighbor?", so one
    bad merge shows up even when the global ratio looks fine). Lower
    is better.

    ``DB = (1/k)·Σ_i max_{j≠i} (S_i + S_j)/M_ij`` with the q=2
    dispersions ``S_i = √(W_i/n_i)`` (root-mean-squared distance to
    the centroid — pure sums: ``W_i = Σ‖x‖² − ‖s_i‖²/n_i``) and
    centroid distances ``M_ij = ‖μ_i − μ_j‖`` (pinned; the original
    Davies & Bouldin 1979 with p=q=2).

    Engine-exactness: the :func:`calinski_harabasz` micro-unit
    contract — integer position sums and squared norms in
    decimal(38,0), divisions once in double. Plan: ONE posexplode
    pass to (cluster, n, sums) + one per-cluster squared-norm fold,
    then all pair arithmetic on the K-ROW cluster frame (a broadcast
    self-join over k² pairs — k is the cluster count, never data).
    Output 1 row: ``(n, k_clusters, db_index)``, 6dp; NULL when
    k < 2 or any dispersion/distance degenerates.
    """
    sc = int(exact_scale)
    cen = _cluster_centroid_sums(df, vec_col, cluster_col, sc)
    micro = F.transform(
        F.col(vec_col),
        lambda x: F.round(x.cast("double") * sc).cast("bigint"),
    )
    sq = (
        df.where(
            F.col(vec_col).isNotNull()
            & F.col(cluster_col).isNotNull()
        )
        .select(
            F.col(cluster_col).alias("_c"),
            F.aggregate(
                micro,
                F.lit(0).cast("decimal(38,0)"),
                lambda acc, e: acc
                + (e.cast("decimal(38,0)") * e.cast("decimal(38,0)")),
            ).alias("_sq"),
        )
        .groupBy("_c")
        .agg(F.sum("_sq").alias("_sq"))
    )
    clusters = cen.join(sq, on="_c")
    s2 = F.aggregate(
        F.col("sums"),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, s: acc
        + (s.cast("decimal(38,0)") * s.cast("decimal(38,0)")),
    )
    nd = F.col("n").cast("double")
    w_i = F.col("_sq").cast("double") - s2.cast("double") / nd
    disp = F.sqrt(F.greatest(w_i / nd, F.lit(0.0))) / float(sc)
    base = clusters.select(
        F.col("_c"), F.col("n"),
        F.transform(
            F.col("sums"), lambda s: s.cast("double") / nd
        ).alias("_mu"),
        disp.alias("_s"),
    )
    left = base.select(
        F.col("_c").alias("_ci"), F.col("n").alias("_ni"),
        F.col("_mu").alias("_mi"), F.col("_s").alias("_si"),
    )
    right = base.select(
        F.col("_c").alias("_cj"),
        F.col("_mu").alias("_mj"), F.col("_s").alias("_sj"),
    )
    pairs = left.crossJoin(F.broadcast(right)).where(
        F.col("_ci") != F.col("_cj")
    )
    m_ij = (
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    "_mi", "_mj", lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, e: acc + e,
            )
        )
        / float(sc)
    )
    r_ij = F.when(
        m_ij > 0, (F.col("_si") + F.col("_sj")) / m_ij
    )
    per_i = pairs.groupBy("_ci", "_ni").agg(
        F.max(r_ij).alias("_r")
    )
    out = per_i.agg(
        F.sum("_ni").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k_clusters"),
        F.avg("_r").alias("_db"),
    )
    return out.select(
        "n", "k_clusters",
        F.round(
            F.when(F.col("k_clusters") >= 2, F.col("_db")), 6
        ).alias("db_index"),
    )


def embedding_isotropy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Embedding-space isotropy audit — the collapse detector run
    before trusting any cosine-based dedup/retrieval stage: if the
    average pairwise cosine of the (unit-normalized) vectors is far
    above 0, the space is anisotropic (a dominant common direction)
    and cosine thresholds tuned on an isotropic assumption silently
    over-merge.

    Closed forms from ONE vector sum — nothing pairwise: with
    ``u_i = v_i/‖v_i‖`` and ``s = Σu_i``,

    ``avg pairwise cosine = (‖s‖² − n) / (n(n−1))`` and
    ``mean cosine to the centroid direction = ‖s‖ / n`` (both exact
    identities, not approximations). Norm statistics ride the same
    pass. Zero-norm vectors are dropped (documented).

    Plan: one staged-norm projection (the HOF-no-CSE rule), one
    posexplode to (dim, value/norm), one d-row dimension-sum
    aggregation, one scalar stitch. Output 1 row: ``(n_vectors, dim,
    mean_norm, sd_norm, avg_pairwise_cosine,
    mean_cosine_to_centroid)``, 6dp.

    Beyond the reference; standard diagnosis per Ethayarajh 2019 /
    Mu & Viswanath 2018.
    """
    from padua_spark.io_utils import track_cached

    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = (
        df.where(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"), vec.alias("_v"),
        )
        .withColumn(
            "_nrm",
            F.sqrt(
                F.aggregate(
                    "_v", F.lit(0.0), lambda a, x: a + x * x
                )
            ),
        )
        .where(F.col("_nrm") > 0)
    )
    from pyspark import StorageLevel

    staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
    nstats = staged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.max(F.size("_v")).cast("bigint").alias("dim"),
        F.avg("_nrm").alias("_mn"),
        F.stddev_samp("_nrm").alias("_sdn"),
    ).withColumn("_one", F.lit(1))
    dims = (
        staged.select(
            F.posexplode("_v").alias("_d", "_x"), F.col("_nrm")
        )
        .groupBy("_d")
        .agg(F.sum(F.col("_x") / F.col("_nrm")).alias("_s"))
    )
    ssq = dims.agg(
        F.sum(F.col("_s") * F.col("_s")).alias("_ss2")
    ).withColumn("_one", F.lit(1))
    j = nstats.join(F.broadcast(ssq), on="_one")
    n = F.col("n_vectors").cast("double")
    apc = F.when(
        F.col("n_vectors") >= 2,
        (F.col("_ss2") - n) / (n * (n - 1.0)),
    )
    out = j.select(
        "n_vectors", "dim",
        F.round("_mn", 6).alias("mean_norm"),
        F.round("_sdn", 6).alias("sd_norm"),
        F.round(apc, 6).alias("avg_pairwise_cosine"),
        F.round(F.sqrt(F.col("_ss2")) / n, 6).alias(
            "mean_cosine_to_centroid"
        ),
    )
    return track_cached(out, staged)


def retrieval_err_at_k(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Expected Reciprocal Rank @k per query (binary relevance) —
    the CASCADE retrieval metric beside P@k / NDCG / MRR: models a
    user scanning top-down who STOPS at each relevant hit with
    probability R, so later hits are discounted by how satisfying
    the earlier ones were (NDCG discounts by position only; ERR is
    the standard metric when one good hit mostly ends the session).

    Binary gains with the Chapelle 2009 mapping ``R = (2^r − 1)/2``
    → relevant hits have stop probability ½:
    ``ERR = Σ_i (1/rank_i)·R_i·Π_{j<i}(1 − R_j)
          = Σ_{rel i} (1/rank_i)·½·(½)^{#relevant above i}``
    — the cascade product collapses to a power of ½, computed with
    one per-query ordered window (running relevant-count), no logs.

    Plan shape: :func:`knn_join` (broadcast query block, map-side
    WindowGroupLimit) + label joins + ONE window + one aggregation.
    Output: ``(query_id, label, n_relevant_at_k, err_at_k)``, 6dp.

    Beyond the reference; standard per Chapelle et al. 2009 (CIKM).
    """
    from pyspark.sql import Window

    nn = knn_join(
        corpus, id_col, vec_col, queries, id_col, vec_col, k=k
    )
    q_lab = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("label"),
    )
    c_lab = corpus.select(
        F.col(id_col), F.col(label_col).alias("_nlabel")
    )
    joined = nn.join(F.broadcast(q_lab), on="query_id").join(
        c_lab, on=id_col
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.round("cosine_sim", 6).desc(), F.col(id_col).asc()
    )
    rel = (F.col("_nlabel") == F.col("label")).cast("int")
    ranked = (
        joined.withColumn("_rk", F.row_number().over(wq))
        .withColumn("_rel", rel)
        .withColumn(
            "_nprev",
            F.sum("_rel").over(
                wq.rowsBetween(Window.unboundedPreceding, -1)
            ),
        )
    )
    term = (
        F.col("_rel").cast("double")
        * F.lit(0.5)
        * F.pow(F.lit(0.5), F.coalesce(F.col("_nprev"), F.lit(0)))
        / F.col("_rk").cast("double")
    )
    agg = ranked.groupBy("query_id", "label").agg(
        F.sum("_rel").cast("bigint").alias("n_relevant_at_k"),
        F.sum(term).alias("_err"),
    )
    return agg.select(
        "query_id", "label", "n_relevant_at_k",
        F.round(F.coalesce(F.col("_err"), F.lit(0.0)), 6).alias(
            "err_at_k"
        ),
    )
