"""Multivariate operators (reference: SURVEY.md §2.9 — PCA, PLS-DA/R,
hierarchical clustering).

Scale design: the reference fits samples-as-observations
(``analysis.pca`` fits on ``df.values.T``, analysis.py:84), i.e. the
observation count is the *sample* count (dozens) while the variable
count is the *feature* count (up to billions at 100 TB). The only
objects that fit on a driver are therefore sample×sample matrices.

- PCA: the samples×samples **Gram matrix is computed distributed**
  (feature-key co-partitioned self-join + one aggregation — never
  collecting the feature dimension), eigendecomposed on the driver
  (tiny), and per-feature weights are recovered distributed by joining
  the broadcast eigenvectors back. No sklearn, no collect of features.
- PLS: NIPALS in pure numpy on a driver-side matrix with an explicit
  size guard — the reference's use case is thousands of features ×
  dozens of samples (a few MB). For larger matrices, filter/aggregate
  first (documented contract).
- Hierarchical clustering: sample-level distance matrix computed
  distributed, Ward linkage via the Lance–Williams recurrence in
  numpy on the driver (n_samples² memory, fine for dozens-to-thousands
  of samples).
"""

from __future__ import annotations

import sys

import numpy as np
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from padua_spark.io_utils import local_frame, track_cached

# nipals_pls is called from executor-side closures (impute_pls) —
# serialize this module by value for foreign-cwd drivers (see
# functions/distributions.py).
try:
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover
    pass


def _sample_cross_products(
    df: DataFrame,
    feature_cols: list[str],
    sample_col: str,
    value_col: str,
) -> DataFrame:
    """sum over features of v_x·v_y for every sample pair — the
    distributed Gram-matrix kernel (one co-partitioned self-join on the
    feature key, one hash aggregation; output n_samples² rows)."""
    left = df.select(
        *feature_cols,
        F.col(sample_col).alias("sample_x"),
        F.col(value_col).alias("_vx"),
    )
    right = df.select(
        *feature_cols,
        F.col(sample_col).alias("sample_y"),
        F.col(value_col).alias("_vy"),
    )
    return (
        left.join(right, on=feature_cols)
        .groupBy("sample_x", "sample_y")
        .agg(F.sum(F.col("_vx") * F.col("_vy")).alias("xy"))
    )


def _sample_pc_schema(
    df: DataFrame, sample_col: str, value_col: str
) -> StructType:
    """(sample, pc, value) schema of the per-sample component tables
    pca/pls_gram build driver-side; the sample column keeps ``df``'s
    type."""
    return StructType(
        [
            StructField(sample_col, df.schema[sample_col].dataType),
            StructField("pc", LongType()),
            StructField(value_col, DoubleType()),
        ]
    )


def pca(
    df: DataFrame,
    feature_cols: list[str],
    sample_col: str,
    value_col: str,
    n_components: int = 2,
    mean_center: bool = True,
) -> tuple[DataFrame, DataFrame, np.ndarray]:
    """PCA with samples as observations (reference: ``analysis.pca``,
    analysis.py:51-93; NaN→0 fill per analysis.py:76; sklearn
    mean-centers per variable).

    Returns ``(scores_df, weights_df, explained_variance_ratio)``:

    - ``scores_df(sample, pc, score)`` — the per-sample projections
      (the reference's ``scores`` output, analysis.py:85-87);
    - ``weights_df(feature…, pc, weight)`` — per-feature loadings,
      computed *distributed* (at 100 TB this is the big output;
      reference materializes it as a wide frame);
    - ``explained_variance_ratio`` — numpy array, driver-side.

    Algorithm: NaN→0, per-feature mean-centering (a groupBy + broadcast
    join), distributed Gram G = XᵀX over samples, driver eigh of G
    (n_samples² — tiny), scores = U·S, weights V = X·U·S⁻¹ via a
    broadcast join. Exactly the SVD the reference's sklearn fit
    computes, with the feature dimension never leaving the cluster.
    """
    v = F.coalesce(F.col(value_col), F.lit(0.0))
    filled = df.withColumn("_v", v)
    if mean_center:
        means = filled.groupBy(*feature_cols).agg(
            F.avg("_v").alias("_fmean")
        )
        filled = filled.join(means, on=feature_cols, how="left").withColumn(
            "_v", F.col("_v") - F.col("_fmean")
        )
    # ONE materialized scan feeds the Gram self-join's two sides and
    # the later weights join — without the persist each consumer
    # re-runs the scan + centering upstream (Spark reuses no
    # exchanges across differently-projected branches).
    filled = filled.select(*feature_cols, sample_col, "_v").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    gram = _sample_cross_products(
        filled, feature_cols, sample_col, "_v"
    ).collect()
    samples = sorted({r["sample_x"] for r in gram})
    idx = {s: i for i, s in enumerate(samples)}
    n = len(samples)
    G = np.zeros((n, n))
    for r in gram:
        G[idx[r["sample_x"]], idx[r["sample_y"]]] = r["xy"]
    evals, evecs = np.linalg.eigh(G)
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    evals = np.clip(evals, 0.0, None)
    # Null-space components: a mean-centered n-sample Gram has rank
    # ≤ n−1, so the trailing eigenvalue(s) are numerically zero —
    # their sqrt amplifies summation-order noise (~1e-16) into ~1e-8
    # score jitter that varies with input partitioning. Clamp them to
    # EXACTLY zero so degenerate scores are deterministically 0.
    if evals.size:
        evals[evals <= evals.max() * 1e-12] = 0.0
    # Eigenvectors are unique only up to ±1: canonicalize the sign so
    # scores/weights are reproducible across LAPACK builds and runs —
    # force the largest-|entry| coordinate positive per component
    # (np.argmax takes the FIRST max, and `samples` is sorted, so the
    # tie-break is deterministic too).
    for c in range(evecs.shape[1]):
        j = int(np.argmax(np.abs(evecs[:, c])))
        if evecs[j, c] < 0:
            evecs[:, c] = -evecs[:, c]
    k = min(n_components, n)
    sing = np.sqrt(evals[:k])
    total_var = evals.sum()
    evr = evals[:k] / total_var if total_var > 0 else np.zeros(k)
    # scores: samples × k = U·S
    scores_rows = []
    for s in samples:
        for c in range(k):
            scores_rows.append(
                (s, c + 1, float(evecs[idx[s], c] * sing[c]))
            )
    spark = df.sparkSession
    scores_df = local_frame(
        spark, scores_rows, _sample_pc_schema(df, sample_col, "score")
    )
    # weights: V[f, c] = Σ_s X[f, s]·U[s, c]/S_c — distributed join with
    # the broadcast U/S table.
    u_rows = []
    for s in samples:
        for c in range(k):
            if sing[c] > 0:
                u_rows.append((s, c + 1, float(evecs[idx[s], c] / sing[c])))
    u_df = local_frame(
        spark, u_rows, _sample_pc_schema(df, sample_col, "_u")
    )
    weights_df = (
        filled.join(F.broadcast(u_df), on=sample_col)
        .groupBy(*feature_cols, "pc")
        .agg(F.sum(F.col("_v") * F.col("_u")).alias("weight"))
    )
    # either output can free the persisted scan (unpersist is
    # idempotent); callers that consume only scores still hold a
    # handle (see io_utils.unpersist_intermediates)
    track_cached(scores_df, filled)
    track_cached(weights_df, filled)
    return scores_df, weights_df, evr


# ---------------------------------------------------------------------------
# PLS (NIPALS) — driver-side numpy; the reference uses sklearn
# PLSRegression (analysis.py:96-216). No sklearn here: this is the
# standard NIPALS algorithm for PLS1/PLS2.
# ---------------------------------------------------------------------------

MAX_DRIVER_CELLS = 50_000_000  # ~400 MB of float64 — explicit guard


def _collect_matrix(
    df: DataFrame,
    feature_cols: list[str],
    sample_col: str,
    value_col: str,
):
    """Collect a (samples × features) dense matrix (NaN→0) with guard."""
    feats = (
        df.select(*feature_cols).distinct().orderBy(*feature_cols).collect()
    )
    samples = sorted(
        r[0] for r in df.select(sample_col).distinct().collect()
    )
    if len(feats) * len(samples) > MAX_DRIVER_CELLS:
        raise ValueError(
            "matrix too large for driver-side PLS; use pls_gram (the "
            "distributed Gram-trick path — only n_samples² is "
            "collected) or aggregate/filter features first"
        )
    fidx = {tuple(r) : i for i, r in enumerate(feats)}
    sidx = {s: i for i, s in enumerate(samples)}
    X = np.zeros((len(samples), len(feats)))
    rows = df.select(
        *feature_cols, sample_col, value_col
    ).collect()
    nf = len(feature_cols)
    for r in rows:
        key = tuple(r[i] for i in range(nf))
        v = r[nf + 1]
        if v is not None:
            X[sidx[r[nf]], fidx[key]] = v
    return X, samples, [tuple(r) for r in feats]


def nipals_pls(X: np.ndarray, Y: np.ndarray, n_components: int = 2,
               max_iter: int = 500, tol: float = 1e-10):
    """NIPALS PLS regression (public-domain algorithm; equivalent in
    exact arithmetic to sklearn PLSRegression's NIPALS mode). Returns
    (x_scores T, x_weights W, x_loadings P, y_loadings Q)."""
    X = X - X.mean(axis=0)
    Y = Y - Y.mean(axis=0)
    if Y.ndim == 1:
        Y = Y[:, None]
    T = np.zeros((X.shape[0], n_components))
    W = np.zeros((X.shape[1], n_components))
    P = np.zeros((X.shape[1], n_components))
    Q = np.zeros((Y.shape[1], n_components))
    Xk, Yk = X.copy(), Y.copy()
    for a in range(n_components):
        u = Yk[:, 0].copy()
        for _ in range(max_iter):
            w = Xk.T @ u / (u @ u)
            w /= np.linalg.norm(w) or 1.0
            t = Xk @ w
            q = Yk.T @ t / (t @ t)
            u_new = Yk @ q / (q @ q)
            if np.linalg.norm(u_new - u) < tol * np.linalg.norm(u_new):
                u = u_new
                break
            u = u_new
        p = Xk.T @ t / (t @ t)
        T[:, a], W[:, a], P[:, a], Q[:, a] = t, w, p, q.ravel()
        Xk = Xk - np.outer(t, p)
        Yk = Yk - np.outer(t, q.ravel())
    return T, W, P, Q


def plsda(
    df: DataFrame,
    feature_cols: list[str],
    sample_col: str,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
    n_components: int = 2,
):
    """Binary PLS-DA (reference: ``analysis.plsda``, analysis.py:96-161:
    y = 0/1 by group membership). Driver-side NIPALS on the collected
    (guarded) matrix; returns (scores, weights, samples, features)."""
    sub = df.filter(F.col(group_col).isin([group_a, group_b]))
    X, samples, feats = _collect_matrix(
        sub, feature_cols, sample_col, value_col
    )
    smap = {
        r[0]: r[1]
        for r in sub.select(sample_col, group_col).distinct().collect()
    }
    y = np.array([1.0 if smap[s] == group_b else 0.0 for s in samples])
    T, W, P, Q = nipals_pls(X, y, n_components)
    return T, W, samples, feats


def plsr(
    df: DataFrame,
    feature_cols: list[str],
    sample_col: str,
    value_col: str,
    target: dict,
    n_components: int = 2,
):
    """PLS regression vs a continuous per-sample variable (reference:
    ``analysis.plsr``, analysis.py:164-216)."""
    X, samples, feats = _collect_matrix(
        df, feature_cols, sample_col, value_col
    )
    y = np.array([float(target[s]) for s in samples])
    T, W, P, Q = nipals_pls(X, y, n_components)
    y_pred = T @ Q.T[:, 0] + y.mean()
    return T, W, y_pred, samples, feats


def _kernel_nipals(
    G: np.ndarray,
    Y: np.ndarray,
    n_components: int,
    max_iter: int = 500,
    tol: float = 1e-10,
):
    """NIPALS PLS in SAMPLE space only: every step of
    :func:`nipals_pls` re-expressed through the Gram matrix
    ``G = X Xᵀ`` (n×n), replicating its control flow (the stored t/q
    come from the pre-update u, exactly like the feature-space loop):

    - ``t = G_k u / √(uᵀ G_k u)`` (the normalized-w projection),
    - deflation ``G_{k+1} = (I − ttᵀ/tᵀt) G_k (I − ttᵀ/tᵀt)``,
    - original-space weights ``ŵ_a = X₀ᵀ r_a`` with
      ``r_a = M_kᵀ u / √(uᵀ G_k u)`` and
      ``M_{k+1} = (I − ttᵀ/tᵀt) M_k`` — so the feature dimension
      never appears.

    Returns ``(T, R, Q)``: x-scores, the r-vectors that reconstruct
    the x-weights from the centered data, and y-loadings.
    """
    n = G.shape[0]
    if Y.ndim == 1:
        Y = Y[:, None]
    Gk = G.copy()
    Yk = Y - Y.mean(axis=0)
    M = np.eye(n)
    T = np.zeros((n, n_components))
    R = np.zeros((n, n_components))
    Q = np.zeros((Y.shape[1], n_components))
    for a in range(n_components):
        u = Yk[:, 0].copy()
        t = r = q = None
        for _ in range(max_iter):
            gu = Gk @ u
            denom = float(u @ gu)
            norm = np.sqrt(denom) if denom > 0 else float(u @ u)
            t = gu / (norm or 1.0)
            r = M.T @ u / (norm or 1.0)
            q = Yk.T @ t / (t @ t)
            u_new = Yk @ q / (q @ q)
            if np.linalg.norm(u_new - u) < tol * np.linalg.norm(u_new):
                u = u_new
                break
            u = u_new
        T[:, a], R[:, a], Q[:, a] = t, r, q.ravel()
        proj = np.eye(n) - np.outer(t, t) / (t @ t)
        Gk = proj @ Gk @ proj
        M = proj @ M
        Yk = Yk - np.outer(t, q.ravel())
    return T, R, Q


def pls_gram(
    df: DataFrame,
    feature_cols: list[str],
    sample_col: str,
    value_col: str,
    y_map: dict,
    n_components: int = 2,
    mean_center: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Distributed Gram-trick PLS — the at-scale path for
    ``plsda``/``plsr`` (reference: analysis.py:96-216) that removes the
    ``MAX_DRIVER_CELLS`` guard: only the n_samples² Gram matrix is
    collected (the :func:`pca` pattern), the feature dimension never
    leaves the cluster.

    ``y_map``: sample → response value (0/1 membership for PLS-DA, a
    continuous covariate for PLS-R; y is mean-centered as in NIPALS).

    Returns ``(scores_df(sample, pc, score),
    weights_df(feature…, pc, weight))`` with scores numerically equal
    to the driver-side :func:`nipals_pls` on the full matrix (asserted
    in tests/test_ml_and_sinks.py) and weights recovered distributed
    as ``X₀ᵀ r_a`` via a broadcast join — the same shape as pca's
    loading computation.
    """
    v = F.coalesce(F.col(value_col), F.lit(0.0))
    filled = df.withColumn("_v", v)
    if mean_center:
        means = filled.groupBy(*feature_cols).agg(
            F.avg("_v").alias("_fmean")
        )
        filled = filled.join(means, on=feature_cols, how="left").withColumn(
            "_v", F.col("_v") - F.col("_fmean")
        )
    filled = filled.select(*feature_cols, sample_col, "_v").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    gram = _sample_cross_products(
        filled, feature_cols, sample_col, "_v"
    ).collect()
    samples = sorted({r["sample_x"] for r in gram})
    idx = {s: i for i, s in enumerate(samples)}
    n = len(samples)
    G = np.zeros((n, n))
    for r in gram:
        G[idx[r["sample_x"]], idx[r["sample_y"]]] = r["xy"]
    y = np.array([float(y_map[s]) for s in samples])
    k = min(n_components, n)
    T, R, _Q = _kernel_nipals(G, y, k)
    spark = df.sparkSession
    scores_rows = [
        (s, c + 1, float(T[idx[s], c])) for s in samples for c in range(k)
    ]
    scores_df = local_frame(
        spark, scores_rows, _sample_pc_schema(df, sample_col, "score")
    )
    r_rows = [
        (s, c + 1, float(R[idx[s], c])) for s in samples for c in range(k)
    ]
    r_df = local_frame(
        spark, r_rows, _sample_pc_schema(df, sample_col, "_r")
    )
    weights_df = (
        filled.join(F.broadcast(r_df), on=sample_col)
        .groupBy(*feature_cols, "pc")
        .agg(F.sum(F.col("_v") * F.col("_r")).alias("weight"))
    )
    track_cached(scores_df, filled)
    track_cached(weights_df, filled)
    return scores_df, weights_df


# ---------------------------------------------------------------------------
# Hierarchical clustering — Ward linkage via Lance–Williams, pure numpy
# (reference: visualize._cluster, visualize.py:1691-1730, uses scipy
# pdist + ward linkage).
# ---------------------------------------------------------------------------


def zscore(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    center: str = "median",
    out_col: str = "z",
) -> DataFrame:
    """(v − center)/sd per group — the reference z-scores rows with a
    MEDIAN center (visualize.py:1696-1699), an intentional quirk we
    preserve as the default."""
    v = F.col(value_col)
    if center == "median":
        from padua_spark.operators.normalization import group_medians

        stats = group_medians(df, group_cols, v, "_c").join(
            df.groupBy(*group_cols).agg(F.stddev_samp(v).alias("_s")),
            on=group_cols,
            how="full",
        )
    else:
        stats = df.groupBy(*group_cols).agg(
            F.avg(v).alias("_c"), F.stddev_samp(v).alias("_s")
        )
    return (
        df.join(F.broadcast(stats), on=group_cols, how="left")
        .withColumn(
            out_col,
            F.when(F.col("_s") > 0, (v - F.col("_c")) / F.col("_s")),
        )
        .drop("_c", "_s")
    )


def sample_distance_matrix(
    df: DataFrame,
    feature_cols: list[str],
    sample_col: str,
    value_col: str,
) -> DataFrame:
    """Pairwise Euclidean distances between samples, computed
    distributed over the feature axis (pairwise-complete: only features
    non-null in both samples contribute)."""
    left = df.select(
        *feature_cols,
        F.col(sample_col).alias("sample_x"),
        F.col(value_col).alias("_vx"),
    )
    right = df.select(
        *feature_cols,
        F.col(sample_col).alias("sample_y"),
        F.col(value_col).alias("_vy"),
    )
    d = F.col("_vx") - F.col("_vy")
    return (
        left.join(right, on=feature_cols)
        .filter(F.col("_vx").isNotNull() & F.col("_vy").isNotNull())
        .groupBy("sample_x", "sample_y")
        .agg(F.sqrt(F.sum(d * d)).alias("distance"))
    )


def ward_linkage(dist: np.ndarray) -> np.ndarray:
    """Ward hierarchical clustering via the Lance–Williams update —
    returns a scipy-style (n−1)×4 linkage matrix."""
    n = dist.shape[0]
    d = dist.astype(float).copy()
    np.fill_diagonal(d, np.inf)
    sizes = {i: 1 for i in range(n)}
    active = set(range(n))
    ids = {i: i for i in range(n)}
    out = []
    big = d.copy()
    next_id = n
    for _step in range(n - 1):
        pairs = [(big[i, j], i, j) for i in active for j in active if i < j]
        dm, i, j = min(pairs)
        si, sj = sizes[i], sizes[j]
        out.append([ids[i], ids[j], dm, si + sj])
        for k in active - {i, j}:
            sk = sizes[k]
            tot = si + sj + sk
            new = np.sqrt(
                ((si + sk) * big[i, k] ** 2 + (sj + sk) * big[j, k] ** 2
                 - sk * dm**2) / tot
            )
            big[i, k] = big[k, i] = new
        sizes[i] = si + sj
        ids[i] = next_id
        next_id += 1
        active.remove(j)
    return np.array(out)


def optimize_cluster_threshold(
    linkage: np.ndarray, n: int, target_n: int = 6, max_iter: int = 60
) -> tuple[float, np.ndarray]:
    """Search the dendrogram cut threshold that yields ~``target_n``
    flat clusters (reference: ``visualize._optimize_clusters``,
    visualize.py:1665-1688) — a bisection over the merge distances,
    driver-side on the tiny linkage matrix."""
    lo, hi = 0.0, float(linkage[:, 2].max()) * 1.001
    best = None
    for _ in range(max_iter):
        mid = (lo + hi) / 2
        labels = fcluster_by_distance(linkage, mid, n)
        k = labels.max() + 1
        if best is None or abs(k - target_n) < abs(best[2] - target_n):
            best = (mid, labels, k)
        if k > target_n:
            lo = mid
        elif k < target_n:
            hi = mid
        else:
            return mid, labels
    return best[0], best[1]


def cluster_timecourse_means(
    df: DataFrame,
    feature_cols: list[str],
    cluster_map: dict,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-cluster mean trajectories (reference:
    ``visualize.hierarchical_timecourse``, visualize.py:1872-1965, mean
    at :1923): broadcast the feature→cluster map, aggregate per
    (cluster, group levels) distributed."""
    spark = df.sparkSession
    items = [(k, int(v)) for k, v in cluster_map.items()]
    key = feature_cols[0]
    cdf = local_frame(
        spark,
        items,
        StructType(
            [
                StructField(key, df.schema[key].dataType),
                StructField("cluster", LongType()),
            ]
        ),
    )
    return (
        df.join(F.broadcast(cdf), on=feature_cols)
        .groupBy("cluster", *group_cols)
        .agg(
            F.avg(F.col(value_col)).alias("mean_value"),
            F.count(F.col(value_col)).alias("n"),
        )
    )


def fcluster_by_distance(linkage: np.ndarray, threshold: float,
                         n: int) -> np.ndarray:
    """Flat clusters by cutting the dendrogram at ``threshold``
    (reference: visualize._optimize_clusters cuts to a target count,
    visualize.py:1665-1688)."""
    parent = list(range(n + len(linkage)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for step, (a, b, dist, _size) in enumerate(linkage):
        if dist <= threshold:
            node = n + step
            parent[find(int(a))] = node
            parent[find(int(b))] = node
    roots = {}
    labels = np.zeros(n, dtype=int)
    for i in range(n):
        r = find(i)
        labels[i] = roots.setdefault(r, len(roots))
    return labels


def logistic_regression(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_iters: int = 6,
    intercept: bool = True,
) -> DataFrame:
    """Binary logistic regression by ``n_iters`` fixed Newton-Raphson
    (IRLS) steps — the quality-classifier trainer of a data-curation
    pipeline (fastText-style filtering, Gopher-quality gating), and
    the inferential complement: Wald standard errors, z, and p per
    coefficient. Beyond the reference (padua has no model fitting
    beyond PLS; analysis.py:84), standard GLM algebra:

    ``g = Σ x_i (y_i − μ_i)``,  ``H = Σ x_i x_iᵀ μ_i (1 − μ_i)``,
    ``μ = σ(βᵀx)``, ``β ← β + H⁻¹ g``.

    Scale shape (the :func:`padua_spark.operators.stats.cox_ph`
    discipline): the data never leaves the cluster — each Newton step
    is ONE map-side-combined aggregation producing exactly
    ``p + p(p+1)/2`` doubles (gradient + upper-triangle Hessian) that
    the driver solves in closed form; no per-row Python, no
    data-sized collect, no shuffle at all (global agg over a
    persisted frame). The fixed-``n_iters`` schedule (no
    data-dependent stopping) keeps the fit engine-reproducible, so a
    SQL twin running the identical recursion matches to ~1e-12.
    Output: one row per coefficient (``(intercept)`` first when
    ``intercept=True``): ``(feature, coef, odds_ratio, se, z,
    p_value)``, floats rounded to 6dp; ``odds_ratio`` is NULL for
    |coef| > 10 — the (quasi-)separation regime, where exp(coef)
    is both statistically meaningless and beyond any engine's
    cross-platform exp() agreement at fixed decimals (a 1-ulp exp
    difference on e^15 is ~5e-3 absolute). Standardize wild-scale
    features upstream (``exp`` overflow → degenerate weights), the
    usual GLM contract.
    """
    from padua_spark.operators.stats import _normal_sf_2sided

    names = (["(intercept)"] if intercept else []) + list(feature_cols)
    p = len(names)
    lab = F.col(label_col).cast("double")
    cond = lab.isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    xcols = ([F.lit(1.0).alias("_x0")] if intercept else []) + [
        F.col(c).cast("double").alias(f"_x{i + (1 if intercept else 0)}")
        for i, c in enumerate(feature_cols)
    ]
    base = (
        df.where(cond)
        .select(lab.alias("_y"), *xcols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = [(i, j) for i in range(p) for j in range(i, p)]

    def _grad_hess(beta: np.ndarray):
        lin = F.lit(float(beta[0])) * F.col("_x0")
        for i in range(1, p):
            lin = lin + F.lit(float(beta[i])) * F.col(f"_x{i}")
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-lin))
        w = mu * (F.lit(1.0) - mu)
        row = base.agg(
            *[
                F.sum(F.col(f"_x{i}") * (F.col("_y") - mu)).alias(f"_g{i}")
                for i in range(p)
            ],
            *[
                F.sum(F.col(f"_x{i}") * F.col(f"_x{j}") * w).alias(
                    f"_h{i}{j}"
                )
                for i, j in pairs
            ],
        ).collect()[0]
        g = np.array([row[f"_g{i}"] for i in range(p)])
        H = np.zeros((p, p))
        for i, j in pairs:
            H[i, j] = H[j, i] = row[f"_h{i}{j}"]
        return g, H

    beta = np.zeros(p)
    for _ in range(int(n_iters)):
        g, H = _grad_hess(beta)
        beta = beta + np.linalg.solve(H, g)
    _, H = _grad_hess(beta)  # observed information at the final beta
    cov = np.linalg.inv(H)
    base.unpersist()
    spark = df.sparkSession
    rows = [
        (names[i], float(beta[i]), float(np.sqrt(cov[i, i])))
        for i in range(p)
    ]
    out = local_frame(
        spark, rows, "feature string, _coef double, _se double"
    )
    z = F.col("_coef") / F.col("_se")
    return out.select(
        "feature",
        F.round("_coef", 6).alias("coef"),
        F.round(
            F.when(F.abs(F.col("_coef")) <= 10.0, F.exp("_coef")),
            6,
        ).alias("odds_ratio"),
        F.round("_se", 6).alias("se"),
        F.round(z, 6).alias("z"),
        F.round(_normal_sf_2sided(z), 6).alias("p_value"),
    )


def ols_regression(
    df: DataFrame,
    feature_cols: list[str],
    y_col: str,
    ridge: float = 0.0,
    intercept: bool = True,
) -> DataFrame:
    """Multiple linear regression by ONE-PASS normal equations —
    generalizes :func:`padua_spark.operators.stats.linregress`
    (reference: scipy ``linregress``, visualize.py:407) from one
    regressor to ``p``, with full Wald inference per coefficient and
    an optional ridge penalty (``(XᵀX + λI)β = Xᵀy``; the intercept
    is never penalized; SE/t/p are reported only for the unpenalized
    fit, the standard caveat).

    Scale shape: the data is touched EXACTLY ONCE — a single
    map-side-combined aggregation produces the ``p(p+1)/2 + p + 1``
    sufficient statistics (upper-triangle Gram ``Σxᵢxⱼ``, moment
    vector ``Σxᵢy``, ``Σy²``), and the driver solves the tiny system
    in closed form. RSS comes from the same statistics
    (``RSS = Σy² − 2βᵀXᵀy + βᵀXᵀXβ``) so no second pass, no
    per-row residuals, no shuffle at all. Output: one row per
    coefficient — ``(feature, coef, se, t_stat, dfree, p_value, r2,
    n)`` with the two-sided Student-t p via the shared Arrow-batched
    incomplete-beta UDF; ``r2`` (centered when ``intercept``,
    uncentered otherwise) and ``n`` replicated per row. Floats 6dp.
    """
    from padua_spark.functions.distributions import t_sf_udf

    names = (["(intercept)"] if intercept else []) + list(feature_cols)
    p = len(names)
    yv = F.col(y_col).cast("double")
    cond = yv.isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    off = 1 if intercept else 0
    xcols = ([F.lit(1.0).alias("_x0")] if intercept else []) + [
        F.col(c).cast("double").alias(f"_x{i + off}")
        for i, c in enumerate(feature_cols)
    ]
    base = df.where(cond).select(yv.alias("_y"), *xcols)
    pairs = [(i, j) for i in range(p) for j in range(i, p)]
    row = base.agg(
        *[
            F.sum(F.col(f"_x{i}") * F.col(f"_x{j}")).alias(f"_s{i}{j}")
            for i, j in pairs
        ],
        *[
            F.sum(F.col(f"_x{i}") * F.col("_y")).alias(f"_sy{i}")
            for i in range(p)
        ],
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.count(F.lit(1)).cast("bigint").alias("_n"),
    ).collect()[0]
    gram = np.zeros((p, p))
    for i, j in pairs:
        gram[i, j] = gram[j, i] = row[f"_s{i}{j}"]
    b = np.array([row[f"_sy{i}"] for i in range(p)])
    n = int(row["_n"])
    A = gram.copy()
    if ridge:
        for i in range(off, p):
            A[i, i] += float(ridge)
    beta = np.linalg.solve(A, b)
    rss = float(row["_syy"] - 2.0 * beta @ b + beta @ gram @ beta)
    dfree = n - p
    if intercept:
        tss = float(row["_syy"] - (b[0] * b[0]) / n)  # b[0] = Σy (x0≡1)
    else:
        tss = float(row["_syy"])
    r2 = 1.0 - rss / tss if tss > 0 else None
    sigma2 = rss / dfree if dfree > 0 else None
    if ridge == 0.0 and sigma2 is not None:
        cov = sigma2 * np.linalg.inv(gram)
        ses = [float(np.sqrt(cov[i, i])) for i in range(p)]
    else:
        ses = [None] * p
    spark = df.sparkSession
    out = local_frame(
        spark,
        [(names[i], float(beta[i]), ses[i]) for i in range(p)],
        "feature string, _coef double, _se double",
    )
    t = F.col("_coef") / F.col("_se")
    staged = (
        out.withColumn("_t", t)
        .withColumn("_dfree", F.lit(float(dfree)))
        .withColumn("_p_raw", t_sf_udf(F.col("_t"), F.col("_dfree")))
    )
    return staged.select(
        "feature",
        F.round("_coef", 6).alias("coef"),
        F.round("_se", 6).alias("se"),
        F.round("_t", 6).alias("t_stat"),
        F.lit(dfree).cast("bigint").alias("dfree"),
        F.round("_p_raw", 6).alias("p_value"),
        F.round(F.lit(r2).cast("double"), 6).alias("r2"),
        F.lit(n).cast("bigint").alias("n"),
    )
