"""Temporal join operators Spark lacks as built-ins: as-of join and
range join (driver north-star examples of operators to express as
compositions of DataFrame ops).

As-of join — "for each left row, the latest right row at or before its
timestamp, per key" — is implemented with the union + conditional
last_value window trick: tag both sides, union on (key, ts), and carry
the most recent right-side payload forward. One shuffle on (key), a
per-key sort — the same cost profile as a sort-merge join, with no
per-row Python.

Range join — left rows joined to right INTERVALS containing them — is
a plain conditional join; for large interval tables, bucketize the
ranges so the join key is (key, bucket) instead of a cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from padua_spark.io_utils import local_frame


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str],
    right_value_cols: list[str] | None = None,
    tolerance: int | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right[on] <= left[on]`` within the same ``by`` key.

    ``tolerance`` (same units as ``on``) drops matches older than
    ``left[on] - tolerance``.

    Right value columns whose name collides with a left column are
    emitted with an ``_r`` suffix (mirroring :func:`range_join`) — the
    union+window construction would otherwise merge the two columns and
    the carry-forward would clobber the left side's values.
    """
    right_value_cols = right_value_cols or [
        c for c in right.columns if c not in {on, *by}
    ]
    renames = {
        c: f"{c}_r" for c in right_value_cols if c in left.columns
    }
    for old, new in renames.items():
        if new in left.columns or new in right_value_cols:
            raise ValueError(
                f"asof_join: cannot rename colliding right column "
                f"{old!r} to {new!r} — that name is already taken; "
                f"rename the input columns explicitly"
            )
    if renames:
        rt_base = right.select(*by, on, *right_value_cols)
        for old, new in renames.items():
            rt_base = rt_base.withColumnRenamed(old, new)
        right = rt_base
        right_value_cols = [renames.get(c, c) for c in right_value_cols]
    lt = left.withColumn("_side", F.lit(1))
    rt = right.select(
        *by, on, *right_value_cols
    ).withColumn("_side", F.lit(0))
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(on).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = unioned
    for c in right_value_cols:
        out = out.withColumn(
            c,
            F.last(
                F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True
            ).over(w),
        )
    out = out.withColumn(
        "_asof_ts",
        F.last(
            F.when(F.col("_side") == 0, F.col(on)), ignorenulls=True
        ).over(w),
    )
    out = out.filter(F.col("_side") == 1)
    if tolerance is not None:
        stale = F.col("_asof_ts") < (F.col(on) - F.lit(tolerance))
        for c in right_value_cols:
            out = out.withColumn(
                c, F.when(~stale, F.col(c))
            )
        out = out.withColumn(
            "_asof_ts", F.when(~stale, F.col("_asof_ts"))
        )
    return out.drop("_side").withColumnRenamed("_asof_ts", "asof_ts")


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    by: list[str] | None = None,
    how: str = "inner",
) -> DataFrame:
    """Join points to the intervals containing them
    (``start <= point < end``), optionally per key. For a large
    interval table, pre-bucketize both sides on
    ``floor(point / bucket)`` so the equi-part of the join prunes."""
    overlap = {c for c in intervals.columns if c in left.columns}
    renamed = intervals
    for c in overlap:
        renamed = renamed.withColumnRenamed(c, f"{c}_r")

    def rcol(name: str):
        return renamed[f"{name}_r" if name in overlap else name]

    cond = (left[point_col] >= rcol(start_col)) & (
        left[point_col] < rcol(end_col)
    )
    for k in by or []:
        cond = cond & (left[k] == rcol(k))
    return left.join(renamed, cond, how)


def ewma_bounded(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
    window: int = 8,
) -> DataFrame:
    """Per-key exponentially weighted moving average over the last
    ``window`` events in event order — the smoothed-signal primitive
    for per-user engagement scores and sensor streams. Semantics are
    pandas ``ewm(adjust=True)`` restricted to a bounded window:

    ``y_i = Σ_{j<W} (1−α)^j x_{i−j}  /  Σ_{j<W'} (1−α)^j``

    (partial normalization while the window fills — no warm-up NULLs,
    no drift from an unbounded tail).

    Scale shape: one shuffle by key, one sorted window per key with a
    BOUNDED ``rowsBetween(-(W-1), 0)`` frame (state per row is W
    values — never an unbounded running frame), then per-row array
    algebra: a left fold over the ≤W collected values with positional
    weights, identical on any engine. Ties in ``order_cols`` must be
    broken by the caller's last ordering column for determinism.
    Output: input columns + ``ewma``.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    staged = df.withColumn(
        "_w", F.collect_list(F.col(value_col).cast("double")).over(w)
    )
    n = F.size("_w")
    decay = 1.0 - alpha
    # weight for position i (0-based, oldest first) = (1-α)^(n-1-i);
    # both num and den fold left-to-right over the same sequence
    idx = F.sequence(F.lit(0), n - 1)
    num = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(F.col("_w"), i + 1)
        * F.pow(F.lit(decay), (n - 1 - i).cast("double")),
    )
    den = F.aggregate(
        idx,
        F.lit(0.0),
        lambda acc, i: acc + F.pow(F.lit(decay), (n - 1 - i).cast("double")),
    )
    return staged.withColumn(
        "ewma", F.when(n > 0, num / den)
    ).drop("_w")


def cusum_changepoint(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    drift: float = 0.0,
    target: float | None = None,
) -> DataFrame:
    """Per-key CUSUM change-point scan over an ordered series: how far
    the running sum of deviations from the key's mean ever drifts up or
    down, and where.

    The textbook recursion ``S+_i = max(0, S+_{i-1} + z_i - drift)``
    looks inherently sequential, but the reflection identity turns it
    into pure window algebra: with ``c+_i = cumsum(z - drift)`` and
    ``c-_i = cumsum(z + drift)`` (the allowance ``k = drift`` damps
    BOTH sides, so the negative recursion ``S-_i = max(0, S-_{i-1}
    - z_i - drift)`` needs its own cumsum with the sign flipped),

    ``S+_i = c+_i - min(0, running_min(c+)_i)``
    ``S-_i = max(0, running_max(c-)_i) - c-_i``

    so the whole scan is one shuffle on the key and two chained window
    passes over the SAME ordered spec (both cumsums and both running
    extrema land in one Window exec each) — no recursion, no Python,
    engine-reproducible. The deviations
    use the per-key mean (two-pass: one aggregation joined back), so a
    level shift mid-series yields a large ``|S|`` peak at the shift
    point.

    Per-key state is the ordered series itself (same caveat as
    ``ewma_bounded``: keys are assumed person/entity-sized, not
    data-sized). Ties in ``order_cols`` must be resolved by the last
    ordering column.

    Returns one row per key: ``(keys..., n_obs, cusum_pos_max,
    cusum_neg_max, cp_pos, cp_neg)`` where ``cp_pos``/``cp_neg`` are
    the 1-based positions (in series order) of the FIRST maximum of
    ``S+``/``S-`` — the detected up/down change points.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *key_cols, *[c for c in order_cols if c not in key_cols], v.alias("_v")
    )
    if target is None:
        means = base.groupBy(*key_cols).agg(F.avg("_v").alias("_mu"))
        staged = base.join(means, on=key_cols)
    else:
        # fixed reference target (control-chart mode; what a STREAMING
        # CUSUM must use, since the series mean isn't knowable online —
        # see streaming.stateful.cusum_stream, whose batch twin this is)
        staged = base.withColumn("_mu", F.lit(float(target)))
    wo = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = (
        staged.withColumn(
            "_cp", F.sum(F.col("_v") - F.col("_mu") - F.lit(drift)).over(run)
        )
        .withColumn(
            "_cn", F.sum(F.col("_v") - F.col("_mu") + F.lit(drift)).over(run)
        )
        .withColumn("_pos", F.row_number().over(wo))
    )
    staged = staged.withColumn(
        "_sp", F.col("_cp") - F.least(F.lit(0.0), F.min("_cp").over(run))
    ).withColumn(
        "_sn", F.greatest(F.lit(0.0), F.max("_cn").over(run)) - F.col("_cn")
    )
    # argmax with earliest-position tiebreak via lexicographic struct
    # max: (S, -pos) — one aggregation, no extra window pass
    return (
        staged.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.max(
                F.struct(
                    F.col("_sp").alias("s"),
                    (-F.col("_pos")).alias("negpos"),
                )
            ).alias("_ap"),
            F.max(
                F.struct(
                    F.col("_sn").alias("s"),
                    (-F.col("_pos")).alias("negpos"),
                )
            ).alias("_an"),
        )
        .select(
            *key_cols,
            "n_obs",
            F.col("_ap.s").alias("cusum_pos_max"),
            F.col("_an.s").alias("cusum_neg_max"),
            (-F.col("_ap.negpos")).alias("cp_pos"),
            (-F.col("_an.negpos")).alias("cp_neg"),
        )
    )


def two_segment_changepoint(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-key least-squares TWO-SEGMENT change point: the split that
    minimizes total within-segment sum of squared errors — the
    mean-shift estimator behind binary segmentation (the first step of
    the classic changepoint recursion), complementing
    :func:`cusum_changepoint`'s drift detector with an explicit
    before/after level fit:

    with prefix sums ``S1_i = Σ v``, ``S2_i = Σ v²``,
    ``SSE(i) = [S2_i − S1_i²/i] + [(S2_n−S2_i) − (S1_n−S1_i)²/(n−i)]``
    for split after position ``i ∈ [1, n−1]``; the reported split is
    the SSE-argmin with earliest-position tiebreak.

    One shuffle on the key, one ordered window pass for both prefix
    sums, one argmin aggregation — all closed-form SQL, no recursion.
    The prefix sums accumulate in series order on every engine, so the
    float sequence (and hence the argmin) is engine-reproducible.
    Per-key state is the ordered series itself (same bounded-key
    caveat as :func:`cusum_changepoint`). Keys with n < 2 emit NULL
    split columns.

    Output per key: ``(keys..., n_obs, split_pos (1-based, last point
    of the left segment), sse_total, sse_split, delta_sse, mean_left,
    mean_right)``.
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *key_cols,
        *[c for c in order_cols if c not in key_cols],
        v.alias("_v"),
    )
    wo = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = wo.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = base.select(
        *key_cols,
        F.sum("_v").over(run).alias("_s1"),
        F.sum(F.col("_v") * F.col("_v")).over(run).alias("_s2"),
        F.row_number().over(wo).alias("_i"),
        F.sum("_v").over(tot).alias("_t1"),
        F.sum(F.col("_v") * F.col("_v")).over(tot).alias("_t2"),
        F.count(F.lit(1)).over(tot).alias("_n"),
    )
    i = F.col("_i").cast("double")
    n = F.col("_n").cast("double")
    left = F.col("_s2") - F.col("_s1") * F.col("_s1") / i
    r1 = F.col("_t1") - F.col("_s1")
    right = (F.col("_t2") - F.col("_s2")) - r1 * r1 / (n - i)
    sse = left + right
    cand = staged.where(F.col("_i") < F.col("_n")).select(
        *key_cols,
        "_n",
        "_i",
        sse.alias("_sse"),
        (F.col("_s1") / i).alias("_ml"),
        (r1 / (n - i)).alias("_mr"),
        (F.col("_t2") - F.col("_t1") * F.col("_t1") / n).alias("_sse0"),
    )
    # argmin with earliest-position tiebreak: lexicographic struct min
    best = cand.groupBy(*key_cols).agg(
        F.max("_n").alias("n_obs"),
        F.min(
            F.struct(
                F.col("_sse").alias("sse"),
                F.col("_i").alias("pos"),
                F.col("_ml").alias("ml"),
                F.col("_mr").alias("mr"),
            )
        ).alias("_b"),
        F.max("_sse0").alias("sse_total"),
    )
    singles = (
        staged.where(F.col("_n") == 1)
        .select(*key_cols, F.col("_n").alias("n_obs"))
        .groupBy(*key_cols, "n_obs")
        .agg(F.lit(0.0).alias("sse_total"))
    )
    out = best.select(
        *key_cols,
        "n_obs",
        "sse_total",
        F.col("_b.sse").alias("sse_split"),
        (F.col("sse_total") - F.col("_b.sse")).alias("delta_sse"),
        F.col("_b.pos").alias("split_pos"),
        F.col("_b.ml").alias("mean_left"),
        F.col("_b.mr").alias("mean_right"),
    )
    pad = singles.select(
        *key_cols,
        "n_obs",
        "sse_total",
        F.lit(None).cast("double").alias("sse_split"),
        F.lit(None).cast("double").alias("delta_sse"),
        F.lit(None).cast("int").alias("split_pos"),
        F.lit(None).cast("double").alias("mean_left"),
        F.lit(None).cast("double").alias("mean_right"),
    )
    return out.unionByName(pad)


def acf_by_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    max_lag: int,
) -> DataFrame:
    """Per-key sample autocorrelation function at lags ``1..max_lag``
    — the time-series memory diagnostic (seasonality shows as spikes
    at the period; white noise decays inside ±2/√n):

    ``r_k = Σ_t (x_t − x̄)(x_{t+k} − x̄) / Σ_t (x_t − x̄)²``

    with the FULL-series mean and denominator (the standard biased
    estimator — same definition as statsmodels ``acf``; both engines
    share it exactly). Output per key and lag:
    ``(keys..., lag, n_pairs, acf)``, ``acf`` rounded to 6dp, NULL
    when the denominator is zero (constant series).

    Scale shape: ONE shuffle on the key, ONE ordered window pass that
    produces ALL ``max_lag`` lead columns plus the per-key mean
    (every window shares the same partition/order spec, so Spark
    plans a single WindowExec), one per-key aggregation of the
    ``max_lag`` cross-product sums, and a stack-to-long explode over
    plain aggregated columns. Per-key state is the ordered series
    (the same bounded-key caveat as :func:`cusum_changepoint`).
    """
    from pyspark.sql import Window

    x = F.col(value_col).cast("double")
    base = df.where(x.isNotNull()).select(
        *key_cols,
        *[c for c in order_cols if c not in key_cols],
        x.alias("_x"),
    )
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    w_all = Window.partitionBy(*key_cols)
    staged = base.select(
        *key_cols,
        "_x",
        F.avg("_x").over(w_all).alias("_mu"),
        *[
            F.lead("_x", k).over(w).alias(f"_l{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    d = F.col("_x") - F.col("_mu")
    agg = staged.groupBy(*key_cols).agg(
        F.sum(d * d).alias("_sxx"),
        *[
            F.sum(
                d * (F.col(f"_l{k}") - F.col("_mu"))
            ).alias(f"_s{k}")
            for k in range(1, max_lag + 1)
        ],
        *[
            F.count(F.col(f"_l{k}")).alias(f"_n{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    stacked = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag"),
                F.col(f"_n{k}").alias("n_pairs"),
                F.when(
                    F.col("_sxx") > 0,
                    F.round(F.col(f"_s{k}") / F.col("_sxx"), 6),
                ).alias("acf"),
            )
            for k in range(1, max_lag + 1)
        ]
    )
    return (
        agg.select(*key_cols, F.explode(stacked).alias("_a"))
        .select(
            *key_cols,
            F.col("_a.lag").alias("lag"),
            F.col("_a.n_pairs").alias("n_pairs"),
            F.col("_a.acf").alias("acf"),
        )
    )


def touch_transitions(
    df: DataFrame,
    user_col: str,
    order_cols: list[str],
    channel_col: str,
    conversion,
    start_state: str = "START",
    conv_state: str = "CONV",
    null_state: str = "NULL",
) -> DataFrame:
    """First-order transition counts over per-user touch paths up to
    (and including) the FIRST conversion — the input to
    :func:`markov_attribution`. Each user's events are ordered by
    ``order_cols``; everything after the first ``conversion`` touch is
    dropped (the cumulative-prior-conversions filter, expressible
    identically in any engine), the path is prefixed with
    ``start_state``, the conversion maps to ``conv_state``, and a
    non-converting user's last touch emits a terminal
    ``null_state`` transition. Output: ``(src, dst, n)``.

    One key shuffle, two window passes over it (ordered lag +
    reverse row_number), one map-side-combining count — the output is
    ``O(channels²)`` rows regardless of data size.
    """
    from pyspark.sql import Window

    ch = F.col(channel_col)
    isconv = F.when(ch == F.lit(conversion), 1).otherwise(0)
    w = Window.partitionBy(user_col).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wdesc = Window.partitionBy(user_col).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    marked = df.select(
        user_col, *order_cols, ch.alias("_ch"),
        isconv.alias("_ic"),
    ).withColumn(
        "_prior", F.sum("_ic").over(wrun) - F.col("_ic")
    )
    kept = marked.where(F.col("_prior") == 0)
    seq = kept.select(
        user_col, "_ch", "_ic",
        F.lag("_ch").over(w).alias("_prev"),
        F.row_number().over(wdesc).alias("_rnd"),
        F.max("_ic").over(Window.partitionBy(user_col)).alias("_has"),
    )
    hops = seq.select(
        F.coalesce(F.col("_prev"), F.lit(start_state)).alias("src"),
        F.when(
            F.col("_ic") == 1, F.lit(conv_state)
        ).otherwise(F.col("_ch")).alias("dst"),
    )
    terminals = seq.where(
        (F.col("_has") == 0) & (F.col("_rnd") == 1)
    ).select(
        F.col("_ch").alias("src"), F.lit(null_state).alias("dst")
    )
    return (
        hops.unionByName(terminals)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def markov_attribution(
    transitions: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    count_col: str = "n",
    start_state: str = "START",
    conv_state: str = "CONV",
    null_state: str = "NULL",
    n_squarings: int = 6,
    max_states: int = 256,
) -> DataFrame:
    """Removal-effect (first-order Markov) multi-touch attribution —
    the data-driven alternative to last-touch: each channel's credit
    is how much the corpus-wide conversion probability DROPS when
    paths through that channel are severed (transitions touching the
    channel removed, probabilities NOT renormalized — the standard
    removal-effect definition),

    ``removal(c) = 1 − P_c(conv) / P(conv)``,
    ``share(c) = removal(c) / Σ removal``.

    Absorption probabilities come from ``n_squarings`` squarings of
    the augmented transition matrix ``[[Q, r], [0, 1]]`` (equivalent
    to summing ``2^n_squarings`` path-length terms of ``Σ Qⁿ r`` —
    residual mass decays geometrically, so 6 squarings ≈ 64 steps is
    convergence to ~1e-12 on any chain that absorbs at all). The
    FIXED squaring schedule (not an exact solve) is deliberate: both
    engines — and the SQL twin — reproduce the identical computation.

    Scale contract: the transition frame is ``O(channels²)`` rows by
    construction (:func:`touch_transitions` collapses the corpus
    before this step); it is collected driver-side with an explicit
    ``max_states`` guard, and the squarings run on the driver in
    numpy — the same bounded-collect discipline as the k·dims
    centroid collects in ``similarity``. Output: one row per channel:
    ``(channel, removal_effect, attribution_share, p_conv)``, floats
    rounded to 6dp.
    """
    import numpy as np

    rows = transitions.select(
        F.col(src_col).alias("s"),
        F.col(dst_col).alias("d"),
        F.col(count_col).cast("double").alias("n"),
    ).collect()
    states = sorted(
        {r["s"] for r in rows}
        | {r["d"] for r in rows if r["d"] not in (conv_state, null_state)}
    )
    if len(states) > max_states:
        raise ValueError(
            f"markov_attribution: {len(states)} transient states exceed "
            f"max_states={max_states} — the transition frame should be "
            "channel-level, not event-level"
        )
    idx = {s: i for i, s in enumerate(states)}
    t = len(states)
    outsum = {}
    for r in rows:
        outsum[r["s"]] = outsum.get(r["s"], 0.0) + r["n"]
    # probability rows: transient -> transient (Q) and -> CONV (r)
    probs = []
    for r in rows:
        p = r["n"] / outsum[r["s"]]
        probs.append((r["s"], r["d"], p))

    def _absorb(excluded: set) -> float:
        m = np.zeros((t + 1, t + 1))
        m[t, t] = 1.0
        for s, d, p in probs:
            if s in excluded or d in excluded:
                continue
            if d == conv_state:
                m[idx[s], t] += p
            elif d != null_state:
                m[idx[s], idx[d]] += p
        for _ in range(int(n_squarings)):
            m = m @ m
        return float(m[idx[start_state], t])

    p_full = _absorb(set())
    channels = [s for s in states if s != start_state]
    removals = {}
    for c in channels:
        p_c = _absorb({c})
        removals[c] = (
            1.0 - p_c / p_full if p_full > 0 else float("nan")
        )
    tot = sum(removals.values())
    spark = transitions.sparkSession
    out = local_frame(
        spark,
        [
            (
                c,
                float(removals[c]),
                float(removals[c] / tot) if tot > 0 else None,
                float(p_full),
            )
            for c in channels
        ],
        "channel string, _rm double, _sh double, _pc double",
    )
    return out.select(
        "channel",
        F.round("_rm", 6).alias("removal_effect"),
        F.round("_sh", 6).alias("attribution_share"),
        F.round("_pc", 6).alias("p_conv"),
    )


def _sorted_series(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    max_series_length: int | None,
    op: str,
) -> DataFrame:
    """The bounded-series scaffold of the per-key recursive
    forecasters (:func:`holt_forecast`, :func:`holt_winters_forecast`,
    :func:`croston_forecast`): rows with a non-NULL value and order
    key, one row per key carrying ``_xs``, its values as doubles in
    ``order_cols`` order (a sorted ``collect_list`` of structs —
    deterministic). The per-key fold holds the whole series in one
    row, so a preflight count first raises ``ValueError`` naming
    ``op`` on any key above ``max_series_length`` (``None`` opts
    out)."""
    v = F.col(value_col).cast("double")
    cond = v.isNotNull()
    for c in order_cols:
        cond = cond & F.col(c).isNotNull()
    base = df.where(cond)
    if max_series_length is not None:
        hot = (
            base.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > int(max_series_length))
            .orderBy(F.col("_n").desc())
            .limit(1)
            .collect()
        )
        if hot:
            r = hot[0]
            key = tuple(r[c] for c in key_cols)
            raise ValueError(
                f"{op}: key {key} has {r['_n']} rows, above "
                f"max_series_length={max_series_length}. The per-key "
                "fold materializes the whole series in one row — "
                "pre-aggregate (e.g. to daily points) or pass "
                "max_series_length=None to override deliberately."
            )
    return (
        base.groupBy(*key_cols)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        *[F.col(c) for c in order_cols], v.alias("_v")
                    )
                )
            ).alias("_s")
        )
        .select(
            *key_cols,
            F.transform(F.col("_s"), lambda s: s["_v"]).alias("_xs"),
        )
    )


def holt_forecast(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.3,
    beta: float = 0.1,
    horizon: int = 1,
    max_series_length: int | None = 100_000,
) -> DataFrame:
    """Holt's linear-trend exponential smoothing per key — the
    workhorse short-horizon forecaster for per-entity metric series
    (traffic, spend, sensor drift):

    ``l_t = α·x_t + (1−α)(l_{t−1} + b_{t−1})``,
    ``b_t = β(l_t − l_{t−1}) + (1−β)·b_{t−1}``,
    init ``l_2 = x_2, b_2 = x_2 − x_1`` (each point consumed once,
    recursion from t=3); forecast ``l_n + h·b_n``.

    Scale shape: the recursion is inherently sequential per key, so
    each key's series is collected into ONE in-row array (sorted
    struct array — deterministic order) and folded JVM-side with
    ``F.aggregate`` — no Python, no window-per-step, one shuffle by
    key. Per-row memory is O(series length), so the bounded-series
    contract is ENFORCED up front: a preflight count raises on any
    key above ``max_series_length`` (:func:`_sorted_series`; pass
    ``None`` to opt out). The identical fold order makes the float
    recursion engine-reproducible — a SQL twin stepping the same
    recursion matches bit-for-bit before the 6dp rounding. Output: one row per key:
    ``(keys..., n, level, trend, forecast)``.
    """
    arr = _sorted_series(
        df, key_cols, order_cols, value_col, max_series_length,
        "holt_forecast",
    )
    n = F.size("_xs")
    x1 = F.element_at("_xs", 1)
    x2 = F.element_at("_xs", 2)
    a_, b_ = F.lit(float(alpha)), F.lit(float(beta))
    init = F.struct(x2.alias("l"), (x2 - x1).alias("b"))

    def step(acc, x):
        lnew = a_ * x + (F.lit(1.0) - a_) * (acc["l"] + acc["b"])
        bnew = b_ * (lnew - acc["l"]) + (F.lit(1.0) - b_) * acc["b"]
        return F.struct(lnew.alias("l"), bnew.alias("b"))

    folded = F.aggregate(
        F.slice(F.col("_xs"), 3, F.greatest(n - 2, F.lit(0))),
        init,
        step,
    )
    staged = arr.withColumn(
        "_fit",
        F.when(n >= 2, folded).otherwise(
            F.struct(x1.alias("l"), F.lit(0.0).alias("b"))
        ),
    )
    return staged.select(
        *key_cols,
        n.cast("bigint").alias("n"),
        F.round(F.col("_fit.l"), 6).alias("level"),
        F.round(F.col("_fit.b"), 6).alias("trend"),
        F.round(
            F.col("_fit.l") + F.lit(float(horizon)) * F.col("_fit.b"), 6
        ).alias("forecast"),
    )


def ljung_box(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    max_lag: int,
) -> DataFrame:
    """Per-key Ljung-Box portmanteau test — "is this series white
    noise?", the standard residual-autocorrelation diagnostic run
    after ANY per-key forecast (:func:`holt_forecast`,
    :func:`ewma_bounded`) before trusting its intervals:

    ``Q = n(n+2) · Σ_{k=1..h} r_k² / (n−k)``  ~  χ²(h) under H0,

    with ``r_k`` the biased sample ACF (same estimator as
    :func:`acf_by_key`, unrounded here — rounding before squaring
    would bias Q). Plan shape is exactly acf_by_key's: ONE shuffle on
    the key, ONE ordered window pass producing all ``h`` lead columns
    plus the per-key mean (a single WindowExec), one per-key
    aggregation — per-key state is the ordered series (bounded-key
    caveat as :func:`cusum_changepoint`). The χ²(h) p-value crosses
    to Python once, as the shared vectorized ``chi2_sf_udf`` over the
    already-aggregated per-key rows.

    Output per key: ``(keys..., n_obs, max_lag, q_stat, p_value)``;
    ``q_stat`` is NULL when ``n ≤ max_lag`` (the statistic needs
    n−k > 0 pairs at every lag) or the series is constant.
    """
    from pyspark.sql import Window

    from padua_spark.functions.distributions import chi2_sf_udf

    x = F.col(value_col).cast("double")
    base = df.where(x.isNotNull()).select(
        *key_cols,
        *[c for c in order_cols if c not in key_cols],
        x.alias("_x"),
    )
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    w_all = Window.partitionBy(*key_cols)
    staged = base.select(
        *key_cols,
        "_x",
        F.avg("_x").over(w_all).alias("_mu"),
        *[
            F.lead("_x", k).over(w).alias(f"_l{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    d = F.col("_x") - F.col("_mu")
    agg = staged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(d * d).alias("_sxx"),
        *[
            F.sum(d * (F.col(f"_l{k}") - F.col("_mu"))).alias(f"_s{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    nd = F.col("n_obs").cast("double")
    acc = None
    for k in range(1, max_lag + 1):
        rk = F.col(f"_s{k}") / F.col("_sxx")
        term = rk * rk / (nd - F.lit(float(k)))
        acc = term if acc is None else acc + term
    q = F.when(
        (F.col("n_obs") > max_lag) & (F.col("_sxx") > 0),
        nd * (nd + 2.0) * acc,
    )
    staged2 = agg.select(
        *key_cols,
        "n_obs",
        F.lit(int(max_lag)).alias("max_lag"),
        q.alias("_q"),
    )
    return staged2.select(
        *key_cols,
        "n_obs",
        "max_lag",
        F.round("_q", 6).alias("q_stat"),
        F.round(
            chi2_sf_udf(
                F.col("_q"), F.lit(float(max_lag)).cast("double")
            ),
            6,
        ).alias("p_value"),
    )


def forecast_accuracy(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    actual_col: str,
    forecast_col: str,
    season: int = 1,
) -> DataFrame:
    """Per-key forecast accuracy battery — MAE, RMSE, sMAPE, MASE —
    the evaluation half every forecaster (:func:`holt_forecast`,
    :func:`ewma_bounded`) needs before its output is trusted. MASE
    (Hyndman-Koehler 2006) scales MAE by the in-sample seasonal-naïve
    error so it is unit-free and defined where percentage errors
    break (zero actuals):

    ``mase = mean|a_t − f_t| / mean_{t>m}|a_t − a_{t−m}|``

    sMAPE uses the symmetric form ``mean(2|e_t|/(|a_t|+|f_t|))`` over
    rows where the denominator is positive. Rows with a NULL forecast
    (e.g. the warm-up prefix of a lagged model) are excluded from the
    error means but still feed the naïve scale — the standard MASE
    convention (the scale is a property of the SERIES, not the
    model's coverage).

    ONE shuffle on the key, ONE ordered window pass for the seasonal
    lag, one per-key aggregation — all closed-form SQL. Output per
    key: ``(keys..., n_obs, n_scored, mae, rmse, smape, mase)``,
    floats rounded to 6dp; mase NULL when the naïve scale is 0
    (constant series).
    """
    from pyspark.sql import Window

    a = F.col(actual_col).cast("double")
    f_ = F.col(forecast_col).cast("double")
    base = df.where(a.isNotNull()).select(
        *key_cols,
        *[c for c in order_cols if c not in key_cols],
        a.alias("_a"),
        f_.alias("_f"),
    )
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    staged = base.withColumn(
        "_lag", F.lag("_a", int(season)).over(w)
    )
    e = F.col("_a") - F.col("_f")
    denom = F.abs(F.col("_a")) + F.abs(F.col("_f"))
    agg = staged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.count("_f").alias("n_scored"),
        F.avg(F.abs(e)).alias("_mae"),
        F.avg(e * e).alias("_mse"),
        F.avg(
            F.when(denom > 0, 2.0 * F.abs(e) / denom)
        ).alias("_smape"),
        F.avg(F.abs(F.col("_a") - F.col("_lag"))).alias("_scale"),
    )
    return agg.select(
        *key_cols,
        "n_obs",
        "n_scored",
        F.round("_mae", 6).alias("mae"),
        F.round(F.sqrt("_mse"), 6).alias("rmse"),
        F.round("_smape", 6).alias("smape"),
        F.round(
            F.when(F.col("_scale") > 0, F.col("_mae") / F.col("_scale")),
            6,
        ).alias("mase"),
    )


def holt_winters_forecast(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    period: int,
    alpha: float = 0.5,
    beta: float = 0.25,
    gamma: float = 0.5,
    horizon: int = 1,
    max_series_length: int | None = 100_000,
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing per key — the
    seasonality-aware extension of :func:`holt_forecast` (a weekly
    spend cycle makes Holt's trend chase the weekday wave; HW models
    it):

    ``l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1} + b_{t−1})``
    ``b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}``
    ``s_t = γ(x_t − l_t) + (1−γ)s_{t−m}``

    Initialization (documented precisely — both engines share it):
    with ``m = period``, ``l₀ = mean(x_1..x_m)`` (sequential
    left-fold sum, then one division), ``b₀ = (mean(x_{m+1}..x_{2m})
    − l₀)/m``, ``s_i = x_i − l₀`` for the first season; the
    recursion consumes ``x_{2m+1}..x_n`` exactly once. Keys with
    ``n < 2m`` are DROPPED (the init needs two full seasons — the
    standard requirement, enforced rather than guessed around).
    Forecast ``h`` steps out: ``l_n + h·b_n + s[((n+h−1) mod m)+1]``
    (the most recent seasonal of the target phase).

    Scale shape is :func:`_sorted_series`'s: one shuffle by key, the
    ordered series collected into ONE in-row array and folded JVM-side
    with ``F.aggregate`` — state is (level, trend, m seasonals, t), so
    per-row memory is O(series + m) and the bounded-series contract
    is ENFORCED up front (same preflight; ``None`` opts out). With
    binary-fraction smoothing constants the float recursion is
    bit-identical on any engine stepping the same order (the SQL twin
    is a recursive CTE carrying the seasonal list). Output per key:
    ``(keys..., n, level, trend, seasonal_next, forecast)``, 6dp.
    """
    m = int(period)
    if m < 2:
        raise ValueError("holt_winters_forecast: period must be >= 2")
    arr = _sorted_series(
        df, key_cols, order_cols, value_col, max_series_length,
        "holt_winters_forecast",
    ).where(F.size("_xs") >= 2 * m)
    n = F.size("_xs")
    a_ = F.lit(float(alpha))
    b_ = F.lit(float(beta))
    g_ = F.lit(float(gamma))
    md = F.lit(float(m))

    def _mean(sl):
        return (
            F.aggregate(sl, F.lit(0.0), lambda acc, x: acc + x) / md
        )

    l0 = _mean(F.slice("_xs", 1, m))
    mean2 = _mean(F.slice("_xs", m + 1, m))
    staged = arr.withColumn("_l0", l0).withColumn(
        "_b0", (mean2 - F.col("_l0")) / md
    ).withColumn(
        "_sl0",
        F.transform(
            F.slice("_xs", 1, m), lambda x: x - F.col("_l0")
        ),
    )
    init = F.struct(
        F.col("_l0").alias("l"),
        F.col("_b0").alias("b"),
        F.col("_sl0").alias("sl"),
        F.lit(2 * m).cast("int").alias("t"),
    )

    def step(acc, x):
        p = ((acc["t"] % F.lit(m)) + 1).cast("int")
        s_prev = F.element_at(acc["sl"], p)
        lnew = a_ * (x - s_prev) + (F.lit(1.0) - a_) * (
            acc["l"] + acc["b"]
        )
        bnew = b_ * (lnew - acc["l"]) + (F.lit(1.0) - b_) * acc["b"]
        snew = g_ * (x - lnew) + (F.lit(1.0) - g_) * s_prev
        sl_new = F.concat(
            F.slice(acc["sl"], 1, p - 1),
            F.array(snew),
            F.slice(acc["sl"], p + 1, F.lit(m) - p),
        )
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            sl_new.alias("sl"),
            (acc["t"] + 1).cast("int").alias("t"),
        )

    folded = F.aggregate(
        F.slice(F.col("_xs"), 2 * m + 1, F.greatest(n - 2 * m, F.lit(0))),
        init,
        step,
    )
    fit = staged.withColumn("_fit", folded)
    h = float(horizon)
    p_f = (
        (F.col("_fit.t") + F.lit(int(horizon)) - 1) % F.lit(m) + 1
    ).cast("int")
    s_next = F.element_at(F.col("_fit.sl"), p_f)
    return fit.select(
        *key_cols,
        n.cast("bigint").alias("n"),
        F.round(F.col("_fit.l"), 6).alias("level"),
        F.round(F.col("_fit.b"), 6).alias("trend"),
        F.round(s_next, 6).alias("seasonal_next"),
        F.round(
            F.col("_fit.l") + F.lit(h) * F.col("_fit.b") + s_next, 6
        ).alias("forecast"),
    )


def seasonal_decompose(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    period: int,
    exact_scale: int | None = None,
) -> DataFrame:
    """Classical additive seasonal decomposition per key
    (trend + seasonal + residual — statsmodels
    ``seasonal_decompose``'s moving-average method): the diagnostic
    that tells you WHETHER a series needs
    :func:`holt_winters_forecast` (strong seasonal indices) or plain
    :func:`holt_forecast` (indices ≈ 0):

    - trend: centered moving average of length ``m`` — for even m
      the standard 2×m MA ``(½x_{t−h} + Σ_{|i|<h} x_{t+i} +
      ½x_{t+h})/m`` (h = m/2), NULL where the window is incomplete;
    - seasonal: per-phase mean of the detrended series, CENTERED so
      the indices sum to 0 (the additive identifiability convention);
    - residual: ``x − trend − seasonal`` (from the ROUNDED index —
      see below).

    **Engine reproducibility** (``exact_scale``): the seasonal index
    is a cross-partition mean, and float summation order makes its
    last ulps engine-dependent — invisible until the data is
    decimal-valued, where indices land EXACTLY on rounding midpoints
    (money in cents: every intermediate is a small dyadic rational).
    With ``exact_scale=10**d`` for d-decimal data, every numerator
    stays an exact BIGINT (values scaled to integers; the 2×m trend
    numerator ``2S − x_{t−h} − x_{t+h}``; per-phase detrended SUMS)
    and each output is ONE division of exact integers plus an
    order-fixed fold over the m phase means — bit-identical on any
    engine. ``None`` keeps plain float arithmetic (fine for
    continuous data, which never ties at a rounding boundary).

    Plan: ONE ordered window pass per key (position, centered sum,
    edge lags — one WindowExec), one bounded (key, phase) aggregation
    joined back, one per-key centering aggregation joined back. Per-
    key state is the ordered series (the usual bounded-key caveat).
    Output per observation: ``(keys..., order_cols..., value, trend,
    seasonal, residual)``, floats 6dp.
    """
    m = int(period)
    if m < 2:
        raise ValueError("seasonal_decompose: period must be >= 2")
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    cond = v.isNotNull()
    for c in order_cols:
        cond = cond & F.col(c).isNotNull()
    scale = int(exact_scale) if exact_scale else 1
    if exact_scale:
        xin = F.round(v * F.lit(float(scale))).cast("bigint")
    else:
        xin = v
    base = df.where(cond).select(
        *key_cols,
        *[c for c in order_cols if c not in key_cols],
        xin.alias("_x"),
    )
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    h = m // 2
    # trend numerator over denominator 2m (even) / m (odd) in _x units
    if m % 2 == 0:
        win = w.rowsBetween(-h, h)
        full = F.count(F.lit(1)).over(win) == (m + 1)
        t_num = F.when(
            full,
            2 * F.sum("_x").over(win)
            - F.lag("_x", h).over(w)
            - F.lead("_x", h).over(w),
        )
        t_den = 2 * m
    else:
        win = w.rowsBetween(-h, h)
        full = F.count(F.lit(1)).over(win) == m
        t_num = F.when(full, F.sum("_x").over(win))
        t_den = m
    staged = base.select(
        *key_cols,
        *[c for c in order_cols if c not in key_cols],
        "_x",
        t_num.alias("_tn"),
        ((F.row_number().over(w) - 1) % m + 1).alias("_phase"),
    )
    from pyspark import StorageLevel

    staged = staged.persist(StorageLevel.MEMORY_AND_DISK)
    # detrended numerator in units of 1/t_den: integer when exact
    det_num = F.col("_x") * t_den - F.col("_tn")
    ph = staged.where(F.col("_tn").isNotNull()).groupBy(
        *key_cols, "_phase"
    ).agg(
        F.sum(det_num).alias("_dsum"),
        F.count(F.lit(1)).alias("_dn"),
    )
    # ONE division of exact sums -> identical doubles on any engine
    si_raw = ph.select(
        *key_cols,
        "_phase",
        (
            F.col("_dsum").cast("double")
            / (F.col("_dn").cast("double") * F.lit(float(t_den)))
        ).alias("_si_raw"),
    )
    # phase-ordered fold for the centering mean (engine-fixed order)
    centers = (
        si_raw.groupBy(*key_cols)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("_phase", "_si_raw"))
            ).alias("_arr")
        )
        .select(
            *key_cols,
            (
                F.aggregate(
                    F.col("_arr"),
                    F.lit(0.0),
                    lambda acc, e: acc + e["_si_raw"],
                )
                / F.size("_arr").cast("double")
            ).alias("_si_mean"),
        )
    )
    # explicit HALF_UP: with decimal-valued data the index lands
    # EXACTLY on 6dp midpoints, where engine round() modes disagree
    # (JVM BigDecimal HALF_UP vs rint half-to-even); floor(x*1e6+0.5)
    # on the identical double is portable
    si_val = (F.col("_si_raw") - F.col("_si_mean")) / F.lit(
        float(scale)
    )
    idx = si_raw.join(centers, on=list(key_cols)).select(
        *key_cols,
        "_phase",
        (
            F.floor(si_val * F.lit(1e6) + F.lit(0.5)).cast("double")
            / F.lit(1e6)
        ).alias("_si"),
    )
    out = staged.join(idx, on=[*key_cols, "_phase"], how="left")
    from padua_spark.io_utils import track_cached

    val = F.col("_x").cast("double") / F.lit(float(scale))
    trend = F.col("_tn").cast("double") / F.lit(float(t_den * scale))
    res = out.select(
        *key_cols,
        *[c for c in order_cols if c not in key_cols],
        F.round(val, 6).alias("value"),
        F.round(trend, 6).alias("trend"),
        F.col("_si").alias("seasonal"),
        F.round(val - trend - F.col("_si"), 6).alias("residual"),
    )
    return track_cached(res, staged)


def acf_pacf(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    max_lag: int = 3,
) -> DataFrame:
    """Autocorrelation + partial autocorrelation per group through
    ``max_lag`` — the ARIMA order-selection diagnostic (ACF tails ⇒
    MA order; PACF cuts off at the AR order), the lag-k extension of
    :func:`durbin_watson`'s single-lag check:

    ``acf_k = c_k / c_0`` from the sample autocovariances with the
    full-series mean and denominator n (statsmodels' MLE flavor),
    ``pacf_k`` from the Levinson–Durbin recursion on ``c_0..c_k``
    (the Yule–Walker solve, unrolled as closed-form column
    expressions — no matrix library, no UDF).

    Scale shape: ONE window pass on the group shuffle producing the
    ``max_lag`` lag columns, ONE aggregation to the exact cross sums
    — each ``c_k`` is assembled ALGEBRAICALLY from
    ``Σ x_t·x_{t−k}``, the head/tail partial sums and the full mean
    (``c_k = (Σx_t·x_{t−k} − x̄(S_head+S_tail) + n_k·x̄²)/n``), so
    no demeaned column is ever materialized and integer series are
    engine-exact. The recursion then runs on the per-group row.
    Output: one row per (group, lag 1..max_lag):
    ``(groups…, lag, acf, pacf)``, 6dp; NULL when c₀ = 0 or the lag
    exceeds n−1.

    Beyond the reference; standard per Box & Jenkins; matches
    statsmodels acf(fft=False)/pacf(method='ywm').
    """
    p = int(max_lag)
    if p < 1:
        raise ValueError("acf_pacf: max_lag must be >= 1")
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    )
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    lagged = base.select(
        *group_cols,
        "_v",
        *[F.lag("_v", k).over(w).alias(f"_l{k}") for k in range(1, p + 1)],
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_v").alias("_s1"),
        F.sum(F.col("_v") * F.col("_v")).alias("_s2"),
    ]
    for k in range(1, p + 1):
        lk = F.col(f"_l{k}")
        aggs += [
            F.sum(F.col("_v") * lk).alias(f"_m{k}"),
            F.sum(F.when(lk.isNotNull(), F.col("_v"))).alias(f"_h{k}"),
            F.sum(lk).alias(f"_t{k}"),
            F.count(lk).cast("bigint").alias(f"_nk{k}"),
        ]
    agg = lagged.groupBy(*group_cols).agg(*aggs)
    nd = F.col("n").cast("double")
    mean = F.col("_s1") / nd
    c = {0: F.col("_s2") / nd - mean * mean}
    for k in range(1, p + 1):
        c[k] = (
            F.col(f"_m{k}")
            - mean * (F.col(f"_h{k}") + F.col(f"_t{k}"))
            + F.col(f"_nk{k}").cast("double") * mean * mean
        ) / nd
    # Levinson–Durbin unroll: pacf_k is the k-th reflection coefficient
    pacf = {}
    phi_prev: dict[int, F.Column] = {}
    vk = c[0]
    for k in range(1, p + 1):
        num = c[k]
        for j in range(1, k):
            num = num - phi_prev[j] * c[k - j]
        kk = num / vk
        phi_new = {
            j: phi_prev[j] - kk * phi_prev[k - j] for j in range(1, k)
        }
        phi_new[k] = kk
        pacf[k] = kk
        vk = vk * (1.0 - kk * kk)
        phi_prev = phi_new
    ok0 = c[0] > 0
    stack_args = []
    for k in range(1, p + 1):
        okk = ok0 & (F.col("n") > k)
        stack_args += [
            F.lit(k),
            F.round(F.when(okk, c[k] / c[0]), 6),
            F.round(F.when(okk, pacf[k]), 6),
        ]
    return agg.select(
        *group_cols,
        F.stack(
            F.lit(p), *stack_args
        ).alias("lag", "acf", "pacf"),
    )


def granger_causality(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    y_col: str,
    x_col: str,
) -> DataFrame:
    """Lag-1 Granger causality per group — does yesterday's x help
    predict today's y beyond yesterday's y? The F-test comparing the
    restricted AR(1) ``y_t ~ 1 + y_{t−1}`` against the augmented
    ``y_t ~ 1 + y_{t−1} + x_{t−1}``:

    both OLS fits are CLOSED FORM from centered cross-sums (simple
    regression for the restricted model; the 2×2 normal-equation
    solve for the augmented one), so the whole test is ONE window
    pass (two lag columns on the group shuffle) + ONE aggregation to
    exact raw sums + scalar algebra:

    ``F = (RSS_r − RSS_u) / (RSS_u / (n−3))``, ``p = F_sf(F, 1,
    n−3)`` via the shared Arrow-batched incomplete-beta
    (:func:`~padua_spark.functions.distributions.f_sf_udf` — the
    same CDF the ANOVA battery uses).

    Output per group: ``(groups…, n, beta_x, f_stat, p_value)``,
    6dp; NULL when n < 4 or a fit is degenerate (zero lag variance /
    singular normal equations / zero residual variance).

    Beyond the reference; standard per Granger 1969 (the fixed-lag-1
    form; higher orders need a matrix solve — see cox_ph for the
    driver-assembled pattern if you need them).
    """
    from padua_spark.functions.distributions import f_sf_udf

    y = F.col(y_col).cast("double")
    x = F.col(x_col).cast("double")
    base = df.where(y.isNotNull() & x.isNotNull()).select(
        *group_cols, *order_cols, y.alias("_y"), x.alias("_x")
    )
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    lagged = base.select(
        *group_cols,
        "_y",
        F.lag("_y").over(w).alias("_a"),
        F.lag("_x").over(w).alias("_b"),
    ).where(F.col("_a").isNotNull() & F.col("_b").isNotNull())
    yy = F.col("_y")
    a = F.col("_a")
    b = F.col("_b")
    agg = lagged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(yy).alias("_sy"),
        F.sum(a).alias("_sa"),
        F.sum(b).alias("_sb"),
        F.sum(yy * yy).alias("_syy"),
        F.sum(a * a).alias("_saa"),
        F.sum(b * b).alias("_sbb"),
        F.sum(a * b).alias("_sab"),
        F.sum(a * yy).alias("_say"),
        F.sum(b * yy).alias("_sby"),
    )
    nd = F.col("n").cast("double")
    syy = F.col("_syy") - F.col("_sy") * F.col("_sy") / nd
    saa = F.col("_saa") - F.col("_sa") * F.col("_sa") / nd
    sbb = F.col("_sbb") - F.col("_sb") * F.col("_sb") / nd
    sab = F.col("_sab") - F.col("_sa") * F.col("_sb") / nd
    say = F.col("_say") - F.col("_sa") * F.col("_sy") / nd
    sby = F.col("_sby") - F.col("_sb") * F.col("_sy") / nd
    det = saa * sbb - sab * sab
    beta_a = (say * sbb - sby * sab) / det
    beta_b = (sby * saa - say * sab) / det
    rss_r = syy - say * say / saa
    rss_u = syy - beta_a * say - beta_b * sby
    ok = (
        (F.col("n") >= 4)
        & (saa > 0)
        & (det > 0)
        & (rss_u > 0)
    )
    f_stat = F.when(
        ok, (rss_r - rss_u) / (rss_u / (nd - 3.0))
    )
    staged = agg.withColumn("_f", f_stat).withColumn(
        "_beta", F.when(ok, beta_b)
    )
    staged = staged.withColumn(
        "_p",
        F.when(
            F.col("_f").isNotNull() & (F.col("_f") >= 0),
            f_sf_udf(
                F.col("_f"), F.lit(1.0), F.col("n").cast("double") - 3.0
            ),
        ),
    )
    return staged.select(
        *group_cols, "n",
        F.round("_beta", 6).alias("beta_x"),
        F.round("_f", 6).alias("f_stat"),
        F.round("_p", 6).alias("p_value"),
    )


def kpss_level(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """KPSS level-stationarity test per group (Kwiatkowski, Phillips,
    Schmidt & Shin 1992) — the null-reversed companion to unit-root
    checks the ordered-window family already runs (ADF-style tests
    take non-stationarity as the null; KPSS takes STATIONARITY as the
    null, so "reject" here means the series drifts — the pair
    disambiguates):

    ``η = Σ_t S_t² / (n²·σ̂²)`` with ``S_t = Σ_{i≤t}(x_i − x̄)`` and
    the lag-0 (short-run) variance ``σ̂² = Σ(x_i − x̄)²/n`` — the
    textbook statistic without HAC bandwidth (documented: an
    autocorrelation-robust long-run variance would need a kernel
    bandwidth choice; the lag-0 form is the engine-exact base case,
    conservative under positive autocorrelation).

    Scale shape (the :func:`acf_pacf` algebra trick): S_t needs the
    mean BEFORE the cumsum, but ``S_t = C_t − t·x̄`` with ``C_t`` the
    plain running sum and ``t`` the row index, so
    ``Σ S_t² = Σ C_t² − 2x̄·Σ t·C_t + x̄²·Σ t²`` — ONE ordered window
    pass (running sum + row_number, window PARTITIONED BY the group
    key per the family contract) and ONE aggregation; no demeaned
    column materialized, no second pass. Asymptotic level critical
    values 0.347 / 0.463 / 0.739 (10/5/1%). Output per group:
    ``(groups..., n, kpss_stat, crit_10pct, crit_5pct, crit_1pct,
    reject_5pct)``, 6dp; NULL stat when n < 2 or σ̂² = 0.
    """
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    )
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    stepped = base.select(
        *group_cols,
        F.col("_v"),
        F.sum("_v").over(w).alias("_c"),
        F.row_number().over(wo).cast("double").alias("_t"),
    )
    agg = stepped.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_v").alias("_sx"),
        F.sum(F.col("_v") * F.col("_v")).alias("_sxx"),
        F.sum(F.col("_c") * F.col("_c")).alias("_scc"),
        F.sum(F.col("_t") * F.col("_c")).alias("_stc"),
        F.sum(F.col("_t") * F.col("_t")).alias("_stt"),
    )
    nd = F.col("_n").cast("double")
    mean = F.col("_sx") / nd
    var0 = (F.col("_sxx") - nd * mean * mean) / nd
    ss = (
        F.col("_scc")
        - 2.0 * mean * F.col("_stc")
        + mean * mean * F.col("_stt")
    )
    stat = F.when(
        (F.col("_n") >= 2) & (var0 > 0),
        ss / (nd * nd * var0),
    )
    return agg.select(
        *group_cols,
        F.col("_n").alias("n"),
        F.round(stat, 6).alias("kpss_stat"),
        F.lit(0.347).alias("crit_10pct"),
        F.lit(0.463).alias("crit_5pct"),
        F.lit(0.739).alias("crit_1pct"),
        F.when(stat.isNotNull(), stat > 0.463).alias("reject_5pct"),
    )


def croston_forecast(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    alpha: float = 0.5,
    max_series_length: int | None = 100_000,
) -> DataFrame:
    """Croston's method for INTERMITTENT demand per key (Croston
    1972) — the standard forecaster when most periods are zero
    (spare parts, long-tail SKUs, rare event types), where plain
    exponential smoothing is biased toward zero right after each
    demand spike:

    separate smoothings of the nonzero demand SIZE ``z`` and the
    inter-demand INTERVAL ``p``: walking the series in order with a
    gap counter ``q`` (periods since the last demand, incremented
    every period), each demand period updates
    ``z ← α·x + (1−α)·z``, ``p ← α·q + (1−α)·p`` and resets the gap;
    the first demand initializes ``z = x, p = q``. Demand rate
    forecast ``z/p`` plus the Syntetos–Boylan approximation
    ``(1 − α/2)·z/p`` (the bias-corrected variant every comparison
    recommends).

    Scale shape: the recursion is inherently sequential per key —
    the :func:`_sorted_series` contract: ONE sorted in-row array
    per key folded JVM-side (``F.aggregate``, deterministic struct
    sort), one shuffle by key, bounded-series preflight ENFORCED via
    ``max_series_length``. α an exact binary fraction keeps the float
    recursion bit-identical across engines. Output per key:
    ``(keys..., n, n_nonzero, demand_level, interval_level,
    forecast, forecast_sba)``, 6dp; NULLs when the series has no
    nonzero demand.

    Beyond the reference; standard per Croston 1972 / Syntetos &
    Boylan 2005.
    """
    arr = _sorted_series(
        df, key_cols, order_cols, value_col, max_series_length,
        "croston_forecast",
    )
    a_ = F.lit(float(alpha))
    init = F.struct(
        F.lit(None).cast("double").alias("z"),
        F.lit(None).cast("double").alias("p"),
        F.lit(0.0).alias("q"),
        F.lit(False).alias("started"),
    )

    def step(acc, x):
        qq = acc["q"] + F.lit(1.0)
        demand = x > 0
        z_new = F.when(
            demand & acc["started"],
            a_ * x + (F.lit(1.0) - a_) * acc["z"],
        ).when(demand, x).otherwise(acc["z"])
        p_new = F.when(
            demand & acc["started"],
            a_ * qq + (F.lit(1.0) - a_) * acc["p"],
        ).when(demand, qq).otherwise(acc["p"])
        return F.struct(
            z_new.alias("z"),
            p_new.alias("p"),
            F.when(demand, F.lit(0.0)).otherwise(qq).alias("q"),
            (acc["started"] | demand).alias("started"),
        )

    staged = arr.select(
        *key_cols,
        F.size("_xs").cast("bigint").alias("n"),
        F.size(
            F.filter(F.col("_xs"), lambda x: x > 0)
        ).cast("bigint").alias("n_nonzero"),
        F.aggregate(F.col("_xs"), init, step).alias("_acc"),
    )
    z = F.col("_acc.z")
    p = F.col("_acc.p")
    rate = F.when(p > 0, z / p)
    return staged.select(
        *key_cols, "n", "n_nonzero",
        F.round(z, 6).alias("demand_level"),
        F.round(p, 6).alias("interval_level"),
        F.round(rate, 6).alias("forecast"),
        F.round(
            (F.lit(1.0) - a_ / F.lit(2.0)) * rate, 6
        ).alias("forecast_sba"),
    )


def rolling_correlation(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    x_col: str,
    y_col: str,
    window: int = 10,
) -> DataFrame:
    """Per-key ROLLING Pearson correlation over the trailing
    ``window`` observations — the co-movement monitor ("are latency
    and error rate still coupled this hour?") beside
    :func:`acf_by_key`'s self-correlation:

    ``r = (nΣxy − ΣxΣy) / √((nΣx² − (Σx)²)(nΣy² − (Σy)²))`` over the
    trailing frame (n = actual rows in frame, < ``window`` at the
    series head — reported). One ordered window pass per key (five
    trailing sums share the frame), NULL r where either variance is
    0 or n < 2.

    Scale shape: all windows partition by the key — never a global
    sort; the per-group size contract is the ordered-window family's
    (BENCH_SF1 "per-group ordered windows" note). Output: input keys
    + order cols + ``(n_w, rolling_corr)``, 6dp.

    Beyond the reference; the standard streaming-finance primitive.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    cond = x.isNotNull() & y.isNotNull()
    for c in order_cols:
        cond = cond & F.col(c).isNotNull()
    base = df.where(cond).select(
        *key_cols, *order_cols, x.alias("_x"), y.alias("_y")
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(-(int(window) - 1), 0)
    )
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum("_x").over(w)
    sy = F.sum("_y").over(w)
    sxx = F.sum(F.col("_x") * F.col("_x")).over(w)
    syy = F.sum(F.col("_y") * F.col("_y")).over(w)
    sxy = F.sum(F.col("_x") * F.col("_y")).over(w)
    num = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    r = F.when((n >= 2) & (vx > 0) & (vy > 0), num / F.sqrt(vx * vy))
    return base.select(
        *key_cols, *order_cols,
        n.cast("int").alias("n_w"),
        F.round(r, 6).alias("rolling_corr"),
    )


def decomposition_strength(
    df: DataFrame,
    key_cols: list[str],
    trend_col: str = "trend",
    seasonal_col: str = "seasonal",
    residual_col: str = "residual",
    exact_scale: int = 1_000_000,
) -> DataFrame:
    """Trend and seasonal STRENGTH of a decomposition (Hyndman &
    Athanasopoulos, *FPP3* §4.3) — the one-number-per-series summary
    of :func:`seasonal_decompose`'s per-row components ("which series
    are actually seasonal enough to model seasonally?"):

    ``F_T = max(0, 1 − Var(R)/Var(T + R))`` (variance left after the
    trend is removed from the deseasonalized series),
    ``F_S = max(0, 1 − Var(R)/Var(S + R))`` — both in [0, 1].

    Engine-exactness: the component columns are 6dp-rounded by
    :func:`seasonal_decompose` (exact multiples of 1e−6), so the
    variances are computed from EXACT integer micro-unit sums in
    decimal(38,0) (squares overflow int64 — the documented
    HUGEINT/decimal rule) and only the final ratio divides in double;
    both engines agree bit-for-bit. ONE aggregation per key over
    rows with a non-NULL trend. Output per key: ``(keys..., n_used,
    trend_strength, seasonal_strength)``, 6dp; NULL strengths when
    the relevant variance is 0 or n < 2.

    Beyond the reference; standard per Hyndman & Athanasopoulos FPP3
    / Wang, Smith & Hyndman 2006.
    """
    sc = int(exact_scale)
    r = F.round(F.col(residual_col) * sc).cast("decimal(38,0)")
    t = F.round(F.col(trend_col) * sc).cast("decimal(38,0)")
    s = F.round(F.col(seasonal_col) * sc).cast("decimal(38,0)")
    base = df.where(
        F.col(trend_col).isNotNull()
        & F.col(seasonal_col).isNotNull()
        & F.col(residual_col).isNotNull()
    )
    tr = t + r
    sr = s + r
    agg = base.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_used"),
        F.sum(r).alias("_sr"),
        F.sum(r * r).alias("_srr"),
        F.sum(tr).alias("_st"),
        F.sum(tr * tr).alias("_stt"),
        F.sum(sr).alias("_ss"),
        F.sum(sr * sr).alias("_sss"),
    )
    nd = F.col("n_used").cast("double")

    def var_num(s1, s2):
        # n·Σx² − (Σx)² as exact decimal, then double
        return (
            F.col("n_used").cast("decimal(38,0)") * F.col(s2)
            - F.col(s1) * F.col(s1)
        ).cast("double")

    vr = var_num("_sr", "_srr")
    vt = var_num("_st", "_stt")
    vs = var_num("_ss", "_sss")
    ft = F.when(
        (F.col("n_used") >= 2) & (vt > 0),
        F.greatest(F.lit(0.0), F.lit(1.0) - vr / vt),
    )
    fs = F.when(
        (F.col("n_used") >= 2) & (vs > 0),
        F.greatest(F.lit(0.0), F.lit(1.0) - vr / vs),
    )
    return agg.select(
        *key_cols, "n_used",
        F.round(ft, 6).alias("trend_strength"),
        F.round(fs, 6).alias("seasonal_strength"),
    )


def log_log_elasticity(
    df: DataFrame,
    key_cols: list[str],
    price_col: str,
    qty_col: str,
) -> DataFrame:
    """Per-key log-log price elasticity — the constant-elasticity
    regression every pricing analysis starts with:
    ``ln q = α + β·ln p`` fit by OLS per key, so ``β`` is the percent
    demand change per percent price change (β < −1 elastic,
    −1 < β < 0 inelastic):

    ``β = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)`` over ``x = ln p, y = ln q``
    with R² alongside; rows with non-positive price or quantity are
    excluded (logs undefined — the documented contract).

    ONE aggregation per key, six sums, closed-form after — the
    :func:`~padua_spark.operators.stats.linregress` shape grouped.
    Output per key: ``(keys..., n, elasticity, intercept, r2)``, 6dp;
    NULL fit when n < 2 or the price column is constant.

    Beyond the reference; the standard econometric primitive.
    """
    p = F.col(price_col).cast("double")
    q = F.col(qty_col).cast("double")
    base = df.where(
        p.isNotNull() & q.isNotNull() & (p > 0) & (q > 0)
    ).select(
        *key_cols, F.log(p).alias("_x"), F.log(q).alias("_y")
    )
    agg = base.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vy = nd * F.col("_syy") - F.col("_sy") * F.col("_sy")
    cov = nd * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    ok = (F.col("n") >= 2) & (vx > 0)
    beta = F.when(ok, cov / vx)
    alpha = F.when(
        ok, (F.col("_sy") - beta * F.col("_sx")) / nd
    )
    r2 = F.when(ok & (vy > 0), cov * cov / (vx * vy))
    return agg.select(
        *key_cols, "n",
        F.round(beta, 6).alias("elasticity"),
        F.round(alpha, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def _rayleigh_sums(theta) -> list:
    """The three additive circular sums ``(n, Σcosθ, Σsinθ)`` as
    ``n``/``_c``/``_s`` — one aggregation, mergeable by adding, shared
    by :func:`rayleigh_uniformity` and its windowed monitor."""
    return [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.cos(theta)).alias("_c"),
        F.sum(F.sin(theta)).alias("_s"),
    ]


def _rayleigh_summary() -> list:
    """Zar's closed-form finalizer over :func:`_rayleigh_sums`:
    ``(n, mean_direction, r_bar, circ_variance, rayleigh_z,
    p_value)``, 6dp, NULLs when n = 0."""
    nd = F.col("n").cast("double")
    rbar = F.when(
        F.col("n") > 0,
        F.sqrt(F.col("_c") * F.col("_c") + F.col("_s") * F.col("_s"))
        / nd,
    )
    z = nd * rbar * rbar
    p = F.exp(-z) * (
        1.0
        + (2.0 * z - z * z) / (4.0 * nd)
        - (
            24.0 * z
            - 132.0 * z * z
            + 76.0 * z * z * z
            - 9.0 * z * z * z * z
        ) / (288.0 * nd * nd)
    )
    return [
        "n",
        F.round(
            F.when(F.col("n") > 0, F.atan2(F.col("_s"), F.col("_c"))),
            6,
        ).alias("mean_direction"),
        F.round(rbar, 6).alias("r_bar"),
        F.round(1.0 - rbar, 6).alias("circ_variance"),
        F.round(z, 6).alias("rayleigh_z"),
        F.round(
            F.when(
                F.col("n") > 0,
                F.greatest(F.lit(0.0), F.least(p, F.lit(1.0))),
            ),
            6,
        ).alias("p_value"),
    ]


def rayleigh_uniformity(
    df: DataFrame,
    angle_col: str,
) -> DataFrame:
    """Rayleigh test of circular uniformity + the circular summary
    statistics — "is traffic uniform over the day, or is there a peak
    hour?" for any periodic phase (radians; derive from a timestamp
    as ``2π·seconds_into_period/period``):

    ``R̄ = √((Σcosθ)² + (Σsinθ)²)/n``, mean direction
    ``μ = atan2(Σsinθ, Σcosθ)``, circular variance ``1 − R̄``,
    ``z = n·R̄²`` with Zar's finite-n p-value correction
    ``p = e^{−z}[1 + (2z − z²)/(4n) − (24z − 132z² + 76z³ −
    9z⁴)/(288n²)]`` clamped to [0, 1].

    ONE aggregation (two trig sums); output 1 row: ``(n,
    mean_direction, r_bar, circ_variance, rayleigh_z, p_value)``,
    6dp; NULLs when n = 0.

    Beyond the reference; standard per Rayleigh 1880 / Zar,
    *Biostatistical Analysis* §27.
    """
    a = F.col(angle_col).cast("double")
    agg = df.where(a.isNotNull()).agg(*_rayleigh_sums(a))
    return agg.select(*_rayleigh_summary())


def burstiness(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    ts_col: str,
    exact_integer_gaps: bool = False,
) -> DataFrame:
    """Per-key burstiness of an event stream (Goh & Barabási 2008) —
    "is this user's activity Poisson-steady, periodic, or bursty?"
    from the inter-event time distribution:

    ``B = (σ_τ − μ_τ)/(σ_τ + μ_τ)`` over the per-key inter-event
    gaps τ (B → −1 periodic, 0 Poisson, → 1 maximally bursty), plus
    the gap CV and count. One lag window per key (ordered by
    ``order_cols``) and one aggregation — the
    :func:`event_lag_gaps` shape reduced per key.

    With ``exact_integer_gaps=True`` (timestamps in integer units —
    epoch micros) the two moments come from EXACT decimal(38,0) sums
    of the integer gaps, so σ/μ are bit-identical on any engine even
    at 1e10 magnitudes where engine-internal Welford orderings
    diverge past 6dp (the gini exact-integer discipline); the flag
    RAISES on a fractional gap rather than silently truncating.

    Output per key: ``(keys..., n_gaps, mean_gap, sd_gap,
    burstiness, cv)``, 6dp; NULL B when n_gaps < 2 or both moments
    are 0.

    Beyond the reference; standard per Goh & Barabási 2008.
    """
    t = F.col(ts_col).cast("double")
    cond = t.isNotNull()
    for c in order_cols:
        cond = cond & F.col(c).isNotNull()
    base = df.where(cond)
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    gaps = base.select(
        *key_cols, (t - F.lag(t).over(w)).alias("_g")
    ).where(F.col("_g").isNotNull())
    if exact_integer_gaps:
        gi = F.when(
            F.col("_g") == F.floor(F.col("_g")),
            F.col("_g").cast("decimal(38,0)"),
        ).otherwise(
            F.raise_error(
                F.lit(
                    "burstiness: exact_integer_gaps=True but a "
                    "fractional gap was found — pass integer "
                    "timestamps or drop the flag"
                )
            ).cast("decimal(38,0)")
        )
        gaps = gaps.select(*key_cols, gi.alias("_gi"))
        agg0 = gaps.groupBy(*key_cols).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.sum("_gi").alias("_s1"),
            F.sum(F.col("_gi") * F.col("_gi")).alias("_s2"),
        )
        nd = F.col("n_gaps").cast("double")
        mean = F.col("_s1").cast("double") / nd
        varnum = (
            F.col("n_gaps").cast("decimal(38,0)") * F.col("_s2")
            - F.col("_s1") * F.col("_s1")
        ).cast("double")
        sd = F.when(
            F.col("n_gaps") >= 2,
            F.sqrt(
                F.greatest(F.lit(0.0), varnum)
                / (nd * (nd - 1.0))
            ),
        )
        agg = agg0.select(
            *key_cols, "n_gaps", mean.alias("_m"), sd.alias("_s")
        )
    else:
        agg = gaps.groupBy(*key_cols).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.avg("_g").alias("_m"),
            F.stddev_samp("_g").alias("_s"),
        )
    ok = (F.col("n_gaps") >= 2) & (
        (F.col("_m") + F.col("_s")) > 0
    )
    b = F.when(
        ok, (F.col("_s") - F.col("_m")) / (F.col("_s") + F.col("_m"))
    )
    cv = F.when(
        (F.col("n_gaps") >= 2) & (F.col("_m") > 0),
        F.col("_s") / F.col("_m"),
    )
    return agg.select(
        *key_cols, "n_gaps",
        F.round("_m", 6).alias("mean_gap"),
        F.round("_s", 6).alias("sd_gap"),
        F.round(b, 6).alias("burstiness"),
        F.round(cv, 6).alias("cv"),
    )


def pettitt_test(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Pettitt rank-based changepoint test per group (Pettitt 1979) —
    the distribution-free complement to :func:`cusum_changepoint` /
    :func:`two_segment_changepoint` (those react to MEAN shifts in
    the observed scale; Pettitt is a Mann-Whitney sweep over every
    split point, so monotone transformations and heavy tails don't
    fool it):

    ``U_t = Σ_{i≤t} Σ_{j>t} sgn(x_i − x_j)``, ``K = max_t |U_t|``,
    approximate ``p ≈ 2·exp(−6K²/(n³+n²))`` (Pettitt's closed form,
    good for p < 0.5).

    Engine-exact computation via the midrank identity: by
    antisymmetry ``Σ_{i≤t}Σ_{j≤t} sgn = 0``, so
    ``U_t = Σ_{i≤t} D_i`` with ``D_i = 2·midrank_i − (n+1)`` — an
    exact INTEGER per row (``2·midrank = 2·count_less + count_eq +
    1``). Plan: one aggregation to the per-(group, value) count
    frame, midranks off a window over that AGGREGATED value-domain
    frame (partitioned by group — never the raw rows), one value
    join back, one group-partitioned ordered cumsum (the
    :func:`acf_pacf` family contract), one roll-up taking the
    max-|U| row with the EARLIEST index on ties (documented).
    Output per group: ``(groups..., n, k_stat, change_index,
    u_at_change, p_value)``, p 6dp; change_index is the 1-based
    position t (prefix = rows 1..t).
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    per = base.groupBy(*group_cols, F.col("_v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    wv = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy(*group_cols)
    # 2*midrank = 2*count_less + count_eq + 1 = 2*(run - c) + c + 1
    ranked = per.select(
        *group_cols,
        "_v",
        (
            2 * (F.sum("_c").over(wv) - F.col("_c"))
            + F.col("_c") + 1
        ).alias("_2r"),
        F.sum("_c").over(wg).cast("bigint").alias("_n"),
    )
    joined = base.join(ranked, on=[*group_cols, "_v"])
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d_i = (F.col("_2r") - (F.col("_n") + 1)).cast("decimal(38,0)")
    stepped = joined.select(
        *group_cols,
        F.col("_n"),
        F.row_number().over(wo).cast("bigint").alias("_t"),
        F.sum(d_i).over(wrun).alias("_u"),
    )
    absu = F.abs(F.col("_u"))
    agg = stepped.groupBy(*group_cols).agg(
        F.max("_n").alias("_nn"),
        F.max(absu).alias("_k"),
        F.min_by(F.struct("_t", "_u"), F.struct(-absu, F.col("_t")))
        .alias("_best"),
    )
    nd = F.col("_nn").cast("double")
    kd = F.col("_k").cast("double")
    p = F.least(
        F.lit(1.0),
        2.0 * F.exp(-6.0 * kd * kd / (nd * nd * nd + nd * nd)),
    )
    out = agg.select(
        *group_cols,
        F.col("_nn").alias("n"),
        F.col("_k").cast("bigint").alias("k_stat"),
        F.col("_best._t").alias("change_index"),
        F.col("_best._u").cast("bigint").alias("u_at_change"),
        F.round(p, 6).alias("p_value"),
    )
    return track_cached(out, base)


def _pinball_aggs(a, forecasts) -> list:
    """Per-level pinball partials for ``forecasts`` = [(q, forecast
    Column)] against the actual ``a``: row count ``_n{i}``, loss sum
    ``_s{i}`` and coverage count ``_c{i}``, each over the rows where
    both sides are non-NULL. Shared by :func:`pinball_loss` and its
    windowed monitor."""
    aggs = []
    for i, (q, fc) in enumerate(forecasts):
        ok = a.isNotNull() & fc.isNotNull()
        loss = F.when(
            ok,
            F.when(a >= fc, float(q) * (a - fc)).otherwise(
                (1.0 - float(q)) * (fc - a)
            ),
        )
        aggs += [
            F.count(F.when(ok, 1)).cast("bigint").alias(f"_n{i}"),
            F.sum(loss).alias(f"_s{i}"),
            F.sum(F.when(ok & (a <= fc), 1).otherwise(0))
            .cast("bigint").alias(f"_c{i}"),
        ]
    return aggs


def _pinball_rows(agg, lead, levels) -> DataFrame:
    """One row per declared level out of the :func:`_pinball_aggs`
    frame — a compile-time k-branch union of ``(*lead, quantile, n,
    pinball, coverage)``."""
    from functools import reduce

    branches = []
    for i, (q, _col) in enumerate(levels):
        nd = F.col(f"_n{i}").cast("double")
        branches.append(
            agg.select(
                *lead,
                F.lit(float(q)).alias("quantile"),
                F.col(f"_n{i}").alias("n"),
                # portable HALF_UP (dyadic group sizes and hourly
                # windows make exact 6dp midpoints structural with
                # decimal-valued data)
                (
                    F.floor(
                        F.when(
                            F.col(f"_n{i}") > 0, F.col(f"_s{i}") / nd
                        ) * 1e6 + F.lit(0.5)
                    ).cast("double") / 1e6
                ).alias("pinball"),
                (
                    F.floor(
                        F.when(
                            F.col(f"_n{i}") > 0,
                            F.col(f"_c{i}").cast("double") / nd,
                        ) * 1e6 + F.lit(0.5)
                    ).cast("double") / 1e6
                ).alias("coverage"),
            )
        )
    return reduce(lambda x, y: x.unionAll(y), branches)


def pinball_loss(
    df: DataFrame,
    group_cols: list[str],
    actual_col: str,
    forecast_cols: dict[float, str],
) -> DataFrame:
    """Quantile-forecast evaluation battery — pinball (quantile)
    loss plus empirical coverage per declared quantile, the metric
    pair every probabilistic forecaster (and conformal interval)
    is judged on (:func:`forecast_accuracy` grades the POINT
    forecast; this grades the DISTRIBUTION):

    for quantile q with forecast f: ``loss = mean(q·(a−f)⁺ +
    (1−q)·(f−a)⁺)``; ``coverage = P(a ≤ f)`` — calibrated means
    coverage ≈ q.

    ``forecast_cols`` maps quantile level → column name (compile-time
    bounded, one output row per level). ONE aggregation computes
    every level's sums; the per-level rows come from the k-branch
    pivot union over the persisted 1-row aggregate (the
    :func:`~padua_spark.extensions.quality.data_profile` pattern).
    Rows where the actual or that level's forecast is NULL are
    excluded per level. Output per (group, level): ``(groups...,
    quantile, n, pinball, coverage)``, 6dp.

    Beyond the reference; standard per Koenker & Bassett 1978 /
    Gneiting 2011.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    levels = sorted(forecast_cols.items())
    agg = df.groupBy(*group_cols).agg(
        *_pinball_aggs(
            F.col(actual_col).cast("double"),
            [(q, F.col(col).cast("double")) for q, col in levels],
        )
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return track_cached(_pinball_rows(agg, group_cols, levels), agg)


def dickey_fuller(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Dickey–Fuller unit-root test per group (constant, lag 0 — the
    plain DF regression; the augmented lags are a bandwidth choice
    this engine-exact base case deliberately omits, documented): the
    null-reversed partner to :func:`kpss_level` — DF's null IS the
    unit root, so "reject" means the series mean-reverts; running
    both disambiguates trend vs noise:

    ``Δx_t = α + β·x_{t−1} + e_t``, ``DF = β̂/se(β̂)`` compared to
    the constant-only asymptotic critical values −3.43 / −2.86 /
    −2.57 (1/5/10%; Fuller 1976 / MacKinnon).

    Scale shape: one group-partitioned lag window (the
    :func:`acf_pacf` family contract), ONE aggregation to the OLS
    sums, closed-form slope/SE — no matrix, no second pass. Output
    per group: ``(groups..., n, n_pairs, beta, df_stat, crit_1pct,
    crit_5pct, crit_10pct, reject_5pct)``, 6dp; NULL stat when
    n_pairs < 3 or the regressor is constant.
    """
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    lagged = base.select(
        *group_cols,
        F.col("_v"),
        F.lag("_v").over(wo).alias("_l"),
    )
    pairs = lagged.where(F.col("_l").isNotNull()).select(
        *group_cols,
        F.col("_l"),
        (F.col("_v") - F.col("_l")).alias("_d"),
    )
    agg = pairs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_m"),
        F.sum("_l").alias("_sl"),
        F.sum("_d").alias("_sd"),
        F.sum(F.col("_l") * F.col("_l")).alias("_sll"),
        F.sum(F.col("_l") * F.col("_d")).alias("_sld"),
        F.sum(F.col("_d") * F.col("_d")).alias("_sdd"),
    )
    md = F.col("_m").cast("double")
    den = md * F.col("_sll") - F.col("_sl") * F.col("_sl")
    beta = (md * F.col("_sld") - F.col("_sl") * F.col("_sd")) / den
    alpha = (F.col("_sd") - beta * F.col("_sl")) / md
    sse = (
        F.col("_sdd") - alpha * F.col("_sd") - beta * F.col("_sld")
    )
    sig2 = F.greatest(F.lit(0.0), sse / (md - 2.0))
    se_b = F.sqrt(sig2 * md / den)
    stat = F.when(
        (F.col("_m") >= 3) & (den > 0) & (se_b > 0), beta / se_b
    )
    betac = F.when((F.col("_m") >= 3) & (den > 0), beta)
    return agg.select(
        *group_cols,
        (F.col("_m") + 1).alias("n"),
        F.col("_m").alias("n_pairs"),
        F.round(betac, 6).alias("beta"),
        F.round(stat, 6).alias("df_stat"),
        F.lit(-3.43).alias("crit_1pct"),
        F.lit(-2.86).alias("crit_5pct"),
        F.lit(-2.57).alias("crit_10pct"),
        F.when(stat.isNotNull(), stat < -2.86).alias("reject_5pct"),
    )


def cox_stuart_trend(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    max_support: int = 200_000,
) -> DataFrame:
    """Cox–Stuart trend test per group — the sign test folded onto a
    series: pair observation t with observation t + ⌈n/2⌉ (the middle
    element dropped when n is odd), count the sign of each pair's
    difference, and test the positive count against Bin(m, ½). The
    cheapest distribution-free trend check there is — one self-join
    on the row index, no pair quadratic (n/2 pairs, vs
    :func:`~padua_spark.operators.stats.mann_kendall`'s n²/2), so it
    scales where MK's bounded-group enforcement would refuse.

    Ties (zero differences) are dropped (the standard convention);
    exact two-sided binomial p via the shared point-probability fold
    up to ``max_support`` untied pairs, and the continuity-corrected
    normal approximation above it (the :func:`~padua_spark.operators.
    stats.sign_test` in-plan switch — a ``method`` column reports
    which branch fired; the fold's support is clamped to 0 in the
    normal regime so no data-sized sequence ever materializes).

    Scale shape: one group-partitioned row_number window (family
    contract), one count broadcast back, one equi-self-join on
    ``(group, t + c)``, one roll-up, the exact fold on the ≤ k-row
    result. Output per group: ``(groups..., n, n_pairs, n_pos,
    n_neg, method, p_value)``, 6dp; p NULL when no untied pairs.

    Beyond the reference; standard per Cox & Stuart 1955.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached
    from padua_spark.operators.stats import _binom_exact_pvalues

    v = F.col(value_col).cast("double")
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    wg = Window.partitionBy(*group_cols)
    base = (
        df.where(v.isNotNull())
        .select(*group_cols, *order_cols, v.alias("_v"))
        .select(
            *group_cols,
            F.col("_v"),
            F.row_number().over(wo).cast("bigint").alias("_t"),
            F.count(F.lit(1)).over(wg).cast("bigint").alias("_n"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c = F.ceil(F.col("_n").cast("double") / 2.0).cast("bigint")
    early = base.where(F.col("_t") <= F.floor(
        F.col("_n").cast("double") / 2.0
    ).cast("bigint")).select(
        *group_cols,
        F.col("_v").alias("_va"),
        (F.col("_t") + c).alias("_tl"),
        F.col("_n"),
    )
    late = base.select(
        *group_cols, F.col("_v").alias("_vb"),
        F.col("_t").alias("_tl"),
    )
    pairs = early.join(late, on=[*group_cols, "_tl"])
    agg = pairs.groupBy(*group_cols).agg(
        F.max("_n").alias("n"),
        F.sum((F.col("_vb") > F.col("_va")).cast("int"))
        .cast("bigint").alias("n_pos"),
        F.sum((F.col("_vb") < F.col("_va")).cast("int"))
        .cast("bigint").alias("n_neg"),
    )
    from padua_spark.operators.stats import _normal_sf_2sided

    m_real = (F.col("n_pos") + F.col("n_neg")).cast("bigint")
    is_exact = (
        F.lit(True)
        if max_support is None
        else m_real <= F.lit(int(max_support))
    )
    # clamp the fold's support to 0 in the normal regime so the
    # big-m branch never materializes a data-sized sequence(0, m)
    staged = agg.withColumn("_mr", m_real).withColumn(
        "_exact", is_exact
    ).withColumn(
        "_m", F.when(F.col("_exact"), m_real).otherwise(F.lit(0))
    ).withColumn(
        "_k",
        F.when(F.col("_exact"), F.col("n_pos")).otherwise(F.lit(0)),
    ).withColumn("_p0", F.lit(0.5))
    staged, _pl, _pr, ptwo = _binom_exact_pvalues(
        staged, "_m", "_k", "_p0", None
    )
    md = F.col("_mr").cast("double")
    z = F.greatest(
        F.lit(0.0),
        F.abs(2.0 * F.col("n_pos").cast("double") - md) - F.lit(1.0),
    ) / F.sqrt(md)
    p = F.when(F.col("_mr") <= 0, F.lit(None).cast("double")).when(
        F.col("_exact"), F.least(F.lit(1.0), ptwo)
    ).otherwise(F.least(F.lit(1.0), _normal_sf_2sided(z)))
    out = staged.select(
        *group_cols,
        "n",
        F.col("_mr").alias("n_pairs"),
        "n_pos", "n_neg",
        F.when(F.col("_exact"), F.lit("exact"))
        .otherwise(F.lit("normal")).alias("method"),
        F.round(p, 6).alias("p_value"),
    )
    return track_cached(out, base)


def binary_segmentation(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    max_changepoints: int = 3,
    min_segment: int = 5,
    min_gain_frac: float = 0.0,
) -> DataFrame:
    """Multi-changepoint detection by binary segmentation — the
    classic recursion on top of :func:`two_segment_changepoint`
    (Scott & Knott 1974 / the binseg baseline every changepoint
    package ships): repeatedly split the segment whose best split
    removes the most within-segment SSE, up to ``max_changepoints``
    rounds, subject to ``min_segment`` points per side and a
    pragmatic gain rule (accept while ``ΔSSE ≥ min_gain_frac ·
    SSE_total`` of the key — 0 accepts every round, the pure-ranking
    form; a BIC-style penalty is a σ̂ estimate away and deliberately
    NOT baked in, documented).

    Per round: ONE ordered window pass per (key, segment) for the
    prefix sums (the :func:`two_segment_changepoint` algebra), one
    argmax-ΔSSE roll-up per key (earliest-(segment, position)
    tiebreak), a broadcast of the ≤ |keys| accepted splits, and a
    relabel — the frame is consumed twice per round, so each round
    ``localCheckpoint``s (eager=False, the connected_components
    plan-truncation rule). Rounds are DRIVER-BOUNDED by
    ``max_changepoints`` (no data-dependent stopping beyond the gain
    rule — engine-reproducible). Prefix sums accumulate in series
    order, so SSE values and argmins are bit-identical across
    engines.

    Output one row per final segment: ``(keys..., seg_start,
    seg_end, n, mean)``, mean 6dp; seg positions are 1-based global
    row numbers per key.
    """
    from pyspark.sql import Window

    from padua_spark.io_utils import track_cached

    v = F.col(value_col).cast("double")
    wo = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    base = df.where(v.isNotNull()).select(
        *key_cols,
        F.row_number().over(wo).cast("bigint").alias("_pos"),
        v.alias("_v"),
    ).withColumn("_seg", F.lit(1).cast("bigint"))
    tot = base.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_v").alias("_t1"),
        F.sum(F.col("_v") * F.col("_v")).alias("_t2"),
    )
    sse_tot = (
        F.col("_t2")
        - F.col("_t1") * F.col("_t1") / F.col("_n").cast("double")
    )
    key_tot = tot.select(
        *key_cols, sse_tot.alias("_sse0")
    ).persist()
    cur = base.localCheckpoint(eager=False)
    ms = int(min_segment)
    for _ in range(int(max_changepoints)):
        ws = Window.partitionBy(*key_cols, "_seg").orderBy(
            F.col("_pos").asc()
        )
        run = ws.rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        full = ws.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        staged = cur.select(
            *key_cols, "_seg", "_pos",
            F.sum("_v").over(run).alias("_s1"),
            F.sum(F.col("_v") * F.col("_v")).over(run).alias("_s2"),
            F.row_number().over(ws).cast("bigint").alias("_i"),
            F.sum("_v").over(full).alias("_g1"),
            F.sum(F.col("_v") * F.col("_v")).over(full).alias("_g2"),
            F.count(F.lit(1)).over(full).cast("bigint").alias("_m"),
        )
        i = F.col("_i").cast("double")
        m = F.col("_m").cast("double")
        sse_seg = F.col("_g2") - F.col("_g1") * F.col("_g1") / m
        sse_split = (
            F.col("_s2") - F.col("_s1") * F.col("_s1") / i
        ) + (
            (F.col("_g2") - F.col("_s2"))
            - (F.col("_g1") - F.col("_s1"))
            * (F.col("_g1") - F.col("_s1"))
            / (m - i)
        )
        cand = staged.where(
            (F.col("_i") >= ms) & (F.col("_m") - F.col("_i") >= ms)
        ).select(
            *key_cols, "_seg", "_pos",
            (sse_seg - sse_split).alias("_gain"),
        )
        best = cand.groupBy(*key_cols).agg(
            F.max_by(
                F.struct("_seg", "_pos", "_gain"),
                F.struct(
                    F.col("_gain"), -F.col("_seg"), -F.col("_pos")
                ),
            ).alias("_b")
        ).join(key_tot, on=key_cols).where(
            F.col("_b._gain")
            >= F.lit(float(min_gain_frac)) * F.col("_sse0")
        ).select(
            *key_cols,
            F.col("_b._seg").alias("_bseg"),
            F.col("_b._pos").alias("_bpos"),
        )
        cur = (
            cur.join(F.broadcast(best), on=key_cols, how="left")
            .select(
                *key_cols, "_pos", "_v",
                F.when(
                    F.col("_bseg").isNotNull()
                    & (F.col("_seg") == F.col("_bseg"))
                    & (F.col("_pos") > F.col("_bpos")),
                    F.col("_bpos") + 1,
                ).otherwise(F.col("_seg")).alias("_seg"),
            )
            .localCheckpoint(eager=False)
        )
    out = cur.groupBy(*key_cols, "_seg").agg(
        F.min("_pos").alias("seg_start"),
        F.max("_pos").alias("seg_end"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.avg("_v"), 6).alias("mean"),
    ).select(
        *key_cols, "seg_start", "seg_end", "n", "mean"
    )
    return track_cached(out, key_tot)


def _prefix_deviations(df, group_cols, order_cols, value_col):
    """The changepoint core of :func:`snht_test` and
    :func:`buishand_range`: ONE group-partitioned ordered window pass
    (running sum ``_c`` = C_k, row index ``_t`` = k) joined to the
    per-group moments (``_n``, ``_sx``, ``_sxx``, ``_lo``, ``_hi``).
    Returns ``(joined, base, s_k, var0)``: the prefix deviation
    ``S_k = C_k − k·x̄`` and the population variance σ̂², as Columns
    over ``joined``; σ̂² is NULL for a constant series. ``base``
    (non-NULL values) feeds both the window pass and the moments, so
    it is persisted; track it on the result."""
    from pyspark import StorageLevel

    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    stepped = base.select(
        *group_cols,
        F.sum("_v").over(w).alias("_c"),
        F.row_number().over(wo).cast("double").alias("_t"),
    )
    mom = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_v").alias("_sx"),
        F.sum(F.col("_v") * F.col("_v")).alias("_sxx"),
        F.min("_v").alias("_lo"),
        F.max("_v").alias("_hi"),
    )
    nd = F.col("_n").cast("double")
    mean = F.col("_sx") / nd
    # a constant series is decided exactly (min = max): the moment
    # formula cancels to a tiny nonzero variance on values such as 0.1
    var0 = F.when(
        F.col("_lo") < F.col("_hi"), (F.col("_sxx") - nd * mean * mean) / nd
    )
    s_k = F.col("_c") - F.col("_t") * mean
    return stepped.join(mom, on=group_cols), base, s_k, var0


def _earliest_argmax(score):
    """``change_index``: the earliest ``_k`` maximising ``score``;
    NULL when ``score`` is NULL on every row of the group (a
    degenerate series: n < 2 or a constant series)."""
    return F.min_by(
        F.col("_k"),
        F.when(score.isNotNull(), F.struct(-score, F.col("_k"))),
    ).cast("bigint").alias("change_index")


def snht_test(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Standard Normal Homogeneity Test per group (Alexandersson
    1986) — the parametric changepoint companion to
    :func:`pettitt_test` (Pettitt is rank-based; SNHT compares
    standardized segment means, so it is the more powerful choice
    when the data are near-normal and the break is in the MEAN):

    with ``z̄₁(k)`` / ``z̄₂(k)`` the standardized means of rows
    ``1..k`` / ``k+1..n``, ``T(k) = k·z̄₁² + (n−k)·z̄₂²`` for
    ``k = 1..n−1``; ``T0 = max_k T(k)``, break at the argmax
    (EARLIEST index on ties, documented). Standardization uses the
    population (MLE) σ̂ = √(Σ(x−x̄)²/n) — the SNHT convention.

    Engine-exact via the prefix-deviation identity: the total
    deviation sum is 0, so with ``S_k = C_k − k·x̄`` (``C_k`` the
    plain running sum), ``z̄₁ = S_k/(k·σ̂)``, ``z̄₂ = −S_k/((n−k)·σ̂)``
    and ``T(k) = (S_k²/σ̂²)·(1/k + 1/(n−k))`` — ONE group-partitioned
    ordered window pass (running sum + row index, the
    :func:`kpss_level` family contract), one per-group moment
    aggregation joined back (both in :func:`_prefix_deviations`), one
    argmax roll-up. Output one row per group: ``(groups..., n,
    t0_stat, change_index)``, 6dp; NULL stat and change_index when
    n < 2 or the series is constant. Asymptotic critical values are
    tabulated (Khaliq & Ouarda 2007) and n-dependent; reported raw.
    """
    from padua_spark.io_utils import track_cached

    joined, base, s_k, var0 = _prefix_deviations(
        df, group_cols, order_cols, value_col
    )
    nd = F.col("_n").cast("double")
    k = F.col("_t")
    t_k = F.when(
        (k < nd) & (var0 > 0),
        (s_k * s_k / var0) * (1.0 / k + 1.0 / (nd - k)),
    )
    staged = joined.select(
        *group_cols, F.col("_n"), k.alias("_k"),
        t_k.alias("_tk"),
    )
    agg = staged.groupBy(*group_cols).agg(
        F.max("_n").alias("n"),
        F.max("_tk").alias("_t0"),
        _earliest_argmax(F.col("_tk")),
    )
    out = agg.select(
        *group_cols, "n",
        F.round("_t0", 6).alias("t0_stat"),
        "change_index",
    )
    return track_cached(out, base)


def buishand_range(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Buishand range test per group (Buishand 1982) — cumulative-
    deviation homogeneity: under a stable mean the partial sums
    ``S_k = Σ_{i≤k}(x_i − x̄)`` wander near 0; a mean break bends
    them into a tent whose peak marks the break.

    ``R = (max_k S_k − min_k S_k)/σ̂`` (population σ̂, k = 0..n with
    S_0 = S_n = 0, so max ≥ 0 ≥ min), rescaled ``R/√n`` for the
    tabulated critical values (1.55 at 5% asymptotic); break index =
    argmax |S_k| (earliest on ties). The window pass, moment join and
    ``S_k = C_k − k·x̄`` are :func:`_prefix_deviations`, shared with
    :func:`snht_test`. Output one row per group: ``(groups..., n,
    range_stat, rescaled_range, change_index)``, 6dp; NULL stats and
    change_index when n < 2 or the series is constant.
    """
    from padua_spark.io_utils import track_cached

    joined, base, s_k, var0 = _prefix_deviations(
        df, group_cols, order_cols, value_col
    )
    staged = joined.select(
        *group_cols, F.col("_n"),
        F.col("_t").alias("_k"),
        s_k.alias("_sk"),
        F.when(var0 > 0, F.sqrt(var0)).alias("_sd"),
    )
    agg = staged.groupBy(*group_cols).agg(
        F.max("_n").alias("n"),
        # S_0 = 0 participates in the range bounds by definition
        F.greatest(F.max("_sk"), F.lit(0.0)).alias("_smax"),
        F.least(F.min("_sk"), F.lit(0.0)).alias("_smin"),
        _earliest_argmax(
            F.when(F.col("_sd").isNotNull(), F.abs(F.col("_sk")))
        ),
        F.max("_sd").alias("_sd"),
    )
    nd2 = F.col("n").cast("double")
    rng = F.when(
        (F.col("n") >= 2) & F.col("_sd").isNotNull(),
        (F.col("_smax") - F.col("_smin")) / F.col("_sd"),
    )
    out = agg.select(
        *group_cols, "n",
        F.round(rng, 6).alias("range_stat"),
        F.round(rng / F.sqrt(nd2), 6).alias("rescaled_range"),
        "change_index",
    )
    return track_cached(out, base)


def turning_points_test(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Turning-points randomness test per group (Kendall) — counts
    interior STRICT local extrema (``x_{t−1} < x_t > x_{t+1}`` or
    ``x_{t−1} > x_t < x_{t+1}``; tied neighbors never form a turning
    point, the pinned tie rule): an i.i.d. series has
    ``E[T] = 2(n−2)/3``, ``Var[T] = (16n − 29)/90``; too few turns ⇒
    trend/persistence, too many ⇒ negative autocorrelation. The
    fast, assumption-light screen beside :func:`runs_test` (runs
    binarizes around the median; turning points see local shape).

    One group-partitioned ordered window pass (lag + lead — no
    join, no rank), one aggregation. z has no continuity correction
    (pinned); p two-sided normal via the shared A&S erfc. Output per
    group: ``(groups..., n, n_turning_points, expected, variance,
    z, p_value)``, 6dp; NULL z when n < 4.
    """
    from padua_spark.operators.stats import _normal_sf_2sided

    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    stepped = base.select(
        *group_cols,
        F.col("_v"),
        F.lag("_v", 1).over(wo).alias("_p"),
        F.lead("_v", 1).over(wo).alias("_x"),
    )
    is_tp = (
        F.col("_p").isNotNull()
        & F.col("_x").isNotNull()
        & (
            ((F.col("_p") < F.col("_v")) & (F.col("_x") < F.col("_v")))
            | ((F.col("_p") > F.col("_v")) & (F.col("_x") > F.col("_v")))
        )
    )
    agg = stepped.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(is_tp.cast("int")).cast("bigint")
        .alias("n_turning_points"),
    )
    nd = F.col("n").cast("double")
    e = 2.0 * (nd - 2.0) / 3.0
    var = (16.0 * nd - 29.0) / 90.0
    z = F.when(
        (F.col("n") >= 4) & (var > 0),
        (F.col("n_turning_points").cast("double") - e) / F.sqrt(var),
    )
    return agg.select(
        *group_cols, "n", "n_turning_points",
        F.round(e, 6).alias("expected"),
        F.round(var, 6).alias("variance"),
        F.round(z, 6).alias("z"),
        F.round(_normal_sf_2sided(z), 6).alias("p_value"),
    )


def bartels_rank_test(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Bartels rank test of randomness per group (Bartels 1982) —
    the rank version of von Neumann's successive-difference ratio:
    ``RVN = Σ_{t<n}(r_t − r_{t+1})² / Σ(r_t − r̄)²`` over MIDRANKS
    (ties averaged, r̄ = (n+1)/2 exactly under midranks). E[RVN] = 2;
    small values ⇒ positive serial dependence (neighboring ranks
    close), large ⇒ alternation. More powerful than runs against
    trend alternatives, robust to any monotone marginal.

    z uses the no-tie exact variance
    ``Var = 4(n−2)(5n²−2n−9) / (5n(n+1)(n−1)²)`` (Bartels 1982,
    pinned also under midranks — documented approximation), p
    two-sided normal. Plan: midranks off the AGGREGATED value-domain
    frame (the :func:`pettitt_test` contract — never a raw-row
    rank), one value join back, one lead window pass, one
    aggregation. Output per group: ``(groups..., n, rvn_stat, z,
    p_value)``, 6dp; NULLs when n < 3 or the denominator is 0
    (constant series).
    """
    from padua_spark.operators.stats import _normal_sf_2sided

    v = F.col(value_col).cast("double")
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    # base feeds TWO consumers (the value-domain count frame and the
    # rank join-back) — persist or the upstream scan runs twice
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    per = base.groupBy(*group_cols, F.col("_v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    wv = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = per.select(
        *group_cols, "_v",
        (
            (
                2 * (F.sum("_c").over(wv) - F.col("_c"))
                + F.col("_c") + 1
            ).cast("double") / 2.0
        ).alias("_r"),
    )
    joined = base.join(ranked, on=[*group_cols, "_v"])
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    stepped = joined.select(
        *group_cols,
        F.col("_r"),
        F.lead("_r", 1).over(wo).alias("_rn"),
    )
    agg = stepped.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                F.col("_rn").isNotNull(),
                (F.col("_r") - F.col("_rn"))
                * (F.col("_r") - F.col("_rn")),
            )
        ).alias("_nm"),
        F.sum(F.col("_r")).alias("_sr"),
        F.sum(F.col("_r") * F.col("_r")).alias("_srr"),
    )
    nd = F.col("n").cast("double")
    rbar = (nd + 1.0) / 2.0
    denom = F.col("_srr") - 2.0 * rbar * F.col("_sr") + nd * rbar * rbar
    rvn = F.when((F.col("n") >= 3) & (denom > 0), F.col("_nm") / denom)
    var = (
        4.0 * (nd - 2.0) * (5.0 * nd * nd - 2.0 * nd - 9.0)
        / (5.0 * nd * (nd + 1.0) * (nd - 1.0) * (nd - 1.0))
    )
    z = F.when(var > 0, (rvn - 2.0) / F.sqrt(var))
    out = agg.select(
        *group_cols, "n",
        F.round(rvn, 6).alias("rvn_stat"),
        F.round(z, 6).alias("z"),
        F.round(_normal_sf_2sided(z), 6).alias("p_value"),
    )
    return track_cached(out, base)


def variance_ratio_test(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    q: int = 4,
) -> DataFrame:
    """Lo–MacKinlay variance-ratio test per group (Lo & MacKinlay
    1988, simple overlapping estimator — pinned): under a random
    walk the variance of q-period differences is q× the one-period
    variance, so ``VR(q) ≈ 1``; VR < 1 ⇒ mean reversion, VR > 1 ⇒
    momentum/trending. The market-efficiency workhorse, useful on
    any cumulative metric series.

    Pinned estimator: ``μ = Σd_t/(n−1)`` over 1-diffs,
    ``σ²₁ = Σ(d_t−μ)²/(n−1)``,
    ``σ²_q = Σ_{t>q}(x_t−x_{t−q}−qμ)²/(q·(n−q))``,
    ``VR = σ²_q/σ²₁`` (no small-sample bias correction —
    documented), homoskedastic
    ``z = (VR−1)/√φ, φ = 2(2q−1)(q−1)/(3q·n)``, p two-sided
    normal. Expanded moments (``Σ(d−μ)² = Σd² − (n−1)μ²`` etc.)
    make this ONE ordered window pass (lag-1 + lag-q) and ONE
    aggregation — no join back, no demeaned column. Output per
    group: ``(groups..., n, vr_stat, z, p_value)``, 6dp; NULLs when
    n ≤ q+1 or σ²₁ = 0.
    """
    from padua_spark.operators.stats import _normal_sf_2sided

    if q < 2:
        raise ValueError("variance_ratio_test: q must be >= 2")
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    stepped = base.select(
        *group_cols,
        (F.col("_v") - F.lag("_v", 1).over(wo)).alias("_d1"),
        (F.col("_v") - F.lag("_v", int(q)).over(wo)).alias("_dq"),
    )
    agg = stepped.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_d1").alias("_sd"),
        F.sum(F.col("_d1") * F.col("_d1")).alias("_sdd"),
        F.sum(F.col("_dq") * F.col("_dq")).alias("_sqq"),
        F.sum("_dq").alias("_sq"),
    )
    nd = F.col("n").cast("double")
    qd = float(q)
    mu = F.col("_sd") / (nd - 1.0)
    var1 = (F.col("_sdd") - (nd - 1.0) * mu * mu) / (nd - 1.0)
    # Σ(e − qμ)² = Σe² − 2qμΣe + (n−q)·q²μ² over the n−q overlapping
    # q-differences
    ssq = (
        F.col("_sqq")
        - 2.0 * qd * mu * F.col("_sq")
        + (nd - qd) * qd * qd * mu * mu
    )
    varq = ssq / (qd * (nd - qd))
    vr = F.when((F.col("n") > q + 1) & (var1 > 0), varq / var1)
    phi = 2.0 * (2.0 * qd - 1.0) * (qd - 1.0) / (3.0 * qd * nd)
    z = F.when(phi > 0, (vr - 1.0) / F.sqrt(phi))
    return agg.select(
        *group_cols, "n",
        F.round(vr, 6).alias("vr_stat"),
        F.round(z, 6).alias("z"),
        F.round(_normal_sf_2sided(z), 6).alias("p_value"),
    )


def records_test(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Record-counts randomness/trend test per group — counts STRICT
    upper records (``x_t > max_{i<t} x_i``) and lower records in
    time order. For an i.i.d. continuous series the t-th observation
    is a record with probability 1/t independently, so
    ``E[U] = Σ_{t=2..n} 1/t``, ``Var[U] = Σ_{t=2..n} (1/t − 1/t²)``
    (the first row is not counted as a record — pinned); an upward
    trend inflates upper records and starves lower ones — the
    classic distribution-free trend screen (Foster & Stuart 1954
    family) beside :func:`~padua_spark.operators.stats.mann_kendall`
    (records react to NEW extremes specifically, e.g. data drifting
    past its historical envelope).

    One group-partitioned ordered window pass (running max/min over
    rows 1..t−1 + the per-row 1/t terms off row_number), one
    aggregation. z per direction, p two-sided normal. Ties: a repeat
    of the current extreme is NOT a record (strict inequality,
    pinned). Output per group: ``(groups..., n, n_upper_records,
    n_lower_records, expected, variance, z_upper, z_lower, p_upper,
    p_lower)``, 6dp; NULL z when n < 2 or Var = 0.
    """
    from padua_spark.operators.stats import _normal_sf_2sided

    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    wprev = wo.rowsBetween(Window.unboundedPreceding, -1)
    stepped = base.select(
        *group_cols,
        F.col("_v"),
        F.max("_v").over(wprev).alias("_pmax"),
        F.min("_v").over(wprev).alias("_pmin"),
        F.row_number().over(wo).cast("double").alias("_t"),
    )
    up = F.col("_pmax").isNotNull() & (F.col("_v") > F.col("_pmax"))
    lo = F.col("_pmin").isNotNull() & (F.col("_v") < F.col("_pmin"))
    t = F.col("_t")
    agg = stepped.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(up.cast("int")).cast("bigint").alias("n_upper_records"),
        F.sum(lo.cast("int")).cast("bigint").alias("n_lower_records"),
        F.sum(F.when(t >= 2, 1.0 / t)).alias("_e"),
        F.sum(F.when(t >= 2, 1.0 / t - 1.0 / (t * t))).alias("_var"),
    )
    z_up = F.when(
        (F.col("n") >= 2) & (F.col("_var") > 0),
        (F.col("n_upper_records").cast("double") - F.col("_e"))
        / F.sqrt(F.col("_var")),
    )
    z_lo = F.when(
        (F.col("n") >= 2) & (F.col("_var") > 0),
        (F.col("n_lower_records").cast("double") - F.col("_e"))
        / F.sqrt(F.col("_var")),
    )
    return agg.select(
        *group_cols, "n", "n_upper_records", "n_lower_records",
        F.round("_e", 6).alias("expected"),
        F.round("_var", 6).alias("variance"),
        F.round(z_up, 6).alias("z_upper"),
        F.round(z_lo, 6).alias("z_lower"),
        F.round(_normal_sf_2sided(z_up), 6).alias("p_upper"),
        F.round(_normal_sf_2sided(z_lo), 6).alias("p_lower"),
    )


def periodogram(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    max_freq: int = 32,
) -> DataFrame:
    """Periodogram-based seasonality detector per group — dominant
    cycle + spectral entropy from the first ``max_freq`` Fourier
    frequencies ("does this metric have a rhythm, and how clean is
    it?" — the frequency-domain companion to
    :func:`seasonal_decompose`'s fixed-period strength, useful when
    the period is UNKNOWN):

    ``I(k) = (C_k² + S_k²)/n`` with ``C_k = Σ_t x_t·cos(2πkt/n)``,
    ``S_k = Σ_t x_t·sin(2πkt/n)`` (t 0-based, pinned) for
    ``k = 1..max_freq`` (bounded, documented — full FFT resolution
    needs a different machine); dominant k = argmax I(k) (smallest k
    on ties), period = n/k rows; spectral entropy = Shannon entropy
    of the normalized ``p_k = I_k/ΣI`` in nats, and
    ``dominant_share = max I/ΣI`` (≈1 = one clean cycle).

    Scale shape: one ordered window pass (row index + per-group n),
    ONE compile-time explode of the k-list (n·max_freq rows,
    map-side combined to (group, k) immediately), one argmax
    roll-up. Trig sums are engine-float; all reported spectra are
    RATIOS of sums (share/entropy), so cross-engine libm jitter
    stays ~1e-13 relative. Output per group: ``(groups..., n,
    dominant_freq_k, dominant_period, dominant_share,
    spectral_entropy)``, 6dp; NULLs when n < 2·max_freq (period
    under-resolved) or total power is 0.
    """
    import math

    kmax = int(max_freq)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    wg = Window.partitionBy(*group_cols)
    stepped = base.select(
        *group_cols,
        "_v",
        (F.row_number().over(wo) - 1).cast("double").alias("_t"),
        F.count(F.lit(1)).over(wg).cast("double").alias("_n"),
    )
    two_pi = 2.0 * math.pi
    ks = F.explode(
        F.array(*[F.lit(k) for k in range(1, kmax + 1)])
    ).alias("_k")
    fanned = stepped.select(*group_cols, "_v", "_t", "_n", ks)
    ang = (
        F.lit(two_pi)
        * F.col("_k").cast("double")
        * F.col("_t")
        / F.col("_n")
    )
    per_k = fanned.groupBy(*group_cols, "_k").agg(
        F.max("_n").alias("_nn"),
        F.sum(F.col("_v") * F.cos(ang)).alias("_c"),
        F.sum(F.col("_v") * F.sin(ang)).alias("_s"),
    )
    i_k = (
        F.col("_c") * F.col("_c") + F.col("_s") * F.col("_s")
    ) / F.col("_nn")
    staged = per_k.select(
        *group_cols, "_k", "_nn", i_k.alias("_i")
    )
    agg = staged.groupBy(*group_cols).agg(
        F.max("_nn").cast("bigint").alias("n"),
        F.min_by(
            F.col("_k"), F.struct(-F.col("_i"), F.col("_k"))
        ).alias("_bestk"),
        F.max("_i").alias("_imax"),
        F.sum("_i").alias("_itot"),
        F.sum(
            F.when(
                F.col("_i") > 0, F.col("_i") * F.log(F.col("_i"))
            ).otherwise(F.lit(0.0))
        ).alias("_silog"),
    )
    nd = F.col("n").cast("double")
    ok = (F.col("n") >= 2 * kmax) & (F.col("_itot") > 0)
    share = F.when(ok, F.col("_imax") / F.col("_itot"))
    # H = −Σ p·ln p = ln(ΣI) − (Σ I·ln I)/ΣI
    entropy = F.when(
        ok,
        F.log(F.col("_itot")) - F.col("_silog") / F.col("_itot"),
    )
    return agg.select(
        *group_cols, "n",
        F.when(ok, F.col("_bestk")).cast("bigint")
        .alias("dominant_freq_k"),
        F.round(
            F.when(ok, nd / F.col("_bestk").cast("double")), 6
        ).alias("dominant_period"),
        F.round(share, 6).alias("dominant_share"),
        F.round(entropy, 6).alias("spectral_entropy"),
    )


def _scaling_exponent(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    sizes: list[int],
    indexed,
    per_scale,
    scale_col: str,
    out_col: str,
) -> DataFrame:
    """The scaling-fit scaffold of :func:`hurst_rs` and
    :func:`dfa_hurst`. Non-NULL values ``_v`` get an ordered window
    ``wo`` per group; ``indexed(wo, t0)`` lists the columns of the
    indexed frame besides the group keys (``t0`` is the 0-based row
    index ``_t0``). That frame is persisted and hash-partitioned ONCE
    on the group key; ``per_scale(rep, m)`` turns it into
    ``(groups..., _m, scale_col, _nblocks)`` per block size ``m``. The
    union over ``sizes`` feeds one log-log OLS of ``scale_col`` on
    ``m`` over the valid scales; output per group: ``(groups..., n,
    n_scales, out_col)``, the slope at 6dp and NULL below 2 valid
    scales."""
    from functools import reduce

    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    t0 = (F.row_number().over(wo) - 1).cast("bigint").alias("_t0")
    # the indexed frame feeds |scales|+1 consumers (each scale's
    # block-window pass plus the row-count frame) — without a persist
    # the parquet scan + row_number sort re-run per consumer
    stepped = base.select(*group_cols, *indexed(wo, t0)).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # ONE group-keyed exchange feeds all per-scale passes (guide
    # §2.4): the cached plan hides its window partitioning (AQE-
    # cached plans expose no output partitioning), so without this
    # every scale's (group, block) window AND block aggregation
    # re-shuffled the frame — 2 exchanges x |scales|. A single
    # hash-partitioning on the group key satisfies every downstream
    # ClusteredDistribution over (group, _blk) (partitioning keys are
    # a subset of the clustering keys), so the per-scale window sorts
    # run exchange-free. Parallelism is unchanged — the row_number
    # window upstream already serializes each group into one
    # partition. Caveat: the same key also caps each scale's window
    # sort at group cardinality — with few groups (3 at sf10) the
    # per-scale passes run on that many tasks and the sf1->sf10
    # exponent sits at about 0.96-0.99; a (group, _blk) shuffle would
    # parallelize them there.
    rep = stepped.repartition(*group_cols) if group_cols else stepped
    scales = reduce(
        lambda a, b: a.unionAll(b), [per_scale(rep, m) for m in sizes]
    )
    pts = scales.where(
        (F.col(scale_col) > 0) & (F.col("_nblocks") >= 1)
    ).select(
        *group_cols,
        F.log("_m").alias("_lx"),
        F.log(scale_col).alias("_ly"),
    )
    fit = pts.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scales"),
        F.sum("_lx").alias("_sx"),
        F.sum("_ly").alias("_sy"),
        F.sum(F.col("_lx") * F.col("_lx")).alias("_sxx"),
        F.sum(F.col("_lx") * F.col("_ly")).alias("_sxy"),
    )
    kd = F.col("n_scales").cast("double")
    sxx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / kd
    sxy = F.col("_sxy") - F.col("_sx") * F.col("_sy") / kd
    slope = F.when((F.col("n_scales") >= 2) & (sxx > 0), sxy / sxx)
    n_rows = rep.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    out = n_rows.join(fit, on=group_cols, how="left").select(
        *group_cols, "n",
        F.coalesce(F.col("n_scales"), F.lit(0)).alias("n_scales"),
        F.round(slope, 6).alias(out_col),
    )
    return track_cached(out, stepped)


def hurst_rs(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    block_sizes: list[int] | None = None,
) -> DataFrame:
    """Hurst exponent via rescaled-range (R/S) analysis per group —
    long-range-dependence detector (H ≈ 0.5 random walk /
    independence, H > 0.5 persistent trends, H < 0.5 mean-reverting;
    the memory-structure companion to
    :func:`variance_ratio_test`'s fixed-q ratio):

    for each block size m in ``block_sizes`` (default dyadic
    16..256, bounded): split the ordered series into COMPLETE blocks
    of m rows; per block, ``R = max_j S_j − min_j S_j`` over the
    within-block prefix deviations ``S_j = Σ_{i≤j}(x_i − x̄_block)``
    and ``S = population std``; the scale's statistic is the mean
    R/S over blocks (σ>0 blocks only, pinned); H = OLS slope of
    ``ln(mean R/S)`` on ``ln m`` over the scales with ≥1 valid
    block.

    Scale shape: per scale, ONE window pass partitioned by
    (group, block) using two frames of the same window — running sum
    and whole-block mean — so ``S_j = C_j − j·x̄`` needs NO join; the
    per-scale passes are a compile-time-bounded union; the log-log
    OLS runs on the ≤|scales|-row frame (both
    :func:`_scaling_exponent`). Output per group:
    ``(groups..., n, n_scales, hurst)``, 6dp; NULL when < 2 valid
    scales.
    """
    sizes = sorted(set(block_sizes or [16, 32, 64, 128, 256]))
    if any(m < 4 for m in sizes):
        raise ValueError("hurst_rs: block sizes must be >= 4")

    def per_scale(rep, m):
        blk = (F.col("_t0") / m).cast("bigint")
        wb = Window.partitionBy(*group_cols, "_blk").orderBy("_j")
        wrun = wb.rowsBetween(Window.unboundedPreceding,
                              Window.currentRow)
        wall = wb.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
        framed = rep.select(
            *group_cols,
            blk.alias("_blk"),
            (F.col("_t0") % m + 1).cast("double").alias("_j"),
            "_v",
        )
        marked = framed.select(
            *group_cols, "_blk", "_j", "_v",
            F.sum("_v").over(wrun).alias("_c"),
            F.avg("_v").over(wall).alias("_mu"),
            F.avg(F.col("_v") * F.col("_v")).over(wall).alias("_m2"),
            F.count(F.lit(1)).over(wall).alias("_bn"),
        ).where(F.col("_bn") == m)
        s_j = F.col("_c") - F.col("_j") * F.col("_mu")
        per_block = marked.groupBy(*group_cols, "_blk").agg(
            (F.max(s_j) - F.min(s_j)).alias("_r"),
            F.max(
                F.col("_m2") - F.col("_mu") * F.col("_mu")
            ).alias("_var"),
        )
        return per_block.where(F.col("_var") > 0).groupBy(
            *group_cols
        ).agg(
            F.avg(
                F.col("_r") / F.sqrt(F.col("_var"))
            ).alias("_rs"),
            F.count(F.lit(1)).cast("bigint").alias("_nblocks"),
        ).select(
            *group_cols, F.lit(float(m)).alias("_m"), "_rs",
            "_nblocks",
        )

    return _scaling_exponent(
        df, group_cols, order_cols, value_col, sizes,
        lambda wo, t0: ["_v", t0], per_scale, "_rs", "hurst",
    )


def haar_energy(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    max_level: int = 6,
) -> DataFrame:
    """Haar-wavelet detail energy by dyadic level per group — the
    multi-resolution variance decomposition ("is the volatility in
    2-row wiggles or 64-row swells?"; the scale-localized companion
    to :func:`periodogram`, robust to non-stationarity because each
    coefficient is local):

    at level l (block size 2^l, COMPLETE blocks only), the detail
    coefficient of block b is
    ``d = (Σ first half − Σ second half)/2^l`` (the normalized Haar
    inner product up to a constant — pinned exactly as written);
    ``energy_l = Σ_b d²``, reported with its share of the total
    across levels.

    Scale shape: one ordered window pass for the row index, ONE
    compile-time explode of the level list (each row → max_level
    signed copies, map-side combined to (group, level, block)
    immediately), one block aggregation, one level roll-up — no
    per-level scans. Output per (group, level): ``(groups..., level,
    block_size, n_blocks, energy, energy_share)``, 6dp.
    """
    lmax = int(max_level)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    wg = Window.partitionBy(*group_cols)
    stepped = base.select(
        *group_cols, "_v",
        (F.row_number().over(wo) - 1).cast("bigint").alias("_t0"),
        F.count(F.lit(1)).over(wg).cast("bigint").alias("_n"),
    )
    lv = F.explode(
        F.array(*[F.lit(lx) for lx in range(1, lmax + 1)])
    ).alias("_l")
    fanned = stepped.select(*group_cols, "_v", "_t0", "_n", lv)
    bsize = F.pow(F.lit(2.0), F.col("_l")).cast("bigint")
    blk = (F.col("_t0") / bsize).cast("bigint")
    half = ((F.col("_t0") % bsize) / (bsize / 2)).cast("bigint")
    sign = (1 - 2 * half).cast("double")
    complete = blk < (F.col("_n") / bsize).cast("bigint")
    per_block = fanned.where(complete).groupBy(
        *group_cols, "_l", blk.alias("_b")
    ).agg(
        F.sum(sign * F.col("_v")).alias("_dsum"),
        F.max(bsize).alias("_bs"),
    )
    d = F.col("_dsum") / F.col("_bs").cast("double")
    per_level = per_block.groupBy(*group_cols, "_l").agg(
        F.max("_bs").cast("bigint").alias("block_size"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum(d * d).alias("_e"),
    )
    wtot = Window.partitionBy(*group_cols)
    tot = F.sum("_e").over(wtot)
    return per_level.select(
        *group_cols,
        F.col("_l").cast("bigint").alias("level"),
        "block_size", "n_blocks",
        F.round("_e", 6).alias("energy"),
        F.round(
            F.when(tot > 0, F.col("_e") / tot), 6
        ).alias("energy_share"),
    )


def ccf_lags(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    x_col: str,
    y_col: str,
    max_lag: int = 8,
) -> DataFrame:
    """Cross-correlation function between two aligned series per
    group, lags −max_lag..+max_lag — the lead/lag detector ("does
    spend move BEFORE engagement?"; the two-series companion to
    :func:`acf_pacf`): positive lag ℓ correlates ``x_{t−ℓ}`` with
    ``y_t`` (x LEADS y), negative the reverse; lag 0 is plain
    Pearson. Each lag's correlation is over its complete pairs with
    the pair-set's own moments (the ``statsmodels ccf``-adjacent
    per-lag convention, pinned — no global-mean shortcut).

    Scale shape: one group-partitioned ordered window pass emitting
    the 2·max_lag lagged copies (compile-time bounded), ONE
    aggregation with per-lag conditional moment sums, one
    compile-time posexplode of the per-lag result structs — never a
    self-join of the series. Output per (group, lag):
    ``(groups..., lag, n_pairs, ccf)``, 6dp; NULL where a lag's
    pair variance degenerates or n_pairs < 3.
    """
    lmax = int(max_lag)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        *group_cols, *order_cols, x.alias("_x"), y.alias("_y")
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    cols = [F.col("_x"), F.col("_y")]
    for lag in range(1, lmax + 1):
        cols.append(F.lag("_x", lag).over(wo).alias(f"_xl{lag}"))
        cols.append(F.lag("_y", lag).over(wo).alias(f"_yl{lag}"))
    stepped = base.select(*group_cols, *cols)
    aggs = []
    lags = list(range(-lmax, lmax + 1))
    for lag in lags:
        tag = f"m{abs(lag)}" if lag < 0 else f"p{lag}"
        if lag >= 0:
            a = (
                F.col(f"_xl{lag}") if lag > 0 else F.col("_x")
            )
            b = F.col("_y")
        else:
            a = F.col("_x")
            b = F.col(f"_yl{-lag}")
        ok = a.isNotNull() & b.isNotNull()
        aggs += [
            F.sum(ok.cast("int")).cast("bigint").alias(f"_n{tag}"),
            F.sum(F.when(ok, a)).alias(f"_sa{tag}"),
            F.sum(F.when(ok, b)).alias(f"_sb{tag}"),
            F.sum(F.when(ok, a * a)).alias(f"_qa{tag}"),
            F.sum(F.when(ok, b * b)).alias(f"_qb{tag}"),
            F.sum(F.when(ok, a * b)).alias(f"_ab{tag}"),
        ]
    agg = stepped.groupBy(*group_cols).agg(*aggs)
    cells = []
    for lag in lags:
        tag = f"m{abs(lag)}" if lag < 0 else f"p{lag}"
        n = F.col(f"_n{tag}").cast("double")
        ma = F.col(f"_sa{tag}") / n
        mb = F.col(f"_sb{tag}") / n
        saa = F.col(f"_qa{tag}") - n * ma * ma
        sbb = F.col(f"_qb{tag}") - n * mb * mb
        sab = F.col(f"_ab{tag}") - n * ma * mb
        r = F.when(
            (F.col(f"_n{tag}") >= 3) & (saa > 0) & (sbb > 0),
            sab / F.sqrt(saa * sbb),
        )
        cells.append(
            F.struct(
                F.lit(lag).cast("bigint").alias("lag"),
                F.col(f"_n{tag}").alias("n_pairs"),
                F.round(r, 6).alias("ccf"),
            )
        )
    return agg.select(
        *group_cols, F.explode(F.array(*cells)).alias("_c")
    ).select(
        *group_cols,
        F.col("_c.lag").alias("lag"),
        F.col("_c.n_pairs").alias("n_pairs"),
        F.col("_c.ccf").alias("ccf"),
    )


def engle_granger(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    y_col: str,
    x_col: str,
) -> DataFrame:
    """Engle–Granger two-step cointegration test per group — "do
    these two trending series share a common stochastic trend?"
    (regressing one non-stationary metric on another is spurious
    UNLESS they cointegrate; this is the admissibility gate for any
    long-run elasticity read off level series):

    step 1: OLS ``y = α + β·x`` per group (closed form from one
    moment aggregation); step 2: the lag-0 Dickey–Fuller regression
    WITHOUT constant on the residuals ``ê_t``:
    ``Δê_t = γ·ê_{t−1} + u_t``, ``t = γ̂/se(γ̂)`` with
    ``γ̂ = Σê_{t−1}Δê_t/Σê²_{t−1}``,
    ``se² = σ̂²/Σê²_{t−1}``, ``σ̂² = RSS/(n_pairs−1)`` (no-constant
    df, pinned) — compared to the 2-variable no-trend asymptotic
    5% critical value −3.34 (MacKinnon 1991; the DF table does NOT
    apply because ê is estimated).

    Scale shape: one moment aggregation, the (α, β) frame joined
    back (per-group 1-row — AQE broadcasts), one lag window pass on
    the residual column, one OLS-sum aggregation. Output per group:
    ``(groups..., n, alpha, beta, gamma, t_stat, crit_5pct,
    cointegrated_5pct)``, 6dp; NULLs when n < 4 or a design moment
    degenerates.
    """
    y = F.col(y_col).cast("double")
    x = F.col(x_col).cast("double")
    base = df.where(y.isNotNull() & x.isNotNull()).select(
        *group_cols, *order_cols, x.alias("_x"), y.alias("_y")
    )
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    # base feeds the moment aggregation AND the residual join-back
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    mom = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    nd = F.col("_n").cast("double")
    sxx = F.col("_sxx") - nd * (F.col("_sx") / nd) * (F.col("_sx") / nd)
    sxy = F.col("_sxy") - nd * (F.col("_sx") / nd) * (F.col("_sy") / nd)
    beta = F.when((F.col("_n") >= 4) & (sxx > 0), sxy / sxx)
    alpha = F.col("_sy") / nd - beta * (F.col("_sx") / nd)
    fit = mom.select(
        *group_cols, F.col("_n"),
        beta.alias("_beta"), alpha.alias("_alpha"),
    )
    joined = base.join(fit, on=group_cols)
    resid = joined.select(
        *group_cols, *order_cols, "_n", "_beta", "_alpha",
        (
            F.col("_y") - F.col("_alpha") - F.col("_beta") * F.col("_x")
        ).alias("_e"),
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    lagged = resid.select(
        *group_cols, "_n", "_beta", "_alpha",
        F.col("_e"),
        F.lag("_e").over(wo).alias("_el"),
    ).where(F.col("_el").isNotNull())
    agg = lagged.groupBy(*group_cols).agg(
        F.max("_n").alias("n"),
        F.max("_beta").alias("beta_raw"),
        F.max("_alpha").alias("alpha_raw"),
        F.count(F.lit(1)).cast("bigint").alias("_np"),
        F.sum(F.col("_el") * (F.col("_e") - F.col("_el")))
        .alias("_sld"),
        F.sum(F.col("_el") * F.col("_el")).alias("_sll"),
        F.sum(
            (F.col("_e") - F.col("_el")) * (F.col("_e") - F.col("_el"))
        ).alias("_sdd"),
    )
    npd = F.col("_np").cast("double")
    gamma = F.when(
        (F.col("_np") >= 3) & (F.col("_sll") > 0),
        F.col("_sld") / F.col("_sll"),
    )
    rss = F.col("_sdd") - gamma * gamma * F.col("_sll")
    se2 = (rss / (npd - 1.0)) / F.col("_sll")
    t = F.when(se2 > 0, gamma / F.sqrt(se2))
    return agg.select(
        *group_cols, "n",
        F.round("alpha_raw", 6).alias("alpha"),
        F.round("beta_raw", 6).alias("beta"),
        F.round(gamma, 6).alias("gamma"),
        F.round(t, 6).alias("t_stat"),
        F.lit(-3.34).alias("crit_5pct"),
        F.when(t.isNotNull(), t < -3.34).alias("cointegrated_5pct"),
    ).transform(lambda d: track_cached(d, base))


def return_risk_profile(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Return/risk profile of a per-key P&L or return series — the
    portfolio-grade battery beside the VaR/ES the repo already has:
    Sharpe, Sortino (downside deviation at target 0), maximum
    drawdown of the CUMULATIVE sum, Calmar (total return over max
    drawdown), and Omega(0) (gain mass over loss mass). Raw
    per-period ratios — no annualization factor is applied
    (documented; multiply by √T outside if desired).

    ``sharpe = mean/sd``;
    ``sortino = mean / √(Σ min(x,0)² / n)``;
    ``max_dd = max_t (peak_t − cum_t)`` with ``peak`` the running
    max of the cumulative sum (so max_dd ≥ 0, in value units);
    ``calmar = Σx / max_dd``; ``omega = Σ max(x,0) / Σ max(−x,0)``.

    One ordered window pass per group (cumsum + running peak), one
    aggregation. Output per group: ``(groups..., n, total_return,
    mean_return, sd_return, sharpe, sortino, max_drawdown, calmar,
    omega)``, 6dp; ratio NULLs where a denominator degenerates.

    Beyond the reference; standard per Sharpe 1966 / Sortino 1994 /
    Young 1991 (Calmar) / Keating & Shadwick 2002 (Omega).
    """
    v = F.col(value_col).cast("double")
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    cum = F.sum(v).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = (
        df.where(v.isNotNull())
        .withColumn("_cum", cum)
        .withColumn(
            "_peak",
            F.max("_cum").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn("_dd", F.col("_peak") - F.col("_cum"))
    )
    agg = staged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).alias("_tot"),
        F.sum(v * v).alias("_sq"),
        F.sum(F.when(v < 0, v * v).otherwise(F.lit(0.0))).alias(
            "_dsq"
        ),
        F.sum(F.when(v > 0, v).otherwise(F.lit(0.0))).alias("_gain"),
        F.sum(F.when(v < 0, -v).otherwise(F.lit(0.0))).alias(
            "_loss"
        ),
        F.max("_dd").alias("_mdd"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("_tot") / nd
    var = (F.col("_sq") - nd * mean * mean) / (nd - 1.0)
    sd = F.when((F.col("n") >= 2) & (var > 0), F.sqrt(var))
    ddev = F.when(
        F.col("_dsq") > 0, F.sqrt(F.col("_dsq") / nd)
    )
    return agg.select(
        *group_cols, "n",
        F.round("_tot", 6).alias("total_return"),
        F.round(mean, 6).alias("mean_return"),
        F.round(sd, 6).alias("sd_return"),
        F.round(F.when(sd > 0, mean / sd), 6).alias("sharpe"),
        F.round(
            F.when(ddev > 0, mean / ddev), 6
        ).alias("sortino"),
        F.round("_mdd", 6).alias("max_drawdown"),
        F.round(
            F.when(F.col("_mdd") > 0, F.col("_tot") / F.col("_mdd")),
            6,
        ).alias("calmar"),
        F.round(
            F.when(F.col("_loss") > 0, F.col("_gain") / F.col("_loss")),
            6,
        ).alias("omega"),
    )


def dfa_hurst(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    block_sizes: list[int] | None = None,
) -> DataFrame:
    """Detrended fluctuation analysis (DFA-1) exponent per group —
    the trend-robust sibling of :func:`hurst_rs`: R/S is biased by
    slow drifts, DFA removes a per-block LINEAR trend from the
    integrated profile before measuring fluctuation, so α estimates
    long-range dependence even on non-stationary series (α ≈ 0.5
    uncorrelated, > 0.5 persistent, 1.0 ≈ 1/f, > 1 non-stationary).

    Per scale m: the PROFILE ``Y_i = Σ_{k≤i}(x_k − x̄_group)``
    (running sum minus i·mean — the :func:`hurst_rs` window identity,
    no join), complete blocks of m rows, per-block least-squares
    residual sum via the closed form
    ``RSS = Syy_c − Sjy_c²/Sjj_c`` on within-block centered moments,
    ``F(m) = √(ΣRSS / (n_blocks·m))``; α = OLS slope of ``ln F(m)``
    on ``ln m``. Per-scale passes are a compile-time-bounded union
    over ONE persisted indexed profile frame; the log-log fit runs
    on the ≤|scales|-row frame (both :func:`_scaling_exponent`).
    Output per group: ``(groups..., n, n_scales, dfa_alpha)``, 6dp;
    NULL when < 2 valid scales.

    Beyond the reference; standard per Peng et al. 1994.
    """
    sizes = sorted(set(block_sizes or [8, 16, 32, 64, 128]))
    if any(m < 4 for m in sizes):
        raise ValueError("dfa_hurst: block sizes must be >= 4")

    def profile(wo, t0):
        wrun = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wall = wo.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        return [
            t0,
            (
                F.sum("_v").over(wrun)
                - F.row_number().over(wo).cast("double")
                * F.avg("_v").over(wall)
            ).alias("_y"),
        ]

    def per_scale(rep, m):
        blk = (F.col("_t0") / m).cast("bigint")
        j = (F.col("_t0") % m + 1).cast("double")
        framed = rep.select(
            *group_cols, blk.alias("_blk"), j.alias("_j"), "_y"
        )
        # Numerically STABLE centered moments (the naive
        # Syy − Sy²/n closed form cancels catastrophically on the
        # large-magnitude profile and the lost digits amplify
        # through ln F(m) into the slope): center y on the block
        # mean via a block window, center j on the EXACT complete-
        # block mean (m+1)/2 so Σ j_c = 0 and Σ j_c·y needs no y
        # centering, and use the exact Σ j_c² = m(m²−1)/12.
        wblk = Window.partitionBy(*group_cols, "_blk")
        yc = F.col("_y") - F.avg("_y").over(wblk)
        jc = F.col("_j") - F.lit((m + 1) / 2.0)
        cent = framed.select(
            *group_cols, "_blk",
            yc.alias("_yc"), (jc * F.col("_y")).alias("_jy"),
        )
        per_block = cent.groupBy(*group_cols, "_blk").agg(
            F.count(F.lit(1)).alias("_bn"),
            F.sum(F.col("_yc") * F.col("_yc")).alias("_syy_c"),
            F.sum("_jy").alias("_sjy_c"),
        ).where(F.col("_bn") == m)
        sjj_c = F.lit(m * (m * m - 1) / 12.0)
        rss = F.greatest(
            F.col("_syy_c")
            - F.col("_sjy_c") * F.col("_sjy_c") / sjj_c,
            F.lit(0.0),
        )
        return per_block.groupBy(*group_cols).agg(
            F.sum(rss).alias("_rss"),
            F.count(F.lit(1)).cast("bigint").alias("_nblocks"),
        ).select(
            *group_cols,
            F.lit(float(m)).alias("_m"),
            F.sqrt(
                F.col("_rss")
                / (F.col("_nblocks").cast("double") * float(m))
            ).alias("_f"),
            "_nblocks",
        )

    return _scaling_exponent(
        df, group_cols, order_cols, value_col, sizes,
        profile, per_scale, "_f", "dfa_alpha",
    )


def arch_lm(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Engle's ARCH LM test (order 1) per group — volatility
    clustering: do big shocks follow big shocks? Demean the ordered
    series (``e_t = x_t − x̄_g``), square, and regress ``e_t²`` on
    ``e_{t−1}²``; ``LM = m·R²_aux ~ χ²₁`` over the m lag pairs
    (df = 1 makes the survival exact and closed form:
    ``p = erfc(√LM/√2)``, the shared A&S polynomial). The
    conditional-heteroskedasticity companion to
    :func:`variance_ratio_test` — a series can pass a random-walk
    screen and still have strongly ARCH-y volatility.

    Plan: one unbounded-window group mean (no join), the squared
    demeaned series, one ``lag(1)`` per group over the declared total
    order (callers append a value tie-break — the
    :func:`dfa_hurst` ordering lesson), then ONE closed-form
    aggregation of the five pair moments. Output per group:
    ``(group_cols..., n, n_pairs, r2_aux, lm_stat, p_value,
    arch_flag_5pct)``, 6dp; ``arch_flag_5pct`` is ``p_value < 0.05`` on
    the rounded p.

    Beyond the reference; standard per Engle 1982.
    """
    from padua_spark.operators.stats import _normal_sf_2sided

    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    wall = wo.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    e = F.col("_v") - F.avg("_v").over(wall)
    staged = base.select(
        *group_cols, (e * e).alias("_w"),
        F.count(F.lit(1)).over(wall).alias("_n"),
        F.lag((e * e), 1).over(wo).alias("_wl"),
    )
    agg = staged.groupBy(*group_cols).agg(
        F.max("_n").cast("bigint").alias("n"),
        F.count(F.when(F.col("_wl").isNotNull(), 1))
        .cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("_wl").isNotNull(), F.col("_w")))
        .alias("_sy"),
        F.sum(F.when(F.col("_wl").isNotNull(), F.col("_wl")))
        .alias("_sx"),
        F.sum(
            F.when(F.col("_wl").isNotNull(), F.col("_w") * F.col("_w"))
        ).alias("_syy"),
        F.sum(
            F.when(
                F.col("_wl").isNotNull(), F.col("_wl") * F.col("_wl")
            )
        ).alias("_sxx"),
        F.sum(
            F.when(
                F.col("_wl").isNotNull(), F.col("_wl") * F.col("_w")
            )
        ).alias("_sxy"),
    )
    m = F.col("n_pairs").cast("double")
    sxx_c = F.col("_sxx") - F.col("_sx") * F.col("_sx") / m
    syy_c = F.col("_syy") - F.col("_sy") * F.col("_sy") / m
    sxy_c = F.col("_sxy") - F.col("_sx") * F.col("_sy") / m
    r2 = F.when(
        (F.col("n_pairs") >= 3) & (sxx_c > 0) & (syy_c > 0),
        sxy_c * sxy_c / (sxx_c * syy_c),
    )
    staged2 = agg.withColumn("_r2", r2)
    lm = m * F.col("_r2")
    # the flag thresholds the reported (6dp) p, so the two always agree
    p_value = F.round(_normal_sf_2sided(F.sqrt(lm)), 6)
    return staged2.select(
        *group_cols, "n", "n_pairs",
        F.round("_r2", 6).alias("r2_aux"),
        F.round(lm, 6).alias("lm_stat"),
        p_value.alias("p_value"),
        F.when(F.col("_r2").isNotNull(), p_value < 0.05)
        .alias("arch_flag_5pct"),
    )
