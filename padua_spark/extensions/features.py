"""Feature-encoding operators for ML training pipelines: leakage-safe
categorical target encoding and weight-of-evidence / information-value
scoring.

Both are cardinality-shaped: the heavy input is reduced to one row per
category in a single map-side-combining aggregation, and every derived
statistic is computed on that tiny frame — the rejoin to the full data
(for target encoding) is a broadcast-or-shuffle hash join on the
category key. Nothing here ever windows over the raw data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def target_encode_loo(
    df: DataFrame,
    category_col: str,
    target_col: str,
    smoothing: float = 20.0,
    out_col: str = "te_loo",
) -> DataFrame:
    """Leave-one-out target encoding with prior smoothing:

    ``te_i = (sum(y | cat) - y_i + m * global_mean) / (n_cat - 1 + m)``

    Excluding the row's OWN target from its encoding is what makes the
    feature usable at train time — plain mean encoding leaks the label
    and the model memorizes it (the classic target-leakage failure a
    split-leakage audit can't see because it is within-row, not
    between-split). The ``m``-weighted global-mean prior keeps rare
    categories from collapsing onto their own noisy means; a singleton
    category (n=1) encodes to exactly the global mean.

    Cost: one category aggregation (map-side combine), a 1-row global
    mean broadcast onto the category table, and one hash join of the
    category table back onto the data — the join side is
    cardinality-sized, so Spark broadcasts it below the threshold and
    AQE handles it above.

    Returns the input plus ``out_col``. Rows with NULL category or
    target get a NULL encoding.
    """
    y = F.col(target_col).cast("double")
    cat_stats = (
        df.where(
            F.col(category_col).isNotNull() & y.isNotNull()
        )
        .groupBy(category_col)
        .agg(
            F.sum(y).alias("_sum_y"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    glob = df.where(
        F.col(category_col).isNotNull() & y.isNotNull()
    ).agg(F.avg(y).alias("_gm"))
    cat = cat_stats.join(F.broadcast(glob))
    joined = df.join(cat, on=category_col, how="left")
    enc = (
        F.col("_sum_y")
        - y
        + F.lit(smoothing) * F.col("_gm")
    ) / (F.col("_n") - 1 + F.lit(smoothing))
    return joined.withColumn(
        out_col,
        F.when(
            F.col(category_col).isNotNull()
            & y.isNotNull()
            & F.col("_sum_y").isNotNull(),
            enc,
        ),
    ).drop("_sum_y", "_n", "_gm")


def woe_iv(
    df: DataFrame,
    category_col: str,
    label_col: str,
    smoothing: float = 0.5,
) -> DataFrame:
    """Weight of evidence per category of a feature against a binary
    label, plus the feature-level information value:

    ``woe_c = ln( (pos_c + s)/(pos_total + s*k)
                / ((neg_c + s)/(neg_total + s*k)) )``
    ``iv = sum_c (p_pos_c - p_neg_c) * woe_c``

    (``s`` = additive smoothing per category, ``k`` = number of
    categories — the smoothed shares stay a proper distribution, and
    zero-count cells never produce ±inf).

    The IV column repeats the feature-level sum on every row — computed
    with a window over the CATEGORY table (k rows, never the data), so
    one output frame carries both the per-category encoding and the
    feature's screening score (IV < 0.02 ≈ useless, > 0.5 ≈ suspect
    leakage, by the usual credit-scoring rubric).

    Returns one row per category: ``(category, n_pos, n_neg, woe,
    iv)``.
    """
    from pyspark.sql import Window

    lab = F.col(label_col).cast("int")
    cat = (
        df.where(F.col(category_col).isNotNull() & lab.isNotNull())
        .groupBy(category_col)
        .agg(
            F.sum(lab).cast("bigint").alias("n_pos"),
            F.sum(1 - lab).cast("bigint").alias("n_neg"),
        )
    )
    # k categories and the label totals live on a k-row frame; the
    # whole-table window below runs over that frame, not the data
    w = Window.partitionBy()
    cat = cat.select(
        category_col,
        "n_pos",
        "n_neg",
        F.sum("n_pos").over(w).alias("_tp"),
        F.sum("n_neg").over(w).alias("_tn"),
        F.count(F.lit(1)).over(w).alias("_k"),
    )
    s = F.lit(smoothing)
    p_pos = (F.col("n_pos") + s) / (
        F.col("_tp") + s * F.col("_k")
    )
    p_neg = (F.col("n_neg") + s) / (
        F.col("_tn") + s * F.col("_k")
    )
    woe = F.log(p_pos / p_neg)
    scored = cat.withColumn("woe", woe).withColumn(
        "_iv_term", (p_pos - p_neg) * woe
    )
    return scored.withColumn(
        "iv", F.sum("_iv_term").over(w)
    ).select(category_col, "n_pos", "n_neg", "woe", "iv")


def rfm_segments(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    monetary_col: str,
    n_bins: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation — the
    classic customer-value grid, computed with EXACT distributed
    quantile boundaries (no ``ntile`` over the entity frame, which
    would single-task-sort every user at scale):

    per user: ``recency = max(ts_global) − max(ts_user)`` (native
    timestamp/date columns are converted to epoch microseconds
    internally, so any numeric or temporal ``ts_col`` works),
    ``frequency = count``, ``monetary = Σ monetary_col``; each metric
    is scored 1..``n_bins`` against its ``q = i/n_bins`` boundaries,
    where boundary ``b_q`` is the exact lower quantile
    ``min{v : F(v) ≥ ⌈q·n⌉}`` from the shared distributed stepped
    cumsum (:func:`~padua_spark.operators.stats.
    _stepped_running_counts` — one bounded pass per metric). Values
    at or below a boundary take the lower bucket; recency is
    INVERTED (most recent = ``n_bins``). Ties and boundaries are
    deterministic, so segment assignment is engine-reproducible.

    Output one row per populated (r_score, f_score, m_score) cell:
    ``(r_score, f_score, m_score, n_users, total_monetary,
    avg_monetary)``, money 6dp — the ≤ n_bins³ grid a CRM consumes.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached
    from padua_spark.operators.stats import _stepped_running_counts

    from pyspark.sql import types as T

    # Native temporal ts columns subtract to an INTERVAL, which has
    # no double cast — convert to epoch microseconds internally so
    # recency is a plain numeric difference for any input type.
    ts_expr = F.col(ts_col)
    dt = df.schema[ts_col].dataType
    if isinstance(
        dt, (T.TimestampType, T.TimestampNTZType, T.DateType)
    ):
        ts_expr = F.unix_micros(F.col(ts_col).cast("timestamp"))
    u = (
        df.where(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .groupBy(F.col(user_col).alias("_u"))
        .agg(
            F.max(ts_expr).alias("_last"),
            F.count(F.lit(1)).cast("double").alias("_f"),
            F.sum(
                F.coalesce(F.col(monetary_col), F.lit(0.0))
            ).cast("double").alias("_m"),
        )
    )
    gmax = u.agg(F.max("_last").alias("_gmax"))
    users = (
        u.join(F.broadcast(gmax))
        .select(
            "_u",
            (F.col("_gmax") - F.col("_last"))
            .cast("double").alias("_r"),
            "_f",
            "_m",
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    qs = [i / n_bins for i in range(1, n_bins)]
    cached = [users]
    bounds = {}
    for metric in ("_r", "_f", "_m"):
        per = users.groupBy(F.col(metric).alias("_v")).agg(
            F.count(F.lit(1)).cast("bigint").alias("_c")
        )
        stepped = _stepped_running_counts(per, "_v", ["_c"])
        aggs = []
        for i, q in enumerate(qs):
            rank = F.ceil(
                F.lit(q) * F.col("_c_tot").cast("double")
            ).cast("bigint")
            aggs.append(
                F.min(
                    F.when(F.col("_c_run") >= rank, F.col("_v"))
                ).alias(f"b{i}")
            )
        bounds[metric] = stepped.agg(*aggs)
        cached.extend(getattr(stepped, "_padua_cached", ()))

    def _score(col, bframe_alias_prefix):
        s = F.lit(1)
        for i in range(len(qs)):
            s = s + (col > F.col(f"{bframe_alias_prefix}b{i}")).cast(
                "int"
            )
        return s

    b_r = bounds["_r"].select(
        *[F.col(f"b{i}").alias(f"_rb{i}") for i in range(len(qs))]
    )
    b_f = bounds["_f"].select(
        *[F.col(f"b{i}").alias(f"_fb{i}") for i in range(len(qs))]
    )
    b_m = bounds["_m"].select(
        *[F.col(f"b{i}").alias(f"_mb{i}") for i in range(len(qs))]
    )
    scored = (
        users.join(F.broadcast(b_r))
        .join(F.broadcast(b_f))
        .join(F.broadcast(b_m))
        .select(
            "_u",
            "_m",
            (
                F.lit(n_bins + 1) - _score(F.col("_r"), "_r")
            ).alias("r_score"),
            _score(F.col("_f"), "_f").alias("f_score"),
            _score(F.col("_m"), "_m").alias("m_score"),
        )
    )
    out = scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(F.sum("_m"), 6).alias("total_monetary"),
        F.round(F.avg("_m"), 6).alias("avg_monetary"),
    )
    return track_cached(out, *cached)


def gains_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Lift / gains table — the model-evaluation decile report ("if we
    act on the top 10% by score, what fraction of positives do we
    capture?"), the operating-point companion to ``group_auc``:
    bucket 1 holds the HIGHEST scores, and each bucket reports its
    positive rate, lift over the base rate, and the cumulative
    capture/lift walking down from the top.

    Bucket boundaries are EXACT score quantiles from the shared
    distributed stepped cumsum (:func:`~padua_spark.operators.stats.
    _stepped_running_counts` — same boundary law as
    :func:`rfm_segments`: ascending buckets split at
    ``min{v : F(v) ≥ ⌈q·n⌉}``, values at a boundary take the lower
    bucket, then buckets are inverted so 1 = top scores). No
    ``ntile`` over the fact table — nothing single-task-sorts the
    data. The cumulative columns are a window over the ≤ ``n_bins``
    aggregated rows only. Output per non-empty bucket: ``(bucket, n,
    n_pos, pos_rate, lift, cum_capture, cum_lift)``, 6dp; lift NULL
    when the corpus has no positives. Degenerate edge: identical
    scores everywhere land in ONE bucket (labeled ``n_bins``, the
    bottom, since nothing exceeds any boundary).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from padua_spark.io_utils import track_cached
    from padua_spark.operators.stats import _stepped_running_counts

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.where(s.isNotNull() & y.isNotNull()).select(
        s.alias("_s"), y.alias("_y")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    per = base.groupBy(F.col("_s").alias("_v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    qs = [i / n_bins for i in range(1, n_bins)]
    aggs = []
    for i, q in enumerate(qs):
        rank = F.ceil(
            F.lit(q) * F.col("_c_tot").cast("double")
        ).cast("bigint")
        aggs.append(
            F.min(
                F.when(F.col("_c_run") >= rank, F.col("_v"))
            ).alias(f"b{i}")
        )
    bounds = stepped.agg(*aggs)
    asc = F.lit(1)
    for i in range(len(qs)):
        asc = asc + (F.col("_s") > F.col(f"b{i}")).cast("int")
    bucket = F.lit(int(n_bins) + 1) - asc
    per_bucket = (
        base.join(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_y").cast("bigint").alias("n_pos"),
        )
    )
    # ≤ n_bins rows: the partitionless windows run over one tiny task
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum_n = F.sum("n").over(w).cast("double")
    cum_pos = F.sum("n_pos").over(w).cast("double")
    tot_n = F.sum("n").over(wall).cast("double")
    tot_pos = F.sum("n_pos").over(wall).cast("double")
    rate_all = tot_pos / tot_n
    nd = F.col("n").cast("double")
    pos_rate = F.col("n_pos").cast("double") / nd
    out = per_bucket.select(
        "bucket", "n", "n_pos",
        F.round(pos_rate, 6).alias("pos_rate"),
        F.round(
            F.when(rate_all > 0, pos_rate / rate_all), 6
        ).alias("lift"),
        F.round(
            F.when(tot_pos > 0, cum_pos / tot_pos), 6
        ).alias("cum_capture"),
        F.round(
            F.when(rate_all > 0, (cum_pos / cum_n) / rate_all), 6
        ).alias("cum_lift"),
    )
    cached = [base]
    cached.extend(getattr(stepped, "_padua_cached", ()))
    return track_cached(out, *cached)


def brier_decomposition(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Murphy decomposition of the Brier score — calibration
    (reliability), discrimination (resolution) and base-rate
    uncertainty in one number each, the standard diagnostic for
    probabilistic classifiers beyond raw accuracy:

    over equal-width forecast bins ``k = min(⌊p·K⌋, K−1)``:
    ``REL = Σ n_k(p̄_k − ȳ_k)²/N`` (penalty: predicted vs observed
    within bin), ``RES = Σ n_k(ȳ_k − ȳ)²/N`` (reward: bins separate
    outcomes), ``UNC = ȳ(1−ȳ)``, and the raw
    ``Brier = Σ(p−y)²/N = (Σp² − 2Σpy + Σy)/N`` (binary y, so
    y² = y — one aggregation, no residual column). The classic
    identity ``Brier = REL − RES + UNC`` holds exactly when
    forecasts are constant within bins (binned forecasts), else to
    within-bin forecast variance — reported raw, not forced.

    ONE map-side-combined aggregation to the ≤ K per-bin sums plus
    the same pass's global moments. Output 1 row: ``(n, brier,
    reliability, resolution, uncertainty)``, 6dp.

    Beyond the reference; standard per Murphy 1973.
    """
    from padua_spark.io_utils import track_cached

    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("int")
    k = int(n_bins)
    base = df.where(
        p.isNotNull() & y.isNotNull() & (p >= 0) & (p <= 1)
    ).select(p.alias("_p"), y.cast("double").alias("_y"))
    bin_idx = F.least(
        F.lit(k - 1), F.floor(F.col("_p") * k).cast("int")
    )
    per_bin = base.groupBy(bin_idx.alias("_b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_p").alias("_sp"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_p") * F.col("_p")).alias("_spp"),
        F.sum(F.col("_p") * F.col("_y")).alias("_spy"),
    )
    from pyspark import StorageLevel

    per_bin = per_bin.persist(StorageLevel.MEMORY_AND_DISK)
    tot = per_bin.agg(
        F.sum("_n").cast("bigint").alias("n"),
        F.sum("_sp").alias("_tsp"),
        F.sum("_sy").alias("_tsy"),
        F.sum("_spp").alias("_tspp"),
        F.sum("_spy").alias("_tspy"),
    ).withColumn("_one", F.lit(1))
    nd = F.col("n").cast("double")
    ybar = F.col("_tsy") / nd
    nk = F.col("_n").cast("double")
    pk = F.col("_sp") / nk
    yk = F.col("_sy") / nk
    parts = (
        per_bin.withColumn("_one", F.lit(1))
        .join(F.broadcast(tot.select("_one", "n", "_tsy")), on="_one")
        .agg(
            F.sum(nk * (pk - yk) * (pk - yk)).alias("_rel_num"),
            F.sum(
                nk
                * (yk - F.col("_tsy") / F.col("n").cast("double"))
                * (yk - F.col("_tsy") / F.col("n").cast("double"))
            ).alias("_res_num"),
        )
        .withColumn("_one", F.lit(1))
    )
    out = tot.join(F.broadcast(parts), on="_one").select(
        "n",
        F.round(
            (F.col("_tspp") - 2.0 * F.col("_tspy") + F.col("_tsy"))
            / nd,
            6,
        ).alias("brier"),
        F.round(F.col("_rel_num") / nd, 6).alias("reliability"),
        F.round(F.col("_res_num") / nd, 6).alias("resolution"),
        F.round(ybar * (1.0 - ybar), 6).alias("uncertainty"),
    )
    return track_cached(out, per_bin)


def ece_calibration(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Expected / maximum calibration error — the reliability-diagram
    numbers (Guo et al. 2017): over equal-width forecast bins,
    ``ECE = Σ (n_k/N)·|p̄_k − ȳ_k|`` and ``MCE = max_k |p̄_k − ȳ_k|``
    — the per-bin view the Brier decomposition's single REL number
    averages away ("which score region is lying?").

    ONE binned aggregation (same bin law as
    :func:`brier_decomposition`); the summary pair rides a window
    over the ≤ n_bins rows. Output: one row per populated bin:
    ``(bin, n, conf_mean, acc_mean, gap, ece, mce)``, 6dp, the
    ece/mce repeated per row.
    """
    from pyspark.sql import Window

    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("int")
    k = int(n_bins)
    base = df.where(
        p.isNotNull() & y.isNotNull() & (p >= 0) & (p <= 1)
    ).select(p.alias("_p"), y.cast("double").alias("_y"))
    bin_idx = F.least(
        F.lit(k - 1), F.floor(F.col("_p") * k).cast("int")
    )
    per = base.groupBy(bin_idx.alias("bin")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_p").alias("_sp"),
        F.sum("_y").alias("_sy"),
    )
    nk = F.col("n").cast("double")
    conf = F.col("_sp") / nk
    acc = F.col("_sy") / nk
    gap = F.abs(conf - acc)
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = F.sum("n").over(w).cast("double")
    staged = per.select(
        "bin", "n",
        conf.alias("_conf"), acc.alias("_acc"), gap.alias("_gap"),
    )
    ece = F.sum(
        F.col("n").cast("double") * F.col("_gap")
    ).over(w) / tot
    mce = F.max("_gap").over(w)
    return staged.select(
        "bin", "n",
        F.round("_conf", 6).alias("conf_mean"),
        F.round("_acc", 6).alias("acc_mean"),
        F.round("_gap", 6).alias("gap"),
        F.round(ece, 6).alias("ece"),
        F.round(mce, 6).alias("mce"),
    )


TEMPERATURE_GRID = [
    0.25, 0.35, 0.5, 0.7, 0.85, 1.0, 1.2, 1.5, 2.0, 2.5, 3.0, 4.0,
]


def temperature_scaling(
    df: DataFrame,
    logit_col: str,
    label_col: str,
    grid: list | None = None,
) -> DataFrame:
    """Temperature scaling (Guo et al. 2017) — the one-parameter
    post-hoc calibration fix: pick T minimizing the binary NLL of
    ``σ(z/T)`` over a FIXED temperature grid (the same
    engine-reproducibility contract as :func:`~padua_spark.operators.
    stats.boxcox_lambda`'s fixed λ grid — no optimizer, every engine
    evaluates the identical finite set).

    ``NLL(T) = Σ softplus((1 − 2y)·z/T)`` (the numerically-stable
    form ``softplus(x) = max(x,0) + ln(1+e^{−|x|})`` — never
    overflows at any z/T). ONE aggregation computes every T's NLL.
    Output: one row per T: ``(temperature, n, nll, is_best)``, 6dp,
    best by min NLL (ties → T closer to 1).
    """
    grid = [float(t) for t in (grid or TEMPERATURE_GRID)]
    z = F.col(logit_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.where(z.isNotNull() & y.isNotNull())
    sgn = (1.0 - 2.0 * y.cast("double"))
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for i, t in enumerate(grid):
        x = sgn * z / F.lit(t)
        softplus = F.greatest(x, F.lit(0.0)) + F.log1p(
            F.exp(-F.abs(x))
        )
        aggs.append(F.sum(softplus).alias(f"_nll{i}"))
    agg = base.agg(*aggs)
    rows = []
    for i, t in enumerate(grid):
        rows += [F.lit(t), F.col(f"_nll{i}")]
    stacked = agg.select(
        "n",
        F.stack(F.lit(len(grid)), *rows).alias(
            "temperature", "_nll"
        ),
    )
    from pyspark.sql import Window

    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # min by (nll, |ln T|): ties prefer the temperature closest to 1
    key = F.struct(
        F.col("_nll"), F.abs(F.log(F.col("temperature")))
    )
    best = F.min(key).over(w)
    return stacked.select(
        "temperature", "n",
        F.round("_nll", 6).alias("nll"),
        (key == best).alias("is_best"),
    )


def spiegelhalter_z(
    df: DataFrame,
    prob_col: str,
    label_col: str,
) -> DataFrame:
    """Spiegelhalter's z-test of calibration (Spiegelhalter 1986) —
    the single-number significance companion to
    :func:`ece_calibration`'s descriptive bins: is the forecast's
    Brier score larger than chance would allow IF every stated
    probability were exactly right?

    ``z = Σ(y_i − p_i)(1 − 2p_i) / √(Σ(1 − 2p_i)² p_i(1 − p_i))``,
    two-sided p via the shared A&S-erfc normal survival. Sensitive to
    systematic over/under-confidence, blind to slope-only
    miscalibration — pair with :func:`hosmer_lemeshow` for the binned
    view.

    ONE aggregation over rows with ``p ∈ [0, 1]`` and a binary label;
    output 1 row ``(n, z, p_value)``, 6dp; z/p NULL when the variance
    term is 0 (all p in {0, 1}) or n = 0.

    Beyond the reference; standard per Spiegelhalter 1986 /
    Rufibach 2010 (R `SpecsVerification`).
    """
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.where(
        p.isNotNull() & y.isNotNull() & (p >= 0) & (p <= 1)
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((y - p) * (1.0 - 2.0 * p)).alias("_num"),
        F.sum(
            (1.0 - 2.0 * p) * (1.0 - 2.0 * p) * p * (1.0 - p)
        ).alias("_var"),
    )
    from padua_spark.operators.stats import _normal_sf_2sided

    z = F.when(F.col("_var") > 0, F.col("_num") / F.sqrt("_var"))
    return agg.select(
        "n",
        F.round(z, 6).alias("z"),
        F.round(
            F.when(z.isNotNull(), F.least(
                _normal_sf_2sided(z), F.lit(1.0)
            )),
            6,
        ).alias("p_value"),
    )


def hosmer_lemeshow(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-fit test for binary-probability
    calibration — the classical binned chi-square behind "is this
    risk model calibrated?" (Hosmer & Lemeshow 1980), the
    significance companion to :func:`gains_table`'s descriptive
    deciles:

    ``C = Σ_g (O_g − E_g)² / (E_g(1 − E_g/n_g))`` over ``g`` bins of
    ascending predicted probability with ``O_g = Σ y``,
    ``E_g = Σ p``; df = g − 2, p via the compile-time-unrolled
    closed-form chi-square survival
    (:func:`~padua_spark.operators.stats._chi2_sf_closed` — erfc +
    half-integer gamma series, no UDF, shared verbatim with any SQL
    twin). Bins whose variance term is degenerate (``E ≤ 0`` or
    ``E ≥ n_g``) are excluded from BOTH the statistic and g — the
    standard practical convention.

    Bin boundaries are EXACT probability quantiles from the shared
    distributed stepped cumsum — the :func:`gains_table` boundary law
    (``min{v : F(v) ≥ ⌈q·n⌉}``, boundary values take the lower bin),
    never an ``ntile`` sort of the fact table. ONE aggregation to the
    ≤ ``n_bins`` bin rows; the statistic rides a window over those
    rows only. Output per usable bin: ``(bin, n, n_pos, expected_pos,
    g_bins, chi2, df, p_value)``, chi2/df/p repeated per row, 6dp;
    p NULL when g ≤ 2.

    Beyond the reference; standard per Hosmer & Lemeshow 1980.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from padua_spark.io_utils import track_cached
    from padua_spark.operators.stats import (
        _chi2_sf_closed,
        _stepped_running_counts,
    )

    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.where(
        p.isNotNull() & y.isNotNull() & (p >= 0) & (p <= 1)
    ).select(p.alias("_p"), y.cast("double").alias("_y")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    per = base.groupBy(F.col("_p").alias("_v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    k = int(n_bins)
    qs = [i / k for i in range(1, k)]
    aggs = []
    for i, q in enumerate(qs):
        rank = F.ceil(
            F.lit(q) * F.col("_c_tot").cast("double")
        ).cast("bigint")
        aggs.append(
            F.min(
                F.when(F.col("_c_run") >= rank, F.col("_v"))
            ).alias(f"b{i}")
        )
    bounds = stepped.agg(*aggs)
    bucket = F.lit(1)
    for i in range(len(qs)):
        bucket = bucket + (F.col("_p") > F.col(f"b{i}")).cast("int")
    per_bin = (
        base.join(F.broadcast(bounds))
        .groupBy(bucket.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_y").cast("bigint").alias("n_pos"),
            F.sum("_p").alias("_e"),
        )
    )
    nd = F.col("n").cast("double")
    usable = (F.col("_e") > 0) & (F.col("_e") < nd)
    term = F.when(
        usable,
        (F.col("n_pos").cast("double") - F.col("_e"))
        * (F.col("n_pos").cast("double") - F.col("_e"))
        / (F.col("_e") * (1.0 - F.col("_e") / nd)),
    )
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g = F.sum(usable.cast("int")).over(w)
    chi2 = F.sum(term).over(w)
    dfree = g - F.lit(2)
    staged = per_bin.select(
        "bin", "n", "n_pos", F.col("_e").alias("_exp"),
        g.alias("_g"), chi2.alias("_chi2"), dfree.alias("_df"),
    )
    out = staged.select(
        "bin", "n", "n_pos",
        F.round("_exp", 6).alias("expected_pos"),
        F.col("_g").alias("g_bins"),
        F.round("_chi2", 6).alias("chi2"),
        F.col("_df").cast("int").alias("df"),
        F.round(
            F.when(
                (F.col("_df") >= 1) & F.col("_chi2").isNotNull(),
                _chi2_sf_closed(
                    F.col("_chi2"), F.col("_df"), max(k - 2, 1)
                ),
            ),
            6,
        ).alias("p_value"),
    )
    return track_cached(
        out, base, *getattr(stepped, "_padua_cached", ())
    )


def coec_position_bias(
    df: DataFrame,
    position_col: str,
    click_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """COEC (Clicks Over Expected Clicks) position-bias profile — the
    standard ranking-log correction before any CTR feature is trusted
    ("position 1 gets clicked because it's position 1"): per position
    the raw CTR, the global-position prior, and per optional group
    the COEC ratio ``clicks / Σ impressions·prior(position)`` (> 1 =
    better than its positions predict).

    Without ``group_cols``: one row per position ``(position, n,
    n_clicks, ctr, position_prior)`` where the prior is the pooled
    per-position CTR. With ``group_cols``: one row per group
    ``(groups..., n, n_clicks, expected_clicks, coec)`` — expected
    clicks from joining each impression's position prior back
    (broadcast: positions are a bounded UI domain).

    TWO aggregations (position priors, then group roll-up) and one
    broadcast join — scan-shaped, no windows. 6dp.

    Beyond the reference; standard per Zhang & Jones 2007 (COEC) /
    position-bias practice in ranking pipelines.
    """
    p = F.col(position_col)
    c = F.col(click_col).cast("int")
    base = df.where(p.isNotNull() & c.isNotNull())
    prior = base.groupBy(p.alias("_pos")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(c).cast("bigint").alias("n_clicks"),
    ).withColumn(
        "_prior",
        F.col("n_clicks").cast("double") / F.col("n").cast("double"),
    )
    if not group_cols:
        return prior.select(
            F.col("_pos").alias("position"), "n", "n_clicks",
            F.round("_prior", 6).alias("ctr"),
            F.round("_prior", 6).alias("position_prior"),
        )
    joined = base.join(
        F.broadcast(prior.select("_pos", "_prior")),
        base[position_col] == F.col("_pos"),
    )
    agg = joined.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(c).cast("bigint").alias("n_clicks"),
        F.sum("_prior").alias("_exp"),
    )
    return agg.select(
        *group_cols, "n", "n_clicks",
        F.round("_exp", 6).alias("expected_clicks"),
        F.round(
            F.when(
                F.col("_exp") > 0,
                F.col("n_clicks").cast("double") / F.col("_exp"),
            ),
            6,
        ).alias("coec"),
    )


def fairness_report(
    df: DataFrame,
    group_col: str,
    label_col: str,
    pred_col: str,
    reference_group,
) -> DataFrame:
    """Group-fairness audit of a binary classifier — the standard
    disparity dashboard (demographic parity, equal opportunity,
    equalized odds) per protected-attribute group against a declared
    reference group:

    per group: ``n``, ``base_rate`` (P(y=1)), ``ppr`` (predicted
    positive rate — demographic parity's quantity), ``tpr`` / ``fpr``
    (equal opportunity / equalized odds), and the three gaps vs the
    reference group (``group − reference``; the reference row shows
    0 gaps). Rates NULL where their denominator is 0 (no positives /
    negatives in the group), and that group's gap is NULL too —
    never silently 0.

    ONE aggregation to the per-group confusion counts (bounded:
    protected attributes have small domains), one broadcast of the
    reference row. Output per group: ``(group, n, base_rate, ppr,
    tpr, fpr, dp_gap, tpr_gap, fpr_gap)``, 6dp.

    Beyond the reference; standard per Hardt, Price & Srebro 2016 /
    Barocas, Hardt & Narayanan (Fairness and Machine Learning).
    """
    from padua_spark.io_utils import track_cached

    g = F.col(group_col)
    y = F.col(label_col).cast("int")
    p = F.col(pred_col).cast("int")
    per = (
        df.where(g.isNotNull() & y.isNotNull() & p.isNotNull())
        .groupBy(g.alias("group"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(y).cast("bigint").alias("_pos"),
            F.sum(p).cast("bigint").alias("_pp"),
            F.sum(y * p).cast("bigint").alias("_tp"),
            F.sum((1 - y) * p).cast("bigint").alias("_fp"),
        )
    )
    nd = F.col("n").cast("double")
    posd = F.col("_pos").cast("double")
    negd = (F.col("n") - F.col("_pos")).cast("double")
    rates = per.select(
        "group", "n",
        (posd / nd).alias("_br"),
        (F.col("_pp").cast("double") / nd).alias("_ppr"),
        F.when(posd > 0, F.col("_tp").cast("double") / posd)
        .alias("_tpr"),
        F.when(negd > 0, F.col("_fp").cast("double") / negd)
        .alias("_fpr"),
    )
    ref = rates.where(F.col("group") == reference_group).select(
        F.col("_ppr").alias("_rppr"),
        F.col("_tpr").alias("_rtpr"),
        F.col("_fpr").alias("_rfpr"),
    )
    out = rates.crossJoin(F.broadcast(ref)).select(
        "group", "n",
        F.round("_br", 6).alias("base_rate"),
        F.round("_ppr", 6).alias("ppr"),
        F.round("_tpr", 6).alias("tpr"),
        F.round("_fpr", 6).alias("fpr"),
        F.round(F.col("_ppr") - F.col("_rppr"), 6).alias("dp_gap"),
        F.round(F.col("_tpr") - F.col("_rtpr"), 6).alias("tpr_gap"),
        F.round(F.col("_fpr") - F.col("_rfpr"), 6).alias("fpr_gap"),
    )
    return track_cached(out)


def _declared_counts(grouped, col, values, names, other=None):
    """Per-key counts of the DECLARED ``values`` of column ``col``
    under ``grouped``: one bigint conditional sum per value (named by
    ``names``), an ``other`` count of the undeclared rows when
    ``other`` is given, and the declared total as ``_n``. ONE
    aggregation with compile-time bounded state, so the same core
    serves a batch groupBy and a streaming window key
    (:func:`srm_check`, ``streaming.windowed_srm`` and the
    declared-key window monitors)."""
    aggs = [
        F.sum(F.when(F.col(col) == v, 1).otherwise(0))
        .cast("bigint").alias(name)
        for v, name in zip(values, names)
    ]
    if other:
        aggs.append(
            F.sum(
                F.when(~F.col(col).isin(list(values)), 1).otherwise(0)
            ).cast("bigint").alias(other)
        )
    n = None
    for name in names:
        c = F.col(name)
        n = c if n is None else n + c
    return grouped.agg(*aggs).withColumn("_n", n)


def _srm_ratios(name, arms, expected_ratios) -> list[float]:
    """The allocation ratios of an SRM check, normalized to sum 1
    (equal allocation by default); errors name the public operator."""
    k = len(arms)
    if k < 2:
        raise ValueError(f"{name}: need at least 2 arms")
    if expected_ratios is None:
        return [1.0 / k] * k
    if len(expected_ratios) != k or any(r <= 0 for r in expected_ratios):
        raise ValueError(
            f"{name}: expected_ratios must be positive and match arms"
        )
    tot = float(sum(expected_ratios))
    return [float(r) / tot for r in expected_ratios]


def _srm_summary(staged, ratios, lead) -> DataFrame:
    """The SRM finalizer over :func:`_declared_counts` arm counts
    ``n_arm_{i}``: χ² against ``ratios``, the closed-form df = k−1
    chi-square SF rounded to 6dp, and the 1% flag on that rounded p.
    Output ``(*lead, n, n_arm_0.., chi2, df, p_value,
    srm_flag_1pct)``."""
    from padua_spark.operators.stats import _chi2_sf_closed

    k = len(ratios)
    nd = F.col("_n").cast("double")
    chi2 = None
    for i in range(k):
        e = F.lit(ratios[i]) * nd
        o = F.col(f"n_arm_{i}").cast("double")
        term = (o - e) * (o - e) / e
        chi2 = term if chi2 is None else chi2 + term
    staged = staged.withColumn(
        "_chi2", F.when(F.col("_n") > 0, chi2)
    )
    # the flag thresholds the reported (6dp) p, so the two always agree
    p_value = F.round(
        _chi2_sf_closed(F.col("_chi2"), F.lit(k - 1), max_df=max(k - 1, 1)),
        6,
    )
    return staged.select(
        *lead,
        F.col("_n").alias("n"),
        *[F.col(f"n_arm_{i}") for i in range(k)],
        F.round("_chi2", 6).alias("chi2"),
        F.lit(k - 1).cast("bigint").alias("df"),
        p_value.alias("p_value"),
        F.when(F.col("_chi2").isNotNull(), p_value < 0.01)
        .alias("srm_flag_1pct"),
    )


def srm_check(
    df: DataFrame,
    group_cols: list[str],
    arm_col: str,
    arms: list,
    expected_ratios: list[float] | None = None,
) -> DataFrame:
    """Sample-ratio-mismatch (SRM) check per group — the first gate
    of every A/B readout ("did the traffic split actually land
    50/50?"): a chi-square goodness-of-fit of the DECLARED arm
    counts against the declared allocation ratios. A significant SRM
    means the assignment or logging is broken and every downstream
    metric comparison is invalid — run this before
    :func:`~padua_spark.operators.stats.two_proportion_effects`-style
    readouts, not after.

    ``arms`` are declared (compile-time bounded, the
    :func:`fairness_report` contract), so each arm's count is a
    conditional-sum column in ONE aggregation; rows with an arm
    value outside ``arms`` are ignored (documented).
    ``expected_ratios`` defaults to equal allocation; they are
    normalized to sum 1. χ² = Σ (O_k − E_k)²/E_k with
    ``E_k = ratio_k·n``; p via the shared closed-form chi-square SF
    (df = k−1, compile-time). Counts and finalizer are
    :func:`_declared_counts` and :func:`_srm_summary`, shared with
    ``streaming.windowed_srm``. Output per group: ``(groups..., n,
    n_arm_0.., chi2, df, p_value, srm_flag_1pct)``, 6dp;
    ``srm_flag_1pct`` is ``p_value < 0.01`` on the rounded p.
    """
    a = F.col(arm_col)
    ratios = _srm_ratios("srm_check", arms, expected_ratios)
    base = df.where(a.isin(list(arms))).select(
        *group_cols, a.alias("_a")
    )
    staged = _declared_counts(
        base.groupBy(*group_cols), "_a", arms,
        [f"n_arm_{i}" for i in range(len(arms))],
    )
    return _srm_summary(staged, ratios, group_cols)
