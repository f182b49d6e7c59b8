"""Statistical test operators (reference: ``padua/analysis.py`` §2.6,
``padua/utils.py`` q-values, ``padua/visualize.py:458-676`` volcano).

padua computes these with numpy masked arrays or per-row Python loops
(the ANOVA loop at analysis.py:411-426 is its worst scalability pain
point). Here every statistic is a **closed-form conditional aggregation**
— one ``groupBy(feature)`` pass over the fact table, partial+final
aggregation, whole-stage codegen. Only the final p-value CDF (an
incomplete-beta evaluation) crosses to Python, as a vectorized pandas
UDF over the already-aggregated per-feature rows (thousands of rows,
not billions).

NaN-masked semantics parity (`sp.stats.mstats`): all means/variances/
counts below are per-group over *non-null* values only — exactly what
Spark's null-skipping aggregates do natively.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from padua_spark.functions.distributions import (
    chi2_sf_udf,
    f_sf_udf,
    t_sf_udf,
)
from padua_spark.io_utils import local_frame


def _group_value(group_col: str, group, value_col: str) -> Column:
    return F.when(F.col(group_col) == F.lit(group), F.col(value_col))


def ttest_ind_stats(
    df: DataFrame,
    feature_cols: list[str],
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    equal_var: bool = True,
) -> DataFrame:
    """Per-feature two-sample t statistic between groups a and b —
    pure SQL arithmetic (no p-value; see :func:`ttest_ind`).

    Reference: ``analysis.ttest_ind`` (analysis.py:467-498) =
    equal-variance Student's t with NaN masking
    (``sp.stats.mstats.ttest_ind``). ``equal_var=False`` gives Welch's t
    (an extension; the reference is pooled-variance only).

    Output columns: feature_cols + mean_a mean_b n_a n_b var_a var_b
    t_stat df.
    """
    va = _group_value(group_col, group_a, value_col)
    vb = _group_value(group_col, group_b, value_col)
    agg = df.groupBy(*feature_cols).agg(
        F.avg(va).alias("mean_a"),
        F.avg(vb).alias("mean_b"),
        F.count(va).alias("n_a"),
        F.count(vb).alias("n_b"),
        F.var_samp(va).alias("var_a"),
        F.var_samp(vb).alias("var_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    vva, vvb = F.col("var_a"), F.col("var_b")
    if equal_var:
        dof = (na + nb - 2).cast("double")
        pooled = ((na - 1) * vva + (nb - 1) * vvb) / dof
        denom = F.sqrt(pooled * (1.0 / na + 1.0 / nb))
    else:
        se2a, se2b = vva / na, vvb / nb
        dof = (se2a + se2b) * (se2a + se2b) / (
            se2a * se2a / (na - 1) + se2b * se2b / (nb - 1)
        )
        denom = F.sqrt(se2a + se2b)
    t = F.when(
        (na >= 2) & (nb >= 2) & (denom > 0),
        (F.col("mean_a") - F.col("mean_b")) / denom,
    )
    return agg.withColumn("t_stat", t).withColumn(
        "df", F.when((na >= 2) & (nb >= 2), dof)
    )


def ttest_ind(df, feature_cols, group_col, value_col, group_a, group_b,
              equal_var: bool = True) -> DataFrame:
    """:func:`ttest_ind_stats` + two-sided p-value (pandas-UDF
    incomplete beta over the aggregated rows)."""
    stats = ttest_ind_stats(
        df, feature_cols, group_col, value_col, group_a, group_b, equal_var
    )
    return stats.withColumn("p_value", t_sf_udf(F.col("t_stat"), F.col("df")))


def ttest_1samp_stats(
    df: DataFrame,
    feature_cols: list[str],
    value_col: str,
    popmean: float = 0.0,
) -> DataFrame:
    """Per-feature one-sample t vs ``popmean`` (the working semantics of
    the volcano inline version, ``visualize.py:556-557``; the standalone
    ``analysis.ttest_1samp`` is broken as shipped — analysis.py:456,
    SURVEY.md §5)."""
    agg = df.groupBy(*feature_cols).agg(
        F.avg(F.col(value_col)).alias("mean"),
        F.stddev_samp(F.col(value_col)).alias("sd"),
        F.count(F.col(value_col)).alias("n"),
    )
    n = F.col("n")
    t = F.when(
        (n >= 2) & (F.col("sd") > 0),
        (F.col("mean") - F.lit(popmean)) / (F.col("sd") / F.sqrt(n)),
    )
    return agg.withColumn("t_stat", t).withColumn(
        "df", F.when(n >= 2, (n - 1).cast("double"))
    )


def ttest_1samp(df, feature_cols, value_col, popmean: float = 0.0) -> DataFrame:
    stats = ttest_1samp_stats(df, feature_cols, value_col, popmean)
    return stats.withColumn("p_value", t_sf_udf(F.col("t_stat"), F.col("df")))


def anova_1way_stats(
    df: DataFrame,
    feature_cols: list[str],
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-feature one-way ANOVA F statistic across all groups present.

    Reference: ``analysis.anova_1way`` (analysis.py:387-432) — a Python
    loop calling ``sp.stats.mstats.f_oneway`` per row. Here: two
    cascaded aggregations (feature×group stats → per-feature combine),
    eliminating the O(rows) loop entirely.

    F = (SSB/(k-1)) / (SSW/(N-k)) with group-wise non-null counts.
    """
    v = F.col(value_col)
    per_group = df.filter(v.isNotNull()).groupBy(*feature_cols, group_col).agg(
        F.count(v).alias("_n"),
        F.avg(v).alias("_mean"),
        F.var_samp(v).alias("_var"),
    )
    n, mean, var = F.col("_n"), F.col("_mean"), F.col("_var")
    combined = per_group.groupBy(*feature_cols).agg(
        F.sum(n).alias("n_total"),
        F.count(F.lit(1)).alias("k_groups"),
        F.sum(n * mean).alias("_sum_all"),
        F.sum(n * mean * mean).alias("_sum_nm2"),
        F.sum(F.when(n > 1, (n - 1) * var).otherwise(0.0)).alias("ssw"),
    )
    nt = F.col("n_total").cast("double")
    grand = F.col("_sum_all") / nt
    ssb = F.col("_sum_nm2") - nt * grand * grand
    k = F.col("k_groups").cast("double")
    dfn = k - 1
    dfd = nt - k
    f_stat = F.when(
        (k >= 2) & (dfd > 0) & (F.col("ssw") > 0),
        (ssb / dfn) / (F.col("ssw") / dfd),
    )
    return (
        combined.withColumn("f_stat", f_stat)
        .withColumn("dfn", F.when(k >= 2, dfn))
        .withColumn("dfd", F.when(dfd > 0, dfd))
        .drop("_sum_all", "_sum_nm2")
    )


def ttest_paired_stats(
    df: DataFrame,
    feature_cols: list[str],
    pair_cols: list[str],
    cond_col: str,
    value_col: str,
    cond_a,
    cond_b,
) -> DataFrame:
    """Paired t-test per feature — the matched-design test between the
    reference's ``ttest_ind`` (independent) and ``ttest_1samp``: pairs
    are matched on ``pair_cols`` (subject/run), each side's value is
    the MEAN over that pair's replicates of the condition (documented
    collapse rule), pairs missing either condition drop, and the
    statistic is the one-sample t of the differences against 0.

    Plan: one conditional-mean aggregation over (feature, pair) —
    map-side partials — then the :func:`ttest_1samp_stats` per-feature
    aggregation over the differences. Output = ttest_1samp_stats
    schema (mean/sd/n/t_stat/df of the differences).
    """
    v = F.col(value_col)
    per_pair = (
        df.where(F.col(cond_col).isin([cond_a, cond_b]) & v.isNotNull())
        .groupBy(*feature_cols, *pair_cols)
        .agg(
            F.avg(F.when(F.col(cond_col) == cond_a, v)).alias("_va"),
            F.avg(F.when(F.col(cond_col) == cond_b, v)).alias("_vb"),
        )
    )
    diffs = per_pair.where(
        F.col("_va").isNotNull() & F.col("_vb").isNotNull()
    ).withColumn("_d", F.col("_va") - F.col("_vb"))
    return ttest_1samp_stats(diffs, feature_cols, "_d", popmean=0.0)


def anova_2way_stats(
    df: DataFrame,
    feature_cols: list[str],
    factor_a: str,
    factor_b: str,
    value_col: str,
) -> DataFrame:
    """Per-feature two-way ANOVA (main effects A, B and the A×B
    interaction) — the condition × time design the reference's 1-way
    loop (analysis.py:387-432) cannot express. Classic decomposition
    in computational (sum-of-squares-of-sums) form, exact for BALANCED
    designs (equal cell counts; for unbalanced data these are the
    sequential sums of squares of the cell-means model — documented
    semantics, reproducible on any engine):

    - ``SS_A = Σ_a S_a²/N_a − S²/N`` (likewise B),
    - ``SS_cells = Σ_ab S_ab²/n_ab − S²/N``,
    - ``SS_AB = SS_cells − SS_A − SS_B``,
    - ``SS_within = Σ_ab (Σy² − S_ab²/n_ab)``,
    - ``F_eff = (SS_eff/df_eff) / (SS_within/df_within)`` with
      ``df_A = a−1, df_B = b−1, df_AB = (a−1)(b−1),
      df_within = N − a·b``.

    Plan: ONE cell-stats aggregation over the fact table (map-side
    partials), then three tiny per-feature re-aggregations of the cell
    frame joined back — no second pass over the data. All sums stay
    raw Σy/Σy², so the arithmetic is engine-exact for integral values.

    Output per feature: ``(…, n_total, k_a, k_b, ss_a, ss_b, ss_ab,
    ss_within, dfn_a, dfn_b, dfn_ab, df_within, f_a, f_b, f_ab)`` —
    NULL Fs when a df is non-positive or SS_within is 0.
    """
    v = F.col(value_col)
    cells = (
        df.filter(v.isNotNull())
        .groupBy(*feature_cols, factor_a, factor_b)
        .agg(
            F.count(v).alias("_n"),
            F.sum(v).alias("_s"),
            F.sum(v * v).alias("_ss"),
        )
    )
    pa = cells.groupBy(*feature_cols, factor_a).agg(
        F.sum("_n").alias("_na"), F.sum("_s").alias("_sa")
    )
    a_terms = pa.groupBy(*feature_cols).agg(
        F.count(F.lit(1)).alias("k_a"),
        F.sum(
            F.col("_sa") * F.col("_sa") / F.col("_na").cast("double")
        ).alias("_ta"),
    )
    pb = cells.groupBy(*feature_cols, factor_b).agg(
        F.sum("_n").alias("_nb"), F.sum("_s").alias("_sb")
    )
    b_terms = pb.groupBy(*feature_cols).agg(
        F.count(F.lit(1)).alias("k_b"),
        F.sum(
            F.col("_sb") * F.col("_sb") / F.col("_nb").cast("double")
        ).alias("_tb"),
    )
    tot = cells.groupBy(*feature_cols).agg(
        F.sum("_n").alias("n_total"),
        F.sum("_s").alias("_stot"),
        F.count(F.lit(1)).alias("_n_cells"),
        F.sum(
            F.col("_s") * F.col("_s") / F.col("_n").cast("double")
        ).alias("_tcells"),
        F.sum(
            F.col("_ss")
            - F.col("_s") * F.col("_s") / F.col("_n").cast("double")
        ).alias("ss_within"),
    )
    j = tot.join(a_terms, on=feature_cols).join(b_terms, on=feature_cols)
    nt = F.col("n_total").cast("double")
    cf = F.col("_stot") * F.col("_stot") / nt  # correction factor S²/N
    ss_a = F.col("_ta") - cf
    ss_b = F.col("_tb") - cf
    ss_cells = F.col("_tcells") - cf
    ss_ab = ss_cells - ss_a - ss_b
    ka = F.col("k_a").cast("double")
    kb = F.col("k_b").cast("double")
    dfn_a = ka - 1
    dfn_b = kb - 1
    dfn_ab = dfn_a * dfn_b
    df_w = nt - F.col("_n_cells").cast("double")

    def _f(ss, dfn):
        return F.when(
            (dfn > 0) & (df_w > 0) & (F.col("ss_within") > 0),
            (ss / dfn) / (F.col("ss_within") / df_w),
        )

    return j.select(
        *feature_cols,
        "n_total",
        "k_a",
        "k_b",
        ss_a.alias("ss_a"),
        ss_b.alias("ss_b"),
        ss_ab.alias("ss_ab"),
        "ss_within",
        F.when(dfn_a > 0, dfn_a).alias("dfn_a"),
        F.when(dfn_b > 0, dfn_b).alias("dfn_b"),
        F.when(dfn_ab > 0, dfn_ab).alias("dfn_ab"),
        F.when(df_w > 0, df_w).alias("df_within"),
        _f(ss_a, dfn_a).alias("f_a"),
        _f(ss_b, dfn_b).alias("f_b"),
        _f(ss_ab, dfn_ab).alias("f_ab"),
    )


def levene_stats(
    df: DataFrame,
    feature_cols: list[str],
    group_col: str,
    value_col: str,
    center: str = "median",
) -> DataFrame:
    """Brown–Forsythe / Levene homogeneity-of-variance test — the
    assumption check behind every pooled-variance t/ANOVA the
    reference runs: a one-way ANOVA on the absolute deviations from
    each group's center. ``center='median'`` (default) is the robust
    Brown–Forsythe variant — and the median is exactly computable on
    any engine (``group_medians``' relational sort path), making the W
    statistic oracle-checkable; ``center='mean'`` is classic Levene.

    Plan: per-(feature, group) centers via one shuffle-sort of a
    two-column projection (median) or one aggregation (mean), a join
    back on the (feature, group) key, then the
    :func:`anova_1way_stats` aggregation on |v − center|.
    The join carries no broadcast hint: AQE picks the strategy from
    the MEASURED size of the centers side — safe at any cardinality,
    since the centers frame is |features|·|groups| rows and at extreme
    per-feature scale (millions of features) a forced broadcast would
    OOM the driver (the winsorize extreme-cardinality precedent). In
    padua's regime (thousands of features, a handful of groups) AQE
    converts the join to a broadcast at runtime anyway. Output =
    anova_1way_stats schema with ``f_stat`` being Levene's W.
    """
    from padua_spark.operators.normalization import group_medians

    keys = [*feature_cols, group_col]
    v = F.col(value_col)
    if center == "median":
        centers = group_medians(df, keys, v, "_c")
    else:
        centers = df.filter(v.isNotNull()).groupBy(*keys).agg(
            F.avg(v).alias("_c")
        )
    dev = (
        df.join(centers, on=keys, how="left")
        .withColumn("_z", F.abs(v - F.col("_c")))
    )
    return anova_1way_stats(dev, feature_cols, group_col, "_z")


def anova_1way(df, feature_cols, group_col, value_col,
               fdr: float = 0.05) -> DataFrame:
    """ANOVA with p-value and significance flag (reference appends
    ``ANOVA p/t/sig`` columns, analysis.py:427-431)."""
    stats = anova_1way_stats(df, feature_cols, group_col, value_col)
    stats = stats.withColumn(
        "p_value", f_sf_udf(F.col("f_stat"), F.col("dfn"), F.col("dfd"))
    )
    return stats.withColumn("significant", F.col("p_value") <= F.lit(fdr))


def qvalues(
    df: DataFrame,
    p_col: str = "p_value",
    pi0: float | str | None = None,
    out_col: str = "q_value",
) -> DataFrame:
    """Storey–Tibshirani q-values from a p-value column.

    Reference: ``utils.qvalues`` (utils.py:8-105): sort by p, rank,
    ``q_raw = pi0·m·p/rank``, then a backward running min. ``pi0``
    modes:

    - ``"storey"`` — the reference's λ-grid estimator (utils.py:50-68),
      faithfully: the reference fits ``splrep(lam, pi0_grid)`` with no
      weights, whose default smoothing is ``s=0`` — an INTERPOLATING
      spline — then evaluates it AT the last grid point λ=0.89, which
      is exactly the grid value there. So the estimator reduces to
      ``pi0 = count(p>0.89)/(m·(1−0.89))``, clipped at 1, with the
      reference's small-m rule (m<100 → pi0=1, utils.py:45-46). The
      reduction makes the "spline" both faithful and SQL-expressible
      (one extra conditional count in the same window pass).
    - ``None`` — Storey's fixed-λ=0.5 estimator (more stable than the
      λ=0.89 tail count on small m; documented house default).
    - a float — user-supplied; ``pi0=1`` gives plain
      Benjamini–Hochberg.

    Plan note: the rank/backward-min windows are global-order — a
    single-partition sort of the per-feature p-value table (m =
    #features, ≪ fact-table size), acceptable per SURVEY.md §7.4. Rows
    with NULL p are passed through with NULL q.
    """
    valid = df.filter(F.col(p_col).isNotNull())
    nulls = df.filter(F.col(p_col).isNull()).withColumn(
        out_col, F.lit(None).cast("double")
    )
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.col(p_col).asc())
    # The backward running min ("q = min of q_raw over all larger p",
    # utils.py:89-100) is expressed over the REVERSED order with a
    # growing frame: (currentRow, unboundedFollowing) frames shrink and
    # make WindowExec recompute the aggregate per row — O(m²); the
    # reversed growing frame is the O(m) running aggregate.
    m_col = F.count(F.lit(1)).over(w_all).cast("double")
    if pi0 is None:
        # Storey fixed-λ=0.5 estimator, computed in the same global
        # window pass (no extra driver actions).
        n_above = F.count(F.when(F.col(p_col) > 0.5, 1)).over(w_all)
        pi0_col = F.least(
            F.greatest(
                n_above.cast("double") / (m_col * 0.5), F.lit(1e-8)
            ),
            F.lit(1.0),
        )
    elif pi0 == "storey":
        n_above = F.count(F.when(F.col(p_col) > 0.89, 1)).over(w_all)
        est = n_above.cast("double") / (m_col * F.lit(1.0 - 0.89))
        pi0_col = F.when(m_col < 100, F.lit(1.0)).otherwise(
            F.least(est, F.lit(1.0))
        )
    else:
        pi0_col = F.lit(float(pi0))
    ranked = valid.withColumn(
        "_rank", F.row_number().over(w_rank)
    )
    q_raw = pi0_col * m_col * F.col(p_col) / F.col("_rank").cast("double")
    w_runmin = Window.orderBy(
        F.col(p_col).desc(), F.col("_rank").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (
        ranked.withColumn("_q_raw", F.least(q_raw, F.lit(1.0)))
        .withColumn(out_col, F.min("_q_raw").over(w_runmin))
        .drop("_q_raw", "_rank")
    )
    return out.unionByName(nulls)


def s0_significance(
    ratio_col: Column | str,
    p_col: Column | str,
    s0: float = 0.585,
    minratio: float = 0.0,
    fdr: float = 0.05,
) -> Column:
    """SAM-style s0-curve significance predicate.

    Reference: ``utils.calculate_s0_curve`` (utils.py:315:
    ``fn = 10 ** (-s0/(x-minratio) - mminpval)`` with ``mminpval =
    -log10(minpval)`` and volcano passes the *fdr* as minpval,
    visualize.py:577) and its application at visualize.py:583-600.
    Significant iff ``|ratio| > minratio`` and
    ``p <= 10^(-s0/(|ratio|-minratio) + log10(fdr))`` — the curve
    asymptotes to the fdr cutoff at large fold changes. Pure SQL
    expression.
    """
    r = F.abs(F.col(ratio_col) if isinstance(ratio_col, str) else ratio_col)
    p = F.col(p_col) if isinstance(p_col, str) else p_col
    import math

    curve = F.pow(
        F.lit(10.0),
        -F.lit(s0) / (r - F.lit(minratio)) + F.lit(math.log10(fdr)),
    )
    return (r > F.lit(minratio)) & p.isNotNull() & (p <= curve)


def volcano_stats(
    df: DataFrame,
    feature_cols: list[str],
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    values_are_log2: bool = True,
    minimum_sample_n: int = 0,
    s0: float = 0.585,
    minratio: float = 0.0,
    fdr: float = 0.05,
    with_pvalues: bool = True,
) -> DataFrame:
    """The flagship composite (reference: ``visualize.volcano`` compute
    core, visualize.py:458-676): per-feature log2 fold-change of group
    means (mean difference when values are already log2,
    visualize.py:534-539), two-sample t-test, minimum-sample null-out
    (visualize.py:541,553), and s0-curve significance class.

    One groupBy pass over the fact table; everything except the p-value
    CDF is native SQL.
    """
    stats = ttest_ind_stats(
        df, feature_cols, group_col, value_col, group_a, group_b
    )
    if values_are_log2:
        dr = F.col("mean_a") - F.col("mean_b")
    else:
        dr = F.when(
            (F.col("mean_b") > 0) & (F.col("mean_a") > 0),
            F.log2(F.col("mean_a") / F.col("mean_b")),
        )
    out = stats.withColumn("log2_fc", dr)
    if minimum_sample_n > 0:
        enough = (F.col("n_a") >= minimum_sample_n) & (
            F.col("n_b") >= minimum_sample_n
        )
        out = out.withColumn(
            "t_stat", F.when(enough, F.col("t_stat"))
        ).withColumn("log2_fc", F.when(enough, F.col("log2_fc")))
    if with_pvalues:
        out = out.withColumn(
            "p_value", t_sf_udf(F.col("t_stat"), F.col("df"))
        )
        out = out.withColumn(
            "significant",
            s0_significance("log2_fc", "p_value", s0, minratio, fdr),
        ).withColumn(
            "direction",
            F.when(
                F.col("significant") & (F.col("log2_fc") > 0), F.lit("up")
            )
            .when(
                F.col("significant") & (F.col("log2_fc") < 0), F.lit("down")
            )
            .otherwise(F.lit("ns")),
        )
    return out


def linregress(
    df: DataFrame, x_col: str, y_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Simple linear regression (slope/intercept/r) via closed-form
    aggregates (reference: scipy ``linregress`` use, visualize.py:407)."""
    x, y = F.col(x_col), F.col(y_col)
    both = x.isNotNull() & y.isNotNull()
    xv = F.when(both, x)
    yv = F.when(both, y)
    g = df.groupBy(*(group_cols or []))
    agg = g.agg(
        F.count(xv).alias("n"),
        F.avg(xv).alias("_mx"),
        F.avg(yv).alias("_my"),
        F.covar_samp(xv, yv).alias("_cov"),
        F.var_samp(xv).alias("_vx"),
        F.corr(xv, yv).alias("r"),
    )
    slope = F.col("_cov") / F.col("_vx")
    return (
        agg.withColumn("slope", slope)
        .withColumn("intercept", F.col("_my") - slope * F.col("_mx"))
        .drop("_mx", "_my", "_cov", "_vx")
    )


#: Distinct-value domains at/below this take the direct
#: single-partition cumsum (the two-pass distributed machinery — range
#: repartition, three window specs, broadcast offset join — is pure
#: overhead when the whole per-value frame fits one task); above it,
#: the distributed two-pass plan. 32k rows of (value, 2 counts) is
#: ~1 MB in one window task — far below any skew/executor-memory
#: concern — while continuous 100 TB domains (|distinct| ~ n) stay on
#: the scale path. Tests set it to 0 to pin the distributed plan.
SMALL_ECDF_DOMAIN = 32_768

#: target distinct-value rows per range partition in
#: _stepped_running_counts (round-9 profile: 8-16 partitions beat 32
#: on a 583k domain; 32 best at 5.8M). Tests shrink this to pin the
#: distributed plan shape on small fixtures.
STEPPED_ROWS_PER_PARTITION = 75_000


def _ecdf_stepped_counts(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Shared ECDF scaffolding for the rank/ECDF statistics (KS,
    Mann–Whitney, Wilcoxon): per-distinct-value conditional counts
    with their **distributed** running sums.

    The naive formulation is one partitionless ``Window.orderBy(value)``
    cumsum — a single-task sort over the whole distinct-value domain,
    which on *continuous* data (|distinct| ≈ n, padua's float
    intensities) serializes the entire dataset through one core. This
    is the two-pass distributed cumsum instead:

    1. ``repartitionByRange`` the per-value counts by ``_v`` — range
       partition *i* holds values strictly below partition *i+1*'s, so
       ``spark_partition_id()`` is monotone in ``_v``.
    2. Local cumsum per range partition (window partitioned by the
       captured partition id — N parallel tasks, ~|domain|/N rows
       each).
    3. Per-partition totals → an N-row frame (N = shuffle
       parallelism, *constant in data size*) where the exclusive
       prefix offsets and grand totals are computed with a tiny
       single-partition window — the only remaining global order, over
       N rows, at any scale.
    4. Broadcast-join the offsets back on partition id; global
       cumsum = local cumsum + offset.

    **Adaptive small-domain shortcut**: the per-value frame is
    persisted and counted first; at/below :data:`SMALL_ECDF_DOMAIN`
    the cumsum is computed directly with a single-partition window
    over the tiny persisted frame — same output, none of the two-pass
    machinery. Setting the constant to ``0`` forces the distributed
    plan (the plan tests monkeypatch it).

    **Determinism**: on the distributed path the range-partitioned
    frame is persisted and materialized BEFORE its two consumers
    (local cumsums and per-partition totals) run, so both read the
    SAME sampled range boundaries. Without the persist that held only
    through Catalyst exchange reuse — two independent range-sample
    jobs may pick different boundaries and silently mis-assign
    ``_pid`` between the branches. Cumsum values are independent of
    where the boundaries fall (``_v`` is distinct per row, so no
    value straddles two partitions); the persist pins that the two
    branches agree on them. Counts stay integer throughout.

    Both persisted intermediates are recorded via
    :func:`padua_spark.io_utils.track_cached` on the returned frame —
    call ``unpersist_intermediates`` after consuming.

    Output: one row per distinct value with ``_v, _ca, _cb`` (per-value
    counts in groups a/b), ``_fa, _fb`` (running counts ≤ value — the
    un-normalized ECDFs), and ``_na, _nb`` (grand totals).
    """
    v = F.col(value_col)
    per = (
        df.where(F.col(group_col).isin([group_a, group_b]) & v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(
            F.count(F.when(F.col(group_col) == group_a, 1)).alias("_ca"),
            F.count(F.when(F.col(group_col) == group_b, 1)).alias("_cb"),
        )
    )
    stepped = _stepped_running_counts(per, "_v", ["_ca", "_cb"])
    from padua_spark.io_utils import track_cached

    out = stepped.select(
        "_v",
        "_ca",
        "_cb",
        F.col("_ca_run").alias("_fa"),
        F.col("_cb_run").alias("_fb"),
        F.col("_ca_tot").alias("_na"),
        F.col("_cb_tot").alias("_nb"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def _stepped_running_counts(
    per: DataFrame,
    value_col: str,
    count_cols: list[str],
) -> DataFrame:
    """Generalized distributed running sums over a per-distinct-value
    counts frame: for each column ``c`` in ``count_cols`` emit
    ``{c}_run`` (running sum over ascending ``value_col``, inclusive)
    and ``{c}_tot`` (grand total), preserving all input columns. The
    two-pass plan and small-domain shortcut are exactly
    :func:`_ecdf_stepped_counts`'s; this form also serves the g-group
    rank statistics (:func:`_pooled_group_counts`) and Spearman
    midranks, which need running sums of one-or-many count columns
    rather than the fixed a/b pair.

    Persisted intermediates are recorded via ``track_cached`` on the
    returned frame — callers must re-attach them to their final frame.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    other_cols = [c for c in per.columns if c != value_col]
    per = per.persist(StorageLevel.MEMORY_AND_DISK)
    n_domain = per.count()
    if n_domain <= SMALL_ECDF_DOMAIN:
        # |domain|-row frame, bounded by the threshold: the
        # partitionless windows run over ONE small cached task.
        w_loc = Window.orderBy(value_col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        w_all = Window.partitionBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        out = per.select(
            value_col,
            *other_cols,
            *[F.sum(c).over(w_loc).alias(f"{c}_run") for c in count_cols],
            *[F.sum(c).over(w_all).alias(f"{c}_tot") for c in count_cols],
        )
        return track_cached(out, per)
    spark = per.sparkSession
    try:
        n_parts = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")))
    except (TypeError, ValueError):  # e.g. "auto" on some deployments
        n_parts = max(1, spark.sparkContext.defaultParallelism)
    # Domain-aware width (round-9 profile, BENCH_SF1-era measurement):
    # the per-partition window cumsum is cheap, so wide fan-out only
    # adds scheduling + offset-join overhead. Measured on the
    # l_extendedprice domain: 583k distinct -> 8-16 partitions beat
    # 32 by ~25%; 5.8M distinct -> 32 best. Target
    # STEPPED_ROWS_PER_PARTITION domain rows per range partition,
    # never exceeding the session's shuffle width (large clusters
    # keep their parallelism; tests shrink the constant to pin the
    # distributed shape on small fixtures).
    n_parts = min(
        n_parts, max(1, -(-n_domain // STEPPED_ROWS_PER_PARTITION))
    )
    ranged = (
        per.repartitionByRange(n_parts, value_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranged.count()  # pin ONE set of sampled range boundaries
    per.unpersist()
    w_loc = Window.partitionBy("_pid").orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = ranged.select(
        "_pid",
        value_col,
        *other_cols,
        *[F.sum(c).over(w_loc).alias(f"{c}_loc") for c in count_cols],
    )
    totals = ranged.groupBy("_pid").agg(
        *[F.sum(c).alias(f"{c}_pt") for c in count_cols]
    )
    # N rows (N = parallelism): the single-partition windows below are
    # over a constant-size frame, not the data.
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = totals.select(
        "_pid",
        *[
            F.coalesce(F.sum(f"{c}_pt").over(w_off), F.lit(0)).alias(
                f"{c}_off"
            )
            for c in count_cols
        ],
        *[
            F.sum(f"{c}_pt").over(w_all).alias(f"{c}_tot")
            for c in count_cols
        ],
    )
    out = local.join(F.broadcast(offsets), "_pid").select(
        value_col,
        *other_cols,
        *[
            (F.col(f"{c}_loc") + F.col(f"{c}_off")).alias(f"{c}_run")
            for c in count_cols
        ],
        *[F.col(f"{c}_tot") for c in count_cols],
    )
    return track_cached(out, ranged)


def _doubled_midrank(count_col: str) -> Column:
    """Twice the midrank of a distinct value over a
    :func:`_stepped_running_counts` frame: with ``c`` its count and
    ``run`` the inclusive running count, ``2·(run − c) + c + 1`` — an
    exact integer under any ties."""
    return (
        2 * (F.col(f"{count_col}_run") - F.col(count_col))
        + F.col(count_col) + 1
    )


def _pooled_group_counts(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
    per_group_runs: bool,
    keys: list | None = None,
):
    """The k-group rank scaffold: rows of ``groups`` with a non-NULL
    value, counted per distinct value ``_v`` into one column ``_c{i}``
    per entry of ``keys`` (default ``groups``, in that order) plus
    their pooled count ``_ct``, then :func:`_stepped_running_counts`
    over ``_ct`` — and over every ``_c{i}`` too when
    ``per_group_runs``. Returns ``(cols, stepped)``; re-attach
    ``stepped``'s cached frames to the result."""
    v = F.col(value_col)
    keys = groups if keys is None else keys
    cols = [f"_c{i}" for i in range(len(keys))]
    per = (
        df.where(F.col(group_col).isin(list(groups)) & v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(
            *[
                F.count(F.when(F.col(group_col) == g, 1)).alias(c)
                for g, c in zip(keys, cols)
            ]
        )
    )
    pooled = per.select(
        "_v", *cols,
        sum([F.col(c) for c in cols[1:]], F.col(cols[0])).alias("_ct"),
    )
    runs = [*cols, "_ct"] if per_group_runs else ["_ct"]
    return cols, _stepped_running_counts(pooled, "_v", runs)


def _pooled_rank_sums(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
    tie_alias: str,
    keys: list | None = None,
):
    """Per-group doubled rank sums over the pooled midranks of
    :func:`_pooled_group_counts` (Kruskal–Wallis, Dunn, Cuzick): ONE
    row of exact integers ``_2r{i}`` (Σ 2·midrank), ``_n{i}`` (group
    size) and the tie term ``Σ(t³ − t)`` named ``tie_alias``. Returns
    ``(agg, n_total, cached)`` with ``n_total`` the Column ``Σ _n{i}``
    and ``cached`` the frames to track on the result."""
    cols, stepped = _pooled_group_counts(
        df, group_col, value_col, groups, False, keys
    )
    two_rbar = _doubled_midrank("_ct")
    agg = stepped.agg(
        *[
            F.sum(F.col(c) * two_rbar).alias(f"_2r{i}")
            for i, c in enumerate(cols)
        ],
        *[F.sum(c).alias(f"_n{i}") for i, c in enumerate(cols)],
        F.sum(
            F.col("_ct") * F.col("_ct") * F.col("_ct") - F.col("_ct")
        ).alias(tie_alias),
    )
    n_total = sum(
        [F.col(f"_n{i}") for i in range(1, len(cols))], F.col("_n0")
    )
    return agg, n_total, getattr(stepped, "_padua_cached", ())


def ks_2samp_stat(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D statistic, fully relational:
    ``D = sup_x |F_a(x) − F_b(x)|`` evaluated at every distinct value
    (the only points where the ECDFs jump). Counts stay integer until
    one division per ECDF evaluation, so D is bit-reproducible in any
    engine; ties across groups are handled exactly (both ECDFs step
    BEFORE the comparison at each distinct value, scipy's convention).

    Plan: per-(value) conditional counts → distributed two-pass cumsum
    (:func:`_ecdf_stepped_counts` — scale-safe on continuous value
    domains where |distinct| ≈ n) → max. Output 1 row:
    (d_stat, n_a, n_b).

    No p-value: the asymptotic Kolmogorov CDF is an infinite series —
    compute it driver-side from (d_stat, n_a, n_b) when needed.
    """
    from padua_spark.io_utils import track_cached

    stepped = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    d = F.abs(
        F.col("_fa").cast("double") / F.col("_na").cast("double")
        - F.col("_fb").cast("double") / F.col("_nb").cast("double")
    )
    out = stepped.agg(
        F.max(d).alias("d_stat"),
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
    )
    # The _padua_cached record lives on the frame _ecdf_stepped_counts
    # returned; .agg() drops it. Re-attach so callers' calls to
    # unpersist_intermediates actually free the ECDF persists.
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def mannwhitney_u_stat(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann–Whitney U (rank-sum) statistic with midrank tie handling,
    in EXACT integer arithmetic: for each distinct value the doubled
    midrank ``2·r̄ = 2·cum_before + cnt + 1`` is an integer, so the
    doubled rank sum ``2R_a`` and doubled statistic
    ``2U_a = 2R_a − n_a(n_a+1)`` are integers — hash-stable on any
    engine, no float ranks anywhere.

    Same plan shape as :func:`ks_2samp_stat`: conditional counts per
    distinct value, distributed two-pass cumsum over the value domain
    (:func:`_ecdf_stepped_counts`), then a scalar aggregate. Output 1
    row: ``(u2_a, u2_b, n_a, n_b)`` with ``u2_x = 2·U_x``
    (``U_a + U_b = n_a·n_b`` ⟺ ``u2_a + u2_b = 2·n_a·n_b``).
    """
    from padua_spark.io_utils import track_cached

    cnt = F.col("_ca") + F.col("_cb")
    ecdf = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    stepped = ecdf.select(
        "_ca",
        "_cb",
        cnt.alias("_cnt"),
        (F.col("_fa") + F.col("_fb") - cnt).alias("_before"),
    )
    two_rbar = 2 * F.col("_before") + F.col("_cnt") + 1
    agg = stepped.agg(
        F.sum(F.col("_ca") * two_rbar).alias("_2ra"),
        F.sum(F.col("_cb") * two_rbar).alias("_2rb"),
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
    )
    out = agg.select(
        (F.col("_2ra") - F.col("n_a") * (F.col("n_a") + 1)).alias("u2_a"),
        (F.col("_2rb") - F.col("n_b") * (F.col("n_b") + 1)).alias("u2_b"),
        "n_a",
        "n_b",
    )
    # Re-attach the ECDF persists (dropped by .select/.agg) so callers
    # can free them via unpersist_intermediates.
    return track_cached(out, *getattr(ecdf, "_padua_cached", ()))


def wilcoxon_signed_rank_stats(
    df: DataFrame,
    pair_cols: list[str],
    cond_col: str,
    value_col: str,
    cond_a,
    cond_b,
) -> DataFrame:
    """Wilcoxon signed-rank test — the PAIRED nonparametric test
    completing the battery's 2×2 (t paired/unpaired ↔ Wilcoxon /
    Mann–Whitney): pairs matched on ``pair_cols`` with each side
    mean-collapsed (the :func:`ttest_paired_stats` rule), zero
    differences dropped (Wilcoxon convention), |d| midranked, and
    ``W⁺ = Σ ranks of positive d``.

    Exact integer arithmetic throughout: signs are the two "groups" of
    the shared :func:`_ecdf_stepped_counts` distributed cumsum over
    the |d| domain, so the doubled rank sums ``2W⁺``/``2W⁻`` are
    integers, hash-stable on any engine — and the plan is the same
    scale-safe two-pass cumsum as KS/Mann–Whitney. Normal
    approximation with tie correction:
    ``z = (W⁺ − n(n+1)/4) / σ``,
    ``σ² = (n(n+1)(2n+1) − Σ(t³−t)/2) / 24`` (no continuity
    correction; documented). For small untied samples the exact
    distribution is available driver-side via
    :func:`wilcoxon_exact_p` on (w2_plus/2, n_nonzero). Output 1 row:
    ``(w2_plus, w2_minus, n_nonzero, tie_term, z, p_normal)`` with
    ``w2_x = 2·W_x``.
    """
    v = F.col(value_col)
    per_pair = (
        df.where(F.col(cond_col).isin([cond_a, cond_b]) & v.isNotNull())
        .groupBy(*pair_cols)
        .agg(
            F.avg(F.when(F.col(cond_col) == cond_a, v)).alias("_va"),
            F.avg(F.when(F.col(cond_col) == cond_b, v)).alias("_vb"),
        )
    )
    d = F.col("_va") - F.col("_vb")
    diffs = (
        per_pair.where(
            F.col("_va").isNotNull() & F.col("_vb").isNotNull()
        )
        .withColumn("_d", d)
        .where(F.col("_d") != 0)
        .select(
            F.when(F.col("_d") > 0, F.lit("+"))
            .otherwise(F.lit("-"))
            .alias("_sgn"),
            F.abs(F.col("_d")).alias("_absd"),
        )
    )
    from padua_spark.io_utils import track_cached

    cnt = F.col("_ca") + F.col("_cb")
    ecdf = _ecdf_stepped_counts(diffs, "_sgn", "_absd", "+", "-")
    stepped = ecdf.select(
        "_ca",
        "_cb",
        cnt.alias("_cnt"),
        (F.col("_fa") + F.col("_fb") - cnt).alias("_before"),
    )
    two_rbar = 2 * F.col("_before") + F.col("_cnt") + 1
    agg = stepped.agg(
        F.sum(F.col("_ca") * two_rbar).alias("w2_plus"),
        F.sum(F.col("_cb") * two_rbar).alias("w2_minus"),
        (F.sum("_ca") + F.sum("_cb")).alias("n_nonzero"),
        F.sum(
            F.col("_cnt") * F.col("_cnt") * F.col("_cnt") - F.col("_cnt")
        ).alias("tie_term"),
    )
    n = F.col("n_nonzero").cast("double")
    var = (
        n * (n + 1.0) * (2.0 * n + 1.0)
        - F.col("tie_term").cast("double") / F.lit(2.0)
    ) / F.lit(24.0)
    z = (
        F.col("w2_plus").cast("double") / F.lit(2.0)
        - n * (n + 1.0) / F.lit(4.0)
    ) / F.sqrt(var)
    staged = agg.select(
        "w2_plus", "w2_minus", "n_nonzero", "tie_term",
        F.when(var > 0, z).alias("z"),
    )
    out = staged.select(
        "w2_plus", "w2_minus", "n_nonzero", "tie_term", "z",
        _normal_sf_2sided(F.col("z")).alias("p_normal"),
    )
    # Re-attach the ECDF persists (dropped by .select/.agg) so callers
    # can free them via unpersist_intermediates.
    return track_cached(out, *getattr(ecdf, "_padua_cached", ()))


def wilcoxon_exact_p(w_plus: float, n: int) -> float:
    """Exact two-sided Wilcoxon signed-rank p-value for small samples
    (driver-side, pure Python — n ≤ ~25 keeps the table tiny; above
    that the normal approximation in
    :func:`wilcoxon_signed_rank_stats` is standard, matching scipy's
    default mode switch).

    Valid for UNTIED |d| ranks only (``tie_term == 0`` in the stats
    row): enumerates the null distribution of ``W⁺`` by the standard
    generating-function recurrence — ``c[w] +=`` shifted by each rank
    k — then doubles the lower-tail mass at ``min(W⁺, W⁻)``, capped
    at 1. ``w_plus = w2_plus / 2`` from the distributed stats row.
    """
    if n <= 0:
        return 1.0
    total = n * (n + 1) // 2
    counts = [0] * (total + 1)
    counts[0] = 1
    for k in range(1, n + 1):
        for w in range(total, k - 1, -1):
            counts[w] += counts[w - k]
    wm = int(min(w_plus, total - w_plus))
    cdf = sum(counts[: wm + 1])
    return min(1.0, 2.0 * cdf / float(2 ** n))


# Abramowitz & Stegun 7.1.26 erf polynomial: used for the Mann-Whitney
# normal approximation. The approximation error (~1.5e-7) is irrelevant
# to oracle gates — both engines evaluate the IDENTICAL expression, so
# they agree to ulps; the choice is documented API semantics.
_AS_ERF = (0.254829592, -0.284496736, 1.421413741,
           -1.453152027, 1.061405429, 0.3275911)


def _normal_sf_2sided(z: Column) -> Column:
    """Two-sided normal p ≈ erfc(|z|/√2) via A&S 7.1.26."""
    a1, a2, a3, a4, a5, pcoef = _AS_ERF
    x = F.abs(z) / F.lit(2.0 ** 0.5)
    t = 1.0 / (1.0 + F.lit(pcoef) * x)
    poly = (
        F.lit(a1) * t
        + F.lit(a2) * t * t
        + F.lit(a3) * t * t * t
        + F.lit(a4) * t * t * t * t
        + F.lit(a5) * t * t * t * t * t
    )
    return poly * F.exp(-x * x)


def _normal_sf_1sided(z: Column) -> Column:
    """One-sided (upper-tail) normal p = erfc(z/√2)/2 via the same
    A&S polynomial; negative z reflects: ``1 − erfc(|z|/√2)/2``."""
    half = _normal_sf_2sided(z) / F.lit(2.0)
    return F.when(z >= 0, half).otherwise(F.lit(1.0) - half)


def _chi2_sf_closed(x: Column, dfree: Column, max_df: int) -> Column:
    """Closed-form chi-square survival ``P(χ²_df ≥ x)`` for a
    DATA-DEPENDENT but BOUNDED integer df (1 ≤ df ≤ ``max_df``),
    unrolled at compile time into a When chain — no UDF, so both
    engines can share the expression verbatim:

    even df = 2m: ``e^{−x/2} Σ_{k<m} (x/2)^k / k!``;
    odd df = 2m+1: ``erfc(√(x/2)) + e^{−x/2} Σ_{k=1..m}
    (x/2)^{k−1/2} / Γ(k+1/2)`` with ``Γ(k+1/2) = (2k)!√π/(4^k k!)``,
    erfc via the shared A&S 7.1.26 polynomial
    (:func:`_normal_sf_2sided` at z = √x). NULL outside [1, max_df].
    """
    import math

    h = x / F.lit(2.0)
    out = F.lit(None).cast("double")
    for d in range(1, int(max_df) + 1):
        if d % 2 == 0:
            m = d // 2
            series = F.lit(0.0)
            for k in range(m):
                series = series + F.pow(h, F.lit(float(k))) / F.lit(
                    float(math.factorial(k))
                )
            branch = F.exp(-h) * series
        else:
            m = (d - 1) // 2
            branch = _normal_sf_2sided(F.sqrt(x))
            for k in range(1, m + 1):
                gamma_k_half = (
                    math.factorial(2 * k)
                    * math.sqrt(math.pi)
                    / (4.0 ** k * math.factorial(k))
                )
                branch = branch + F.exp(-h) * F.pow(
                    h, F.lit(k - 0.5)
                ) / F.lit(gamma_k_half)
        out = F.when(dfree == d, F.least(branch, F.lit(1.0))).otherwise(
            out
        )
    return out


def mannwhitney_z_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mann–Whitney U with the tie-corrected normal approximation:
    ``z = (U_a − n_a·n_b/2) / σ`` where ``σ² = n_a·n_b/12 ·
    ((N+1) − Σ(t³−t)/(N(N−1)))`` over tie-group sizes ``t`` — the tie
    sum is an exact integer aggregate from the same per-value frame
    that produces the midranks (no second scan). No continuity
    correction (documented; both engines share the exact formula).
    Two-sided p via the A&S erfc polynomial. Cumsum is the distributed
    two-pass plan (:func:`_ecdf_stepped_counts`). Output 1 row:
    ``(u2_a, n_a, n_b, tie_term, z, p_normal)``.
    """
    from padua_spark.io_utils import track_cached

    cnt = F.col("_ca") + F.col("_cb")
    ecdf = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    stepped = ecdf.select(
        "_ca", "_cb", cnt.alias("_cnt"),
        (F.col("_fa") + F.col("_fb") - cnt).alias("_before"),
    )
    two_rbar = 2 * F.col("_before") + F.col("_cnt") + 1
    agg = stepped.agg(
        F.sum(F.col("_ca") * two_rbar).alias("_2ra"),
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
        F.sum(
            F.col("_cnt") * F.col("_cnt") * F.col("_cnt") - F.col("_cnt")
        ).alias("tie_term"),
    )
    u2a = F.col("_2ra") - F.col("n_a") * (F.col("n_a") + 1)
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nt = na + nb
    var = (
        na * nb / F.lit(12.0)
        * ((nt + 1.0) - F.col("tie_term").cast("double")
           / (nt * (nt - 1.0)))
    )
    z = (u2a.cast("double") / F.lit(2.0) - na * nb / F.lit(2.0)) / F.sqrt(
        var
    )
    staged = agg.select(
        u2a.alias("u2_a"), "n_a", "n_b", "tie_term", z.alias("z")
    )
    out = staged.select(
        "u2_a", "n_a", "n_b", "tie_term", "z",
        _normal_sf_2sided(F.col("z")).alias("p_normal"),
    )
    # Re-attach the ECDF persists (dropped by .select/.agg) so callers
    # can free them via unpersist_intermediates.
    return track_cached(out, *getattr(ecdf, "_padua_cached", ()))


def kruskal_wallis_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
) -> DataFrame:
    """Kruskal–Wallis H test — the g-group generalization of
    Mann–Whitney (rank-based one-way ANOVA), completing the
    nonparametric battery beyond the reference's parametric
    ``anova_1way`` (analysis.py:387-432): same scientific question
    (do ≥2 groups share a location?) without the normality
    assumption.

    Exact integer arithmetic on the same scale-safe scaffolding as
    KS/Mann–Whitney: per-distinct-value counts per group, the
    distributed two-pass running sum over the POOLED counts
    (:func:`_stepped_running_counts`) yields integer doubled midranks
    ``2·r̄ = 2·cum_before + cnt + 1``, so per-group doubled rank sums
    ``2R_g`` and the tie term ``Σ(t³−t)`` are integers — hash-stable
    anywhere. Then, in doubles (identical expressions on any engine):

    ``H = 12/(N(N+1)) · Σ_g (2R_g/2)²/n_g − 3(N+1)``, tie-corrected
    ``H_c = H / (1 − Σ(t³−t)/(N³−N))``.

    No p-value column here (the chi-square survival for general df is
    an incomplete-gamma); for EVEN df = g−1 the caller can use the
    finite closed form ``exp(−H/2)·Σ_{k<df/2}(H/2)^k/k!`` (df=2 →
    ``exp(−H/2)``), which both engines share — see the
    ``kruskal_wallis`` entry. A listed group with no rows adds no
    term (H is that of the other groups; ``k_groups`` still counts
    it). Output 1 row:
    ``(h_stat, h_stat_corrected, n_total, k_groups, tie_term)``.
    """
    from padua_spark.io_utils import track_cached

    agg, n_total, cached = _pooled_rank_sums(
        df, group_col, value_col, groups, "tie_term"
    )
    nd = n_total.cast("double")
    # Σ_g R_g²/n_g with R_g = 2R_g/2 — one division per group, doubles
    rsq = None
    for i in range(len(groups)):
        term = (
            (F.col(f"_2r{i}").cast("double") / F.lit(2.0))
            * (F.col(f"_2r{i}").cast("double") / F.lit(2.0))
            / F.col(f"_n{i}").cast("double")
        )
        term = F.when(F.col(f"_n{i}") > 0, term).otherwise(F.lit(0.0))
        rsq = term if rsq is None else rsq + term
    h = F.lit(12.0) / (nd * (nd + 1.0)) * rsq - F.lit(3.0) * (nd + 1.0)
    corr = F.lit(1.0) - F.col("tie_term").cast("double") / (
        nd * nd * nd - nd
    )
    staged = agg.select(
        h.alias("h_stat"),
        n_total.alias("n_total"),
        F.lit(len(groups)).cast("long").alias("k_groups"),
        "tie_term",
        corr.alias("_corr"),
    )
    out = staged.select(
        "h_stat",
        F.when(
            F.col("_corr") > 0, F.col("h_stat") / F.col("_corr")
        ).alias("h_stat_corrected"),
        "n_total",
        "k_groups",
        "tie_term",
    )
    return track_cached(out, *cached)


def spearman_rho(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns —
    Pearson on midranks, the robust complement to the reference's
    Pearson correlation matrix (analysis.py:26-48) for monotone but
    non-linear association (dose-response curves, quality-score
    sanity checks against human labels).

    Exactness discipline: midranks come from ONE distributed running
    sum over the POOLED distinct values of both columns
    (:func:`_stepped_running_counts` with two count columns — the
    x-count and y-count cumulate independently over the shared value
    domain, so each axis's midranks are exactly its own-ranking:
    values present only in the other axis carry a zero count and
    don't advance the cumsum). One tagged union + one stepped pass
    replaces the former two per-axis pipelines — half the
    repartitionByRange/persist machinery. All per-axis moments are
    weighted sums over the value domain (no join back to the rows);
    only the cross term joins midranks to the pairs frame, and only
    ONCE (x side), finishing through a y-domain-sized join.
    Doubled midranks are integers, so every Pearson ingredient
    (Σ2rx, Σ2ry, Σ2rx·2ry, Σ(2rx)², Σ(2ry)², n) is an exact integer
    aggregate — summed as decimal(38,0) so no 64-bit overflow at any
    realistic n — and rho is assembled from them in doubles with one
    expression both engines share:

    ``rho = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)(n·Syy − Sy²))``
    (the doubling cancels). Output 1 row: ``(rho, n)``.
    """
    from padua_spark.io_utils import track_cached

    pairs = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    )
    # pooled value domain, axis-tagged: one aggregation over the
    # union, one stepped-cumsum pass with independent x/y counts
    vals = pairs.select(
        F.col("_x").alias("_v"), F.lit(1).alias("_ax")
    ).unionAll(pairs.select(F.col("_y").alias("_v"), F.lit(0)))
    per = vals.groupBy("_v").agg(
        F.sum("_ax").cast("bigint").alias("_cx"),
        F.sum(1 - F.col("_ax")).cast("bigint").alias("_cy"),
    )
    stepped = _stepped_running_counts(per, "_v", ["_cx", "_cy"])
    two_rx = _doubled_midrank("_cx")
    two_ry = _doubled_midrank("_cy")
    dec = "decimal(38,0)"
    # Per-axis moments need no join-back at all: each is a weighted
    # sum over the VALUE DOMAIN (Σ c·2r, Σ c·(2r)², n = Σ c) — one
    # aggregation over the already-cached stepped frame. Only the
    # cross term Σ 2rx·2ry needs the per-row pairing, and even that
    # takes just ONE pairs-sized join (attach x-midranks), a
    # map-side-combined groupBy to the y domain, and a domain-sized
    # join to the y-midranks: Σ_rows 2rx·2ry = Σ_y 2r_y·(Σ_{rows
    # y} 2rx). The former design joined midranks to the pairs frame
    # twice — two N-row shuffle joins instead of one.
    cxd = F.col("_cx").cast(dec)
    cyd = F.col("_cy").cast(dec)
    rxd = two_rx.cast(dec)
    ryd = two_ry.cast(dec)
    moments = stepped.agg(
        F.sum("_cx").cast("bigint").alias("n"),
        F.sum(cxd * rxd).alias("_sx"),
        F.sum(cyd * ryd).alias("_sy"),
        F.sum(cxd * rxd * rxd).alias("_sxx"),
        F.sum(cyd * ryd * ryd).alias("_syy"),
    ).withColumn("_one", F.lit(1))
    rx = stepped.where(F.col("_cx") > 0).select(
        "_v", two_rx.alias("_2r_x")
    )
    ry = stepped.where(F.col("_cy") > 0).select(
        "_v", ryd.alias("_2r_y")
    )
    by_y = (
        pairs.join(rx, pairs["_x"] == rx["_v"])
        .groupBy("_y")
        .agg(F.sum(F.col("_2r_x").cast(dec)).alias("_sxg"))
    )
    cross = (
        by_y.join(ry, by_y["_y"] == ry["_v"])
        .agg(F.sum(F.col("_sxg") * F.col("_2r_y")).alias("_sxy"))
        .withColumn("_one", F.lit(1))
    )
    agg = moments.join(F.broadcast(cross), on="_one")
    nd = F.col("n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    num = nd * F.col("_sxy").cast("double") - sx * sy
    den = F.sqrt(
        (nd * F.col("_sxx").cast("double") - sx * sx)
        * (nd * F.col("_syy").cast("double") - sy * sy)
    )
    out = agg.select(
        F.when(den > 0, num / den).alias("rho"),
        "n",
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def qvalues_by(
    df: DataFrame,
    p_col: str = "p_value",
    out_col: str = "q_value",
) -> DataFrame:
    """Benjamini–Yekutieli q-values — FDR control valid under
    ARBITRARY dependence between tests (BH assumes independence or
    positive dependence; correlated proteomics features violate it).
    Identical to :func:`qvalues` with ``pi0=1`` except ``q_raw`` is
    inflated by the harmonic factor ``c(m) = Σ_{k=1..m} 1/k``,
    computed inside the same global window pass as ``Σ 1/rank`` over
    the ranked frame (no driver round-trip; both engines share the
    summation order over the ascending-rank window, so the double is
    hash-stable).

    Same global-order window note as :func:`qvalues` (m = #features).
    NULL p rows pass through with NULL q.
    """
    valid = df.filter(F.col(p_col).isNotNull())
    nulls = df.filter(F.col(p_col).isNull()).withColumn(
        out_col, F.lit(None).cast("double")
    )
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.col(p_col).asc())
    ranked = valid.withColumn("_rank", F.row_number().over(w_rank))
    m_col = F.count(F.lit(1)).over(w_all).cast("double")
    # c(m) = Σ 1/k for k=1..m == Σ over rows of 1/rank (ranks are a
    # permutation of 1..m) — ordered ascending by rank in BOTH engines
    # so the float summation order is pinned.
    w_harm = Window.orderBy(F.col("_rank").asc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c_m = F.sum(
        F.lit(1.0) / F.col("_rank").cast("double")
    ).over(w_harm)
    q_raw = (
        c_m * m_col * F.col(p_col) / F.col("_rank").cast("double")
    )
    w_runmin = Window.orderBy(
        F.col(p_col).desc(), F.col("_rank").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (
        ranked.withColumn("_q_raw", F.least(q_raw, F.lit(1.0)))
        .withColumn(out_col, F.min("_q_raw").over(w_runmin))
        .drop("_q_raw", "_rank")
    )
    return out.unionByName(nulls)


def anderson_darling_ksamp(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
) -> DataFrame:
    """k-sample Anderson–Darling test (Scholz–Stephens 1987, the
    tie-aware MIDRANK version — scipy's ``anderson_ksamp`` default):
    the heavy-tail-sensitive complement to KS/Kruskal–Wallis, weighting
    ECDF discrepancies by the inverse pooled variance so divergence in
    the tails counts.

    Everything comes from one pass of the shared distributed cumsum
    (:func:`_stepped_running_counts`) with per-group AND pooled running
    counts. With the half-steps doubled the statistic is exact integer
    arithmetic until one division per (group, value):

    ``A²akN = (N−1)/N² · Σ_i (1/n_i) Σ_j h_j·X_ij² / (D_j(2N−D_j) − N·h_j)``

    (equivalently the paper's ``(h_j/N)·(N·M_ij − n_i·B_j)² /
    (B_j(N−B_j) − N·h_j/4)`` with the half-steps doubled — numerator
    gains 4, denominator gains 4, and the ``h_j/N`` factor is folded
    into the final scale).

    where ``X_ij = N·(2F_ij − f_ij) − n_i·(2F_j − h_j)`` and
    ``D_j = 2F_j − h_j`` are integers (F = inclusive running count,
    f/h = per-value counts). ``X²·h`` is summed as decimal(38,0) —
    X can reach 2N², so its square overflows int64 and loses bits in
    doubles. Returns the RAW midrank statistic (scipy's normalized
    variant subtracts (k−1) and divides by a variance estimate —
    derivable driver-side; the raw statistic is the engine-exact
    quantity). Output 1 row:
    ``(a2_akn, n_total, k_groups, n_distinct)``; a2 is NULL when the
    pooled domain has a single distinct value (degenerate).
    """
    from padua_spark.io_utils import track_cached

    g = len(groups)
    cols, stepped = _pooled_group_counts(
        df, group_col, value_col, groups, True
    )
    dec = "decimal(38,0)"
    h = F.col("_ct")
    d_j = 2 * F.col("_ct_run") - h  # doubled mid cumulative, pooled
    n_tot = F.col("_ct_tot")
    denom = d_j * (2 * n_tot - d_j) - n_tot * h
    sums = []
    for i, c in enumerate(cols):
        x = n_tot * (2 * F.col(f"{c}_run") - F.col(c)) - F.col(
            f"{c}_tot"
        ) * d_j
        # h·X² exact in decimal; ratio in doubles (one division per
        # (group, value) — the only float op before the final scale)
        term = F.when(
            denom > 0,
            (h.cast(dec) * x.cast(dec) * x.cast(dec)).cast("double")
            / denom.cast("double"),
        ).otherwise(F.lit(0.0))
        sums.append(F.sum(term).alias(f"_s{i}"))
    agg = stepped.agg(
        *sums,
        F.max(n_tot).alias("n_total"),
        *[F.max(f"{c}_tot").alias(f"_n{i}") for i, c in enumerate(cols)],
        F.count(F.lit(1)).alias("n_distinct"),
    )
    nd = F.col("n_total").cast("double")
    inner = None
    for i in range(g):
        t = F.col(f"_s{i}") / F.col(f"_n{i}").cast("double")
        inner = t if inner is None else inner + t
    # the paper's per-term h_j/N factor, applied once at the end
    a2 = (nd - 1.0) / nd * inner / nd
    out = agg.select(
        F.when(F.col("n_distinct") > 1, a2).alias("a2_akn"),
        "n_total",
        F.lit(g).cast("long").alias("k_groups"),
        "n_distinct",
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def two_proportion_ztest(
    df: DataFrame,
    group_col: str,
    success: Column,
    group_a,
    group_b,
) -> DataFrame:
    """Two-proportion z-test (pooled) — the A/B-test primitive:
    does the success rate differ between two groups? One conditional
    aggregation over the fact table (four integer counts), then the
    closed-form pooled z and the shared A&S-erfc two-sided p — the
    entire test is engine-exact given the counts.

    ``success`` is any boolean Column over the row. Output 1 row:
    ``(n_a, x_a, n_b, x_b, p_a, p_b, z, p_value)``; z is NULL when a
    group is empty or the pooled rate is degenerate (0 or 1).
    """
    in_a = F.col(group_col) == F.lit(group_a)
    in_b = F.col(group_col) == F.lit(group_b)
    agg = df.agg(
        F.count(F.when(in_a, 1)).alias("n_a"),
        F.count(F.when(in_a & success, 1)).alias("x_a"),
        F.count(F.when(in_b, 1)).alias("n_b"),
        F.count(F.when(in_b & success, 1)).alias("x_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("x_a").cast("double") / na
    pb = F.col("x_b").cast("double") / nb
    pooled = (F.col("x_a") + F.col("x_b")).cast("double") / (na + nb)
    se = F.sqrt(pooled * (1.0 - pooled) * (1.0 / na + 1.0 / nb))
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (se > 0),
        (pa - pb) / se,
    )
    staged = agg.select(
        "n_a", "x_a", "n_b", "x_b",
        F.when(F.col("n_a") > 0, pa).alias("p_a"),
        F.when(F.col("n_b") > 0, pb).alias("p_b"),
        z.alias("z"),
    )
    return staged.select(
        "n_a", "x_a", "n_b", "x_b", "p_a", "p_b", "z",
        _normal_sf_2sided(F.col("z")).alias("p_value"),
    )


def welch_anova_stats(
    df: DataFrame,
    feature_cols: list[str],
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-feature Welch's one-way ANOVA — the unequal-variance
    generalization of :func:`anova_1way_stats` (the same fix Welch's
    t applies to Student's t): groups are weighted by ``n_i/s_i²``,
    so one high-variance group can't dominate the pooled error term.

    Two cascaded aggregations, identical plan shape to anova_1way:
    per-(feature, group) (n, mean, var), then a per-feature combine.
    Every Welch ingredient is a LINEAR sum of per-group statistics —
    ``Σw, Σw·x̄, Σw·x̄², Σ1/(n−1), Σw/(n−1), Σw²/(n−1)`` — so
    ``(1−w/W)²`` expands and no second pass over groups is needed:

    ``F* = [ (Σwx̄² − (Σwx̄)²/W) / (k−1) ] / [ 1 + 2(k−2)/(k²−1)·S ]``
    with ``S = Σ(1−w/W)²/(n−1)`` and
    ``df2 = (k²−1) / (3S)``. Output: feature_cols +
    ``(f_stat, dfn, dfd, k_groups, n_total)``; NULL stats when any
    retained group has n < 2 or zero variance (w undefined).
    Groups with n < 2 or var = 0 are EXCLUDED from the combine (the
    standard Welch practice; documented divergence from anova_1way
    which keeps n=1 groups in SSB).
    """
    v = F.col(value_col)
    per_group = (
        df.filter(v.isNotNull())
        .groupBy(*feature_cols, group_col)
        .agg(
            F.count(v).alias("_n"),
            F.avg(v).alias("_mean"),
            F.var_samp(v).alias("_var"),
        )
        .where((F.col("_n") >= 2) & (F.col("_var") > 0))
    )
    n = F.col("_n").cast("double")
    w = n / F.col("_var")
    combined = per_group.groupBy(*feature_cols).agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("_n").alias("n_total"),
        F.sum(w).alias("_sw"),
        F.sum(w * F.col("_mean")).alias("_swm"),
        F.sum(w * F.col("_mean") * F.col("_mean")).alias("_swm2"),
        F.sum(1.0 / (n - 1.0)).alias("_s1"),
        F.sum(w / (n - 1.0)).alias("_sw1"),
        F.sum(w * w / (n - 1.0)).alias("_sw2"),
    )
    k = F.col("k_groups").cast("double")
    bigw = F.col("_sw")
    # S = Σ(1−w/W)²/(n−1) = Σ1/(n−1) − 2/W·Σw/(n−1) + 1/W²·Σw²/(n−1)
    s = (
        F.col("_s1")
        - 2.0 / bigw * F.col("_sw1")
        + F.col("_sw2") / (bigw * bigw)
    )
    num = (F.col("_swm2") - F.col("_swm") * F.col("_swm") / bigw) / (
        k - 1.0
    )
    den = 1.0 + 2.0 * (k - 2.0) / (k * k - 1.0) * s
    f_stat = F.when((F.col("k_groups") >= 2) & (den > 0), num / den)
    dfd = F.when(
        (F.col("k_groups") >= 2) & (s > 0),
        (k * k - 1.0) / (3.0 * s),
    )
    return combined.select(
        *feature_cols,
        f_stat.alias("f_stat"),
        F.when(F.col("k_groups") >= 2, k - 1.0).alias("dfn"),
        dfd.alias("dfd"),
        "k_groups",
        "n_total",
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Mutual information (nats) between two categorical columns —
    the effect-size companion to the chi-square independence test
    (chi2 tells you THAT columns co-vary; MI tells you how much, in
    information units — the feature-selection and leakage-screening
    workhorse).

    Plan: one joint (a, b) hash aggregation, two marginal
    aggregations DERIVED from the joint table (cardinality-sized, not
    data-sized), broadcast-joined back, then
    ``Σ p_ab·ln(N·n_ab/(n_a·n_b))`` with exact integer counts inside
    the log. Output 1 row: ``(mi_nats, n_total, k_a, k_b)``.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    # the joint table feeds four consumers (both margins, the totals,
    # and the MI sum) — persist it or the fact-table aggregation
    # re-runs per consumer (exchange reuse doesn't cross projections)
    joint = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
        .agg(F.count(F.lit(1)).alias("_nab"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ma = joint.groupBy("_a").agg(F.sum("_nab").alias("_na"))
    mb = joint.groupBy("_b").agg(F.sum("_nab").alias("_nb"))
    tot = joint.agg(
        F.sum("_nab").alias("_n"),
        F.countDistinct("_a").alias("k_a"),
        F.countDistinct("_b").alias("k_b"),
    )
    j = (
        joint.join(F.broadcast(ma), on="_a")
        .join(F.broadcast(mb), on="_b")
        .crossJoin(F.broadcast(tot))
    )
    nd = F.col("_n").cast("double")
    term = (
        F.col("_nab").cast("double")
        / nd
        * F.log(
            nd
            * F.col("_nab").cast("double")
            / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
        )
    )
    out = j.agg(
        F.sum(term).alias("mi_nats"),
        F.max("_n").alias("n_total"),
        F.max("k_a").alias("k_a"),
        F.max("k_b").alias("k_b"),
    )
    return track_cached(out, joint)


def _enforce_bounded_groups(
    base: DataFrame,
    group_cols: list[str],
    max_group_size: int | None,
    op_name: str,
) -> DataFrame:
    """IN-PLAN guard for the deliberately O(n_g²) pair operators
    (:func:`theil_sen_by_group`, :func:`harrells_c`,
    :func:`mann_kendall`): attaches a per-group window count and a
    ``raise_error`` filter to ``base``, so any group above
    ``max_group_size`` kills the job naming the offending key the
    moment its first row flows — BEFORE the quadratic pair join can
    complete. Zero extra jobs: the window needs exactly the
    hash-partition-by-group + sort-by-group that the downstream
    sort-merge self-join needs anyway, so the guard rides the
    shuffle the operator already pays (the former eager preflight
    ran a separate count aggregation + collect action). Same
    explicit-bound discipline as the Gram cell guard (ml.py) and the
    connected-components shortcut bound (graph.py).
    ``max_group_size=None`` opts out for callers who know their key
    distribution. The error surfaces at ACTION time (the Spark job),
    wrapping the message below."""
    if max_group_size is None:
        return base
    w = Window.partitionBy(*group_cols)
    key_str = F.concat_ws(
        ",", *[F.col(c).cast("string") for c in group_cols]
    )
    msg = F.concat(
        F.lit(f"{op_name}: group ("),
        key_str,
        F.lit(") has "),
        F.col("_ng").cast("string"),
        F.lit(
            f" rows, above max_group_size={int(max_group_size)}. "
            "The within-group pair join is O(n_g^2) per group — "
            "pre-aggregate the series, use a linear alternative "
            "(e.g. linregress), or pass max_group_size=None to "
            "override deliberately."
        ),
    )
    return (
        base.withColumn("_ng", F.count(F.lit(1)).over(w))
        .where(
            F.when(
                F.col("_ng") > int(max_group_size),
                F.raise_error(msg),
            ).otherwise(F.lit(True))
        )
        .drop("_ng")
    )


def theil_sen_by_group(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    max_group_size: int | None = 10_000,
) -> DataFrame:
    """Theil–Sen robust trend per group: the MEDIAN of all pairwise
    slopes ``(y_j−y_i)/(x_j−x_i)`` over ``x_i < x_j``, with the
    standard median intercept ``median(y − slope·x)`` — the
    outlier-robust alternative to :func:`linregress` for short
    per-feature series (padua's timecourse regime: one spiked
    timepoint drags OLS but not Theil–Sen; breakdown point ~29%).

    **Scale contract**: pairs are generated by a WITHIN-GROUP
    self-join, so the work per group is O(n_g²) — intended for keys
    with BOUNDED group size (timepoints per feature, lineitems per
    order: n_g ≤ tens). With group sizes in the thousands use
    :func:`linregress`; an unbounded hot group makes the pair join
    quadratic and no engine saves that. The contract is ENFORCED:
    a preflight count aggregation raises (naming the offending key)
    if any group exceeds ``max_group_size`` before the pair join is
    launched; pass ``max_group_size=None`` to opt out deliberately.
    Pairs with tied x are excluded (undefined slope — the standard
    convention). Groups with no valid pair emit no row.

    Medians reuse :func:`normalization.group_medians` (exact, ANSI
    two-middle interpolation — DuckDB-identical). Output:
    ``group_cols + (slope, intercept, n_pairs)``.
    """
    from padua_spark.operators.normalization import group_medians

    x, y = F.col(x_col), F.col(y_col)
    pts = df.where(x.isNotNull() & y.isNotNull()).select(
        *group_cols, x.alias("_x"), y.alias("_y")
    )
    pts = _enforce_bounded_groups(
        pts, list(group_cols), max_group_size, "theil_sen_by_group"
    )
    a = pts.select(
        *group_cols,
        F.col("_x").alias("_xa"),
        F.col("_y").alias("_ya"),
    )
    b = pts.select(
        *group_cols,
        F.col("_x").alias("_xb"),
        F.col("_y").alias("_yb"),
    )
    pairs = (
        a.join(b, on=list(group_cols))
        .where(F.col("_xa") < F.col("_xb"))
        .select(
            *group_cols,
            (
                (F.col("_yb") - F.col("_ya"))
                / (F.col("_xb") - F.col("_xa"))
            ).alias("_s"),
        )
    )
    n_pairs = pairs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    slopes = group_medians(pairs, list(group_cols), F.col("_s"), "slope")
    resid = (
        pts.join(slopes, on=list(group_cols))
        .select(
            *group_cols,
            (F.col("_y") - F.col("slope") * F.col("_x")).alias("_r"),
        )
    )
    intercepts = group_medians(
        resid, list(group_cols), F.col("_r"), "intercept"
    )
    return (
        slopes.join(intercepts, on=list(group_cols))
        .join(n_pairs, on=list(group_cols))
        .select(*group_cols, "slope", "intercept", "n_pairs")
    )


def harrells_c(
    df: DataFrame,
    group_cols: list[str],
    risk_col: str,
    duration_col: str,
    event_col: str,
    max_group_size: int | None = 10_000,
) -> DataFrame:
    """Harrell's concordance index per group — the standard
    discrimination metric for survival-risk models (the censoring-
    aware generalization of AUC: with no censoring and binary
    outcomes it reduces to ``group_auc``):

    comparable pairs are ``(i, j)`` with ``t_i < t_j`` and
    ``event_i = 1`` (subject i demonstrably failed first); the pair is
    CONCORDANT when the model gave i the higher risk
    (``r_i > r_j``), counts ½ on tied predictions, and

    ``c_index = (n_concordant + 0.5·n_tied_risk) / n_comparable``.

    **Scale contract** (same discipline as :func:`theil_sen_by_group`
    / :func:`mann_kendall`): pairs come from a WITHIN-GROUP self-join
    — O(n_g²) per group, intended for bounded cohorts; the preflight
    count raises with the offending key above ``max_group_size``
    (``None`` opts out). Groups with zero comparable pairs emit
    ``c_index`` NULL. Output: ``group_cols + (n_comparable,
    n_concordant, n_tied_risk, c_index)``.

    Beyond the reference; standard per Harrell et al. 1982 (ties in
    event time are not comparable — the base definition, matching
    lifelines' default numerator/denominator up to its extra
    event-tie handling).
    """
    r, dur, ev = F.col(risk_col), F.col(duration_col), F.col(event_col)
    pts = df.where(
        r.isNotNull() & dur.isNotNull() & ev.isNotNull()
    ).select(
        *group_cols,
        r.cast("double").alias("_r"),
        dur.cast("double").alias("_t"),
        ev.cast("int").alias("_e"),
    )
    pts = _enforce_bounded_groups(
        pts, list(group_cols), max_group_size, "harrells_c"
    )
    a = pts.select(
        *group_cols,
        F.col("_r").alias("_ra"),
        F.col("_t").alias("_ta"),
        F.col("_e").alias("_ea"),
    )
    b = pts.select(
        *group_cols,
        F.col("_r").alias("_rb"),
        F.col("_t").alias("_tb"),
    )
    pairs = (
        a.join(b, on=list(group_cols))
        .where((F.col("_ta") < F.col("_tb")) & (F.col("_ea") == 1))
        .select(
            *group_cols,
            F.when(F.col("_ra") > F.col("_rb"), 1)
            .otherwise(0)
            .alias("_conc"),
            F.when(F.col("_ra") == F.col("_rb"), 1)
            .otherwise(0)
            .alias("_tie"),
        )
    )
    agg = pairs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_comparable"),
        F.sum("_conc").cast("bigint").alias("n_concordant"),
        F.sum("_tie").cast("bigint").alias("n_tied_risk"),
    )
    return agg.select(
        *group_cols,
        "n_comparable",
        "n_concordant",
        "n_tied_risk",
        (
            (
                F.col("n_concordant").cast("double")
                + 0.5 * F.col("n_tied_risk").cast("double")
            )
            / F.col("n_comparable").cast("double")
        ).alias("c_index"),
    )


def _risk_table(df, group_cols, duration_col, event_col):
    """The distinct-time risk table shared by :func:`kaplan_meier` and
    :func:`nelson_aalen` (the engine twin of the oracles'
    ``_KM_RISK_SQL``): one map-side-combining aggregation to
    per-(group, time) ``n_events``/``n_censored``, then ``n_risk`` (the
    subjects with duration >= t) from a per-group cumulative window
    over the DISTINCT times, never the raw rows. Returns ``(table,
    wcum)`` — ``wcum`` is the time-ascending running window the
    estimators accumulate over."""
    dur = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("int")
    base = df.where(dur.isNotNull() & ev.isNotNull())
    counts = base.groupBy(*group_cols, dur.alias("t")).agg(
        F.sum(ev).cast("bigint").alias("n_events"),
        F.sum(1 - ev).cast("bigint").alias("n_censored"),
    )
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*group_cols)
    left_before = (
        F.sum(F.col("n_events") + F.col("n_censored")).over(wcum)
        - F.col("n_events")
        - F.col("n_censored")
    )
    table = counts.withColumn(
        "n_risk",
        F.sum(F.col("n_events") + F.col("n_censored")).over(wtot)
        - left_before,
    )
    return table, wcum


def kaplan_meier(
    df: DataFrame,
    group_cols: list[str],
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier survival estimator per group — time-to-event
    analysis with right censoring (churn, time-to-failure,
    time-to-conversion where some subjects never convert):

    ``S(t) = Π_{t' <= t, d_{t'} > 0} (1 - d_{t'} / n_{t'})``

    where ``d_t`` = events at time t and ``n_t`` = subjects still at
    risk (duration >= t). Censored subjects (``event = 0``) leave the
    risk set at their censoring time without contributing an event —
    dropping them entirely (the naive mean-duration estimate) biases
    survival downward; KM is the standard unbiased estimator.

    Fully relational: one aggregation to per-(group, time) event /
    censor counts (map-side combine collapses the data to distinct
    times), one per-group cumulative window over those DISTINCT TIMES
    (cardinality-sized, never the raw rows), and the product computed
    as ``exp(Σ ln)`` with an explicit zero flag once the risk set
    empties (no -inf arithmetic). The window order (time asc) is
    deterministic, so the running product is engine-reproducible.

    Returns KM curve points — one row per (group, event time with
    d > 0): ``(groups..., t, n_risk, n_events, n_censored,
    survival)``.
    """
    staged, wcum = _risk_table(df, group_cols, duration_col, event_col)
    factor = (
        F.col("n_risk") - F.col("n_events")
    ).cast("double") / F.col("n_risk").cast("double")
    staged = staged.withColumn(
        "_lnf",
        F.when(
            (F.col("n_events") > 0) & (factor > 0), F.log(factor)
        ).otherwise(F.lit(0.0)),
    ).withColumn(
        "_zero",
        F.when(
            (F.col("n_events") > 0) & (factor <= 0), 1
        ).otherwise(0),
    )
    surv = F.when(
        F.max("_zero").over(wcum) == 1, F.lit(0.0)
    ).otherwise(F.exp(F.sum("_lnf").over(wcum)))
    return (
        staged.withColumn("survival", surv)
        .where(F.col("n_events") > 0)
        .select(
            *group_cols,
            "t",
            "n_risk",
            "n_events",
            "n_censored",
            "survival",
        )
    )


def nelson_aalen(
    df: DataFrame,
    group_cols: list[str],
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator per group — the
    additive companion to :func:`kaplan_meier` on the same risk table,
    :func:`_risk_table` (KM multiplies survival factors, NA sums
    hazard increments; ``S(t) ≈ exp(−H(t))`` links them):

    ``H(t) = Σ_{t' <= t, d > 0} d_{t'} / n_{t'}`` with the standard
    (Poisson/Klein) variance estimate ``Σ d_{t'} / n_{t'}²``.

    Plan shape is that of :func:`kaplan_meier`: :func:`_risk_table`'s
    one map-side-combining aggregation to distinct-time counts, then
    cumulative windows over the distinct-time frame only (never the
    raw rows). Returns
    one row per (group, event time with d > 0): ``(groups..., t,
    n_risk, n_events, n_censored, cum_hazard, var_hazard)``.

    Beyond the reference (padua has no survival analysis); standard
    construction per Klein & Moeschberger §4.2.
    """
    staged, wcum = _risk_table(df, group_cols, duration_col, event_col)
    nr = F.col("n_risk").cast("double")
    d = F.col("n_events").cast("double")
    inc = F.when(F.col("n_events") > 0, d / nr).otherwise(F.lit(0.0))
    vinc = F.when(
        F.col("n_events") > 0, d / (nr * nr)
    ).otherwise(F.lit(0.0))
    return (
        staged.withColumn("cum_hazard", F.sum(inc).over(wcum))
        .withColumn("var_hazard", F.sum(vinc).over(wcum))
        .where(F.col("n_events") > 0)
        .select(
            *group_cols,
            "t",
            "n_risk",
            "n_events",
            "n_censored",
            "cum_hazard",
            "var_hazard",
        )
    )


def logrank_test(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-group log-rank test — the standard significance companion to
    :func:`kaplan_meier` (KM answers "what do the survival curves look
    like", log-rank answers "do the two groups' hazards differ"): at
    every pooled event time t with ``d_t > 0`` total events,

    ``O_a − E_a = Σ_t (d_at − d_t·n_at/n_t)``
    ``V = Σ_t d_t·(n_at/n_t)·(1 − n_at/n_t)·(n_t − d_t)/(n_t − 1)``

    (hypergeometric mean/variance of group-a deaths conditional on the
    risk sets), ``chi2 = (O_a − E_a)²/V`` with 1 df, and the p-value
    via the chi²₁ ≡ Z² identity ``p = P(|Z| > sqrt(chi2))`` — the
    shared A&S-erfc path, no new special function.

    Scale shape: ONE aggregation collapses the fact table to
    per-distinct-duration counts (events and total leaving, per
    group), then the shared distributed stepped cumsum
    (:func:`_stepped_running_counts` — the same machinery as ECDF/
    Kruskal–Wallis/Anderson–Darling) produces at-risk counts
    ``n_gt = total_g − left_before_t`` without any data-sized
    partitionless window, and a final 1-row aggregation forms O/E/V.
    Censored subjects leave the risk set at their censoring time
    without contributing an event — exactly KM's risk-table semantics.

    Output 1 row: ``(n_a, n_b, observed_a, expected_a, observed_b,
    expected_b, chi2, p_value)``; chi2/p NULL when the variance
    degenerates (no events, or all events in risk sets of size 1).

    Beyond the reference (padua has no survival analysis); standard
    construction per Mantel/Cox and Klein & Moeschberger.
    """
    from padua_spark.io_utils import track_cached

    dur = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("int")
    g = F.col(group_col)
    base = df.where(
        dur.isNotNull() & ev.isNotNull() & g.isin([group_a, group_b])
    )
    in_a = g == F.lit(group_a)
    per = base.groupBy(dur.alias("_t")).agg(
        F.sum(F.when(in_a, ev).otherwise(0)).cast("bigint").alias("ev_a"),
        F.count(F.when(in_a, 1)).cast("bigint").alias("lv_a"),
        F.sum(F.when(~in_a, ev).otherwise(0)).cast("bigint").alias("ev_b"),
        F.count(F.when(~in_a, 1)).cast("bigint").alias("lv_b"),
    )
    stepped = _stepped_running_counts(
        per, "_t", ["ev_a", "lv_a", "ev_b", "lv_b"]
    )
    # at risk at t = total subjects − subjects who left strictly before
    n_a = F.col("lv_a_tot") - (F.col("lv_a_run") - F.col("lv_a"))
    n_b = F.col("lv_b_tot") - (F.col("lv_b_run") - F.col("lv_b"))
    d_t = F.col("ev_a") + F.col("ev_b")
    n_t = n_a + n_b
    ra = n_a.cast("double") / n_t.cast("double")
    e_a = F.when(d_t > 0, d_t.cast("double") * ra).otherwise(F.lit(0.0))
    v = F.when(
        (d_t > 0) & (n_t > 1),
        d_t.cast("double")
        * ra
        * (1.0 - ra)
        * (n_t - d_t).cast("double")
        / (n_t - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    agg = stepped.agg(
        F.max("lv_a_tot").alias("n_a"),
        F.max("lv_b_tot").alias("n_b"),
        F.sum("ev_a").cast("bigint").alias("observed_a"),
        F.sum("ev_b").cast("bigint").alias("observed_b"),
        F.sum(e_a).alias("expected_a"),
        F.sum(d_t.cast("double") - e_a).alias("expected_b"),
        F.sum(v).alias("_v"),
    )
    oe = F.col("observed_a").cast("double") - F.col("expected_a")
    chi2 = F.when(F.col("_v") > 0, oe * oe / F.col("_v"))
    out = agg.select(
        "n_a",
        "n_b",
        "observed_a",
        "expected_a",
        "observed_b",
        "expected_b",
        chi2.alias("chi2"),
        _normal_sf_2sided(F.sqrt(chi2)).alias("p_value"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def sprt_bernoulli(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    outcome_col: str,
    p0: float,
    p1: float,
    alpha: float = 0.05,
    beta: float = 0.05,
) -> DataFrame:
    """Wald's sequential probability ratio test per key over an ordered
    Bernoulli stream — the always-valid companion to the fixed-horizon
    ``two_proportion_ztest``: an A/B monitor may look after EVERY
    observation and still hold its error rates, stopping as soon as

    ``LLR_n = ones·ln(p1/p0) + zeros·ln((1-p1)/(1-p0))``

    exits ``[ln(β/(1-α)), ln((1-β)/α)]``. Peeking at a z-test this way
    inflates false positives several-fold; SPRT is the test DESIGNED
    for it.

    Fully relational: the LLR is a per-key ordered cumsum of two
    constants (one window pass), crossings are conditional-min
    aggregates over the row numbers, and because the increments are
    constants times integer counts the whole trajectory is
    engine-reproducible. Per-key state is the ordered stream (same
    entity-sized-key caveat as ``ewma_bounded``).

    Returns one row per key: ``(keys..., n_total, llr_final,
    n_decide_h1, n_decide_h0, decision)`` where decision ∈
    {'accept_h1', 'accept_h0', 'continue'} — the FIRST boundary
    crossed, at its earliest crossing index.
    """
    import math

    from pyspark.sql import Window

    if not (0.0 < p0 < 1.0 and 0.0 < p1 < 1.0 and p0 != p1):
        raise ValueError("sprt_bernoulli: need 0 < p0 != p1 < 1")
    la = math.log(p1 / p0)
    lb = math.log((1.0 - p1) / (1.0 - p0))
    upper = math.log((1.0 - beta) / alpha)
    lower = math.log(beta / (1.0 - alpha))
    x = F.col(outcome_col).cast("int")
    base = df.where(x.isNotNull()).select(
        *key_cols,
        *[c for c in order_cols if c not in key_cols],
        x.alias("_x"),
    )
    wo = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inc = F.when(F.col("_x") == 1, F.lit(la)).otherwise(F.lit(lb))
    staged = base.withColumn("_llr", F.sum(inc).over(run)).withColumn(
        "_rn", F.row_number().over(wo)
    )
    agg = staged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(inc).alias("llr_final"),
        F.min(
            F.when(F.col("_llr") >= F.lit(upper), F.col("_rn"))
        ).alias("n_decide_h1"),
        F.min(
            F.when(F.col("_llr") <= F.lit(lower), F.col("_rn"))
        ).alias("n_decide_h0"),
    )
    h1 = F.col("n_decide_h1")
    h0 = F.col("n_decide_h0")
    decision = (
        F.when(
            h1.isNotNull() & (h0.isNull() | (h1 < h0)),
            F.lit("accept_h1"),
        )
        .when(h0.isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
    )
    return agg.withColumn("decision", decision)


def dunn_posthoc(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
) -> DataFrame:
    """Dunn's post-hoc pairwise comparisons after Kruskal–Wallis —
    WHICH groups differ, not just whether any do: for each group pair,

    ``z = (r̄_i - r̄_j) / sqrt((N(N+1)/12 - Σ(t³-t)/(12(N-1)))
                               · (1/n_i + 1/n_j))``

    on the POOLED midranks, with Benjamini-Hochberg adjustment across
    the k(k-1)/2 pairs. A listed group with no rows has no mean rank:
    its pairs are not reported and k counts only non-empty groups.

    Scale shape: :func:`_pooled_rank_sums` — per-distinct-value
    per-group counts, the distributed two-pass running sum for
    integer doubled midranks — reduced to ONE row of per-group sums;
    every pair statistic, the A&S-erfc p, and the BH pass run on the
    C(k,2)-row frame (the partitionless BH window is over that
    constant-size frame, never data). Unlike :func:`theil_sen_by_group` /
    :func:`mann_kendall` this is NOT subject to the bounded-group-size
    contract: no row-level pair join exists — cost scales with the
    number of DISTINCT values (stepped cumsum) and C(k,2) group pairs,
    both bounded, so no ``max_group_size`` preflight is needed.
    Output one row per pair (groups ordered
    lexicographically): ``(group_a, group_b, n_a, n_b, mean_rank_a,
    mean_rank_b, z, p_normal, p_adjusted)``.
    """
    from pyspark.sql import Window

    from padua_spark.io_utils import track_cached

    # (label, raw) pairs: the string label only orders the output
    # deterministically — comparisons use the RAW group value (as
    # kruskal_wallis_stats does), so numeric labels neither rely on an
    # implicit string cast nor get lexicographic 1 < 10 < 2 ordering
    # applied to the filter semantics
    gs = sorted(((str(g), g) for g in groups), key=lambda t: t[0])
    agg, n_total, cached = _pooled_rank_sums(
        df, group_col, value_col, groups, "_tie",
        keys=[raw for _, raw in gs],
    )
    agg = agg.withColumn("_nt", n_total)
    # one explode of a literal struct array — a union of per-pair
    # selects would recompute the whole upstream aggregation per branch
    structs = []
    for i in range(len(gs)):
        for j in range(i + 1, len(gs)):
            structs.append(
                F.struct(
                    F.lit(gs[i][0]).alias("group_a"),
                    F.lit(gs[j][0]).alias("group_b"),
                    F.col(f"_n{i}").alias("n_a"),
                    F.col(f"_n{j}").alias("n_b"),
                    (
                        F.col(f"_2r{i}").cast("double")
                        / (2.0 * F.col(f"_n{i}"))
                    ).alias("mean_rank_a"),
                    (
                        F.col(f"_2r{j}").cast("double")
                        / (2.0 * F.col(f"_n{j}"))
                    ).alias("mean_rank_b"),
                )
            )
    # a listed group with no rows has no mean rank: its pairs are
    # dropped and left out of the BH count m = C(k non-empty, 2)
    k = sum([(F.col(f"_n{i}") > 0).cast("int") for i in range(len(gs))])
    pairs = (
        agg.select(
            "_tie", "_nt", (k * (k - 1) / 2).alias("_m"),
            F.explode(F.array(*structs)).alias("_p"),
        )
        .select("_p.*", "_tie", "_nt", "_m")
        .where((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )
    nd = F.col("_nt").cast("double")
    var = (
        nd * (nd + 1.0) / 12.0
        - F.col("_tie").cast("double") / (12.0 * (nd - 1.0))
    ) * (
        1.0 / F.col("n_a").cast("double")
        + 1.0 / F.col("n_b").cast("double")
    )
    z = (F.col("mean_rank_a") - F.col("mean_rank_b")) / F.sqrt(var)
    scored = pairs.select(
        "group_a", "group_b", "n_a", "n_b",
        "mean_rank_a", "mean_rank_b",
        z.alias("z"), "_m",
    ).withColumn("p_normal", _normal_sf_2sided(F.col("z")))
    w_asc = Window.orderBy("p_normal", "group_a", "group_b")
    w_desc = Window.orderBy(
        F.col("p_normal").desc(),
        F.col("group_a").desc(),
        F.col("group_b").desc(),
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = scored.withColumn("_rk", F.row_number().over(w_asc))
    out = ranked.withColumn(
        "p_adjusted",
        F.least(
            F.lit(1.0),
            F.min(
                F.col("p_normal") * F.col("_m") / F.col("_rk")
            ).over(w_desc),
        ),
    ).drop("_rk", "_m")
    return track_cached(out, *cached)


def mann_kendall(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    value_col: str,
    max_group_size: int | None = 10_000,
) -> DataFrame:
    """Mann-Kendall trend test per bounded group — the significance
    companion to :func:`theil_sen_by_group` (Theil-Sen answers "what
    slope", MK answers "is there a monotone trend at all", with no
    distributional assumption):

    ``S = Σ_{i<j} sign(y_j - y_i)`` over pairs ordered by
    ``order_col``; tie-corrected
    ``Var(S) = [n(n-1)(2n+5) - Σ_t t(t-1)(2t+5)] / 18``;
    continuity-corrected ``z = (S ∓ 1)/sqrt(Var)``; two-sided A&S
    p.

    Same scale contract as Theil-Sen — and same ENFORCEMENT: a
    preflight raises on any group above ``max_group_size`` before the
    quadratic pair join launches (``None`` opts out); S and both tie
    sums are exact
    integers, so everything up to the final division is
    hash-portable. Returns ``(groups..., n_obs, s_stat, var_s, z,
    p_normal)``; z/p NULL when the variance degenerates (all values
    tied or n < 2).
    """
    x = F.col(order_col)
    y = F.col(value_col)
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        *group_cols, x.alias("_x"), y.alias("_y")
    )
    base = _enforce_bounded_groups(
        base, list(group_cols), max_group_size, "mann_kendall"
    )
    a = base.select(
        *group_cols, F.col("_x").alias("_xa"), F.col("_y").alias("_ya")
    )
    b = base.select(
        *group_cols, F.col("_x").alias("_xb"), F.col("_y").alias("_yb")
    )
    pairs = a.join(b, on=group_cols).where(F.col("_xa") < F.col("_xb"))
    s = pairs.groupBy(*group_cols).agg(
        F.sum(F.signum(F.col("_yb") - F.col("_ya")))
        .cast("bigint")
        .alias("s_stat")
    )
    counts = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    ties = (
        base.groupBy(*group_cols, "_y")
        .agg(F.count(F.lit(1)).alias("_t"))
        .groupBy(*group_cols)
        .agg(
            F.sum(
                F.col("_t")
                * (F.col("_t") - 1)
                * (2 * F.col("_t") + 5)
            )
            .cast("bigint")
            .alias("_tie")
        )
    )
    j = counts.join(s, on=group_cols, how="left").join(
        ties, on=group_cols
    )
    n = F.col("n_obs").cast("double")
    var_s = (
        n * (n - 1.0) * (2.0 * n + 5.0)
        - F.col("_tie").cast("double")
    ) / 18.0
    sS = F.coalesce(F.col("s_stat"), F.lit(0)).cast("double")
    z = F.when(sS > 0, (sS - 1.0) / F.sqrt(var_s)).when(
        sS < 0, (sS + 1.0) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    out = j.select(
        *group_cols,
        "n_obs",
        F.coalesce(F.col("s_stat"), F.lit(0)).alias("s_stat"),
        var_s.alias("var_s"),
        F.when(var_s > 0, z).alias("z"),
    )
    return out.withColumn(
        "p_normal",
        F.when(
            F.col("z").isNotNull(), _normal_sf_2sided(F.col("z"))
        ),
    )


def bartlett_stats(
    df: DataFrame,
    feature_cols: list[str],
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Bartlett's homogeneity-of-variance test per feature — the
    classical (normality-assuming, variance-sensitive) counterpart to
    :func:`levene_stats`:

    ``T = [(N−k)·ln(Sp²) − Σ(n_i−1)·ln(s_i²)] / C`` with
    ``C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1))``,
    chi²-distributed with ``k−1`` df under H0.

    Two cascaded aggregations (feature×group variances → per-feature
    combine), the same shuffle shape as :func:`anova_1way_stats`;
    everything is closed-form SQL. Groups need n_i ≥ 2 (sample
    variance defined) and s_i² > 0 (log defined) — features violating
    either emit NULL ``bartlett_stat``. Output: feature_cols +
    ``(k_groups, n_total, bartlett_stat, dfree)``. Standard per
    Snedecor & Cochran §10.21 (scipy.stats.bartlett's formula).
    """
    v = F.col(value_col)
    pg = (
        df.where(v.isNotNull())
        .groupBy(*feature_cols, group_col)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.var_samp(v).alias("_v"),
        )
        .where(F.col("_n") >= 2)
    )
    n1 = (F.col("_n") - 1).cast("double")
    agg = pg.groupBy(*feature_cols).agg(
        F.count(F.lit(1)).alias("k_groups"),
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum(n1 * F.col("_v")).alias("_ssw"),
        F.sum(
            F.when(F.col("_v") > 0, n1 * F.log(F.col("_v")))
        ).alias("_sln"),
        F.sum(1.0 / n1).alias("_sinv"),
        F.sum(F.when(F.col("_v") <= 0, 1).otherwise(0)).alias("_bad"),
    )
    k = F.col("k_groups").cast("double")
    nk = F.col("n_total").cast("double") - k
    sp2 = F.col("_ssw") / nk
    t = nk * F.log(sp2) - F.col("_sln")
    c = 1.0 + (F.col("_sinv") - 1.0 / nk) / (3.0 * (k - 1.0))
    stat = F.when(
        (F.col("k_groups") >= 2)
        & (F.col("_bad") == 0)
        & (sp2 > 0),
        t / c,
    )
    out = agg.select(
        *feature_cols,
        "k_groups",
        "n_total",
        stat.alias("bartlett_stat"),
        F.when(
            F.col("k_groups") >= 2, (k - 1.0)
        ).alias("dfree"),
    )
    return out.withColumn(
        "p_value",
        chi2_sf_udf(F.col("bartlett_stat"), F.col("dfree")),
    )


def mcnemar_test(
    df: DataFrame,
    a_col: str,
    b_col: str,
    correction: bool = True,
) -> DataFrame:
    """McNemar's test for paired binary outcomes (did treatment B flip
    the cases treatment A got right? — the paired companion to
    :func:`two_proportion_ztest`, e.g. comparing two classifiers or
    two filter versions on the SAME examples): only the discordant
    cells matter,

    ``chi² = (|n01 − n10| − 1)² / (n01 + n10)`` (Edwards continuity
    correction; ``correction=False`` drops the −1), 1 df.

    ONE aggregation over the fact table (four conditional counts, all
    map-side combinable) → a 1-row closed-form result:
    ``(n00, n01, n10, n11, mcnemar_stat, p_value)`` — NULL stat when
    there are no discordant pairs. p via the shared chi²₁ ≡ Z²
    identity (A&S erfc path, no new special function).
    """
    a = F.col(a_col).cast("int")
    b = F.col(b_col).cast("int")
    base = df.where(a.isNotNull() & b.isNotNull())
    agg = base.agg(
        F.sum(F.when((a == 0) & (b == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n00"),
        F.sum(F.when((a == 0) & (b == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n01"),
        F.sum(F.when((a == 1) & (b == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n10"),
        F.sum(F.when((a == 1) & (b == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n11"),
    )
    disc = (F.col("n01") + F.col("n10")).cast("double")
    diff = F.abs(F.col("n01") - F.col("n10")).cast("double")
    num = (diff - 1.0) if correction else diff
    num = F.greatest(num, F.lit(0.0))
    stat = F.when(disc > 0, num * num / disc)
    return agg.select(
        "n00",
        "n01",
        "n10",
        "n11",
        stat.alias("mcnemar_stat"),
        F.when(
            stat.isNotNull(), _normal_sf_2sided(F.sqrt(stat))
        ).alias("p_value"),
    )


def cochran_armitage_trend(
    df: DataFrame,
    score_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran-Armitage test for TREND in binomial proportions across
    ordered exposure levels (dose-response / severity-graded A-B-C
    cohorts — sharper than the omnibus chi² when the alternative is
    monotone):

    ``T = Σ s_i (r_i − n_i·R/N)``,
    ``Var(T) = (R/N)(1 − R/N)(Σ n_i s_i² − (Σ n_i s_i)²/N)``,
    ``Z = T/√Var`` — standard normal under H0 (two-sided p).

    One aggregation collapses the fact table to per-level counts
    (levels = distinct scores, tiny), one more combines — closed-form
    SQL end to end. Output 1 row: ``(n_levels, n_total, n_success,
    t_stat, z, p_value)``. Standard per Armitage 1955 / Agresti
    §5.3.5.
    """
    s = F.col(score_col).cast("double")
    y = F.col(outcome_col).cast("int")
    lvl = (
        df.where(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("_s"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(y).cast("bigint").alias("_r"),
        )
    )
    agg = lvl.agg(
        F.count(F.lit(1)).alias("n_levels"),
        F.sum("_n").cast("bigint").alias("n_total"),
        F.sum("_r").cast("bigint").alias("n_success"),
        F.sum(F.col("_s") * F.col("_r")).alias("_sr"),
        F.sum(F.col("_s") * F.col("_n")).alias("_sn"),
        F.sum(F.col("_s") * F.col("_s") * F.col("_n")).alias("_ssn"),
    )
    nn = F.col("n_total").cast("double")
    p = F.col("n_success").cast("double") / nn
    t = F.col("_sr") - p * F.col("_sn")
    var = p * (1.0 - p) * (F.col("_ssn") - F.col("_sn") * F.col("_sn") / nn)
    z = F.when(var > 0, t / F.sqrt(var))
    return agg.select(
        "n_levels",
        "n_total",
        "n_success",
        t.alias("t_stat"),
        z.alias("z"),
        F.when(z.isNotNull(), _normal_sf_2sided(z)).alias("p_value"),
    )


def _complete_blocks(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    treatments: list | None = None,
):
    """The complete-block scaffold of the repeated-measures tests:
    rows with a non-NULL block, value and treatment (one of
    ``treatments`` when given) as ``(_b, _t, _v)`` with ``_v`` a
    double; ``k`` = ``len(treatments)``, else the number of distinct
    treatments (one eager count); and the blocks carrying ``k``
    distinct treatments in exactly ``k`` rows. Returns
    ``(kept, complete, k)``: the rows of the complete blocks (a
    left-semi join) and the ``_b`` frame of those blocks."""
    v = F.col(value_col).cast("double")
    t = F.col(treatment_col)
    base = df.where(
        v.isNotNull()
        & F.col(block_col).isNotNull()
        & (t.isNotNull() if treatments is None else t.isin(treatments))
    ).select(F.col(block_col).alias("_b"), t.alias("_t"), v.alias("_v"))
    k = (
        base.select("_t").distinct().count()
        if treatments is None else len(treatments)
    )
    complete = (
        base.groupBy("_b")
        .agg(
            F.count_distinct("_t").alias("_kt"),
            F.count(F.lit(1)).alias("_ct"),
        )
        .where((F.col("_kt") == k) & (F.col("_ct") == k))
        .select("_b")
    )
    return base.join(complete, on="_b", how="left_semi"), complete, k


def _within_block_midranks(kept: DataFrame) -> DataFrame:
    """``(_b, _t, _rk, _tn)`` over :func:`_complete_blocks` rows: the
    midrank ``_rk`` of ``_v`` within its block (``rank()`` plus half
    the extra ties, from the per-(block, value) tie count) and the
    size ``_tn`` of its tie group — one bounded window pass, k rows
    per block."""
    wb = Window.partitionBy("_b").orderBy("_v")
    tie_n = F.count(F.lit(1)).over(Window.partitionBy("_b", "_v"))
    return kept.select(
        "_b",
        "_t",
        (
            F.rank().over(wb).cast("double")
            + (tie_n.cast("double") - 1.0) / 2.0
        ).alias("_rk"),
        tie_n.alias("_tn"),
    )


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman rank test for k repeated measures over n blocks — the
    non-parametric repeated-measures ANOVA (the within-subjects
    counterpart to :func:`kruskal_wallis_stats`; its post-hoc is the
    same :func:`dunn_posthoc` family):

    rank the k treatment values WITHIN each block (midranks on ties),
    ``chi²_F = [12/(n·k·(k+1))]·Σ_j R_j² − 3n(k+1)`` divided by the
    tie correction ``1 − Σ(t³−t)/(n·k·(k²−1))``, ``k−1`` df
    (scipy.stats.friedmanchisquare's formula).

    Incomplete blocks (missing any of the k treatments) are DROPPED —
    the standard complete-block requirement, enforced rather than
    silently miscounted. Plan: one bounded within-block rank window
    (k rows per block — entity-sized, never data-sized), one
    aggregation to per-treatment rank sums + per-block tie terms, one
    combine. Output 1 row: ``(n_blocks, k_treatments, friedman_stat,
    dfree)``.
    """
    kept, _, k_total = _complete_blocks(
        df, block_col, treatment_col, value_col
    )
    ranked = _within_block_midranks(kept)
    rsums = ranked.groupBy("_t").agg(F.sum("_rk").alias("_rj"))
    ssbn = rsums.agg(
        F.sum(F.col("_rj") * F.col("_rj")).alias("_ssbn"),
        F.count(F.lit(1)).alias("k_treatments"),
    )
    # tie term: each tie GROUP of size t contributes t³−t; summing the
    # per-row (t²−1) over rows of the group gives the same total
    ties = ranked.agg(
        F.sum(
            F.col("_tn").cast("double") * F.col("_tn").cast("double")
            - 1.0
        ).alias("_tie_sum"),
        (F.count(F.lit(1)) / F.lit(k_total)).cast("bigint").alias(
            "n_blocks"
        ),
    )
    out = ssbn.crossJoin(ties)
    n = F.col("n_blocks").cast("double")
    k = F.col("k_treatments").cast("double")
    chisq = (12.0 / (n * k * (k + 1.0))) * F.col("_ssbn") - 3.0 * n * (
        k + 1.0
    )
    c = 1.0 - F.col("_tie_sum") / (n * k * (k * k - 1.0))
    stat = F.when((n > 0) & (k >= 2) & (c > 0), chisq / c)
    res = out.select(
        "n_blocks",
        "k_treatments",
        stat.alias("friedman_stat"),
        F.when(k >= 2, k - 1.0).alias("dfree"),
    )
    return res.withColumn(
        "p_value",
        chi2_sf_udf(F.col("friedman_stat"), F.col("dfree")),
    )


def rmst(
    df: DataFrame,
    group_cols: list[str],
    duration_col: str,
    event_col: str,
    tau: float,
) -> DataFrame:
    """Restricted mean survival time per group — the area under the
    Kaplan-Meier curve up to the horizon ``tau``: the model-free
    "average event-free time within the first τ" summary that stays
    valid when proportional hazards doesn't (the standard reporting
    companion to :func:`kaplan_meier` / :func:`logrank_test`).

    ``RMST(τ) = ∫₀^τ S(t) dt`` over the KM step function:
    ``min(t₁, τ)`` for the S=1 head segment plus
    ``Σ_{tᵢ<τ} S(tᵢ)·(min(tᵢ₊₁, τ) − tᵢ)`` over the curve points
    (``tᵢ₊₁ → τ`` past the last event).

    Built directly on :func:`kaplan_meier`'s curve: one ``lead()``
    window over the per-group DISTINCT-EVENT-TIME frame (cardinality-
    sized, never the raw rows) and one aggregation. Groups with zero
    events produce no KM points and are absent here (their RMST is
    trivially ``τ``; callers coalesce). Output per group:
    ``(groups..., tau, n_curve_points, rmst)``, ``rmst`` rounded to
    6dp.
    """
    from pyspark.sql import Window

    km = kaplan_meier(df, group_cols, duration_col, event_col)
    w = Window.partitionBy(*group_cols).orderBy("t")
    t = F.col("t").cast("double")
    seg_end = F.least(
        F.coalesce(F.lead("t").over(w).cast("double"), F.lit(float(tau))),
        F.lit(float(tau)),
    )
    contrib = F.when(
        t < F.lit(float(tau)),
        F.col("survival") * (seg_end - t),
    ).otherwise(F.lit(0.0))
    staged = km.select(*group_cols, t.alias("_t"), contrib.alias("_c"))
    return (
        staged.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_curve_points"),
            F.least(F.min("_t"), F.lit(float(tau))).alias("_head"),
            F.sum("_c").alias("_area"),
        )
        .select(
            *group_cols,
            F.lit(float(tau)).alias("tau"),
            "n_curve_points",
            F.round(F.col("_head") + F.col("_area"), 6).alias("rmst"),
        )
    )


def cox_ph(
    df: DataFrame,
    feature_cols: list[str],
    duration_col: str,
    event_col: str,
    n_iters: int = 8,
) -> DataFrame:
    """Cox proportional-hazards regression (Breslow tie handling) —
    the survival model itself, completing the battery around
    :func:`kaplan_meier` / :func:`logrank_test` / :func:`rmst` /
    :func:`harrells_c`: maximizes the partial likelihood by
    ``n_iters`` Newton-Raphson steps,

    ``g = Σ_t [ Σ_{i ev at t} x_i − d_t·S1(t)/S0(t) ]``
    ``H = Σ_t d_t·[ S2(t)/S0(t) − (S1/S0)(S1/S0)ᵀ ]``

    with risk-set moments ``Sk(t) = Σ_{j: t_j ≥ t} x_j^{⊗k}·exp(βᵀx_j)``.
    Standard errors come from the observed information at the final β
    (one extra evaluation). Output: one row per feature —
    ``(feature, coef, hazard_ratio, se, z, p_value)`` (two-sided
    normal p via the shared A&S erfc polynomial), floats rounded to
    6dp. Standardize features upstream if their scales are extreme
    (``exp(βᵀx)`` overflows otherwise) — the usual Cox contract.

    Scale shape (the Lloyd-iteration discipline): per Newton step,
    ONE per-distinct-time aggregation collapses the data to the
    event-time frame (map-side combine), the ``t' ≥ t`` risk-set
    suffix sums come from the distributed stepped running count over
    that cardinality-sized frame (``suffix = tot − run + at``; never a
    partitionless data-sized window), and the driver collects exactly
    ``p + p(p+1)/2 + 1`` doubles to take the Newton step in closed
    form. No per-row Python, no data-sized collect, no global sort.
    The fixed-``n_iters`` schedule (no data-dependent stopping) keeps
    the whole computation engine-reproducible.
    """
    import numpy as np

    from padua_spark.io_utils import track_cached  # noqa: F401
    from pyspark import StorageLevel

    p = len(feature_cols)
    dur = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("int")
    cond = dur.isNotNull() & ev.isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    # Persist ALREADY hash-partitioned by time: every Newton step's
    # per-time aggregation then reuses the InMemoryRelation's
    # outputPartitioning and elides its Exchange — one shuffle for all
    # n_iters+1 gradient/Hessian passes instead of one per pass.
    base = (
        df.where(cond)
        .select(
            dur.alias("_t"),
            ev.alias("_e"),
            *[
                F.col(c).cast("double").alias(f"_x{i}")
                for i, c in enumerate(feature_cols)
            ],
        )
        .repartition("_t")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    pairs = [(i, j) for i in range(p) for j in range(i, p)]
    # The event-time DOMAIN is beta-independent: decide the suffix-sum
    # strategy ONCE instead of letting every Newton step re-persist and
    # re-count its per-time frame inside _stepped_running_counts
    # (round-13: 3 jobs per step -> 1; the per-step stepped frame has
    # exactly one consumer, so the small-domain path needs no persist
    # at all). Values are identical — same running-sum windows.
    n_domain = base.select("_t").distinct().count()
    small_domain = n_domain <= SMALL_ECDF_DOMAIN

    def _grad_hess(beta: "np.ndarray"):
        lin = F.lit(float(beta[0])) * F.col("_x0")
        for i in range(1, p):
            lin = lin + F.lit(float(beta[i])) * F.col(f"_x{i}")
        r = F.exp(lin)
        per = base.groupBy("_t").agg(
            F.sum("_e").cast("bigint").alias("_d"),
            *[
                F.sum(
                    F.when(F.col("_e") == 1, F.col(f"_x{i}"))
                ).alias(f"_ex{i}")
                for i in range(p)
            ],
            F.sum(r).alias("_sr"),
            *[
                F.sum(r * F.col(f"_x{i}")).alias(f"_sr{i}")
                for i in range(p)
            ],
            *[
                F.sum(
                    r * F.col(f"_x{i}") * F.col(f"_x{j}")
                ).alias(f"_sr{i}{j}")
                for i, j in pairs
            ],
        )
        cols = (
            ["_sr"]
            + [f"_sr{i}" for i in range(p)]
            + [f"_sr{i}{j}" for i, j in pairs]
        )
        if small_domain:
            w_loc = Window.orderBy("_t").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
            w_all = Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
            stepped = per.select(
                "_t",
                *[c for c in per.columns if c != "_t"],
                *[
                    F.sum(c).over(w_loc).alias(f"{c}_run")
                    for c in cols
                ],
                *[
                    F.sum(c).over(w_all).alias(f"{c}_tot")
                    for c in cols
                ],
            )
        else:
            stepped = _stepped_running_counts(per, "_t", cols)
        suf = {
            c: (
                F.col(f"{c}_tot") - F.col(f"{c}_run") + F.col(c)
            )
            for c in cols
        }
        s0 = suf["_sr"]
        dt = F.col("_d").cast("double")
        g_terms = [
            F.sum(
                F.coalesce(F.col(f"_ex{i}"), F.lit(0.0))
                - dt * suf[f"_sr{i}"] / s0
            ).alias(f"_g{i}")
            for i in range(p)
        ]
        h_terms = [
            F.sum(
                dt
                * (
                    suf[f"_sr{i}{j}"] / s0
                    - (suf[f"_sr{i}"] / s0) * (suf[f"_sr{j}"] / s0)
                )
            ).alias(f"_h{i}{j}")
            for i, j in pairs
        ]
        row = (
            stepped.where(F.col("_d") > 0)
            .agg(*g_terms, *h_terms)
            .collect()[0]
        )
        for c in getattr(stepped, "_padua_cached", ()):
            c.unpersist()
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
        (feature_cols[i], float(beta[i]), float(np.sqrt(cov[i, i])))
        for i in range(p)
    ]
    out = local_frame(
        spark, rows, "feature string, _coef double, _se double"
    )
    z = F.col("_coef") / F.col("_se")
    return out.select(
        "feature",
        F.round("_coef", 6).alias("coef"),
        F.round(F.exp("_coef"), 6).alias("hazard_ratio"),
        F.round("_se", 6).alias("se"),
        F.round(z, 6).alias("z"),
        F.round(_normal_sf_2sided(z), 6).alias("p_value"),
    )


def cumulative_incidence(
    df: DataFrame,
    group_cols: list[str],
    duration_col: str,
    cause_col: str,
) -> DataFrame:
    """Aalen-Johansen cumulative incidence functions under COMPETING
    RISKS — the correct per-cause probability when subjects can fail
    from several mutually exclusive causes (1 − KM per cause
    overestimates, since it treats competing events as censoring):

    ``CIF_k(t) = Σ_{tᵢ ≤ t} S(tᵢ⁻) · d_{k,i} / n_i``

    where ``S(t⁻)`` is the ALL-CAUSE Kaplan-Meier survival just
    before ``tᵢ`` and ``d_{k,i}`` the cause-``k`` events at ``tᵢ``.
    ``cause_col`` is an integer code: 0 = censored, ≥1 = event cause.
    At any time, ``Σ_k CIF_k(t) = 1 − S(t)`` (the identity the unit
    test pins).

    Relational plan (the :func:`kaplan_meier` scaffolding): one
    aggregation to per-(group, time) all-cause counts, one more to
    per-(group, time, cause) event counts; risk sets, the lagged
    ``exp(Σ ln)`` survival, and the per-cause running CIF sum all run
    as windows over the DISTINCT-TIME frames (cardinality-sized,
    never the raw rows; ascending-time order pins every float
    accumulation). Output: one row per (group, event time, cause with
    ``d_k > 0``): ``(groups..., cause, t, n_risk, n_events, cif)``,
    ``cif`` rounded to 6dp.
    """
    from pyspark.sql import Window

    dur = F.col(duration_col).cast("double")
    cz = F.col(cause_col).cast("int")
    base = df.where(dur.isNotNull() & cz.isNotNull()).select(
        *group_cols, dur.alias("_t"), cz.alias("_c")
    )
    allc = base.groupBy(*group_cols, "_t").agg(
        F.sum(F.when(F.col("_c") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("_d"),
        F.count(F.lit(1)).cast("bigint").alias("_at"),
    )
    wcum = (
        Window.partitionBy(*group_cols)
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*group_cols)
    n_risk = (
        F.sum("_at").over(wall)
        - (F.sum("_at").over(wcum) - F.col("_at"))
    ).cast("bigint")
    risk = allc.select(
        *group_cols, "_t", "_d", n_risk.alias("_n")
    )
    frac = (F.col("_n") - F.col("_d")).cast("double") / F.col(
        "_n"
    ).cast("double")
    lnf = F.when(
        (F.col("_d") > 0) & (frac > 0), F.log(frac)
    ).otherwise(F.lit(0.0))
    zf = F.when(
        (F.col("_d") > 0) & (frac <= 0), 1
    ).otherwise(0)
    staged = risk.select(
        *group_cols, "_t", "_d", "_n",
        lnf.alias("_lnf"), zf.alias("_zf"),
    )
    s_now = F.when(
        F.max("_zf").over(wcum) == 1, F.lit(0.0)
    ).otherwise(F.exp(F.sum("_lnf").over(wcum)))
    wlag = Window.partitionBy(*group_cols).orderBy("_t")
    surv = staged.select(
        *group_cols, "_t", "_n", s_now.alias("_s")
    ).select(
        *group_cols, "_t", "_n",
        F.coalesce(
            F.lag("_s").over(wlag), F.lit(1.0)
        ).alias("_sprev"),
    )
    causes = (
        base.where(F.col("_c") > 0)
        .groupBy(*group_cols, "_t", F.col("_c").alias("cause"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    joined = causes.join(surv, on=[*group_cols, "_t"])
    term = (
        F.col("_sprev")
        * F.col("n_events").cast("double")
        / F.col("_n").cast("double")
    )
    wcif = (
        Window.partitionBy(*group_cols, "cause")
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        *group_cols,
        "cause",
        F.col("_t").alias("t"),
        F.col("_n").alias("n_risk"),
        "n_events",
        F.round(F.sum(term).over(wcif), 6).alias("cif"),
    )


def proportion_wilson_ci(
    df: DataFrame,
    group_cols: list[str],
    flag_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Wilson score interval for a per-group proportion — the
    recommended small-sample CI for conversion/error rates (never
    leaves [0,1], stays sensible at p̂ near 0 or 1 where the Wald
    interval collapses):

    ``(p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)``

    ``flag_col`` is 0/1 (or boolean). Default ``z`` is the two-sided
    95% normal quantile, written as an exact double literal both
    engines share. One map-side-combining aggregation to the k-group
    frame; every float after that is per-row closed-form arithmetic.
    Output: ``(groups..., n, successes, p_hat, ci_lo, ci_hi)``,
    floats rounded to 6dp.
    """
    f = F.col(flag_col).cast("int")
    agg = df.where(f.isNotNull()).groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(f).cast("bigint").alias("successes"),
    )
    n = F.col("n").cast("double")
    p = F.col("successes").cast("double") / n
    z2 = F.lit(float(z) * float(z))
    center = p + z2 / (2.0 * n)
    half = F.lit(float(z)) * F.sqrt(
        p * (1.0 - p) / n + z2 / (4.0 * n * n)
    )
    denom = 1.0 + z2 / n
    return agg.select(
        *group_cols,
        "n",
        "successes",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    )


def _two_by_two_cells(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    strata_cols: list[str] | None = None,
) -> DataFrame:
    """The 2×2 exposure/outcome cell counts over rows with both
    columns non-NULL (cast to int): exposed with/without the outcome,
    then unexposed with/without. Unstratified: ONE row of exact
    bigint cells ``a, b, c, d``; with ``strata_cols``, one row per
    stratum of double cells ``_a, _b, _c, _d`` for the float
    cross-strata sums."""
    ex = F.col(exposure_col).cast("int")
    out = F.col(outcome_col).cast("int")
    dtype, prefix = ("bigint", "") if strata_cols is None else ("double", "_")
    cells = [
        F.sum(((ex == i) & (out == j)).cast("int"))
        .cast(dtype).alias(prefix + name)
        for (i, j), name in zip(((1, 1), (1, 0), (0, 1), (0, 0)), "abcd")
    ]
    return (
        df.where(ex.isNotNull() & out.isNotNull())
        .groupBy(*(strata_cols or []))
        .agg(*cells)
    )


def odds_ratio_ci(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    z: float = 1.959963984540054,
    haldane: bool = True,
) -> DataFrame:
    """Odds ratio AND relative risk for a 2×2 exposure/outcome table
    with Wald log-scale confidence intervals — the effect-size
    companion to :func:`two_proportion_z` (which only tests; A/B and
    epidemiological reporting needs the magnitude):

    ``OR = (a/b)/(c/d)``, ``SE(ln OR) = √(1/a+1/b+1/c+1/d)``;
    ``RR = (a/(a+b))/(c/(c+d))``,
    ``SE(ln RR) = √(1/a − 1/(a+b) + 1/c − 1/(c+d))``

    over exposed/unexposed rows ``a,b`` (outcome yes/no) and ``c,d``.
    ``haldane=True`` applies the Haldane-Anscombe +0.5 correction to
    every cell whenever ANY cell is zero (both engines share the
    rule). Output 1 row: ``(a, b, c, d, odds_ratio, or_lo, or_hi,
    relative_risk, rr_lo, rr_hi)``, floats rounded to 6dp.

    One aggregation to four exact integers; everything after is
    closed-form scalar arithmetic on the 1-row frame.
    """
    agg = _two_by_two_cells(df, exposure_col, outcome_col)
    any_zero = (
        (F.col("a") == 0) | (F.col("b") == 0)
        | (F.col("c") == 0) | (F.col("d") == 0)
    )
    adj = (
        F.when(any_zero & F.lit(bool(haldane)), F.lit(0.5))
        .otherwise(F.lit(0.0))
    )
    a = F.col("a").cast("double") + adj
    b = F.col("b").cast("double") + adj
    c = F.col("c").cast("double") + adj
    d = F.col("d").cast("double") + adj
    zz = F.lit(float(z))
    lor = F.log((a / b) / (c / d))
    se_or = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    lrr = F.log((a / (a + b)) / (c / (c + d)))
    se_rr = F.sqrt(
        1.0 / a - 1.0 / (a + b) + 1.0 / c - 1.0 / (c + d)
    )
    return agg.select(
        "a", "b", "c", "d",
        F.round(F.exp(lor), 6).alias("odds_ratio"),
        F.round(F.exp(lor - zz * se_or), 6).alias("or_lo"),
        F.round(F.exp(lor + zz * se_or), 6).alias("or_hi"),
        F.round(F.exp(lrr), 6).alias("relative_risk"),
        F.round(F.exp(lrr - zz * se_rr), 6).alias("rr_lo"),
        F.round(F.exp(lrr + zz * se_rr), 6).alias("rr_hi"),
    )


def cox_baseline_hazard(
    df: DataFrame,
    feature_cols: list[str],
    duration_col: str,
    event_col: str,
    betas: list[float],
) -> DataFrame:
    """Breslow baseline cumulative hazard for a FITTED Cox model —
    the piece that turns :func:`cox_ph` coefficients into per-subject
    survival predictions (``S(t|x) = exp(−H₀(t)·exp(βᵀx))``):

    ``H₀(t) = Σ_{tᵢ ≤ t} dᵢ / S0(tᵢ)``,
    ``S0(t) = Σ_{j: t_j ≥ t} exp(βᵀx_j)``.

    ``betas`` are given coefficients (from :func:`cox_ph` or any
    external fit) — baseline estimation is conditional on them, so
    the whole computation is one fixed relational plan. Output: one
    row per distinct event time:
    ``(t, n_events, s0_risk, h0_cum, s0_baseline)`` with
    ``s0_baseline = exp(−H₀)``, floats rounded to 6dp.

    Scale shape: one per-distinct-time aggregation (map-side
    combine), the ``t' ≥ t`` risk-set denominator from the
    distributed stepped running count (``suffix = tot − run + at``),
    and the ascending H₀ accumulation from a SECOND stepped pass over
    the event-time frame — never a partitionless data-sized window.
    """
    from padua_spark.io_utils import track_cached

    p = len(feature_cols)
    assert len(betas) == p, "betas must match feature_cols"
    dur = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("int")
    cond = dur.isNotNull() & ev.isNotNull()
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull()
    lin = F.lit(0.0)
    for b, c in zip(betas, feature_cols):
        lin = lin + F.lit(float(b)) * F.col(c).cast("double")
    base = df.where(cond).select(
        dur.alias("_t"), ev.alias("_e"), F.exp(lin).alias("_r")
    )
    per = base.groupBy("_t").agg(
        F.sum("_e").cast("bigint").alias("_d"),
        F.sum("_r").alias("_sr"),
    )
    stepped = _stepped_running_counts(per, "_t", ["_sr"])
    s0 = F.col("_sr_tot") - F.col("_sr_run") + F.col("_sr")
    ev_times = stepped.where(F.col("_d") > 0).select(
        "_t",
        F.col("_d"),
        s0.alias("_s0"),
        (F.col("_d").cast("double") / s0).alias("_term"),
    )
    cum = _stepped_running_counts(ev_times, "_t", ["_term"])
    out = cum.select(
        F.col("_t").alias("t"),
        F.col("_d").alias("n_events"),
        F.round("_s0", 6).alias("s0_risk"),
        F.round("_term_run", 6).alias("h0_cum"),
        F.round(F.exp(-F.col("_term_run")), 6).alias("s0_baseline"),
    )
    return track_cached(
        out,
        *getattr(stepped, "_padua_cached", ()),
        *getattr(cum, "_padua_cached", ()),
    )


def mantel_haenszel_or(
    df: DataFrame,
    strata_cols: list[str],
    exposure_col: str,
    outcome_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio across strata — the standard
    confounder-adjusted 2×2 analysis (pool the per-stratum
    exposure/outcome tables WITHOUT assuming equal baseline rates —
    the stratified companion to :func:`odds_ratio_ci`, guarding
    against Simpson's-paradox reversals):

    ``OR_MH = Σ_s(a_s d_s/n_s) / Σ_s(b_s c_s/n_s)``,

    Robins-Breslow-Greenland variance for ``ln OR_MH``
    (``P=(a+d)/n, Q=(b+c)/n, R=ad/n, S=bc/n``):
    ``ΣPR/2(ΣR)² + Σ(PS+QR)/2ΣRΣS + ΣQS/2(ΣS)²``,

    plus the Cochran-Mantel-Haenszel chi-square (1 df, no continuity
    correction): ``(Σ(a_s − E_s))² / Σ V_s`` with
    ``E = (a+b)(a+c)/n`` and ``V = (a+b)(c+d)(a+c)(b+d)/(n²(n−1))``;
    strata with ``n < 2`` contribute nothing to the CMH sums.
    The p-value uses the shared A&S erfc surface
    (``χ²(1) SF ≡ 2·Φ̄(√x)`` — the same documented approximation as
    :func:`mcnemar_test`, so both engines evaluate the identical
    expression). Output 1 row: ``(k_strata, or_mh, ci_lo, ci_hi,
    cmh_chi2, p_value)``, floats rounded to 6dp.

    One aggregation to the per-stratum 2×2 integer tables, a second
    over the k-strata frame; round-6 output absorbs summation-order
    ulps in the cross-strata float sums.
    """
    per = _two_by_two_cells(df, exposure_col, outcome_col, strata_cols)
    a, b, c, d = F.col("_a"), F.col("_b"), F.col("_c"), F.col("_d")
    n = a + b + c + d
    r_ = a * d / n
    s_ = b * c / n
    p_ = (a + d) / n
    q_ = (b + c) / n
    e_ = (a + b) * (a + c) / n
    v_ = F.when(
        n > 1,
        (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1)),
    ).otherwise(F.lit(0.0))
    ae = F.when(n > 1, a - e_).otherwise(F.lit(0.0))
    agg = per.where(n > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("k_strata"),
        F.sum(r_).alias("_sr"),
        F.sum(s_).alias("_ss"),
        F.sum(p_ * r_).alias("_spr"),
        F.sum(p_ * s_ + q_ * r_).alias("_spsqr"),
        F.sum(q_ * s_).alias("_sqs"),
        F.sum(ae).alias("_sae"),
        F.sum(v_).alias("_sv"),
    )
    lor = F.log(F.col("_sr") / F.col("_ss"))
    var = (
        F.col("_spr") / (2.0 * F.col("_sr") * F.col("_sr"))
        + F.col("_spsqr") / (2.0 * F.col("_sr") * F.col("_ss"))
        + F.col("_sqs") / (2.0 * F.col("_ss") * F.col("_ss"))
    )
    chi2 = F.col("_sae") * F.col("_sae") / F.col("_sv")
    staged = agg.select(
        "k_strata",
        lor.alias("_lor"),
        F.sqrt(var).alias("_se"),
        chi2.alias("_chi2"),
    )
    return staged.select(
        "k_strata",
        F.round(F.exp("_lor"), 6).alias("or_mh"),
        F.round(
            F.exp(F.col("_lor") - F.lit(float(z)) * F.col("_se")), 6
        ).alias("ci_lo"),
        F.round(
            F.exp(F.col("_lor") + F.lit(float(z)) * F.col("_se")), 6
        ).alias("ci_hi"),
        F.round("_chi2", 6).alias("cmh_chi2"),
        F.round(
            _normal_sf_2sided(F.sqrt(F.col("_chi2"))), 6
        ).alias("p_value"),
    )


def cochrans_q(
    df: DataFrame,
    subject_col: str,
    treatment_col: str,
    flag_col: str,
) -> DataFrame:
    """Cochran's Q test — marginal homogeneity of k PAIRED binary
    treatments (the k-treatment generalization of McNemar: "do the
    same subjects succeed at different rates under different
    conditions?"). From long input ``(subject, treatment, 0/1)``:

    ``Q = k(k−1)·Σ_j(C_j − N/k)² / (k·Σ_i R_i − Σ_i R_i²)``

    with column totals ``C_j``, row totals ``R_i``, grand total
    ``N``; ``Q ~ χ²(k−1)`` under the null. Subjects missing any
    treatment are DROPPED (the paired-design contract; the count
    dropped is reported). Output 1 row: ``(k_treatments, n_subjects,
    n_dropped, q_stat, dfree, p_value)``, floats rounded to 6dp.

    ONE fully lazy plan — no driver actions at all: the distinct
    treatment count joins in as a broadcast 1-row frame, completeness
    and the dropped-subject count are in-plan conditional aggregates,
    and every statistic is an exact integer until the final division.
    The long input frame has three consumers, so it is persisted and
    recorded via ``track_cached`` on the result.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    fl = F.col(flag_col).cast("int")
    base = df.where(
        F.col(subject_col).isNotNull()
        & F.col(treatment_col).isNotNull()
        & fl.isNotNull()
    ).select(
        F.col(subject_col).alias("_s"),
        F.col(treatment_col).alias("_t"),
        fl.alias("_f"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    kd = base.agg(F.countDistinct("_t").cast("bigint").alias("_k"))
    rows = base.groupBy("_s").agg(
        F.count(F.lit(1)).alias("_kt"),
        F.sum("_f").cast("bigint").alias("_r"),
    ).crossJoin(F.broadcast(kd))
    complete = rows.where(F.col("_kt") == F.col("_k"))
    row_stats = rows.agg(
        F.max("_k").alias("_k"),
        F.sum(F.when(F.col("_kt") == F.col("_k"), 1).otherwise(0))
        .cast("bigint").alias("n_subjects"),
        F.sum(F.when(F.col("_kt") != F.col("_k"), 1).otherwise(0))
        .cast("bigint").alias("n_dropped"),
        F.sum(
            F.when(F.col("_kt") == F.col("_k"), F.col("_r"))
        ).cast("bigint").alias("_n"),
        F.sum(
            F.when(
                F.col("_kt") == F.col("_k"), F.col("_r") * F.col("_r")
            )
        ).cast("bigint").alias("_r2"),
    )
    kept = base.join(
        complete.select("_s"), on="_s", how="left_semi"
    )
    cols = kept.groupBy("_t").agg(
        F.sum("_f").cast("bigint").alias("_c")
    )
    col_stats = cols.agg(
        F.sum(F.col("_c") * F.col("_c")).cast("bigint").alias("_c2")
    )
    joined = row_stats.crossJoin(F.broadcast(col_stats))
    kk = F.col("_k").cast("double")
    nn = F.col("_n").cast("double")
    # k(k-1)·(ΣC² − N²/k) / (kN − ΣR²)  [Σ(C−N/k)² = ΣC² − N²/k]
    num = kk * (kk - 1.0) * (
        F.col("_c2").cast("double") - nn * nn / kk
    )
    den = kk * nn - F.col("_r2").cast("double")
    q = F.when(den > 0, num / den)
    staged = joined.select(
        F.col("_k").alias("k_treatments"),
        "n_subjects",
        "n_dropped",
        q.alias("_q"),
        (kk - 1.0).alias("_df"),
    )
    out = staged.select(
        "k_treatments",
        "n_subjects",
        "n_dropped",
        F.round("_q", 6).alias("q_stat"),
        F.col("_df").cast("bigint").alias("dfree"),
        F.round(
            chi2_sf_udf(F.col("_q"), F.col("_df")), 6
        ).alias("p_value"),
    )
    return track_cached(out, base)


def effect_sizes(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-group effect-size battery — the magnitude companion every
    significance test in this module needs at scale (at 100 TB
    *everything* is significant; what matters is size): Cohen's d
    (pooled-SD standardized mean difference), Hedges' g (the
    small-sample bias correction ``J ≈ 1 − 3/(4N − 9)``), Glass's Δ
    (standardized by the CONTROL group b's SD — the right choice
    when treatment changes variance), and Cliff's δ (the ordinal,
    outlier-robust dominance probability ``P(a>b) − P(a<b)``).

    Scale shape: the moment statistics are ONE aggregation; Cliff's
    δ is NOT the naive O(n_a·n_b) pair comparison but the exact
    rank identity ``δ = (2U_a − n_a·n_b·... )`` — concretely
    ``δ = (u2_a − u2_b) / (2·n_a·n_b)`` over
    :func:`mannwhitney_u_stat`'s integer doubled-U (midrank ties
    count ½ to each side), i.e. the distributed two-pass ECDF cumsum
    — no pair join anywhere, any group size. The two 1-row frames
    are combined with a broadcast cross join. Output 1 row:
    ``(n_a, n_b, mean_a, mean_b, cohens_d, hedges_g, glass_delta,
    cliffs_delta)``, floats 6dp.
    """
    from padua_spark.io_utils import track_cached

    va = _group_value(group_col, group_a, value_col)
    vb = _group_value(group_col, group_b, value_col)
    mom = df.agg(
        F.avg(va).alias("_ma"),
        F.avg(vb).alias("_mb"),
        F.count(va).cast("bigint").alias("_na"),
        F.count(vb).cast("bigint").alias("_nb"),
        F.var_samp(va).alias("_va"),
        F.var_samp(vb).alias("_vb"),
    )
    u = mannwhitney_u_stat(df, group_col, value_col, group_a, group_b)
    na, nb = F.col("_na"), F.col("_nb")
    dof = (na + nb - 2).cast("double")
    sp = F.sqrt(
        ((na - 1) * F.col("_va") + (nb - 1) * F.col("_vb")) / dof
    )
    d = F.when(
        (na >= 2) & (nb >= 2) & (sp > 0),
        (F.col("_ma") - F.col("_mb")) / sp,
    )
    j = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * (na + nb).cast("double") - F.lit(9.0)
    )
    glass = F.when(
        (nb >= 2) & (F.col("_vb") > 0),
        (F.col("_ma") - F.col("_mb")) / F.sqrt(F.col("_vb")),
    )
    cliffs = (
        (F.col("u2_a") - F.col("u2_b")).cast("double")
        / (F.lit(2.0) * (na * nb).cast("double"))
    )
    out = (
        mom.join(F.broadcast(u.select("u2_a", "u2_b")))
        .select(
            na.alias("n_a"),
            nb.alias("n_b"),
            F.round("_ma", 6).alias("mean_a"),
            F.round("_mb", 6).alias("mean_b"),
            F.round(d, 6).alias("cohens_d"),
            F.round(d * j, 6).alias("hedges_g"),
            F.round(glass, 6).alias("glass_delta"),
            F.round(cliffs, 6).alias("cliffs_delta"),
        )
    )
    return track_cached(out, *getattr(u, "_padua_cached", ()))


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_cells: int = 4096,
) -> DataFrame:
    """Kendall's τ-b rank correlation with full tie correction,
    computed EXACTLY from the (x, y) contingency grid — the
    scale-safe formulation for discrete/ordinal/binned domains:
    concordant/discordant pair counts depend on the data only
    through the cell counts,

    ``nc = Σ n_ij·n_kl [k<i, l<j]``, ``nd = Σ n_ij·n_kl [k<i, l>j]``,
    ``τ_b = (nc − nd) / √((n0 − n1)(n0 − n2))``

    with ``n0 = n(n−1)/2`` and ``n1/n2`` the x/y tie terms. One
    aggregation collapses any data size to the grid; the strict
    inequality cell join is grid², so the grid is persisted, counted,
    and REJECTED above ``max_cells`` (the enforced-bound discipline
    of the Gram guard / ``kcore`` shortcuts — continuous domains must
    be binned first, which is also the statistically right move for
    τ-b). All pair arithmetic is exact integers in decimal(38,0);
    the single float division happens at the end. Output 1 row:
    ``(n, nc, nd, tau_b)`` (τ 6dp; nc/nd exact integers as doubles).
    """
    from pyspark import StorageLevel

    x = F.col(x_col)
    y = F.col(y_col)
    grid = (
        df.where(x.isNotNull() & y.isNotNull())
        .groupBy(x.alias("_x"), y.alias("_y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    m = grid.count()
    if m > max_cells:
        grid.unpersist()
        raise ValueError(
            f"kendall_tau_b: contingency grid has {m} cells > "
            f"max_cells={max_cells}; bin the inputs first (the cell "
            "join is quadratic in grid size)"
        )
    a = grid.select(
        F.col("_x").alias("_xa"), F.col("_y").alias("_ya"),
        F.col("_c").cast("decimal(38,0)").alias("_ca"),
    )
    b = grid.select(
        F.col("_x").alias("_xb"), F.col("_y").alias("_yb"),
        F.col("_c").cast("decimal(38,0)").alias("_cb"),
    )
    pairs = a.join(b, F.col("_xa") > F.col("_xb"))
    cd = pairs.agg(
        F.sum(
            F.when(F.col("_ya") > F.col("_yb"), F.col("_ca") * F.col("_cb"))
        ).alias("_nc"),
        F.sum(
            F.when(F.col("_ya") < F.col("_yb"), F.col("_ca") * F.col("_cb"))
        ).alias("_nd"),
    )
    rx = grid.groupBy("_x").agg(F.sum("_c").alias("_r"))
    ry = grid.groupBy("_y").agg(F.sum("_c").alias("_r"))
    two = F.lit(2).cast("decimal(38,0)")
    tie = lambda fr: fr.agg(  # noqa: E731
        F.sum(
            (F.col("_r").cast("decimal(38,0)")
             * (F.col("_r") - 1).cast("decimal(38,0)")) / two
        ).cast("decimal(38,0)").alias("_t"),
        F.sum("_r").cast("decimal(38,0)").alias("_n"),
    )
    tx = tie(rx).select(F.col("_t").alias("_n1"), F.col("_n").alias("_n"))
    ty = tie(ry).select(F.col("_t").alias("_n2"))
    joined = (
        cd.join(F.broadcast(tx))
        .join(F.broadcast(ty))
        .select(
            F.col("_n").cast("bigint").alias("n"),
            F.coalesce(F.col("_nc"), F.lit(0).cast("decimal(38,0)"))
            .alias("_nc"),
            F.coalesce(F.col("_nd"), F.lit(0).cast("decimal(38,0)"))
            .alias("_nd"),
            (
                (F.col("_n") * (F.col("_n") - 1)) / two
            ).cast("decimal(38,0)").alias("_n0"),
            "_n1",
            "_n2",
        )
    )
    num = (F.col("_nc") - F.col("_nd")).cast("double")
    den = F.sqrt(
        (F.col("_n0") - F.col("_n1")).cast("double")
        * (F.col("_n0") - F.col("_n2")).cast("double")
    )
    out = joined.select(
        "n",
        F.col("_nc").cast("double").alias("nc"),
        F.col("_nd").cast("double").alias("nd"),
        F.round(F.when(den > 0, num / den), 6).alias("tau_b"),
    )
    # grid feeds 4 consumers (both join sides + the two tie frames):
    # keep it cached for the computation, freeable by the caller
    from padua_spark.io_utils import track_cached

    return track_cached(out, grid)


def mood_median_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    max_domain: int = 100_000,
) -> DataFrame:
    """Mood's median test — k-group nonparametric location test:
    counts above vs at-or-below the GRAND lower median per group,
    Pearson chi² on the resulting 2×k table, ``df = k − 1``. The
    robust quick answer to "do these groups differ in level?" when
    distributions are ugly (the rank-free sibling of
    :func:`kruskal_wallis_stats`).

    The grand median is the exact LOWER median (smallest value whose
    cumulative count reaches ``⌈n/2⌉``) — a deterministic relational
    definition both engines reproduce exactly, unlike interpolated
    medians. Scale shape: one per-distinct-value count aggregation
    (cardinality-sized), a cumsum window over that bounded domain
    (ENFORCED ``max_domain`` preflight — continuous data must be
    binned/rounded first, which Mood's test needs anyway to be
    meaningful), the 1-row median broadcast onto one per-group
    conditional aggregation, and a k-row chi² sum. All counts are
    exact integers. Output 1 row:
    ``(n, k, grand_median, chi2, dfree, p_value)``, floats 6dp.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    v = F.col(value_col)
    g = F.col(group_col)
    base = df.where(v.isNotNull() & g.isNotNull())
    per = (
        base.groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    m = per.count()
    if m > max_domain:
        per.unpersist()
        raise ValueError(
            f"mood_median_test: value domain has {m} distinct values "
            f"> max_domain={max_domain}; round/bin the values first "
            "(the median cumsum runs over the distinct-value frame)"
        )
    wc = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per.agg(F.sum("_c").alias("_n"))
    med = (
        per.select("_v", F.sum("_c").over(wc).alias("_cum"))
        .join(F.broadcast(tot))
        .where(F.col("_cum") >= F.ceil(F.col("_n") / 2))
        .agg(F.min("_v").alias("_med"))
    )
    counts = (
        base.join(F.broadcast(med))
        .groupBy(g.alias("_g"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_ng"),
            F.sum((v > F.col("_med")).cast("int"))
            .cast("bigint")
            .alias("_ag"),
            F.max("_med").alias("_med"),
        )
    )
    totals = counts.agg(
        F.sum("_ng").alias("_n"),
        F.sum("_ag").alias("_a"),
        F.count(F.lit(1)).cast("bigint").alias("_k"),
    )
    ea = F.col("_ng").cast("double") * F.col("_a") / F.col("_n")
    eb = F.col("_ng").cast("double") * (F.col("_n") - F.col("_a")) / F.col("_n")
    term = (
        (F.col("_ag") - ea) * (F.col("_ag") - ea) / ea
        + (F.col("_ng") - F.col("_ag") - eb)
        * (F.col("_ng") - F.col("_ag") - eb)
        / eb
    )
    stat = (
        counts.join(F.broadcast(totals))
        .agg(
            F.max("_n").alias("_n"),
            F.max("_k").alias("_k"),
            F.max("_med").alias("_med"),
            F.sum(term).alias("_chi2"),
        )
        .withColumn("_dfree", (F.col("_k") - 1).cast("double"))
        .withColumn(
            "_p", chi2_sf_udf(F.col("_chi2"), F.col("_dfree"))
        )
    )
    out = stat.select(
        F.col("_n").cast("bigint").alias("n"),
        F.col("_k").alias("k"),
        F.col("_med").cast("double").alias("grand_median"),
        F.round("_chi2", 6).alias("chi2"),
        F.col("_dfree").cast("bigint").alias("dfree"),
        F.round("_p", 6).alias("p_value"),
    )
    return track_cached(out, per)


def cvm_2samp_stat(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Cramér–von Mises statistic (Anderson 1962) — the
    whole-distribution companion to :func:`ks_2samp_stat` (KS sees
    only the largest ECDF gap; CvM integrates ALL of it, so it is
    far more sensitive to tail and shape differences):

    ``T = (n_a·n_b / N²) · Σ_x (F_a(x) − F_b(x))²``

    summed over every observation x (distinct values weighted by
    their multiplicity). Computed EXACTLY in integers: per distinct
    value the term is ``cnt·(cum_a·n_b − cum_b·n_a)²`` in
    decimal(38,0), summed, then divided once by ``n_a·n_b·N²`` — the
    single float op, bit-reproducible on any engine.

    Plan: identical to :func:`ks_2samp_stat` — per-value conditional
    counts, the distributed two-pass ECDF cumsum, one scalar
    aggregate. Output 1 row: ``(n_a, n_b, t_stat)`` (6dp).

    Width contract: the exact-integer accumulator needs
    ``N⁵ ≲ 10³⁸`` — exact to roughly N ≈ 3·10⁷ observations per
    comparison (decimal38 overflow nulls beyond, Spark non-ANSI);
    sample or stratify larger comparisons (a CvM on 10⁸+ rows is
    astronomically powered anyway — see the effect-size note on
    :func:`effect_sizes`).
    """
    from padua_spark.io_utils import track_cached

    stepped = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    dec = "decimal(38,0)"
    diff = (
        F.col("_fa").cast(dec) * F.col("_nb").cast(dec)
        - F.col("_fb").cast(dec) * F.col("_na").cast(dec)
    )
    term = (F.col("_ca") + F.col("_cb")).cast(dec) * diff * diff
    agg = stepped.agg(
        F.sum(term).alias("_num"),
        F.max("_na").cast("bigint").alias("n_a"),
        F.max("_nb").cast("bigint").alias("n_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    nn = (na + nb).cast("double")
    out = agg.select(
        "n_a",
        "n_b",
        F.round(
            F.col("_num").cast("double")
            / (na.cast("double") * nb.cast("double") * nn * nn),
            6,
        ).alias("t_stat"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))



def jonckheere_terpstra(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ordered_groups: list,
    max_domain: int = 100_000,
) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED alternative
    (``θ_1 ≤ θ_2 ≤ … ≤ θ_k`` with at least one strict) — the right
    k-group test when the groups carry a natural order (dose,
    severity bin, quality tier) and Kruskal-Wallis would throw that
    information away. ``JT = Σ_{i<j} U_ij`` over the caller's
    ``ordered_groups``, with midrank ties (``U_ij`` counts ½ per
    cross-group tie).

    Everything is exact integers via doubled statistics
    (``2U_ij = Σ_v c_j(v)·(2·(F_i(v) − c_i(v)) + c_i(v))``, the
    :func:`mannwhitney_u_stat` trick generalized to all k(k−1)/2
    ordered pairs in ONE pass): one per-distinct-value k-column
    conditional count aggregation, one cumsum window over that
    bounded frame (ENFORCED ``max_domain`` preflight — bin
    continuous data first, the :func:`mood_median_test` contract),
    one scalar aggregate. The z statistic uses the standard
    no-ties null variance
    ``Var = [n²(2n+3) − Σ nᵢ²(2nᵢ+3)] / 72`` (documented
    approximation under heavy ties); p is the one-sided normal upper
    tail — the ordered alternative is directional. Output 1 row:
    ``(n, jt, z, p_value)`` (``jt`` may end in .5 under ties).
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    k = len(ordered_groups)
    v = F.col(value_col)
    g = F.col(group_col)
    base = df.where(v.isNotNull() & g.isNotNull())
    per = (
        base.groupBy(v.alias("_v"))
        .agg(
            *[
                F.count(F.when(g == F.lit(gr), 1))
                .cast("bigint")
                .alias(f"_c{i}")
                for i, gr in enumerate(ordered_groups)
            ]
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    m = per.count()
    if m > max_domain:
        per.unpersist()
        raise ValueError(
            f"jonckheere_terpstra: value domain has {m} distinct "
            f"values > max_domain={max_domain}; bin the values first "
            "(the cumsum runs over the distinct-value frame)"
        )
    wc = Window.orderBy("_v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "_v",
        *[F.col(f"_c{i}") for i in range(k)],
        *[F.sum(f"_c{i}").over(wc).alias(f"_f{i}") for i in range(k)],
    )
    dec = "decimal(38,0)"
    terms = []
    for i in range(k):
        for j in range(i + 1, k):
            terms.append(
                F.col(f"_c{j}").cast(dec)
                * (
                    2 * (F.col(f"_f{i}") - F.col(f"_c{i}"))
                    + F.col(f"_c{i}")
                ).cast(dec)
            )
    tsum = terms[0]
    for t in terms[1:]:
        tsum = tsum + t
    agg = cum.agg(
        F.sum(tsum).alias("_jt2"),
        *[F.sum(f"_c{i}").cast("bigint").alias(f"_n{i}") for i in range(k)],
    )
    n_tot = F.col(f"_n0")
    for i in range(1, k):
        n_tot = n_tot + F.col(f"_n{i}")
    sum_sq = F.col("_n0").cast("double") * F.col("_n0").cast("double") * (
        2 * F.col("_n0").cast("double") + 3
    )
    for i in range(1, k):
        ni = F.col(f"_n{i}").cast("double")
        sum_sq = sum_sq + ni * ni * (2 * ni + 3)
    staged = agg.select(
        "_jt2",
        n_tot.alias("_n"),
        *[F.col(f"_n{i}") for i in range(k)],
    )
    nd = F.col("_n").cast("double")
    sum_ni2 = F.col("_n0").cast("double") * F.col("_n0").cast("double")
    for i in range(1, k):
        ni = F.col(f"_n{i}").cast("double")
        sum_ni2 = sum_ni2 + ni * ni
    e2 = (nd * nd - sum_ni2) / 2.0  # doubled null mean
    var = (
        nd * nd * (2 * nd + 3) - sum_sq
    ) / 72.0
    z = (F.col("_jt2").cast("double") - e2) / (2.0 * F.sqrt(var))
    out = staged.select(
        F.col("_n").cast("bigint").alias("n"),
        F.round(F.col("_jt2").cast("double") / 2.0, 6).alias("jt"),
        F.round(z, 6).alias("z"),
        F.round(_normal_sf_1sided(z), 6).alias("p_value"),
    )
    return track_cached(out, per)


def moments_normality(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Moment-based normality battery per group: D'Agostino's K²
    (skewness z of D'Agostino 1970 + kurtosis z of Anscombe–Glynn
    1983, scipy.stats.normaltest's composition) and the Jarque–Bera
    statistic — the screening tests a feature-QC pass runs over every
    numeric column before parametric modeling (reference ships ttest/
    ANOVA assuming normality, analysis.py:33-140; this is the check).

    ONE aggregation pass per group over the four power sums
    ``Σx..Σx⁴`` (exact in doubles for integer-valued features —
    partition-order-proof); central moments, ``g1 = m3/m2^1.5``,
    ``b2 = m4/m2²`` and both z transforms are closed-form scalar
    arithmetic on the aggregated row. Both p-values are EXACT
    closed-form (chi² df=2 survival ``exp(−x/2)`` — no incomplete
    gamma needed), shared verbatim with the SQL oracle. ``z_skew``
    needs n ≥ 8 and ``z_kurt`` n ≥ 5 (scipy's documented minima);
    below that (or when the group is constant) the z/K²/p columns are
    NULL while the raw moments stay. Output per group:
    ``(…group_cols, n, skew_g1, kurt_g2, z_skew, z_kurt, k2_stat,
    p_k2, jb_stat, p_jb)``.
    """
    v = F.col(value_col).cast("double")
    agg = (
        df.where(v.isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(v).alias("_s1"),
            F.sum(v * v).alias("_s2"),
            F.sum(v * v * v).alias("_s3"),
            F.sum(v * v * v * v).alias("_s4"),
        )
    )
    nd = F.col("n").cast("double")
    mean = F.col("_s1") / nd
    m2 = F.col("_s2") / nd - mean * mean
    m3 = (
        F.col("_s3") / nd
        - 3.0 * mean * F.col("_s2") / nd
        + 2.0 * mean * mean * mean
    )
    m4 = (
        F.col("_s4") / nd
        - 4.0 * mean * F.col("_s3") / nd
        + 6.0 * mean * mean * F.col("_s2") / nd
        - 3.0 * mean * mean * mean * mean
    )
    mom = agg.select(
        *group_cols, "n",
        F.when(m2 > 0, m3 / F.pow(m2, F.lit(1.5))).alias("_g1"),
        F.when(m2 > 0, m4 / (m2 * m2)).alias("_b2"),
    )
    nd = F.col("n").cast("double")
    g1 = F.col("_g1")
    b2 = F.col("_b2")
    # --- D'Agostino (1970) skewness z (scipy.stats.skewtest) ---
    y = g1 * F.sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0)))
    beta2 = (
        3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0) * (nd + 3.0)
        / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
    )
    w2 = F.sqrt(2.0 * (beta2 - 1.0)) - 1.0
    delta = 1.0 / F.sqrt(0.5 * F.log(w2))
    alpha = F.sqrt(2.0 / (w2 - 1.0))
    ya = y / alpha
    z_skew = F.when(
        (F.col("n") >= 8) & g1.isNotNull(),
        delta * F.log(ya + F.sqrt(ya * ya + 1.0)),
    )
    # --- Anscombe–Glynn (1983) kurtosis z (scipy.stats.kurtosistest) ---
    e_b2 = 3.0 * (nd - 1.0) / (nd + 1.0)
    var_b2 = (
        24.0 * nd * (nd - 2.0) * (nd - 3.0)
        / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))
    )
    x = (b2 - e_b2) / F.sqrt(var_b2)
    sb1 = (
        6.0 * (nd * nd - 5.0 * nd + 2.0) / ((nd + 7.0) * (nd + 9.0))
        * F.sqrt(
            6.0 * (nd + 3.0) * (nd + 5.0)
            / (nd * (nd - 2.0) * (nd - 3.0))
        )
    )
    a_ag = 6.0 + 8.0 / sb1 * (
        2.0 / sb1 + F.sqrt(1.0 + 4.0 / (sb1 * sb1))
    )
    denom = 1.0 + x * F.sqrt(2.0 / (a_ag - 4.0))
    term2 = F.signum(denom) * F.cbrt(
        F.abs((1.0 - 2.0 / a_ag) / denom)
    )
    z_kurt = F.when(
        (F.col("n") >= 5) & b2.isNotNull(),
        (1.0 - 2.0 / (9.0 * a_ag) - term2)
        / F.sqrt(2.0 / (9.0 * a_ag)),
    )
    staged = mom.select(
        *group_cols, "n",
        g1.alias("_g1"), (b2 - 3.0).alias("_g2"),
        z_skew.alias("_zs"), z_kurt.alias("_zk"),
    )
    k2 = F.col("_zs") * F.col("_zs") + F.col("_zk") * F.col("_zk")
    jb = F.col("n").cast("double") / 6.0 * (
        F.col("_g1") * F.col("_g1") + F.col("_g2") * F.col("_g2") / 4.0
    )
    return staged.select(
        *group_cols, "n",
        F.round("_g1", 6).alias("skew_g1"),
        F.round("_g2", 6).alias("kurt_g2"),
        F.round("_zs", 6).alias("z_skew"),
        F.round("_zk", 6).alias("z_kurt"),
        F.round(k2, 6).alias("k2_stat"),
        F.round(F.exp(-k2 / 2.0), 6).alias("p_k2"),
        F.round(jb, 6).alias("jb_stat"),
        F.round(F.exp(-jb / 2.0), 6).alias("p_jb"),
    )


def ansari_bradley(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Ansari–Bradley two-sample SCALE test (scipy.stats.ansari's
    statistic with the tie-aware normal approximation): are the two
    groups equally dispersed about a common center? The rank-based
    companion to :func:`levene_stats`/:func:`bartlett_stats` that
    needs no variance estimate — scores rise toward BOTH ends of the
    pooled ordering, ``s(r) = min(r, N+1−r)`` on midranks.

    All integer-exact via doubled scores on the shared distributed
    ECDF cumsum (:func:`_ecdf_stepped_counts` — one bounded
    distinct-value frame, no global sort): doubled midrank
    ``d = 2F − h + 1``, doubled score ``s₂ = min(d, 2N+2−d)``,
    ``AB₂ = Σ_v c_a(v)·s₂(v)``. The null moments use the exact
    conditional (tie-respecting) permutation form
    ``E[AB₂] = m·Σh·s₂/N``,
    ``Var[AB₂] = m·n_b·(Σh·s₂² − (Σh·s₂)²/N)/(N(N−1))`` —
    scipy's large-sample path with ties. Two-sided p via the shared
    A&S-erfc polynomial. Output 1 row:
    ``(ab_stat, n_a, n_b, z, p_normal)`` (``ab_stat`` may end in .5
    under ties; z NULL when the pooled sample is constant).
    """
    from padua_spark.io_utils import track_cached

    ecdf = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    h = F.col("_ca") + F.col("_cb")
    f_pool = F.col("_fa") + F.col("_fb")
    n2 = F.col("_na") + F.col("_nb")  # totals are constant per row
    d = 2 * f_pool - h + 1
    s2 = F.least(d, 2 * n2 + 2 - d)
    dec = "decimal(38,0)"
    agg = ecdf.select(
        "_ca", "_cb", h.alias("_h"), s2.alias("_s2"),
    ).agg(
        F.sum(F.col("_ca").cast(dec) * F.col("_s2").cast(dec)).alias(
            "_ab2"
        ),
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
        F.sum(F.col("_h").cast(dec) * F.col("_s2").cast(dec)).alias(
            "_hs"
        ),
        F.sum(
            F.col("_h").cast(dec)
            * F.col("_s2").cast(dec)
            * F.col("_s2").cast(dec)
        ).alias("_hss"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nt = na + nb
    e2 = na * F.col("_hs").cast("double") / nt
    var2 = (
        na * nb
        * (
            F.col("_hss").cast("double")
            - F.col("_hs").cast("double")
            * F.col("_hs").cast("double") / nt
        )
        / (nt * (nt - 1.0))
    )
    z = F.when(
        var2 > 0, (F.col("_ab2").cast("double") - e2) / F.sqrt(var2)
    )
    staged = agg.select(
        F.round(F.col("_ab2").cast("double") / 2.0, 6).alias("ab_stat"),
        "n_a", "n_b", z.alias("z"),
    )
    out = staged.select(
        "ab_stat", "n_a", "n_b",
        F.round("z", 6).alias("z"),
        F.round(_normal_sf_2sided(F.col("z")), 6).alias("p_normal"),
    )
    return track_cached(out, *getattr(ecdf, "_padua_cached", ()))


def fisher_exact(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
    max_support: int = 200_000,
) -> DataFrame:
    """Fisher's exact test for a 2×2 exposure/outcome table — the
    small-count companion to :func:`two_proportion_ztest` /
    :func:`odds_ratio_ci` (the reference reaches the same
    hypergeometric family through PantherDB's server-side enrichment,
    analysis.py:336-384; this is the offline two-sided form).

    One aggregation to the four exact cell counts ``a,b,c,d``
    (exposed/unexposed × outcome yes/no), then the exact conditional
    null over the hypergeometric support ``i ∈ [max(0, c1−r2),
    min(r1, c1)]`` (margins ``r1=a+b, r2=c+d, c1=a+c``):

    ``pmf(i) = C(r1,i)·C(r2,c1−i)/C(N,c1)``
    ``p_left  = Σ_{i≤a} pmf(i)``, ``p_right = Σ_{i≥a} pmf(i)``,
    ``p_two   = Σ_{pmf(i) ≤ pmf(a)·(1+1e−7)} pmf(i)``

    (the point-probability method with scipy's relative-tolerance
    guard — both engines evaluate the same Lanczos log-gamma
    arithmetic in the same order, so the inclusion decisions agree).
    The support fold is a JVM higher-order function over
    ``sequence(lo, hi)`` on the ONE aggregated row — no UDF, no
    per-fact-row work.

    **Scale contract**: the support length is ``min(r1,r2,c1,c2)+1``
    — bounded by the SMALLEST margin, not the fact-table size, but a
    balanced billion-row table would still make the fold itself the
    bottleneck (and the exact test pointless: use the z/chi² tests at
    those counts). Enforced: raises when the support exceeds
    ``max_support``; pass ``None`` to opt out deliberately.

    Output 1 row: ``(a, b, c, d, odds_ratio_sample, p_left, p_right,
    p_two)`` — ``odds_ratio_sample`` is the unconditional ``ad/bc``
    (NULL when ``bc = 0``), p-values rounded to 6dp.
    """
    from padua_spark.operators.external import _log_choose

    agg = _two_by_two_cells(df, exposure_col, outcome_col)
    r1 = F.col("a") + F.col("b")
    r2 = F.col("c") + F.col("d")
    c1 = F.col("a") + F.col("c")
    n = r1 + r2
    lo = F.greatest(F.lit(0).cast("bigint"), c1 - r2)
    hi = F.least(r1, c1)
    span = hi - lo + 1
    if max_support is not None:
        guard = F.when(
            span > F.lit(int(max_support)),
            F.raise_error(
                F.concat(
                    F.lit(
                        "fisher_exact: hypergeometric support "
                    ),
                    span.cast("string"),
                    F.lit(
                        f" exceeds max_support={int(max_support)}; "
                        "use two_proportion_ztest / chi2 at these "
                        "counts or pass max_support=None"
                    ),
                )
            ).cast("bigint"),
        ).otherwise(span)
    else:
        guard = span
    # log-denominator and observed-cell log-pmf staged as columns
    # (HOF lambdas are interpreted with no CSE)
    staged = agg.select(
        "a", "b", "c", "d",
        r1.alias("_r1"), r2.alias("_r2"), c1.alias("_c1"),
        n.alias("_n"), lo.alias("_lo"), hi.alias("_hi"),
        guard.alias("_span"),
    ).withColumn(
        "_log_denom",
        _log_choose(F.col("_n"), F.col("_c1")),
    ).withColumn(
        "_logp_a",
        _log_choose(F.col("_r1"), F.col("a"))
        + _log_choose(F.col("_r2"), F.col("_c1") - F.col("a"))
        - F.col("_log_denom"),
    )

    def _logpmf(i):
        return (
            _log_choose(F.col("_r1"), i)
            + _log_choose(F.col("_r2"), F.col("_c1") - i)
            - F.col("_log_denom")
        )

    idx = F.sequence(F.col("_lo"), F.col("_hi"))
    # ONE log-pmf evaluation per support point: interpreted HOFs do no
    # CSE and projection collapse inlines a staged array into every
    # consumer, so three separate folds would run the Lanczos chain 3x
    # per point — instead zip (i, logpmf) once and fold a SINGLE
    # struct accumulator carrying all three tails; the _span reference
    # keeps the guard alive in the plan
    pairs_arr = F.zip_with(
        idx,
        F.transform(idx, lambda i: _logpmf(i)),
        lambda i, lp: F.struct(i.alias("i"), lp.alias("lp")),
    )
    thresh = F.col("_logp_a") + F.lit(9.999999505838704e-08)
    init = F.struct(
        F.lit(0.0).alias("pl"),
        F.lit(0.0).alias("pr"),
        F.lit(0.0).alias("pt"),
    )

    def _step(acc, e):
        pmf = F.exp(e["lp"])
        return F.struct(
            (
                acc["pl"]
                + F.when(e["i"] <= F.col("a"), pmf).otherwise(0.0)
            ).alias("pl"),
            (
                acc["pr"]
                + F.when(e["i"] >= F.col("a"), pmf).otherwise(0.0)
            ).alias("pr"),
            (
                acc["pt"]
                + F.when(e["lp"] <= thresh, pmf).otherwise(0.0)
            ).alias("pt"),
        )

    folded = staged.withColumn(
        "_acc", F.aggregate(pairs_arr, init, _step)
    ).select(
        "a", "b", "c", "d",
        (F.col("_span") - F.col("_span")).alias("_zero"),
        F.col("_acc.pl").alias("_pl"),
        F.col("_acc.pr").alias("_pr"),
        F.col("_acc.pt").alias("_pt"),
    )
    ad = F.col("a").cast("double") * F.col("d").cast("double")
    bc = F.col("b").cast("double") * F.col("c").cast("double")
    return folded.select(
        "a", "b", "c", "d",
        F.round(
            F.when(bc > 0, ad / bc), 6
        ).alias("odds_ratio_sample"),
        F.round(
            F.least(F.col("_pl") + F.col("_zero"), F.lit(1.0)), 6
        ).alias("p_left"),
        F.round(F.least(F.col("_pr"), F.lit(1.0)), 6).alias("p_right"),
        F.round(F.least(F.col("_pt"), F.lit(1.0)), 6).alias("p_two"),
    )


def _contingency_margins(df, col_a: str, col_b: str, *extra) -> DataFrame:
    """The bounded contingency scaffold: cell counts ``_n`` of the
    non-NULL ``(_a, _b)`` pairs (one hash aggregation), each with its
    row margin ``_ra``, column margin ``_cb`` and total ``_nt`` (three
    windows over the cell frame), plus the caller's ``extra`` columns
    over the same cells."""
    a = F.col(col_a)
    b = F.col(col_b)
    cells = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_a"), b.alias("_b"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return cells.select(
        "_n",
        F.sum("_n").over(Window.partitionBy("_a")).alias("_ra"),
        F.sum("_n").over(Window.partitionBy("_b")).alias("_cb"),
        F.sum("_n").over(Window.partitionBy()).alias("_nt"),
        *extra,
    )


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
    bias_corrected: bool = True,
) -> DataFrame:
    """Cramér's V association strength between two categorical
    columns — the [0,1]-normalized effect size the chi² independence
    test doesn't give you (chi² grows with N; V answers "HOW
    associated", the feature-redundancy question a curation pipeline
    asks before dropping a column). With ``bias_corrected=True``
    applies the Bergsma-Wicher 2013 correction (V̂ is badly biased
    upward for large tables at small N):

    ``φ² = χ²/N``;  ``φ²₊ = max(0, φ² − (r−1)(c−1)/(N−1))``;
    ``r₊ = r − (r−1)²/(N−1)``, ``c₊`` likewise;
    ``V = √(φ²₊ / min(r₊−1, c₊−1))``

    Plan: ONE hash aggregation to the contingency cells (bounded by
    the category-domain product, not the fact table), margins via two
    windows over that bounded cell frame, χ² as an exact-expected
    sum. Output 1 row: ``(chi2, n_total, r_levels, c_levels,
    cramers_v)``, floats rounded to 6dp. V is NULL for degenerate
    1×k tables (min(r,c) = 1 carries no association to measure).
    """
    wall = Window.partitionBy()
    staged = _contingency_margins(
        df, col_a, col_b,
        F.size(F.collect_set("_a").over(wall)).alias("_r"),
        F.size(F.collect_set("_b").over(wall)).alias("_c"),
    )
    exp_n = (
        F.col("_ra").cast("double")
        * F.col("_cb").cast("double")
        / F.col("_nt").cast("double")
    )
    term = (F.col("_n").cast("double") - exp_n) ** 2 / exp_n
    agg = staged.agg(
        F.sum(term).alias("_chi2"),
        F.max("_nt").cast("bigint").alias("n_total"),
        F.max("_r").cast("bigint").alias("r_levels"),
        F.max("_c").cast("bigint").alias("c_levels"),
    )
    nd = F.col("n_total").cast("double")
    rd = F.col("r_levels").cast("double")
    cd = F.col("c_levels").cast("double")
    phi2 = F.col("_chi2") / nd
    if bias_corrected:
        phi2p = F.greatest(
            F.lit(0.0),
            phi2 - (rd - 1.0) * (cd - 1.0) / (nd - 1.0),
        )
        rp = rd - (rd - 1.0) ** 2 / (nd - 1.0)
        cp = cd - (cd - 1.0) ** 2 / (nd - 1.0)
        denom = F.least(rp - 1.0, cp - 1.0)
    else:
        phi2p = phi2
        denom = F.least(rd - 1.0, cd - 1.0)
    v = F.when(denom > 0, F.sqrt(phi2p / denom))
    return agg.select(
        F.round("_chi2", 6).alias("chi2"),
        "n_total", "r_levels", "c_levels",
        F.round(v, 6).alias("cramers_v"),
    )


def concordance_ccc(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Lin's concordance correlation coefficient — agreement between
    two continuous measurements against the 45° line (Lin 1989), the
    method-comparison statistic Pearson's r cannot replace (r is
    blind to scale and location shifts; CCC penalizes both —
    "does the cheap quality score REPRODUCE the expensive one",
    not just "are they correlated"):

    ``CCC = 2·s_xy / (s_x² + s_y² + (x̄ − ȳ)²)``  (biased /n moments,
    Lin's original estimator), with the decomposition
    ``CCC = r · C_b`` where ``C_b = 2 / (v + 1/v + u²)``,
    ``v = s_x/s_y``, ``u = (x̄−ȳ)/√(s_x·s_y)`` — the accuracy
    (bias-correction) factor reported alongside.

    ONE aggregation over pairwise-complete rows to six exact sums
    (count + Σx, Σy, Σxx, Σyy, Σxy); everything after is closed-form
    scalar arithmetic on the 1-row frame — the same shape as the
    reference's Pearson matrix (analysis.py:26-48) and equally
    AQE-trivial at any scale. Output 1 row: ``(n, ccc, pearson_r,
    c_b)``, floats rounded to 6dp; NULL when either variance is 0.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    pairs = df.where(x.isNotNull() & y.isNotNull()).select(
        x.alias("_x"), y.alias("_y")
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("_sx") / nd
    my = F.col("_sy") / nd
    vx = F.col("_sxx") / nd - mx * mx
    vy = F.col("_syy") / nd - my * my
    cxy = F.col("_sxy") / nd - mx * my
    ccc = F.when(
        (vx > 0) & (vy > 0),
        2.0 * cxy / (vx + vy + (mx - my) * (mx - my)),
    )
    r = F.when((vx > 0) & (vy > 0), cxy / F.sqrt(vx * vy))
    u2 = (mx - my) * (mx - my) / F.sqrt(vx * vy)
    vr = F.sqrt(vx / vy)
    cb = F.when(
        (vx > 0) & (vy > 0), 2.0 / (vr + 1.0 / vr + u2)
    )
    return agg.select(
        "n",
        F.round(ccc, 6).alias("ccc"),
        F.round(r, 6).alias("pearson_r"),
        F.round(cb, 6).alias("c_b"),
    )


def fleiss_kappa(
    df: DataFrame,
    item_col: str,
    category_col: str,
    require_constant_n: bool = True,
) -> DataFrame:
    """Fleiss' kappa — chance-corrected agreement among a FIXED
    number of raters per item (Fleiss 1971), the k-rater
    generalization of :func:`extensions.quality.cohens_kappa` for
    label-quality audits ("do the 5 annotation passes agree beyond
    chance?"). Input is one row per (item, rating); categories are
    whatever the rating column holds.

    With ``n`` ratings per item, ``n_ij`` the count of category j on
    item i, ``N`` items:

    ``P_i = (Σ_j n_ij² − n) / (n(n−1))``;  ``P̄ = mean_i P_i``;
    ``p_j = Σ_i n_ij / (N·n)``;  ``P̄_e = Σ_j p_j²``;
    ``κ = (P̄ − P̄_e) / (1 − P̄_e)``

    Fleiss' formula REQUIRES a constant rater count — enforced with a
    preflight on the per-item totals that raises naming the offending
    item. ``require_constant_n=False`` switches to the ragged-n
    generalization: each item contributes its OWN ``P_i = (Σ_j n_ij²
    − n_i) / (n_i(n_i−1))`` to P̄, marginals ``p_j`` are normalized by
    the true total Σ n_i, and items with fewer than 2 ratings are
    dropped from both sides (P_i is undefined for them). With a
    constant n this reduces exactly to textbook Fleiss, so the two
    paths agree on constant-n data. Plan: one (item, category) hash aggregation
    (map-side combined), one per-item aggregation, two scalar
    aggregations — no windows over the fact table, no collect beyond
    the 1-row preflight. Every input to κ is an exact integer until
    the final divisions. Output 1 row: ``(n_items, n_raters,
    k_categories, p_bar, p_e, kappa)``, floats rounded to 6dp; kappa
    NULL when P̄_e = 1 (a single category — agreement is undefined).
    """
    it = F.col(item_col)
    cat = F.col(category_col)
    cells = (
        df.where(it.isNotNull() & cat.isNotNull())
        .groupBy(it.alias("_i"), cat.alias("_j"))
        .agg(F.count(F.lit(1)).alias("_nij"))
    )
    from pyspark import StorageLevel

    cells = cells_base = cells.persist(StorageLevel.MEMORY_AND_DISK)
    per_item = cells.groupBy("_i").agg(
        F.sum("_nij").alias("_n"),
        F.sum(F.col("_nij") * F.col("_nij")).alias("_sq"),
    )
    if require_constant_n:
        row = per_item.agg(
            F.min("_n").alias("_lo"), F.max("_n").alias("_hi")
        ).collect()[0]
        if row["_lo"] != row["_hi"]:
            bad = (
                per_item.where(F.col("_n") == row["_lo"])
                .limit(1)
                .collect()[0]["_i"]
            )
            raise ValueError(
                "fleiss_kappa: rater count varies across items "
                f"(min={row['_lo']}, max={row['_hi']}, e.g. item "
                f"{bad!r}); Fleiss' formula requires a constant n — "
                "pass require_constant_n=False for the ragged-n "
                "generalization"
            )
        if row["_lo"] < 2:
            raise ValueError(
                "fleiss_kappa: need >= 2 ratings per item "
                f"(found n={row['_lo']})"
            )
    else:
        # Ragged-n path: items with < 2 ratings carry no agreement
        # information (P_i undefined) — drop them from BOTH P̄ and
        # the marginals so both sides of κ see the same population.
        per_item = per_item.where(F.col("_n") >= 2)
        cells = cells.join(per_item.select("_i"), on="_i")
    ni = F.col("_n").cast("double")
    p_i = (F.col("_sq").cast("double") - ni) / (ni * (ni - 1.0))
    stats_i = per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.min("_n").alias("n_raters"),
        F.avg(p_i).alias("_pbar"),
        F.sum("_n").alias("_tot"),
    )
    per_cat = cells.groupBy("_j").agg(F.sum("_nij").alias("_cj"))
    cat_agg = per_cat.agg(
        F.count(F.lit(1)).alias("k_categories"),
        F.sum(
            F.col("_cj").cast("double") * F.col("_cj").cast("double")
        ).alias("_csq"),
    ).withColumn("_one", F.lit(1))
    j = stats_i.withColumn("_one", F.lit(1)).join(
        F.broadcast(cat_agg), on="_one"
    )
    from padua_spark.io_utils import track_cached

    td = F.col("_tot").cast("double")
    p_bar = F.col("_pbar")
    p_e = F.col("_csq") / (td * td)
    kappa = F.when(p_e < 1.0, (p_bar - p_e) / (1.0 - p_e))
    out = j.select(
        "n_items", "n_raters", "k_categories",
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round(kappa, 6).alias("kappa"),
    )
    # track the PERSISTED base frame, not the ragged-n join rebind —
    # unpersist_intermediates must see the frame persist() returned
    return track_cached(out, cells_base)


def cuped_adjusted(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
    covariate_col: str,
) -> DataFrame:
    """CUPED variance-reduced A/B estimator (Deng et al. 2013) — the
    industry-standard pre-experiment covariate adjustment: shrink the
    metric's variance with a covariate measured BEFORE assignment
    (last period's spend, historical CTR) so the same experiment
    detects smaller effects:

    ``θ = cov(y, x) / var(x)`` (pooled over all variants — pooling is
    what keeps the adjustment unbiased under randomization),
    ``y' = y − θ·(x − x̄)``; per variant the battery reports the raw
    and adjusted means, both sample variances, and the realized
    variance reduction ``1 − var(y')/var(y)``.

    Two passes: ONE pooled aggregation to the five moments (a 1-row
    broadcast), ONE per-variant conditional aggregation of exact sums
    assembled into the adjusted moments driver-side-free (the
    adjusted mean/variance expand into the raw sums plus θ, so no
    second scan materializes y' — algebra instead of a staged
    column). Output per variant: ``(variant, n, mean_raw,
    mean_adjusted, var_raw, var_adjusted, var_reduction)``, floats
    rounded to 6dp; NULL adjustment when var(x) = 0.

    var_adjusted uses the identity
    ``var(y − θx) = var(y) − 2θ·cov(y,x) + θ²·var(x)`` per variant
    (sample /(n−1) moments), shifting by the pooled x̄ only moves the
    mean.
    """
    y = F.col(metric_col).cast("double")
    x = F.col(covariate_col).cast("double")
    base = df.where(
        y.isNotNull() & x.isNotNull() & F.col(variant_col).isNotNull()
    ).select(F.col(variant_col).alias("variant"), y.alias("_y"),
             x.alias("_x"))
    pooled = base.agg(
        F.count(F.lit(1)).alias("_np"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    npd = F.col("_np").cast("double")
    xbar = F.col("_sx") / npd
    varx = F.col("_sxx") / npd - xbar * xbar
    covxy = F.col("_sxy") / npd - xbar * (F.col("_sy") / npd)
    theta = F.when(varx > 0, covxy / varx)
    scal = pooled.select(
        theta.alias("_theta"), xbar.alias("_xbar")
    )
    per = base.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").alias("_vy"),
        F.sum("_x").alias("_vx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_vyy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_vxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_vxy"),
    )
    j = per.join(F.broadcast(scal))
    nd = F.col("n").cast("double")
    my = F.col("_vy") / nd
    mx = F.col("_vx") / nd
    vy = F.when(
        F.col("n") > 1,
        (F.col("_vyy") - nd * my * my) / (nd - 1.0),
    )
    vx = F.when(
        F.col("n") > 1,
        (F.col("_vxx") - nd * mx * mx) / (nd - 1.0),
    )
    cxy = F.when(
        F.col("n") > 1,
        (F.col("_vxy") - nd * mx * my) / (nd - 1.0),
    )
    th = F.col("_theta")
    mean_adj = my - th * (mx - F.col("_xbar"))
    var_adj = vy - 2.0 * th * cxy + th * th * vx
    return j.select(
        "variant", "n",
        F.round(my, 6).alias("mean_raw"),
        F.round(mean_adj, 6).alias("mean_adjusted"),
        F.round(vy, 6).alias("var_raw"),
        F.round(var_adj, 6).alias("var_adjusted"),
        F.round(
            F.when(vy > 0, 1.0 - var_adj / vy), 6
        ).alias("var_reduction"),
    ).orderBy("variant")


def partial_correlation(
    df: DataFrame,
    x_col: str,
    y_col: str,
    z_col: str,
) -> DataFrame:
    """First-order partial correlation of x and y CONTROLLING for z —
    the confound check Pearson's r cannot answer ("does quality
    correlate with engagement beyond what document length explains?"):

    ``r_xy·z = (r_xy − r_xz·r_yz) / √((1 − r_xz²)(1 − r_yz²))``

    ONE aggregation over triple-complete rows to the nine moment sums
    (counts + Σ of every product), the three Pearson r's and the
    partial r assembled closed-form on the 1-row frame — the same
    AQE-trivial shape as :func:`concordance_ccc` at any scale.
    Output 1 row: ``(n, r_xy, r_xz, r_yz, partial_r)``, rounded 6dp;
    partial_r NULL when either control correlation is ±1 (the
    denominator vanishes — z fully explains one variable).
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    z = F.col(z_col).cast("double")
    base = df.where(
        x.isNotNull() & y.isNotNull() & z.isNotNull()
    ).select(x.alias("_x"), y.alias("_y"), z.alias("_z"))
    agg = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum("_z").alias("_sz"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_z") * F.col("_z")).alias("_szz"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_z")).alias("_sxz"),
        F.sum(F.col("_y") * F.col("_z")).alias("_syz"),
    )
    nd = F.col("n").cast("double")

    def _r2(sab, sa, sb, saa, sbb):
        num = nd * F.col(sab) - F.col(sa) * F.col(sb)
        den = F.sqrt(
            (nd * F.col(saa) - F.col(sa) * F.col(sa))
            * (nd * F.col(sbb) - F.col(sb) * F.col(sb))
        )
        return F.when(den > 0, num / den)

    staged = agg.select(
        "n",
        _r2("_sxy", "_sx", "_sy", "_sxx", "_syy").alias("_rxy"),
        _r2("_sxz", "_sx", "_sz", "_sxx", "_szz").alias("_rxz"),
        _r2("_syz", "_sy", "_sz", "_syy", "_szz").alias("_ryz"),
    )
    den = F.sqrt(
        (1.0 - F.col("_rxz") * F.col("_rxz"))
        * (1.0 - F.col("_ryz") * F.col("_ryz"))
    )
    pr = F.when(
        den > 0,
        (F.col("_rxy") - F.col("_rxz") * F.col("_ryz")) / den,
    )
    return staged.select(
        "n",
        F.round("_rxy", 6).alias("r_xy"),
        F.round("_rxz", 6).alias("r_xz"),
        F.round("_ryz", 6).alias("r_yz"),
        F.round(pr, 6).alias("partial_r"),
    )


def theils_u(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Theil's uncertainty coefficient (both directions + symmetric)
    — the ASYMMETRIC categorical-association measure
    :func:`cramers_v` cannot express ("knowing source, how much of
    the language uncertainty disappears?" is NOT the reverse
    question):

    ``U(A|B) = I(A;B) / H(A)``, ``U(B|A) = I(A;B) / H(B)``,
    ``U_sym = 2·I(A;B) / (H(A) + H(B))``

    (natural-log entropies). Plan is :func:`_contingency_margins`: one
    hash aggregation to the bounded contingency cells, margin windows
    over the cell frame; entropies as exact-count plug-in sums. Output 1
    row: ``(n_total, h_a, h_b, mi, u_a_given_b, u_b_given_a,
    u_symmetric)``, floats 6dp; U NULL when the conditioned entropy
    is 0 (a constant column carries no uncertainty to explain).
    """
    staged = _contingency_margins(df, col_a, col_b)
    nd = F.col("_nt").cast("double")
    p = F.col("_n").cast("double") / nd
    pa = F.col("_ra").cast("double") / nd
    pb = F.col("_cb").cast("double") / nd
    agg = staged.agg(
        F.max("_nt").alias("n_total"),
        F.sum(p * F.log(p / (pa * pb))).alias("_mi"),
        # cell-weighted marginal entropies: Σ_cells p·(−ln p_marg)
        # equals Σ_marg p_marg·(−ln p_marg) exactly
        F.sum(-p * F.log(pa)).alias("_ha"),
        F.sum(-p * F.log(pb)).alias("_hb"),
    )
    mi = F.col("_mi")
    ha = F.col("_ha")
    hb = F.col("_hb")
    return agg.select(
        "n_total",
        F.round(ha, 6).alias("h_a"),
        F.round(hb, 6).alias("h_b"),
        F.round(mi, 6).alias("mi"),
        F.round(F.when(ha > 0, mi / ha), 6).alias("u_a_given_b"),
        F.round(F.when(hb > 0, mi / hb), 6).alias("u_b_given_a"),
        F.round(
            F.when(ha + hb > 0, 2.0 * mi / (ha + hb)), 6
        ).alias("u_symmetric"),
    )


def kendalls_w(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Kendall's coefficient of concordance W — HOW MUCH do the m
    rankers (blocks) agree on the ordering of the k items, the effect
    size :func:`friedman_test` (which only answers "more than
    chance?") is missing. Uses the tie-corrected identity

    ``W = χ²_F / (m·(k − 1))``

    (Legendre 2005) on exactly friedman's within-block midrank
    pipeline — one bounded within-block rank window, one aggregation,
    complete blocks enforced the same way. Output 1 row:
    ``(n_blocks, k_treatments, kendalls_w, friedman_stat, dfree,
    p_value)`` — W in [0, 1], rounded 6dp.
    """
    base = friedman_test(df, block_col, treatment_col, value_col)
    m = F.col("n_blocks").cast("double")
    k = F.col("k_treatments").cast("double")
    w = F.when(
        (F.col("n_blocks") > 0) & (k > 1),
        F.col("friedman_stat") / (m * (k - 1.0)),
    )
    return base.select(
        "n_blocks",
        "k_treatments",
        F.round(w, 6).alias("kendalls_w"),
        "friedman_stat",
        "dfree",
        "p_value",
    )


def page_trend_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
    ordered_treatments: list,
) -> DataFrame:
    """Page's L test for an ORDERED alternative in repeated measures
    (Page 1963) — when the treatments have a hypothesized order
    (dose, time, model size), strictly more powerful than the
    unordered :func:`friedman_test`:

    ``L = Σ_j c_j · R_j`` with ``c_j = 1..k`` the hypothesized rank
    of treatment j and ``R_j`` its within-block midrank sum;

    ``E[L] = m·k(k+1)²/4``, ``Var[L] = m·(k³−k)²/(144(k−1))``,
    one-sided p (increasing trend) from ``z = (L−E)/√Var`` via the
    shared A&S-erfc polynomial. The variance is the standard no-tie
    form (midranks still used under ties — the universal practice;
    heavy ties make the test conservative). Complete blocks and
    within-block midranks are :func:`_complete_blocks` and
    :func:`_within_block_midranks`. Output 1 row: ``(n_blocks,
    k_treatments, page_l, z, p_value)``, floats 6dp; raises for
    k < 3 (the test is defined for ordered k >= 3), z NULL with no
    complete blocks.
    """
    k = len(ordered_treatments)
    if k < 3:
        raise ValueError(
            "page_trend_test: needs at least 3 ordered treatments "
            f"(got {k}); use a two-sample rank test for k=2"
        )
    kept, _, _ = _complete_blocks(
        df, block_col, treatment_col, value_col, list(ordered_treatments)
    )
    ranked = _within_block_midranks(kept)
    order_expr = None
    for j, t in enumerate(ordered_treatments, start=1):
        cond = F.when(F.col("_t") == F.lit(t), F.lit(float(j)))
        order_expr = cond if order_expr is None else order_expr.when(
            F.col("_t") == F.lit(t), F.lit(float(j))
        )
    agg = ranked.agg(
        F.sum(order_expr * F.col("_rk")).alias("_l"),
        (F.count(F.lit(1)) / F.lit(k)).cast("bigint").alias(
            "n_blocks"
        ),
    )
    m = F.col("n_blocks").cast("double")
    kd = float(k)
    e_l = m * kd * (kd + 1.0) ** 2 / 4.0
    var_l = m * (kd ** 3 - kd) ** 2 / (144.0 * (kd - 1.0))
    z = F.when(
        F.col("n_blocks") > 0, (F.col("_l") - e_l) / F.sqrt(var_l)
    )
    staged = agg.select(
        "n_blocks",
        F.lit(k).cast("long").alias("k_treatments"),
        F.round("_l", 6).alias("page_l"),
        z.alias("_z"),
    )
    return staged.select(
        "n_blocks",
        "k_treatments",
        "page_l",
        F.round("_z", 6).alias("z"),
        F.round(_normal_sf_1sided(F.col("_z")), 6).alias("p_value"),
    )


def brunner_munzel(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Brunner-Munzel two-sample test (2000) — the modern replacement
    for Mann-Whitney when the two groups may differ in VARIANCE, not
    just location (the WMW null "identical distributions" is rarely
    what an A/B analyst means; BM tests the stochastic-equality
    functional P(X<Y)+½P(X=Y) = ½ without the equal-shape
    assumption):

    with pooled midranks ``R_i`` and within-group midranks
    ``R_i^(g)``, per group ``x_i = R_i − R_i^(g)``, sample variance
    ``S_g²`` of the x's, and

    ``W = m·n·(R̄_b − R̄_a) / ((m+n)·√(m·S_a² + n·S_b²))``
    ``df = (m·S_a² + n·S_b²)² / ((m·S_a²)²/(m−1) + (n·S_b²)²/(n−1))``

    (scipy.stats.brunnermunzel's statistic and Welch-Satterthwaite
    df). Everything reduces to ONE pass over the shared distributed
    ECDF frame (:func:`_ecdf_stepped_counts`): doubled pooled and
    within-group midranks are exact integers per distinct value, and
    the variance algebra needs only ``Σc·x`` and ``Σc·x²`` per group
    (the within-group rank mean is exactly ``(n_g+1)/2``, so no
    second pass). Two-sided p via the shared vectorized t survival
    UDF on the 1-row result. Output 1 row: ``(n_a, n_b, w_stat, df,
    p_value)``, floats 6dp; W NULL when both variances are 0 (the
    degenerate no-overlap case — scipy returns ±inf there).
    """
    from padua_spark.functions.distributions import t_sf_udf
    from padua_spark.io_utils import track_cached

    ecdf = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    h = F.col("_ca") + F.col("_cb")
    f_pool = F.col("_fa") + F.col("_fb")
    # doubled midranks: pooled and within-group — exact integers
    d_pool = 2 * f_pool - h + 1
    d_a = 2 * F.col("_fa") - F.col("_ca") + 1
    d_b = 2 * F.col("_fb") - F.col("_cb") + 1
    xa = (d_pool - d_a).cast("double") / 2.0
    xb = (d_pool - d_b).cast("double") / 2.0
    rp = d_pool.cast("double") / 2.0
    agg = ecdf.agg(
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
        F.sum(F.col("_ca").cast("double") * rp).alias("_sra"),
        F.sum(F.col("_cb").cast("double") * rp).alias("_srb"),
        F.sum(F.col("_ca").cast("double") * xa).alias("_sxa"),
        F.sum(F.col("_cb").cast("double") * xb).alias("_sxb"),
        F.sum(F.col("_ca").cast("double") * xa * xa).alias("_sxa2"),
        F.sum(F.col("_cb").cast("double") * xb * xb).alias("_sxb2"),
    )
    m = F.col("n_a").cast("double")
    n = F.col("n_b").cast("double")
    ra_bar = F.col("_sra") / m
    rb_bar = F.col("_srb") / n
    sa2 = F.when(
        F.col("n_a") > 1,
        (F.col("_sxa2") - F.col("_sxa") * F.col("_sxa") / m)
        / (m - 1.0),
    )
    sb2 = F.when(
        F.col("n_b") > 1,
        (F.col("_sxb2") - F.col("_sxb") * F.col("_sxb") / n)
        / (n - 1.0),
    )
    pooled = m * sa2 + n * sb2
    w = F.when(
        pooled > 0,
        m * n * (rb_bar - ra_bar) / ((m + n) * F.sqrt(pooled)),
    )
    dfree = F.when(
        pooled > 0,
        pooled * pooled
        / (
            (m * sa2) * (m * sa2) / (m - 1.0)
            + (n * sb2) * (n * sb2) / (n - 1.0)
        ),
    )
    staged = agg.select(
        "n_a", "n_b", w.alias("_w"), dfree.alias("_df")
    )
    out = staged.select(
        "n_a", "n_b",
        F.round("_w", 6).alias("w_stat"),
        F.round("_df", 6).alias("df"),
        F.round(
            t_sf_udf(F.col("_w"), F.col("_df")), 6
        ).alias("p_value"),
    )
    return track_cached(out, *getattr(ecdf, "_padua_cached", ()))


def quade_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Quade test (1979) — the repeated-measures rank test that,
    unlike :func:`friedman_test`, WEIGHTS blocks by how much signal
    they carry (the within-block range): blocks where the treatments
    barely differ contribute little, making Quade markedly more
    powerful for small k:

    within-block midranks ``r_ij``; block weights ``Q_i`` = midranks
    of the within-block sample RANGES across blocks;
    ``S_ij = Q_i·(r_ij − (k+1)/2)``, ``S_j = Σ_i S_ij``,
    ``A = Σ S_ij²``, ``B = (1/n)·Σ_j S_j²``,
    ``F = (n−1)·B/(A−B)`` with ``(k−1, (n−1)(k−1))`` df
    (scipy-free but textbook Conover 1999; A = B degenerate case
    yields NULL).

    Scale shape: complete blocks via :func:`_complete_blocks`;
    within-block ranks are one bounded window
    (:func:`_within_block_midranks`); the BLOCK-RANGE ranking is
    over the n-row per-block aggregate frame and uses the shared
    DISTRIBUTED midrank machinery (:func:`_stepped_running_counts`)
    — no partitionless window over a data-sized frame. The F p-value
    crosses once via the shared vectorized F survival UDF. Output 1
    row: ``(n_blocks, k_treatments, quade_f, df1, df2, p_value)``.
    """
    from padua_spark.functions.distributions import f_sf_udf
    from padua_spark.io_utils import track_cached

    from pyspark import StorageLevel

    kept, complete, k_total = _complete_blocks(
        df, block_col, treatment_col, value_col
    )
    kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
    # block weights: midranks of the within-block ranges, via the
    # distributed stepped counts over the per-block aggregate frame
    ranges = kept.groupBy("_b").agg(
        (F.max("_v") - F.min("_v")).alias("_rng")
    )
    per = ranges.groupBy(F.col("_rng").alias("_v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    qmap = stepped.select(
        F.col("_v").alias("_rng"),
        (_doubled_midrank("_c").cast("double") / 2.0).alias("_q"),
    )
    weighted = ranges.join(qmap, on="_rng").select("_b", "_q")
    ranked = _within_block_midranks(kept)
    kd = float(k_total)
    sij = ranked.join(weighted, on="_b").select(
        "_t",
        (F.col("_q") * (F.col("_rk") - F.lit((kd + 1.0) / 2.0))).alias(
            "_s"
        ),
    )
    per_t = sij.groupBy("_t").agg(
        F.sum("_s").alias("_sj"), F.sum(F.col("_s") * F.col("_s")).alias("_a_part")
    )
    agg = per_t.agg(
        F.sum("_a_part").alias("_a"),
        F.sum(F.col("_sj") * F.col("_sj")).alias("_ssj"),
        F.count(F.lit(1)).alias("k_treatments"),
    ).crossJoin(
        complete.agg(F.count(F.lit(1)).cast("bigint").alias("n_blocks"))
    )
    n = F.col("n_blocks").cast("double")
    k = F.col("k_treatments").cast("double")
    b_stat = F.col("_ssj") / n
    fstat = F.when(
        (F.col("_a") - b_stat > 0) & (F.col("n_blocks") > 1),
        (n - 1.0) * b_stat / (F.col("_a") - b_stat),
    )
    staged = agg.select(
        "n_blocks",
        "k_treatments",
        fstat.alias("_f"),
        F.when(k >= 2, k - 1.0).alias("df1"),
        F.when(
            (k >= 2) & (F.col("n_blocks") > 1), (n - 1.0) * (k - 1.0)
        ).alias("df2"),
    )
    out = staged.select(
        "n_blocks",
        "k_treatments",
        F.round("_f", 6).alias("quade_f"),
        "df1",
        "df2",
        F.round(
            f_sf_udf(F.col("_f"), F.col("df1"), F.col("df2")), 6
        ).alias("p_value"),
    )
    return track_cached(
        out, kept, *getattr(stepped, "_padua_cached", ())
    )


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    category_col: str,
) -> DataFrame:
    """Krippendorff's alpha (nominal) — chance-corrected agreement
    that, unlike :func:`fleiss_kappa`, accepts MISSING ratings (any
    item with ≥ 2 ratings contributes; the constant-rater contract
    disappears), making it the right reliability gate for crowdsourced
    label audits where coverage is ragged:

    ``α = 1 − D_o/D_e`` with the pair-disagreement rates
    ``D_o = (1/n··)·Σ_i [Σ_c n_ic(n_i−n_ic)] / (n_i−1)`` (a random
    pair WITHIN an item) and
    ``D_e = Σ_c n_c(n··−n_c) / (n··(n··−1))`` (a random pair
    anywhere, without replacement) — Krippendorff 2004, nominal
    metric; every input is an exact integer until the two final
    divisions.

    Plan: one (item, category) hash aggregation, one per-item
    aggregation (items with a single rating drop out), one per-
    category aggregation — the :func:`fleiss_kappa` shape without
    the preflight. Output 1 row: ``(n_items, n_ratings,
    k_categories, d_o, d_e, alpha)``, floats 6dp; alpha NULL when
    D_e = 0 (one category — no disagreement possible).
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    it = F.col(item_col)
    cat = F.col(category_col)
    cells = (
        df.where(it.isNotNull() & cat.isNotNull())
        .groupBy(it.alias("_i"), cat.alias("_j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_nij"))
    )
    sized = cells.join(
        cells.groupBy("_i")
        .agg(F.sum("_nij").alias("_ni"))
        .where(F.col("_ni") >= 2),
        on="_i",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    per_item = sized.groupBy("_i").agg(
        F.max("_ni").alias("_n"),
        F.sum(F.col("_nij") * (F.col("_ni") - F.col("_nij"))).alias(
            "_dis"
        ),
    )
    do_agg = per_item.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("_n").cast("bigint").alias("n_ratings"),
        F.sum(
            F.col("_dis").cast("double")
            / (F.col("_n").cast("double") - 1.0)
        ).alias("_do_sum"),
    )
    per_cat = sized.groupBy("_j").agg(F.sum("_nij").alias("_cj"))
    cat_agg = per_cat.agg(
        F.count(F.lit(1)).alias("k_categories"),
        F.sum(
            F.col("_cj").cast("double") * F.col("_cj").cast("double")
        ).alias("_csq"),
    )
    j = do_agg.join(F.broadcast(cat_agg))
    nn = F.col("n_ratings").cast("double")
    d_o = F.col("_do_sum") / nn
    # Σ n_c(n−n_c) = n² − Σn_c²
    d_e = (nn * nn - F.col("_csq")) / (nn * (nn - 1.0))
    alpha = F.when(d_e > 0, 1.0 - d_o / d_e)
    out = j.select(
        "n_items",
        "n_ratings",
        "k_categories",
        F.round(d_o, 6).alias("d_o"),
        F.round(d_e, 6).alias("d_e"),
        F.round(alpha, 6).alias("alpha"),
    )
    return track_cached(out, sized)


def chatterjee_xi(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str,
) -> DataFrame:
    """Chatterjee's rank correlation ξ (JASA 2021) — the modern
    DEPENDENCE coefficient: 0 iff independent, 1 iff y is a
    measurable function of x, and (unlike Pearson/Spearman) sensitive
    to non-monotone relationships (a parabola scores ≈ 1 where ρ and
    r_s score ≈ 0). The tie-robust form:

    ``ξ = 1 − n·Σ_{i<n} |r_{i+1} − r_i| / (2·Σ_i l_i·(n − l_i))``

    where rows are ordered by ``(x, id)`` (the explicit id tiebreak
    makes ξ under tied x deterministic — Chatterjee's definition
    breaks x-ties uniformly at random; a keyed order is the
    reproducible choice, documented), ``r_i = #{j: y_j ≤ y_i}`` and
    ``l_i = #{j: y_j ≥ y_i}``.

    Scale shape — NO global sort of the fact table: y-ranks come from
    the shared distributed ECDF cumsum
    (:func:`_stepped_running_counts`, exact integers); the x-ordered
    ADJACENT difference uses a range partition on ``(x, id)`` with a
    per-partition ordered window, and each partition head is stitched
    to the PREVIOUS partition's tail rank via an N-row boundary frame
    (N = parallelism) broadcast back — the same two-pass discipline
    as the ECDF machinery itself. Every Σ is an exact integer;
    ξ is one final division. Output 1 row: ``(n, xi)``, 6dp;
    NULL when y is constant (the denominator vanishes).
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    x = F.col(x_col)
    y = F.col(y_col).cast("double")
    pairs = df.where(
        x.isNotNull() & y.isNotNull() & F.col(id_col).isNotNull()
    ).select(x.alias("_x"), y.alias("_y"), F.col(id_col).alias("_id"))
    per = pairs.groupBy(F.col("_y").alias("_v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    rmap = stepped.select(
        F.col("_v"),
        F.col("_c_run").alias("_r"),  # #{y_j <= v}
        (F.col("_c_tot") - (F.col("_c_run") - F.col("_c"))).alias(
            "_l"
        ),  # #{y_j >= v}
        F.col("_c_tot").alias("_n"),
    )
    ranked = pairs.join(rmap, pairs["_y"] == rmap["_v"]).select(
        "_x", "_id", "_r", "_l", "_n"
    )
    spark = df.sparkSession
    try:
        n_parts = max(
            1, int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
    except (TypeError, ValueError):
        n_parts = max(1, spark.sparkContext.defaultParallelism)
    ranged = (
        ranked.repartitionByRange(n_parts, "_x", "_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranged.count()  # pin ONE set of sampled range boundaries
    w = Window.partitionBy("_pid").orderBy("_x", "_id")
    local = ranged.withColumn("_rprev", F.lag("_r").over(w))
    # partition tails: the rank of each partition's LAST row in
    # (x, id) order — an N-row frame, broadcast back to stitch heads
    tails = (
        ranged.groupBy("_pid")
        .agg(
            F.max(
                F.struct(F.col("_x"), F.col("_id"), F.col("_r"))
            ).alias("_t")
        )
        .select(
            (F.col("_pid") + 1).alias("_pid"),
            F.col("_t._r").alias("_rtail"),
        )
    )
    stitched = local.join(F.broadcast(tails), on="_pid", how="left")
    prev = F.coalesce(F.col("_rprev"), F.col("_rtail"))
    agg = stitched.agg(
        F.max("_n").alias("n"),
        F.sum(
            F.when(prev.isNotNull(), F.abs(F.col("_r") - prev))
        ).cast("bigint").alias("_num"),
        F.sum(F.col("_l") * (F.col("_n") - F.col("_l")))
        .cast("bigint").alias("_den"),
    )
    nd = F.col("n").cast("double")
    xi = F.when(
        F.col("_den") > 0,
        1.0
        - nd * F.col("_num").cast("double")
        / (2.0 * F.col("_den").cast("double")),
    )
    out = agg.select("n", F.round(xi, 6).alias("xi"))
    return track_cached(
        out, ranged, *getattr(stepped, "_padua_cached", ())
    )


def breslow_day(
    df: DataFrame,
    strata_cols: list[str],
    exposure_col: str,
    outcome_col: str,
    tarone: bool = True,
) -> DataFrame:
    """Breslow-Day homogeneity test (1980, with Tarone's 1985
    correction) — the validity check :func:`mantel_haenszel_or`
    assumes: is the odds ratio actually COMMON across strata, or is
    pooling hiding effect modification?

    With the MH common odds ratio ``ψ``, each stratum's expected
    ``a``-cell solves the quadratic
    ``ψ·(n1−a)(m1−a) = a·(n0−m1+a)`` (root inside
    ``[max(0, m1−n0), min(n1, m1)]`` — closed form, both engines
    share it), with asymptotic variance
    ``1/V = 1/a_e + 1/(n1−a_e) + 1/(m1−a_e) + 1/(n0−m1+a_e)``;

    ``X² = Σ_s (a_s − a_e)²/V_s``  (χ², k−1 df), minus Tarone's
    ``(Σ(a−a_e))²/ΣV`` when ``tarone=True`` (corrects for ψ being
    estimated, the SAS default). Two aggregations: one to the
    per-stratum exact 2×2 tables, a 1-row broadcast of ψ back onto
    the k-strata frame, one combine; χ²(k−1) p via the shared
    vectorized UDF. Degenerate strata (any margin 0) contribute
    nothing — the standard convention. Output 1 row: ``(k_strata,
    or_mh, bd_chi2, dfree, p_value)``, floats 6dp.
    """
    from padua_spark.functions.distributions import chi2_sf_udf

    per = _two_by_two_cells(df, exposure_col, outcome_col, strata_cols)
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    per = per.persist(StorageLevel.MEMORY_AND_DISK)
    a, b, c, d = F.col("_a"), F.col("_b"), F.col("_c"), F.col("_d")
    n = a + b + c + d
    psi_row = per.where(n > 0).agg(
        F.sum(a * d / n).alias("_sr"),
        F.sum(b * c / n).alias("_ss"),
    )
    psi = psi_row.select(
        F.when(
            F.col("_ss") > 0, F.col("_sr") / F.col("_ss")
        ).alias("_psi")
    )
    j = per.join(F.broadcast(psi))
    n1 = a + b
    n0 = c + d
    m1 = a + c
    ps = F.col("_psi")
    # quadratic (1−ψ)a² + [ψ(n1+m1) + (n0−m1)]a − ψ·n1·m1 = 0
    qa = 1.0 - ps
    qb = ps * (n1 + m1) + (n0 - m1)
    qc = -ps * n1 * m1
    disc = F.sqrt(qb * qb - 4.0 * qa * qc)
    # ψ=1 degenerates to linear; otherwise the root in range is the
    # '−' branch of the standard formula for ψ>1 and ψ<1 alike when
    # written with the numerically stable sign
    a_lin = -qc / qb
    a_quad = (-qb + disc) / (2.0 * qa)
    a_e = F.when(F.abs(qa) < 1e-12, a_lin).otherwise(a_quad)
    valid = (
        (n1 > 0) & (n0 > 0) & (m1 > 0) & ((b + d) > 0)
        & ps.isNotNull()
    )
    vinv = (
        1.0 / a_e
        + 1.0 / (n1 - a_e)
        + 1.0 / (m1 - a_e)
        + 1.0 / (n0 - m1 + a_e)
    )
    term = F.when(valid, (a - a_e) * (a - a_e) * vinv).otherwise(
        F.lit(0.0)
    )
    dev = F.when(valid, a - a_e).otherwise(F.lit(0.0))
    vsum = F.when(valid, 1.0 / vinv).otherwise(F.lit(0.0))
    agg = j.agg(
        F.sum(F.when(valid, 1).otherwise(0)).cast("bigint").alias(
            "k_strata"
        ),
        F.max(ps).alias("_or"),
        F.sum(term).alias("_x2"),
        F.sum(dev).alias("_dev"),
        F.sum(vsum).alias("_vs"),
    )
    x2 = F.col("_x2")
    if tarone:
        x2 = x2 - F.when(
            F.col("_vs") > 0,
            F.col("_dev") * F.col("_dev") / F.col("_vs"),
        ).otherwise(F.lit(0.0))
    staged = agg.select(
        "k_strata",
        F.col("_or").alias("_psi"),
        x2.alias("_bd"),
        F.when(
            F.col("k_strata") >= 2,
            (F.col("k_strata") - 1).cast("double"),
        ).alias("dfree"),
    )
    out_df = staged.select(
        "k_strata",
        F.round("_psi", 6).alias("or_mh"),
        F.round("_bd", 6).alias("bd_chi2"),
        "dfree",
        F.round(
            chi2_sf_udf(F.col("_bd"), F.col("dfree")), 6
        ).alias("p_value"),
    )
    return track_cached(out_df, per)


def yuen_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    trim: float = 0.2,
) -> DataFrame:
    """Yuen's trimmed-mean two-sample test (1974) — the robust t-test:
    compares 20%-trimmed means with winsorized variances, keeping
    near-nominal error rates under heavy tails and unequal variances
    where Student's and even Welch's t degrade (Wilcox's
    recommended default for messy metric data):

    per group with ``g = ⌊trim·n⌋`` and ``h = n − 2g``:
    ``t = (x̄_t,a − x̄_t,b) / √(d_a + d_b)``,
    ``d = (n−1)·s²_w / (h(h−1))``, Welch-style df from the d's.

    Everything comes from ONE aggregation over the shared distributed
    ECDF frame (:func:`_ecdf_stepped_counts`) — no per-group sort, no
    window over the fact table: a distinct value with per-group count
    ``c`` and running count ``F`` occupies ranks ``[F−c+1, F]``, so
    its TRIMMED multiplicity is the overlap with ``[g+1, n−g]``
    (exact integers), and the winsorized moments are the trimmed
    moments plus ``g`` copies of each boundary order statistic
    (arg-min expressions in the same pass). Two-sided p via the
    shared vectorized t survival UDF. Output 1 row: ``(n_a, n_b,
    trimmed_mean_a, trimmed_mean_b, t_stat, df, p_value)``, 6dp;
    NULL statistic when either winsorized variance is 0 or h ≤ 1.
    """
    if not 0 <= trim < 0.5:
        raise ValueError("yuen_test: trim must be in [0, 0.5)")
    from padua_spark.functions.distributions import t_sf_udf
    from padua_spark.io_utils import track_cached

    ecdf = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    tr = F.lit(float(trim))

    def _side(cc, ff, nn):
        c = F.col(cc)
        f_ = F.col(ff)
        n = F.col(nn)
        g = F.floor(tr * n.cast("double")).cast("bigint")
        lo_rank = g + 1
        hi_rank = n - g
        inc = F.greatest(
            F.lit(0).cast("bigint"),
            F.least(f_, hi_rank)
            - F.greatest(f_ - c + 1, lo_rank)
            + 1,
        )
        v = F.col("_v").cast("double")
        return {
            "n": F.max(n),
            "g": F.max(g),
            "tsum": F.sum(inc.cast("double") * v),
            "tsumsq": F.sum(inc.cast("double") * v * v),
            "lo": F.min(F.when(f_ >= lo_rank, v)),
            "hi": F.min(F.when(f_ >= hi_rank, v)),
        }

    sa = _side("_ca", "_fa", "_na")
    sb = _side("_cb", "_fb", "_nb")
    agg = ecdf.agg(
        sa["n"].alias("n_a"), sa["g"].alias("_ga"),
        sa["tsum"].alias("_tsa"), sa["tsumsq"].alias("_tqa"),
        sa["lo"].alias("_loa"), sa["hi"].alias("_hia"),
        sb["n"].alias("n_b"), sb["g"].alias("_gb"),
        sb["tsum"].alias("_tsb"), sb["tsumsq"].alias("_tqb"),
        sb["lo"].alias("_lob"), sb["hi"].alias("_hib"),
    )

    def _fit(n, g, ts, tq, lo, hi):
        nd = F.col(n).cast("double")
        gd = F.col(g).cast("double")
        h = nd - 2.0 * gd
        tm = F.when(h > 0, F.col(ts) / h)
        wsum = F.col(ts) + gd * (F.col(lo) + F.col(hi))
        wsq = F.col(tq) + gd * (
            F.col(lo) * F.col(lo) + F.col(hi) * F.col(hi)
        )
        sw2 = F.when(
            F.col(n) > 1, (wsq - wsum * wsum / nd) / (nd - 1.0)
        )
        d = F.when(h > 1, (nd - 1.0) * sw2 / (h * (h - 1.0)))
        return tm, d, h

    tma, da, ha = _fit("n_a", "_ga", "_tsa", "_tqa", "_loa", "_hia")
    tmb, db, hb = _fit("n_b", "_gb", "_tsb", "_tqb", "_lob", "_hib")
    dsum = da + db
    t = F.when(dsum > 0, (tma - tmb) / F.sqrt(dsum))
    dfree = F.when(
        dsum > 0,
        dsum * dsum
        / (da * da / (ha - 1.0) + db * db / (hb - 1.0)),
    )
    staged = agg.select(
        "n_a", "n_b",
        tma.alias("_tma"), tmb.alias("_tmb"),
        t.alias("_t"), dfree.alias("_df"),
    )
    out = staged.select(
        "n_a", "n_b",
        F.round("_tma", 6).alias("trimmed_mean_a"),
        F.round("_tmb", 6).alias("trimmed_mean_b"),
        F.round("_t", 6).alias("t_stat"),
        F.round("_df", 6).alias("df"),
        F.round(
            t_sf_udf(F.col("_t"), F.col("_df")), 6
        ).alias("p_value"),
    )
    return track_cached(out, *getattr(ecdf, "_padua_cached", ()))


def _binom_exact_pvalues(staged, n_col, k_col, p0_col, max_support):
    """Shared exact-binomial tail fold on a 1-row staged frame:
    returns (p_left, p_right, p_two) Columns for ``k ~ Bin(n, p0)``
    with the point-probability two-sided rule (the same
    relative-tolerance guard as :func:`fisher_exact`). The fold is a
    JVM higher-order function over ``sequence(0, n)`` — bounded by
    ``max_support`` with an explicit raise (exact tails at millions
    of trials are the normal-approximation regime)."""
    from padua_spark.operators.external import _log_choose

    n = F.col(n_col)
    k = F.col(k_col)
    p0 = F.col(p0_col)
    if max_support is not None:
        guard = F.when(
            n > F.lit(int(max_support)),
            F.raise_error(
                F.concat(
                    F.lit("exact binomial support "),
                    n.cast("string"),
                    F.lit(
                        f" exceeds max_support={int(max_support)}; "
                        "use the normal approximation at these "
                        "counts or pass max_support=None"
                    ),
                )
            ).cast("bigint"),
        ).otherwise(n)
    else:
        guard = n
    staged = staged.withColumn("_lp", F.log(p0)).withColumn(
        "_l1p", F.log(F.lit(1.0) - p0)
    ).withColumn("_ng", guard)

    def _logpmf(i):
        return (
            _log_choose(F.col("_ng"), i)
            + i.cast("double") * F.col("_lp")
            + (F.col("_ng") - i).cast("double") * F.col("_l1p")
        )

    staged = staged.withColumn("_logpk", _logpmf(k))
    idx = F.sequence(F.lit(0).cast("bigint"), F.col("_ng"))
    # ONE log-pmf evaluation per support point (interpreted HOFs do
    # no CSE; projection collapse would inline a staged array into
    # every consumer): zip (i, logpmf) once, fold a single struct
    # accumulator carrying all three tails — same trick as
    # fisher_exact
    pairs_arr = F.zip_with(
        idx,
        F.transform(idx, lambda i: _logpmf(i)),
        lambda i, lp: F.struct(i.alias("i"), lp.alias("lp")),
    )
    thresh = F.col("_logpk") + F.lit(9.999999505838704e-08)
    init = F.struct(
        F.lit(0.0).alias("pl"),
        F.lit(0.0).alias("pr"),
        F.lit(0.0).alias("pt"),
    )

    def _step(acc, e):
        pmf = F.exp(e["lp"])
        return F.struct(
            (acc["pl"] + F.when(e["i"] <= k, pmf).otherwise(0.0))
            .alias("pl"),
            (acc["pr"] + F.when(e["i"] >= k, pmf).otherwise(0.0))
            .alias("pr"),
            (acc["pt"] + F.when(e["lp"] <= thresh, pmf).otherwise(0.0))
            .alias("pt"),
        )

    staged = staged.withColumn(
        "_bacc", F.aggregate(pairs_arr, init, _step)
    )
    return (
        staged,
        F.col("_bacc.pl"),
        F.col("_bacc.pr"),
        F.col("_bacc.pt"),
    )


def binom_test_exact(
    df: DataFrame,
    success: Column,
    p0: float = 0.5,
    max_support: int = 200_000,
) -> DataFrame:
    """One-sample exact binomial test — is the success rate ``p0``?
    The exact gate behind every "is this filter still passing 35% of
    documents" acceptance check at counts where the normal
    approximation is untrustworthy:

    ``p_two = Σ_{pmf(i) ≤ pmf(k)·(1+1e−7)} pmf(i)`` over
    ``Bin(n, p0)`` (scipy.stats.binomtest's method), with one-sided
    tails alongside. ONE aggregation to the exact (n, k) integers,
    then the shared bounded JVM tail fold
    (:func:`_binom_exact_pvalues` — raises above ``max_support``).
    Output 1 row: ``(n, k, p_hat, p_left, p_right, p_two)``, 6dp.
    """
    if not 0 < p0 < 1:
        raise ValueError("binom_test_exact: p0 must be in (0, 1)")
    agg = df.agg(
        F.count(F.when(success.isNotNull(), 1)).cast("bigint").alias(
            "n"
        ),
        F.count(F.when(success, 1)).cast("bigint").alias("k"),
    ).withColumn("_p0", F.lit(float(p0)))
    staged, pl, pr, pt = _binom_exact_pvalues(
        agg, "n", "k", "_p0", max_support
    )
    return staged.select(
        "n", "k",
        F.round(
            F.when(
                F.col("n") > 0,
                F.col("k").cast("double") / F.col("n").cast("double"),
            ),
            6,
        ).alias("p_hat"),
        F.round(F.least(pl, F.lit(1.0)), 6).alias("p_left"),
        F.round(F.least(pr, F.lit(1.0)), 6).alias("p_right"),
        F.round(F.least(pt, F.lit(1.0)), 6).alias("p_two"),
    )


def mcnemar_exact(
    df: DataFrame,
    a_col: str,
    b_col: str,
    max_support: int = 200_000,
) -> DataFrame:
    """Exact (binomial) McNemar test — the small-discordant-count
    companion to :func:`mcnemar_test`'s chi² approximation: under H0
    the ``n01`` count is ``Bin(n01+n10, ½)``, so the exact p is the
    symmetric binomial tail (point-probability two-sided — at p₀=½
    this equals the classic doubled-min-tail, by symmetry). Same
    one-aggregation plan as mcnemar_test; the tail fold is bounded by
    the DISCORDANT count only (concordant pairs never enter). Output
    1 row: ``(n00, n01, n10, n11, p_exact)``, 6dp; p 1.0 when there
    are no discordant pairs.
    """
    a = F.col(a_col).cast("int")
    b = F.col(b_col).cast("int")
    base = df.where(a.isNotNull() & b.isNotNull())
    agg = base.agg(
        F.sum(F.when((a == 0) & (b == 0), 1).otherwise(0))
        .cast("bigint").alias("n00"),
        F.sum(F.when((a == 0) & (b == 1), 1).otherwise(0))
        .cast("bigint").alias("n01"),
        F.sum(F.when((a == 1) & (b == 0), 1).otherwise(0))
        .cast("bigint").alias("n10"),
        F.sum(F.when((a == 1) & (b == 1), 1).otherwise(0))
        .cast("bigint").alias("n11"),
    )
    staged0 = agg.withColumn(
        "_nd", F.col("n01") + F.col("n10")
    ).withColumn("_k", F.col("n01")).withColumn(
        "_half", F.lit(0.5)
    )
    staged, _pl, _pr, pt = _binom_exact_pvalues(
        staged0, "_nd", "_k", "_half", max_support
    )
    return staged.select(
        "n00", "n01", "n10", "n11",
        F.round(
            F.when(F.col("_nd") > 0, F.least(pt, F.lit(1.0)))
            .otherwise(F.lit(1.0)),
            6,
        ).alias("p_exact"),
    )


def poisson_rate_test(
    df: DataFrame,
    group_col: str,
    group_a,
    group_b,
    count_col: str | None = None,
    exposure_col: str | None = None,
    max_support: int = 200_000,
) -> DataFrame:
    """Exact two-sample Poisson rate comparison (the conditional /
    C-test): do groups a and b generate events at the same rate per
    unit exposure? Conditioning on the total removes the nuisance
    rate: ``k_a | (k_a + k_b) ~ Bin(k, T_a/(T_a+T_b))`` — so the
    exact answer is one binomial tail, computable without any
    Poisson special function:

    rows contribute ``count_col`` events (default 1 each) and
    ``exposure_col`` exposure (default 1 each — equal-exposure A/B).
    ONE aggregation to the four exact totals, the shared bounded
    tail fold (bounded by the TOTAL EVENT COUNT — enforce or
    pre-aggregate), rate ratio alongside. Output 1 row: ``(k_a, k_b,
    t_a, t_b, rate_ratio, p_left, p_right, p_two)``, 6dp;
    ``rate_ratio`` NULL when a denominator vanishes.
    """
    g = F.col(group_col)
    cnt = (
        F.col(count_col).cast("double")
        if count_col
        else F.lit(1.0)
    )
    expo = (
        F.col(exposure_col).cast("double")
        if exposure_col
        else F.lit(1.0)
    )
    base = df.where(g.isin([group_a, group_b]))
    agg = base.agg(
        F.sum(F.when(g == group_a, cnt).otherwise(0.0))
        .cast("bigint").alias("k_a"),
        F.sum(F.when(g == group_b, cnt).otherwise(0.0))
        .cast("bigint").alias("k_b"),
        F.sum(F.when(g == group_a, expo).otherwise(0.0)).alias("t_a"),
        F.sum(F.when(g == group_b, expo).otherwise(0.0)).alias("t_b"),
    )
    staged0 = agg.withColumn(
        "_n", F.col("k_a") + F.col("k_b")
    ).withColumn(
        "_p0", F.col("t_a") / (F.col("t_a") + F.col("t_b"))
    )
    staged, pl, pr, pt = _binom_exact_pvalues(
        staged0.withColumn("_k", F.col("k_a")),
        "_n", "_k", "_p0", max_support,
    )
    ra = F.col("k_a").cast("double") / F.col("t_a")
    rb = F.col("k_b").cast("double") / F.col("t_b")
    return staged.select(
        "k_a", "k_b",
        F.round("t_a", 6).alias("t_a"),
        F.round("t_b", 6).alias("t_b"),
        F.round(
            F.when(
                (F.col("t_a") > 0) & (F.col("t_b") > 0) & (rb > 0),
                ra / rb,
            ),
            6,
        ).alias("rate_ratio"),
        F.round(F.least(pl, F.lit(1.0)), 6).alias("p_left"),
        F.round(F.least(pr, F.lit(1.0)), 6).alias("p_right"),
        F.round(F.least(pt, F.lit(1.0)), 6).alias("p_two"),
    )


def g_test_independence(
    df: DataFrame,
    col_a: str,
    col_b: str,
    williams: bool = True,
) -> DataFrame:
    """G-test (log-likelihood ratio) of independence — the
    information-theoretic twin of the chi² independence test
    (``G = 2·n·MI_nats`` exactly; additive across partitions of the
    table, which chi² is not), with the Williams small-sample
    correction:

    ``G = 2 Σ_cells O·ln(O/E)``;
    ``q = 1 + (n·Σ1/r_i − 1)(n·Σ1/c_j − 1) / (6n(r−1)(c−1))``,
    ``G_adj = G/q``  (χ², (r−1)(c−1) df).

    Bounded-cell plan of :func:`_contingency_margins`: one hash
    aggregation to the contingency cells, margin windows over that
    frame, exact-integer counts into the closed form; χ² p
    via the shared vectorized UDF. Output 1 row: ``(n_total,
    r_levels, c_levels, g_stat, g_adjusted, dfree, p_value)``, 6dp
    (p from the ADJUSTED statistic when ``williams=True``).
    """
    from padua_spark.functions.distributions import chi2_sf_udf

    staged = _contingency_margins(
        df, col_a, col_b,
        (F.row_number().over(
            Window.partitionBy("_a").orderBy("_b")
        ) == 1).cast("int").alias("_first_a"),
        (F.row_number().over(
            Window.partitionBy("_b").orderBy("_a")
        ) == 1).cast("int").alias("_first_b"),
    )
    o = F.col("_n").cast("double")
    e = (
        F.col("_ra").cast("double")
        * F.col("_cb").cast("double")
        / F.col("_nt").cast("double")
    )
    agg = staged.agg(
        F.max("_nt").cast("bigint").alias("n_total"),
        F.sum(2.0 * o * F.log(o / e)).alias("_g"),
        F.sum("_first_a").cast("bigint").alias("r_levels"),
        F.sum("_first_b").cast("bigint").alias("c_levels"),
        F.sum(
            F.when(F.col("_first_a") == 1, 1.0 / F.col("_ra"))
        ).alias("_sri"),
        F.sum(
            F.when(F.col("_first_b") == 1, 1.0 / F.col("_cb"))
        ).alias("_scj"),
    )
    nd = F.col("n_total").cast("double")
    rd = F.col("r_levels").cast("double")
    cd = F.col("c_levels").cast("double")
    dfree = (rd - 1.0) * (cd - 1.0)
    q = 1.0 + (nd * F.col("_sri") - 1.0) * (
        nd * F.col("_scj") - 1.0
    ) / (6.0 * nd * dfree)
    g_adj = F.when(dfree > 0, F.col("_g") / q)
    use = g_adj if williams else F.when(dfree > 0, F.col("_g"))
    staged2 = agg.select(
        "n_total", "r_levels", "c_levels",
        F.col("_g").alias("_graw"),
        g_adj.alias("_gadj"),
        F.when(dfree > 0, dfree).alias("dfree"),
        use.alias("_use"),
    )
    return staged2.select(
        "n_total", "r_levels", "c_levels",
        F.round("_graw", 6).alias("g_stat"),
        F.round("_gadj", 6).alias("g_adjusted"),
        "dfree",
        F.round(
            chi2_sf_udf(F.col("_use"), F.col("dfree")), 6
        ).alias("p_value"),
    )


def ks_1samp(
    df: DataFrame,
    value_col: str,
    dist: str,
    params: dict,
) -> DataFrame:
    """One-sample Kolmogorov-Smirnov goodness-of-fit against a NAMED
    continuous distribution — the distribution-fit acceptance gate
    ("are these latencies still exponential?", "is the score column
    uniform after calibration?") complementing the two-sample
    :func:`ks_2samp_stat`:

    ``D = max_x max(|F_n(x) − F₀(x)|, |F_n(x⁻) − F₀(x)|)``

    (both one-sided gaps at every jump — the sup is attained at a
    data point on one side or the other). ``dist`` ∈ ``uniform``
    (params a, b), ``exponential`` (rate), ``normal`` (mean, std —
    Φ via the shared A&S erfc polynomial, both engines evaluate the
    identical expression). The ECDF comes from the shared distributed
    stepped cumsum — no global sort. The p-value is the asymptotic
    Kolmogorov survival ``Q(λ) = 2 Σ_{k≥1} (−1)^{k−1} e^{−2k²λ²}``
    with ``λ = D(√n + 0.12 + 0.11/√n)`` (Stephens' correction),
    truncated at k = 100 — closed form shared by any engine. Output
    1 row: ``(n, d_stat, p_value)``, 6dp.
    """
    from padua_spark.io_utils import track_cached

    v = F.col(value_col).cast("double")
    per = (
        df.where(v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    x = F.col("_v")
    if dist == "uniform":
        a = float(params["a"])
        b = float(params["b"])
        f0 = F.least(
            F.lit(1.0),
            F.greatest(
                F.lit(0.0), (x - F.lit(a)) / F.lit(b - a)
            ),
        )
    elif dist == "exponential":
        rate = float(params["rate"])
        f0 = F.when(
            x > 0, 1.0 - F.exp(-F.lit(rate) * x)
        ).otherwise(F.lit(0.0))
    elif dist == "normal":
        mu = float(params["mean"])
        sd = float(params["std"])
        z = (x - F.lit(mu)) / F.lit(sd)
        # Phi(z) = 1 - sf_1sided(z) via the shared A&S surface
        f0 = 1.0 - _normal_sf_1sided(z)
    else:
        raise ValueError(
            f"ks_1samp: unsupported dist {dist!r} "
            "(uniform | exponential | normal)"
        )
    n = F.col("_c_tot").cast("double")
    fn_hi = F.col("_c_run").cast("double") / n
    fn_lo = (F.col("_c_run") - F.col("_c")).cast("double") / n
    gap = F.greatest(F.abs(fn_hi - f0), F.abs(fn_lo - f0))
    agg = stepped.agg(
        F.max("_c_tot").alias("n"),
        F.max(gap).alias("_d"),
    )
    nd = F.col("n").cast("double")
    lam = F.col("_d") * (
        F.sqrt(nd) + 0.12 + 0.11 / F.sqrt(nd)
    )
    # Q(lam) = 2 sum (-1)^{k-1} exp(-2 k^2 lam^2), k = 1..100
    q = None
    for k in range(1, 101):
        term = F.exp(F.lit(-2.0 * k * k) * lam * lam)
        signed = term if k % 2 == 1 else -term
        q = signed if q is None else q + signed
    p = F.least(F.lit(1.0), F.greatest(F.lit(0.0), 2.0 * q))
    out = agg.select(
        "n",
        F.round("_d", 6).alias("d_stat"),
        F.round(p, 6).alias("p_value"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def weibull_fit_km(
    df: DataFrame,
    group_cols: list[str],
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Weibull survival fit per group via the probability-plot
    linearization of the Kaplan-Meier curve — the parametric summary
    every reliability consumer wants AFTER :func:`kaplan_meier`
    ("is the hazard rising (k>1) or is it infant mortality (k<1),
    and what's the characteristic life λ?"):

    Weibull ``S(t) = exp(−(t/λ)^k)`` linearizes as
    ``ln(−ln S) = k·ln t − k·ln λ``, so an unweighted OLS over the
    KM points with ``0 < S < 1`` and ``t > 0`` gives
    ``shape = slope`` and ``scale = exp(−intercept/slope)`` — the
    classical Weibull plot, fully closed-form (no iterative MLE, so
    the SQL twin is exact).

    Plan: the KM pipeline's cost (distinct-time windows) plus one
    per-group five-sum OLS aggregation. Output per group:
    ``(groups..., n_points, shape, scale, r_squared)``, 6dp;
    NULL fit when fewer than 2 usable points or a degenerate slope.
    """
    km = kaplan_meier(df, group_cols, duration_col, event_col)
    pts = km.where(
        (F.col("survival") > 0)
        & (F.col("survival") < 1)
        & (F.col("t") > 0)
    ).select(
        *group_cols,
        F.log(F.col("t")).alias("_x"),
        F.log(-F.log(F.col("survival"))).alias("_y"),
    )
    agg = pts.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    nd = F.col("n_points").cast("double")
    sxx = nd * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    syy = nd * F.col("_syy") - F.col("_sy") * F.col("_sy")
    sxy = nd * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    slope = F.when((F.col("n_points") > 1) & (sxx > 0), sxy / sxx)
    intercept = (F.col("_sy") - slope * F.col("_sx")) / nd
    r2 = F.when(
        (sxx > 0) & (syy > 0), sxy * sxy / (sxx * syy)
    )
    scale = F.when(
        slope.isNotNull() & (F.abs(slope) > 1e-12),
        F.exp(-intercept / slope),
    )
    return agg.select(
        *group_cols,
        "n_points",
        F.round(slope, 6).alias("shape"),
        F.round(scale, 6).alias("scale"),
        F.round(r2, 6).alias("r_squared"),
    )


def distribution_distances_1d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth mover's) and energy distances
    between two groups — the MAGNITUDE complement to the KS family's
    p-values for drift monitoring ("HOW FAR did the score
    distribution move", in the value's own units; EMD is the standard
    embedding/score drift metric):

    ``W₁ = ∫|F_a − F_b| dx = Σ_j |F_a(v_j) − F_b(v_j)|·(v_{j+1}−v_j)``
    ``E² = 2·∫(F_a − F_b)² dx``  (Székely's energy distance — in 1-D
    the Cramér form is exact)

    summed over the sorted pooled distinct values. Scale shape: the
    per-group ECDFs come from the shared distributed stepped cumsum;
    the ADJACENT value gap uses a range partition with a
    per-partition ``lead`` whose partition TAILS are stitched to the
    next partition's head through an N-row broadcast frame (N =
    parallelism) — the :func:`chatterjee_xi` discipline, no global
    sort. ECDF numerators are exact integers; each term does two
    float divisions. Output 1 row: ``(n_a, n_b, wasserstein_1,
    energy_distance)``, 6dp.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    ecdf = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    spark = df.sparkSession
    try:
        n_parts = max(
            1, int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
    except (TypeError, ValueError):
        n_parts = max(1, spark.sparkContext.defaultParallelism)
    ranged = (
        ecdf.select("_v", "_fa", "_fb", "_na", "_nb")
        .repartitionByRange(n_parts, "_v")
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranged.count()  # pin ONE set of sampled range boundaries
    w = Window.partitionBy("_pid").orderBy("_v")
    local = ranged.withColumn("_vnext", F.lead("_v").over(w))
    # partition heads: each partition's FIRST value, shifted to the
    # PREVIOUS pid — an N-row broadcast closes the seams
    heads = (
        ranged.groupBy("_pid")
        .agg(F.min("_v").alias("_vhead"))
        .select((F.col("_pid") - 1).alias("_pid"), "_vhead")
    )
    stitched = local.join(F.broadcast(heads), on="_pid", how="left")
    vnext = F.coalesce(F.col("_vnext"), F.col("_vhead"))
    gap = vnext - F.col("_v")
    dfa = F.col("_fa").cast("double") / F.col("_na").cast("double")
    dfb = F.col("_fb").cast("double") / F.col("_nb").cast("double")
    diff = dfa - dfb
    agg = stitched.agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.sum(
            F.when(vnext.isNotNull(), F.abs(diff) * gap)
        ).alias("_w1"),
        F.sum(
            F.when(vnext.isNotNull(), diff * diff * gap)
        ).alias("_e2"),
    )
    out = agg.select(
        "n_a",
        "n_b",
        F.round("_w1", 6).alias("wasserstein_1"),
        F.round(F.sqrt(2.0 * F.col("_e2")), 6).alias(
            "energy_distance"
        ),
    )
    return track_cached(
        out, ranged, *getattr(ecdf, "_padua_cached", ())
    )


def _norm_ppf_scalar(p: float) -> float:
    """Driver-side Φ⁻¹ for CI rank computation: exact well-known
    constants at the common levels, Acklam's approximation otherwise
    (matches :func:`norm_ppf_col`'s family)."""
    import math

    common = {
        0.975: 1.959963984540054,
        0.95: 1.6448536269514722,
        0.995: 2.5758293035489004,
        0.99: 2.3263478740408408,
    }
    for key, val in common.items():
        if abs(p - key) < 1e-12:
            return val
    # Acklam central region (|p-0.5| common case for CI levels)
    a = [-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00]
    b = [-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01]
    c = [-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00]
    d = [7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00]
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0]*q+c[1])*q+c[2])*q+c[3])*q+c[4])*q+c[5]) / \
            ((((d[0]*q+d[1])*q+d[2])*q+d[3])*q+1)
    if p > phigh:
        q = math.sqrt(-2 * math.log(1 - p))
        return -(((((c[0]*q+c[1])*q+c[2])*q+c[3])*q+c[4])*q+c[5]) / \
            ((((d[0]*q+d[1])*q+d[2])*q+d[3])*q+1)
    q = p - 0.5
    r = q * q
    return (((((a[0]*r+a[1])*r+a[2])*r+a[3])*r+a[4])*r+a[5])*q / \
        (((((b[0]*r+b[1])*r+b[2])*r+b[3])*r+b[4])*r+1)


# Acklam's inverse-normal-CDF rational approximation (2003; |rel err|
# < 1.15e-9 over (0,1)) — pure arithmetic with three branches, so the
# IDENTICAL expression runs on any SQL engine (the oracle twin emits
# the same coefficients) and the rank-score tests below (Fligner-
# Killeen, van der Waerden, Filliben PPCC) stay UDF-free.
_PPF_A = (-3.969683028665376e+01, 2.209460984245205e+02,
          -2.759285104469687e+02, 1.383577518672690e+02,
          -3.066479806614716e+01, 2.506628277459239e+00)
_PPF_B = (-5.447609879822406e+01, 1.615858368580409e+02,
          -1.556989798598866e+02, 6.680131188771972e+01,
          -1.328068155288572e+01)
_PPF_C = (-7.784894002430293e-03, -3.223964580411365e-01,
          -2.400758277161838e+00, -2.549732539343734e+00,
          4.374664141464968e+00, 2.938163982698783e+00)
_PPF_D = (7.784695709041462e-03, 3.224671290700398e-01,
          2.445134137142996e+00, 3.754408661907416e+00)


def norm_ppf_col(p: Column) -> Column:
    """Φ⁻¹(p) as a native column expression (Acklam's approximation).
    NULL outside (0, 1)."""
    a, b, c, d = _PPF_A, _PPF_B, _PPF_C, _PPF_D
    plow, phigh = 0.02425, 1 - 0.02425

    def _tail(q):
        # q = sqrt(-2 ln p_tail); numerator/denominator Horner
        num = (
            (((((F.lit(c[0]) * q + c[1]) * q + c[2]) * q + c[3]) * q
              + c[4]) * q + c[5])
        )
        den = (
            ((((F.lit(d[0]) * q + d[1]) * q + d[2]) * q + d[3]) * q
             + 1.0)
        )
        return num / den

    q_low = F.sqrt(-2.0 * F.log(p))
    q_high = F.sqrt(-2.0 * F.log(1.0 - p))
    r = (p - 0.5) * (p - 0.5)
    num_c = (
        (((((F.lit(a[0]) * r + a[1]) * r + a[2]) * r + a[3]) * r
          + a[4]) * r + a[5]) * (p - 0.5)
    )
    den_c = (
        (((((F.lit(b[0]) * r + b[1]) * r + b[2]) * r + b[3]) * r
          + b[4]) * r + 1.0)
    )
    return F.when(
        (p > 0) & (p < F.lit(plow)), _tail(q_low)
    ).when(
        (p >= F.lit(plow)) & (p <= F.lit(phigh)), num_c / den_c
    ).when(
        (p > F.lit(phigh)) & (p < 1), -_tail(q_high)
    )


def _group_score_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
    score_from_midrank,
    center_scores: bool,
    stat_name: str,
):
    """Shared k-group normal-scores machinery (Fligner-Killeen / van
    der Waerden): pooled midranks from ONE distributed stepped cumsum
    with per-group conditional counts, score transform via the native
    Acklam Φ⁻¹, then the score-ANOVA statistic

    ``T = Σ_g n_g·(Ā_g − ā)² / s²`` (ā = 0 and uncentered s² when
    ``center_scores`` is False — the van der Waerden convention).
    """
    from padua_spark.functions.distributions import chi2_sf_udf
    from padua_spark.io_utils import track_cached

    g = len(groups)
    cols, stepped = _pooled_group_counts(
        df, group_col, value_col, groups, True
    )
    n_tot = F.col("_ct_tot").cast("double")
    midrank = _doubled_midrank("_ct").cast("double") / 2.0
    score = score_from_midrank(midrank, n_tot)
    staged = stepped.withColumn("_a", score)
    agg = staged.agg(
        F.max("_ct_tot").alias("n_total"),
        F.sum(F.col("_ct").cast("double") * F.col("_a")).alias("_sa"),
        F.sum(
            F.col("_ct").cast("double") * F.col("_a") * F.col("_a")
        ).alias("_saa"),
        *[
            F.sum(F.col(c).cast("double") * F.col("_a")).alias(
                f"_s{i}"
            )
            for i, c in enumerate(cols)
        ],
        *[F.max(f"{c}_tot").alias(f"_n{i}") for i, c in enumerate(cols)],
    )
    nd = F.col("n_total").cast("double")
    abar = (F.col("_sa") / nd) if center_scores else F.lit(0.0)
    if center_scores:
        s2 = (F.col("_saa") - F.col("_sa") * F.col("_sa") / nd) / (
            nd - 1.0
        )
    else:
        s2 = F.col("_saa") / (nd - 1.0)
    num = None
    for i in range(g):
        ni = F.col(f"_n{i}").cast("double")
        gbar = F.col(f"_s{i}") / ni
        term = ni * (gbar - abar) * (gbar - abar)
        num = term if num is None else num + term
    stat = F.when((nd > 1) & (s2 > 0), num / s2)
    staged2 = agg.select(
        "n_total",
        F.lit(g).cast("long").alias("k_groups"),
        F.round(stat, 6).alias(stat_name),
        F.when(F.lit(g >= 2), F.lit(float(g - 1))).alias("dfree"),
        stat.alias("_raw"),
    )
    out = staged2.select(
        "n_total", "k_groups", stat_name, "dfree",
        F.round(
            chi2_sf_udf(F.col("_raw"), F.col("dfree")), 6
        ).alias("p_value"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def van_der_waerden(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
) -> DataFrame:
    """Van der Waerden normal-scores k-group test — Kruskal-Wallis's
    power upgraded back to ANOVA efficiency under normality (scores
    ``a_i = Φ⁻¹(r_i/(N+1))`` make the rank test asymptotically as
    efficient as the F-test when the data really are Gaussian, while
    keeping rank robustness): ``T = Σ n_g Ā_g² / s²`` with
    ``s² = Σa²/(N−1)`` (the classical uncentered convention —
    midrank score sums are only asymptotically 0 under ties),
    χ²(k−1). One stepped-cumsum pass, scores via the native Acklam
    Φ⁻¹ — no UDF before the final p. Output 1 row: ``(n_total,
    k_groups, vdw_stat, dfree, p_value)``, 6dp.
    """
    return _group_score_test(
        df, group_col, value_col, groups,
        lambda r, n: norm_ppf_col(r / (n + 1.0)),
        center_scores=False,
        stat_name="vdw_stat",
    )


def fligner_killeen(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
) -> DataFrame:
    """Fligner-Killeen test of homogeneity of variances — the
    MOST ROBUST of the classical scale tests to non-normality
    (scipy's recommendation over Bartlett/Levene for heavy tails):
    rank the pooled ``|x − median_g|``, transform to half-normal
    scores ``a_i = Φ⁻¹(½ + r_i/(2(N+1)))``, then the centered
    score-ANOVA statistic χ²(k−1).

    Plan: exact per-group medians
    (:func:`~padua_spark.operators.normalization.group_medians` —
    DuckDB-identical interpolation) broadcast back, ONE stepped-
    cumsum pass over pooled |deviation| values with per-group
    conditional counts, scores via the native Acklam Φ⁻¹. Output 1
    row: ``(n_total, k_groups, fk_stat, dfree, p_value)``, 6dp.
    """
    from padua_spark.operators.normalization import group_medians

    v = F.col(value_col).cast("double")
    base = df.where(
        F.col(group_col).isin(list(groups)) & v.isNotNull()
    ).select(F.col(group_col).alias("_g"), v.alias("_x"))
    meds = group_medians(
        base, ["_g"], F.col("_x"), "_med"
    )
    dev = base.join(F.broadcast(meds), on="_g").select(
        F.col("_g"),
        F.abs(F.col("_x") - F.col("_med")).alias("_z"),
    )
    return _group_score_test(
        dev, "_g", "_z", list(groups),
        lambda r, n: norm_ppf_col(
            F.lit(0.5) + r / (2.0 * (n + 1.0))
        ),
        center_scores=True,
        stat_name="fk_stat",
    )


def normality_ppcc(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Filliben probability-plot correlation test of normality
    (1975) — the visual QQ-plot judgment made numeric: the Pearson
    correlation between the data and the normal order-statistic
    medians; r near 1 means the QQ plot is straight. Complements the
    moment battery (:func:`moments_normality` reacts to skew/
    kurtosis; PPCC reacts to ANY curvature):

    plotting positions from the midranks,
    ``p_i = (r_i − 0.3175)/(n + 0.365)`` (the endpoint-median
    variants collapse into the midrank form under ties — documented
    approximation), ``m_i = Φ⁻¹(p_i)`` via the native Acklam
    expression, and

    ``ppcc = corr(x, m)``  (count-weighted over distinct values —
    exact numerators from one stepped-cumsum pass).

    Output 1 row: ``(n, ppcc, shapiro_francia_w)`` (W' = ppcc², the
    Shapiro-Francia statistic), 6dp; NULL on constant data.
    """
    from padua_spark.io_utils import track_cached

    v = F.col(value_col).cast("double")
    per = (
        df.where(v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    n = F.col("_c_tot").cast("double")
    midrank = _doubled_midrank("_c").cast("double") / 2.0
    m = norm_ppf_col((midrank - 0.3175) / (n + 0.365))
    c = F.col("_c").cast("double")
    x = F.col("_v")
    staged = stepped.withColumn("_m", m)
    agg = staged.agg(
        F.max("_c_tot").alias("n"),
        F.sum(c * x).alias("_sx"),
        F.sum(c * F.col("_m")).alias("_sm"),
        F.sum(c * x * x).alias("_sxx"),
        F.sum(c * F.col("_m") * F.col("_m")).alias("_smm"),
        F.sum(c * x * F.col("_m")).alias("_sxm"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("_sxm") - F.col("_sx") * F.col("_sm")
    den = F.sqrt(
        (nd * F.col("_sxx") - F.col("_sx") * F.col("_sx"))
        * (nd * F.col("_smm") - F.col("_sm") * F.col("_sm"))
    )
    r = F.when(den > 0, num / den)
    out = agg.select(
        "n",
        F.round(r, 6).alias("ppcc"),
        F.round(r * r, 6).alias("shapiro_francia_w"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def _moment_frame(
    df: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Shared per-group raw-moment aggregation for the moment-based
    normality tests (:func:`jarque_bera`, :func:`dagostino_k2`): ONE
    map-side-combined aggregation to ``(n, Σx, Σx², Σx³, Σx⁴)``, then
    the central moments ``m2, m3, m4`` by the standard raw→central
    expansion. For integer-valued columns with ``Σx⁴ < 2⁵³`` (event
    counts, quantities, cents) every sum is EXACT in doubles, so both
    engines produce bit-identical statistics regardless of summation
    order."""
    v = F.col(value_col).cast("double")
    agg = df.where(v.isNotNull()).groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).alias("_s1"),
        F.sum(v * v).alias("_s2"),
        F.sum(v * v * v).alias("_s3"),
        F.sum(v * v * v * v).alias("_s4"),
    )
    nd = F.col("n").cast("double")
    m = F.col("_s1") / nd
    m2 = F.col("_s2") / nd - m * m
    m3 = F.col("_s3") / nd - 3.0 * m * F.col("_s2") / nd + 2.0 * m * m * m
    m4 = (
        F.col("_s4") / nd
        - 4.0 * m * F.col("_s3") / nd
        + 6.0 * m * m * F.col("_s2") / nd
        - 3.0 * m * m * m * m
    )
    return agg.select(
        *group_cols, "n",
        m.alias("_m"), m2.alias("_m2"),
        m3.alias("_m3"), m4.alias("_m4"),
    )


def jarque_bera(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Jarque–Bera normality test per group — the moments-only
    normality check (does skewness ≈ 0 and kurtosis ≈ 3 hold?), the
    cheap large-n companion to :func:`normality_ppcc` (which needs a
    rank pass; JB is ONE aggregation, no sort, no join):

    ``g1 = m3/m2^{3/2}``, ``g2 = m4/m2²``,
    ``JB = n/6·(g1² + (g2−3)²/4)``, ``p = exp(−JB/2)``
    (the χ²₂ survival function in closed form — no special function).

    Scale shape: one map-side-combined aggregation over the fact
    table; everything after is scalar arithmetic on the per-group
    row. Output: ``(groups…, n, skewness, kurtosis, jb_stat,
    p_value)``, 6dp; NULL stats when n < 2 or the variance is 0.

    Beyond the reference (padua's stats stop at t/ANOVA,
    analysis.py); standard per Jarque & Bera 1987, matching
    scipy.stats.jarque_bera (which uses population moments, as here).
    """
    mf = _moment_frame(df, group_cols, value_col)
    ok = (F.col("n") >= 2) & (F.col("_m2") > 0)
    g1 = F.col("_m3") / F.pow(F.col("_m2"), 1.5)
    g2 = F.col("_m4") / (F.col("_m2") * F.col("_m2"))
    nd = F.col("n").cast("double")
    jb = nd / 6.0 * (g1 * g1 + (g2 - 3.0) * (g2 - 3.0) / 4.0)
    return mf.select(
        *group_cols, "n",
        F.round(F.when(ok, g1), 6).alias("skewness"),
        F.round(F.when(ok, g2), 6).alias("kurtosis"),
        F.round(F.when(ok, jb), 6).alias("jb_stat"),
        F.round(F.when(ok, F.exp(-jb / 2.0)), 6).alias("p_value"),
    )


def dagostino_k2(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """D'Agostino–Pearson K² omnibus normality test per group — the
    finite-sample-corrected upgrade of :func:`jarque_bera`
    (scipy.stats.normaltest): the skewness and kurtosis are each
    transformed to approximate standard normal Z's with their exact
    small-n moment corrections, then ``K² = Z₁² + Z₂²``,
    ``p = exp(−K²/2)``.

    Z₁ is D'Agostino 1970's skewness transform (the Johnson SU fit:
    ``Z₁ = δ·asinh(Y/α)``), Z₂ is Anscombe–Glynn 1983's kurtosis
    transform (cube-root Wilson–Hilferty of the standardized b₂) —
    the same formulas, in the same order, as scipy's
    skewtest/kurtosistest, so values match to float precision. Same
    ONE-aggregation plan as :func:`jarque_bera`. Output: ``(groups…,
    n, z_skew, z_kurt, k2_stat, p_value)``, 6dp; ``z_skew`` NULL when
    n < 8, ``z_kurt`` NULL when n < 5 (scipy's hard minimums), K²/p
    NULL unless both legs are defined.
    """
    mf = _moment_frame(df, group_cols, value_col)
    nd = F.col("n").cast("double")
    ok = F.col("_m2") > 0
    b1 = F.col("_m3") / F.pow(F.col("_m2"), 1.5)
    # --- skewtest (D'Agostino 1970) ---
    y = b1 * F.sqrt((nd + 1.0) * (nd + 3.0) / (6.0 * (nd - 2.0)))
    beta2 = (
        3.0 * (nd * nd + 27.0 * nd - 70.0) * (nd + 1.0) * (nd + 3.0)
        / ((nd - 2.0) * (nd + 5.0) * (nd + 7.0) * (nd + 9.0))
    )
    w2 = -1.0 + F.sqrt(2.0 * (beta2 - 1.0))
    delta = 1.0 / F.sqrt(0.5 * F.log(w2))
    alpha = F.sqrt(2.0 / (w2 - 1.0))
    y = F.when(y == 0.0, F.lit(1.0)).otherwise(y)
    ya = y / alpha
    z1 = F.when(
        (F.col("n") >= 8) & ok,
        delta * F.log(ya + F.sqrt(ya * ya + 1.0)),
    )
    # --- kurtosistest (Anscombe & Glynn 1983) ---
    b2 = F.col("_m4") / (F.col("_m2") * F.col("_m2"))
    eb2 = 3.0 * (nd - 1.0) / (nd + 1.0)
    vb2 = (
        24.0 * nd * (nd - 2.0) * (nd - 3.0)
        / ((nd + 1.0) * (nd + 1.0) * (nd + 3.0) * (nd + 5.0))
    )
    x = (b2 - eb2) / F.sqrt(vb2)
    sb1 = (
        6.0 * (nd * nd - 5.0 * nd + 2.0) / ((nd + 7.0) * (nd + 9.0))
        * F.sqrt(
            6.0 * (nd + 3.0) * (nd + 5.0)
            / (nd * (nd - 2.0) * (nd - 3.0))
        )
    )
    a = 6.0 + 8.0 / sb1 * (
        2.0 / sb1 + F.sqrt(1.0 + 4.0 / (sb1 * sb1))
    )
    term1 = 1.0 - 2.0 / (9.0 * a)
    denom = 1.0 + x * F.sqrt(2.0 / (a - 4.0))
    term2 = F.when(denom == 0.0, F.lit(None).cast("double")).otherwise(
        F.signum(denom)
        * F.pow((1.0 - 2.0 / a) / F.abs(denom), 1.0 / 3.0)
    )
    z2 = F.when(
        (F.col("n") >= 5) & ok,
        (term1 - term2) / F.sqrt(2.0 / (9.0 * a)),
    )
    staged = mf.withColumn("_z1", z1).withColumn("_z2", z2)
    k2 = (
        F.col("_z1") * F.col("_z1") + F.col("_z2") * F.col("_z2")
    )
    return staged.select(
        *group_cols, "n",
        F.round("_z1", 6).alias("z_skew"),
        F.round("_z2", 6).alias("z_kurt"),
        F.round(k2, 6).alias("k2_stat"),
        F.round(F.exp(-k2 / 2.0), 6).alias("p_value"),
    )


def durbin_watson(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
    demean: bool = True,
) -> DataFrame:
    """Durbin–Watson first-order autocorrelation statistic per group:
    ``DW = Σ_{t≥2}(e_t − e_{t−1})² / Σ e_t²`` over the series ordered
    by ``order_cols`` — the classic residual-independence diagnostic
    (DW ≈ 2 independent, → 0 positive autocorrelation, → 4
    negative). With ``demean=True`` residuals are taken against the
    group mean (DW on raw values from a constant-mean model);
    pass False when ``value_col`` already holds regression residuals.

    Scale shape: ONE shuffle on the group key (the lag window), one
    aggregation, no driver work — and NO mean pass at all: the
    demeaning is algebraic (the constant cancels in the successive
    differences, and ``Σe² = Σv² − (Σv)²/n``), so for integer-valued
    series every sum is exact and both engines agree bit-for-bit.
    Per-group state is the ordered partition (the bounded-key caveat
    of every per-key ordering). Output: ``(groups…, n, dw)``, 6dp; NULL
    when n < 2 or the residual sum of squares is 0.

    Beyond the reference; standard per Durbin & Watson 1950, matching
    statsmodels.stats.stattools.durbin_watson on the demeaned series.
    """
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(
        *group_cols, *order_cols, v.alias("_v")
    )
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    d = F.col("_v") - F.lag("_v").over(w)
    staged = base.select(*group_cols, "_v", d.alias("_d"))
    agg = staged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_v").alias("_s1"),
        F.sum(F.col("_v") * F.col("_v")).alias("_s2"),
        F.sum(F.col("_d") * F.col("_d")).alias("_ssd"),
    )
    nd = F.col("n").cast("double")
    sse = F.col("_s2") - (
        F.col("_s1") * F.col("_s1") / nd if demean else F.lit(0.0)
    )
    ok = (F.col("n") >= 2) & (sse > 0)
    return agg.select(
        *group_cols, "n",
        F.round(
            F.when(ok, F.col("_ssd") / sse), 6
        ).alias("dw"),
    )


def runs_test(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Wald–Wolfowitz runs test per group — is the sequence random?
    The order-sensitive complement to the distributional tests: a
    series can pass every normality check and still alternate or
    cluster (a feed flapping between sources, a sensor oscillating).

    Values are dichotomized ABOVE/BELOW the group's exact median
    (ties AT the median dropped — the standard convention), the
    ordered sign sequence's run count ``R`` is compared to its
    randomness null:

    ``μ = 2·n₁·n₂/(n₁+n₂) + 1``,
    ``σ² = 2n₁n₂(2n₁n₂ − n₁ − n₂) / ((n₁+n₂)²(n₁+n₂−1))``,
    ``z = (R − μ)/σ``, two-sided normal p.

    Scale shape: exact medians via the shared sort-based
    :func:`~padua_spark.operators.normalization.group_medians`
    (one exchange of a two-column projection), one window pass for
    the run boundaries riding a single group shuffle, one small
    aggregation. Output: ``(groups…, n1_above, n2_below, n_runs, z,
    p_value)``, 6dp; z/p NULL when either side is empty or σ = 0.

    Beyond the reference; standard per Wald & Wolfowitz 1940.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached
    from padua_spark.operators.normalization import group_medians

    v = F.col(value_col).cast("double")
    # three independent consumers (median pass, the sign join, the
    # group-key universe) — persist so the filtered scan runs once
    # instead of once per branch
    base = (
        df.where(v.isNotNull())
        .select(*group_cols, *order_cols, v.alias("_v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    med = group_medians(base, list(group_cols), F.col("_v"), "_med")
    signed = (
        base.join(med, on=list(group_cols))
        .where(F.col("_v") != F.col("_med"))
        .select(
            *group_cols,
            *order_cols,
            (F.col("_v") > F.col("_med")).cast("int").alias("_s"),
        )
    )
    w = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    flagged = signed.select(
        *group_cols,
        "_s",
        F.when(
            F.lag("_s").over(w).isNull()
            | (F.lag("_s").over(w) != F.col("_s")),
            1,
        ).otherwise(0).alias("_new_run"),
    )
    agg = flagged.groupBy(*group_cols).agg(
        F.sum("_s").cast("bigint").alias("n1_above"),
        F.sum(1 - F.col("_s")).cast("bigint").alias("n2_below"),
        F.sum("_new_run").cast("bigint").alias("n_runs"),
    )
    # groups whose every value ties the median have no surviving rows
    # — keep them (zero counts, NULL z/p) so callers joining back on
    # the group never lose keys
    all_groups = base.select(*group_cols).distinct()
    agg = all_groups.join(agg, on=list(group_cols), how="left").select(
        *group_cols,
        F.coalesce("n1_above", F.lit(0)).alias("n1_above"),
        F.coalesce("n2_below", F.lit(0)).alias("n2_below"),
        F.coalesce("n_runs", F.lit(0)).alias("n_runs"),
    )
    n1 = F.col("n1_above").cast("double")
    n2 = F.col("n2_below").cast("double")
    nn = n1 + n2
    mu = 2.0 * n1 * n2 / nn + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / (nn * nn * (nn - 1.0))
    )
    z = F.when(
        (F.col("n1_above") > 0) & (F.col("n2_below") > 0) & (var > 0),
        (F.col("n_runs").cast("double") - mu) / F.sqrt(var),
    )
    staged = agg.withColumn("_z", z)
    out = staged.select(
        *group_cols, "n1_above", "n2_below", "n_runs",
        F.round("_z", 6).alias("z"),
        F.round(
            F.when(
                F.col("_z").isNotNull(),
                _normal_sf_2sided(F.col("_z")),
            ),
            6,
        ).alias("p_value"),
    )
    return track_cached(out, base)


def sign_test(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_support: int = 200_000,
) -> DataFrame:
    """Paired sign test — the assumption-free paired comparison (no
    symmetry requirement, unlike Wilcoxon signed-rank): under H0 the
    sign of ``x − y`` is a fair coin, so ``n⁺ ~ Bin(n⁺+n⁻, ½)``
    exactly (ties dropped, the standard convention). ONE aggregation
    to the exact sign counts, then — when the non-tied count is at
    most ``max_support`` — the shared bounded JVM binomial tail fold
    (:func:`_binom_exact_pvalues` — the same point-probability
    two-sided rule as :func:`binom_test_exact`, which at p₀ = ½
    equals the classic doubled-min-tail by symmetry). ABOVE
    ``max_support`` the exact fold is the wrong regime (millions of
    pmf terms for a p the CLT already nails), so the test switches
    in-plan to the continuity-corrected normal approximation
    ``z = (|2·n⁺ − n| − 1)/√n`` (clamped at 0), two-sided p via the
    shared A&S-erfc polynomial — the fold's support array is clamped
    to one element in that branch, so the big-n path does no binomial
    work at all. ``method`` reports which branch produced the p.

    Output 1 row: ``(n_pos, n_neg, n_tie, method, p_value)``, p 6dp;
    method ``exact``/``normal``; p 1.0 when there are no non-tied
    pairs. Pass ``max_support=None`` to force the exact fold at any
    size (bounded-memory but O(n) pmf terms per row — deliberate).

    Beyond the reference; standard (Arbuthnott 1710, the oldest
    significance test there is; normal fallback per the classic
    large-sample treatment, e.g. Conover 1999 §3.4).
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull())
    agg = base.agg(
        F.sum((x > y).cast("int")).cast("bigint").alias("n_pos"),
        F.sum((x < y).cast("int")).cast("bigint").alias("n_neg"),
        F.sum((x == y).cast("int")).cast("bigint").alias("n_tie"),
    )
    nd = F.col("n_pos") + F.col("n_neg")
    if max_support is None:
        is_exact = F.lit(True)
    else:
        is_exact = nd <= F.lit(int(max_support))
    # Clamp the fold's support to 1 term in the normal regime so the
    # big-n branch never materializes a data-sized sequence(0, n).
    staged0 = agg.withColumn("_ndr", nd).withColumn(
        "_exact", is_exact
    ).withColumn(
        "_nd", F.when(F.col("_exact"), nd).otherwise(F.lit(0))
    ).withColumn(
        "_k",
        F.when(F.col("_exact"), F.col("n_pos")).otherwise(F.lit(0)),
    ).withColumn("_half", F.lit(0.5))
    staged, _pl, _pr, pt = _binom_exact_pvalues(
        staged0, "_nd", "_k", "_half", None
    )
    ndd = F.col("_ndr").cast("double")
    z = F.greatest(
        F.lit(0.0),
        F.abs(2.0 * F.col("n_pos").cast("double") - ndd) - F.lit(1.0),
    ) / F.sqrt(ndd)
    p = F.when(F.col("_ndr") <= 0, F.lit(1.0)).when(
        F.col("_exact"), F.least(pt, F.lit(1.0))
    ).otherwise(F.least(_normal_sf_2sided(z), F.lit(1.0)))
    return staged.select(
        "n_pos", "n_neg", "n_tie",
        F.when(F.col("_exact"), F.lit("exact"))
        .otherwise(F.lit("normal")).alias("method"),
        F.round(p, 6).alias("p_value"),
    )


def ordinal_association(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_levels: int = 10_000,
) -> DataFrame:
    """Goodman–Kruskal gamma and Somers' D for two ORDINAL columns —
    the concordance measures behind "does quality score track human
    rating?" when both sides are ordered categories (star ratings,
    Likert scales, binned scores). Complements :func:`kendall_tau_b`
    (same C/D core, different tie handling):

    ``γ = (C−D)/(C+D)`` (ignores all ties),
    ``D_{y|x} = (C−D)/(n₀−T_x)`` and ``D_{x|y} = (C−D)/(n₀−T_y)``
    (asymmetric: penalized by ties on the predictor only), with
    ``n₀ = n(n−1)/2`` and ``T_x = Σ_r r(r−1)/2`` over level totals.

    Scale shape: pairs are NEVER enumerated — one aggregation to the
    (x-level × y-level) CONTINGENCY CELLS, then C and D are cell-pair
    sums over the bounded cells frame (|levels_x|·|levels_y| rows; a
    deliberate tiny-side cross join, guarded by ``max_levels`` —
    raises when the cell count exceeds it, because cells² is the
    cost). Every count is an exact integer summed as decimal(38,0),
    so both engines agree bit-for-bit. Output 1 row: ``(n,
    concordant, discordant, gamma, somers_d_yx, somers_d_xy)``, 6dp;
    NULL measures where their denominator is 0.

    Beyond the reference; standard per Goodman & Kruskal 1954 /
    Somers 1962.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    x = F.col(x_col)
    y = F.col(y_col)
    cells = (
        df.where(x.isNotNull() & y.isNotNull())
        .groupBy(x.alias("_x"), y.alias("_y"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_cells = cells.count()
    if max_levels is not None and n_cells > max_levels:
        raise ValueError(
            f"ordinal_association: {n_cells} contingency cells "
            f"exceed max_levels={max_levels}; the cell-pair sums are "
            "O(cells²) — bin the columns first (these are ORDINAL "
            "measures; near-continuous inputs belong in "
            "kendall_tau_b/spearman_rho), or pass max_levels=None "
            "to override deliberately."
        )
    dec = "decimal(38,0)"
    a = cells.select(
        F.col("_x").alias("_xa"), F.col("_y").alias("_ya"),
        F.col("_c").alias("_ca"),
    )
    b = cells.select(
        F.col("_x").alias("_xb"), F.col("_y").alias("_yb"),
        F.col("_c").alias("_cb"),
    )
    prod = (F.col("_ca") * F.col("_cb")).cast(dec)
    cd = (
        a.join(F.broadcast(b), F.col("_xb") > F.col("_xa"))
        .agg(
            F.sum(
                F.when(F.col("_yb") > F.col("_ya"), prod)
            ).alias("_c_sum"),
            F.sum(
                F.when(F.col("_yb") < F.col("_ya"), prod)
            ).alias("_d_sum"),
        )
        .withColumn("_one", F.lit(1))
    )
    cdec = F.col("_c").cast(dec)
    ties = cells.agg(
        F.sum("_c").cast(dec).alias("_n"),
        F.sum(cdec * cdec).alias("_scc"),
    ).withColumn("_one", F.lit(1))
    tx = (
        cells.groupBy("_x").agg(F.sum("_c").cast(dec).alias("_r"))
        .agg(F.sum(F.col("_r") * F.col("_r")).alias("_sxx"))
        .withColumn("_one", F.lit(1))
    )
    ty = (
        cells.groupBy("_y").agg(F.sum("_c").cast(dec).alias("_r"))
        .agg(F.sum(F.col("_r") * F.col("_r")).alias("_syy"))
        .withColumn("_one", F.lit(1))
    )
    j = (
        cd.join(F.broadcast(ties), on="_one")
        .join(F.broadcast(tx), on="_one")
        .join(F.broadcast(ty), on="_one")
    )
    cs = F.coalesce(F.col("_c_sum"), F.lit(0).cast(dec)).cast("double")
    ds = F.coalesce(F.col("_d_sum"), F.lit(0).cast(dec)).cast("double")
    nd = F.col("_n").cast("double")
    n0 = nd * (nd - 1.0) / 2.0
    # T_x = Σ r(r−1)/2 = (Σr² − n)/2, same for y
    t_x = (F.col("_sxx").cast("double") - nd) / 2.0
    t_y = (F.col("_syy").cast("double") - nd) / 2.0
    gamma = F.when(cs + ds > 0, (cs - ds) / (cs + ds))
    d_yx = F.when(n0 - t_x > 0, (cs - ds) / (n0 - t_x))
    d_xy = F.when(n0 - t_y > 0, (cs - ds) / (n0 - t_y))
    out = j.select(
        F.col("_n").cast("bigint").alias("n"),
        F.col("_c_sum").cast("bigint").alias("concordant"),
        F.col("_d_sum").cast("bigint").alias("discordant"),
        F.round(gamma, 6).alias("gamma"),
        F.round(d_yx, 6).alias("somers_d_yx"),
        F.round(d_xy, 6).alias("somers_d_xy"),
    )
    return track_cached(out, cells)


def cuzick_trend(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
    scores: list | None = None,
) -> DataFrame:
    """Cuzick's nonparametric test for TREND across ordered groups
    (Cuzick 1985; Stata's ``nptrend``) — the ordered-alternative
    companion to :func:`kruskal_wallis_stats` (KW asks "any
    difference?"; Cuzick asks "does location INCREASE along the dose
    order?" — the right question for dose-response and staged
    rollouts):

    with pooled midranks, group scores ``z_g`` (default 1..k in the
    given group order) and rank sums ``R_g``:
    ``L = Σ z_g R_g``, ``E(L) = (N+1)/2·Σ z_g n_g``,
    ``Var(L) = (N+1)/12·[N·Σ z_g² n_g − (Σ z_g n_g)²] · c_tie``
    with the Kruskal tie factor ``c_tie = 1 − Σ(t³−t)/(N³−N)``;
    two-sided normal p on ``(L − E)/√Var``.

    Scaffolding is :func:`_pooled_rank_sums`: ONE per-value
    aggregation with per-group counts, ONE stepped-cumsum pass;
    doubled midranks make
    ``2L`` and ``2E(L)`` exact integers for integer scores. Output 1
    row: ``(n_total, k_groups, l_stat, z, p_value)``, 6dp.
    """
    from padua_spark.io_utils import track_cached

    if scores is None:
        scores = list(range(1, len(groups) + 1))
    if len(scores) != len(groups):
        raise ValueError("cuzick_trend: scores must match groups")
    agg, n_total, cached = _pooled_rank_sums(
        df, group_col, value_col, groups, "_tie"
    )
    nd = n_total.cast("double")

    def dot(weights, prefix):
        terms = [
            F.lit(w) * F.col(f"{prefix}{i}") for i, w in enumerate(weights)
        ]
        return sum(terms[1:], terms[0])

    ints = [int(sc) for sc in scores]
    two_l = dot(ints, "_2r")
    szn = dot(ints, "_n")
    szzn = dot([sc * sc for sc in ints], "_n")
    two_e = (nd + 1.0) * szn.cast("double")
    c_tie = F.lit(1.0) - F.col("_tie").cast("double") / (
        nd * nd * nd - nd
    )
    var_l = (
        (nd + 1.0) / 12.0
        * (
            nd * szzn.cast("double")
            - szn.cast("double") * szn.cast("double")
        )
        * c_tie
    )
    z = F.when(
        var_l > 0,
        (two_l.cast("double") - two_e) / (2.0 * F.sqrt(var_l)),
    )
    staged = agg.withColumn("_z", z).withColumn(
        "_l", two_l.cast("double") / 2.0
    ).withColumn("_nt", n_total)
    out = staged.select(
        F.col("_nt").alias("n_total"),
        F.lit(len(groups)).cast("long").alias("k_groups"),
        F.round("_l", 6).alias("l_stat"),
        F.round("_z", 6).alias("z"),
        F.round(
            F.when(
                F.col("_z").isNotNull(),
                _normal_sf_2sided(F.col("_z")),
            ),
            6,
        ).alias("p_value"),
    )
    return track_cached(out, *cached)


def tost_equivalence(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    low: float,
    high: float,
) -> DataFrame:
    """TOST equivalence test (two one-sided Welch t-tests) — the
    correct way to conclude "these two variants are the SAME within
    ±δ" (a non-significant t-test is NOT evidence of equivalence;
    Schuirmann 1987): reject non-equivalence when BOTH
    ``H0⁻: μ_a−μ_b ≤ low`` and ``H0⁺: μ_a−μ_b ≥ high`` reject, so
    ``p_tost = max(p_lower, p_upper)``.

    ONE conditional aggregation to exact per-group sums, Welch SE and
    Satterthwaite df in closed form, one-sided p's via the shared
    Arrow-batched incomplete beta (``student_t_sf`` is two-sided:
    upper-tail = half/reflected). Output 1 row: ``(n_a, n_b,
    mean_diff, se, df, t_lower, t_upper, p_lower, p_upper,
    p_tost)``, 6dp; NULL when a group has n < 2 or zero variance SE.
    """
    from padua_spark.functions.distributions import t_sf_udf

    if not low < high:
        raise ValueError("tost_equivalence: need low < high")
    v = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = df.where(v.isNotNull() & g.isin([group_a, group_b]))
    agg = base.agg(
        F.count(F.when(g == group_a, 1)).cast("bigint").alias("n_a"),
        F.count(F.when(g == group_b, 1)).cast("bigint").alias("n_b"),
        F.sum(F.when(g == group_a, v)).alias("_sa"),
        F.sum(F.when(g == group_b, v)).alias("_sb"),
        F.sum(F.when(g == group_a, v * v)).alias("_ssa"),
        F.sum(F.when(g == group_b, v * v)).alias("_ssb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("_sa") / na
    mb = F.col("_sb") / nb
    va = (F.col("_ssa") - na * ma * ma) / (na - 1.0)
    vb = (F.col("_ssb") - nb * mb * mb) / (nb - 1.0)
    se2 = va / na + vb / nb
    dfree = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1.0)
        + (vb / nb) * (vb / nb) / (nb - 1.0)
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2) & (se2 > 0)
    d = ma - mb
    se = F.sqrt(se2)
    t_l = F.when(ok, (d - F.lit(float(low))) / se)
    t_u = F.when(ok, (d - F.lit(float(high))) / se)
    staged = (
        agg.withColumn("_d", d)
        .withColumn("_se", F.when(ok, se))
        .withColumn("_df", F.when(ok, dfree))
        .withColumn("_tl", t_l)
        .withColumn("_tu", t_u)
    )
    # student_t_sf is TWO-sided: upper-tail P(T >= t) is half of it
    # for t >= 0 and the reflected complement for t < 0
    p2l = t_sf_udf(F.col("_tl"), F.col("_df"))
    p2u = t_sf_udf(F.col("_tu"), F.col("_df"))
    staged = staged.withColumn(
        "_pl",
        F.when(
            F.col("_tl").isNotNull(),
            F.when(F.col("_tl") >= 0, p2l / 2.0).otherwise(
                1.0 - p2l / 2.0
            ),
        ),
    ).withColumn(
        "_pu",
        F.when(
            F.col("_tu").isNotNull(),
            F.when(F.col("_tu") <= 0, p2u / 2.0).otherwise(
                1.0 - p2u / 2.0
            ),
        ),
    )
    return staged.select(
        "n_a", "n_b",
        F.round("_d", 6).alias("mean_diff"),
        F.round("_se", 6).alias("se"),
        F.round("_df", 6).alias("df"),
        F.round("_tl", 6).alias("t_lower"),
        F.round("_tu", 6).alias("t_upper"),
        F.round("_pl", 6).alias("p_lower"),
        F.round("_pu", 6).alias("p_upper"),
        F.round(F.greatest(F.col("_pl"), F.col("_pu")), 6).alias(
            "p_tost"
        ),
    )


def process_capability(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    lsl: float,
    usl: float,
) -> DataFrame:
    """Process capability indices per group — the SPC acceptance
    numbers for "does this pipeline stage stay inside its spec
    limits": ``Cp = (USL−LSL)/6s`` (potential),
    ``Cpu = (USL−x̄)/3s``, ``Cpl = (x̄−LSL)/3s``,
    ``Cpk = min(Cpu, Cpl)`` (realized, centering-penalized), with the
    sample (n−1) standard deviation.

    ONE map-side-combined aggregation to exact sums (integer-valued
    columns are engine-exact). Output: ``(groups…, n, mean, sd, cp,
    cpl, cpu, cpk)``, 6dp; indices NULL when n < 2 or s = 0.

    Beyond the reference; standard per Montgomery, *Introduction to
    Statistical Quality Control*.
    """
    if not lsl < usl:
        raise ValueError("process_capability: need lsl < usl")
    v = F.col(value_col).cast("double")
    agg = df.where(v.isNotNull()).groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).alias("_s1"),
        F.sum(v * v).alias("_s2"),
    )
    nd = F.col("n").cast("double")
    m = F.col("_s1") / nd
    var = (F.col("_s2") - nd * m * m) / (nd - 1.0)
    sd = F.sqrt(var)
    ok = (F.col("n") >= 2) & (var > 0)
    cpu = (F.lit(float(usl)) - m) / (3.0 * sd)
    cpl = (m - F.lit(float(lsl))) / (3.0 * sd)
    return agg.select(
        *group_cols, "n",
        F.round(m, 6).alias("mean"),
        F.round(F.when(ok, sd), 6).alias("sd"),
        F.round(
            F.when(ok, F.lit(float(usl) - float(lsl)) / (6.0 * sd)),
            6,
        ).alias("cp"),
        F.round(F.when(ok, cpl), 6).alias("cpl"),
        F.round(F.when(ok, cpu), 6).alias("cpu"),
        F.round(F.when(ok, F.least(cpl, cpu)), 6).alias("cpk"),
    )


def grubbs_test(
    df: DataFrame,
    value_col: str,
    side: str = "two-sided",
) -> DataFrame:
    """Grubbs' maximum-normed-residual outlier test — "is the most
    extreme point a statistical outlier?" for a roughly normal batch
    (the formal version of the 3-sigma eyeball):

    ``G = max(x̄ − min x, max x − x̄) / s``; the p-value converts G
    to its t form ``t² = n(n−2)G² / ((n−1)² − nG²)`` and applies the
    Bonferroni-exact bound (the standard Grubbs critical-value
    relation, inverted). The statistic is the max of BOTH tails, so
    the default ``side="two-sided"`` uses the NIST two-sided
    convention ``p = min(1, 2n·P(T_{n−2} ≥ t))``; pass
    ``side="one-sided"`` for the one-sided multiplier
    ``min(1, n·P(T ≥ t))`` (the R `outliers`-style convention, which
    is only calibrated when the suspect TAIL was fixed in advance).
    The extreme side is reported so the caller knows WHICH tail.

    ONE aggregation (max/min/exact sums — no second pass: the max
    deviation from the mean is always attained at an extreme).
    Output 1 row: ``(n, mean, sd, outlier_value, g_stat, p_value)``,
    6dp; NULL when n < 3 or s = 0, p NULL when G is past the
    degenerate bound ((n−1)/√n, where t is undefined).

    Beyond the reference; standard per Grubbs 1969 / NIST e-handbook.
    """
    from padua_spark.functions.distributions import t_sf_udf

    v = F.col(value_col).cast("double")
    agg = df.where(v.isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).alias("_s1"),
        F.sum(v * v).alias("_s2"),
        F.min(v).alias("_mn"),
        F.max(v).alias("_mx"),
    )
    nd = F.col("n").cast("double")
    m = F.col("_s1") / nd
    var = (F.col("_s2") - nd * m * m) / (nd - 1.0)
    s = F.sqrt(var)
    hi = F.col("_mx") - m
    lo = m - F.col("_mn")
    g = F.greatest(hi, lo) / s
    ok = (F.col("n") >= 3) & (var > 0)
    tsq = (
        nd * (nd - 2.0) * g * g
        / ((nd - 1.0) * (nd - 1.0) - nd * g * g)
    )
    staged = (
        agg.withColumn("_m", m)
        .withColumn("_sd", F.when(ok, s))
        .withColumn(
            "_out",
            F.when(
                ok,
                F.when(hi >= lo, F.col("_mx")).otherwise(
                    F.col("_mn")
                ),
            ),
        )
        .withColumn("_g", F.when(ok, g))
        .withColumn(
            "_t",
            F.when(
                ok
                & ((nd - 1.0) * (nd - 1.0) - nd * g * g > 0),
                F.sqrt(tsq),
            ),
        )
    )
    if side not in ("two-sided", "one-sided"):
        raise ValueError(
            "grubbs_test: side must be 'two-sided' or 'one-sided', "
            f"got {side!r}"
        )
    # t_sf_udf is already two-sided: /2 gives the one-sided tail
    mult = 2.0 if side == "two-sided" else 1.0
    p = F.when(
        F.col("_t").isNotNull(),
        F.least(
            F.lit(1.0),
            F.lit(mult) * nd * (t_sf_udf(F.col("_t"), nd - 2.0) / 2.0),
        ),
    )
    return staged.select(
        "n",
        F.round("_m", 6).alias("mean"),
        F.round("_sd", 6).alias("sd"),
        F.round("_out", 6).alias("outlier_value"),
        F.round("_g", 6).alias("g_stat"),
        F.round(p, 6).alias("p_value"),
    )


def lilliefors_normal(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Lilliefors normality test — the Kolmogorov–Smirnov D against a
    normal whose mean and sd are ESTIMATED from the same sample (the
    situation where plain :func:`ks_1samp` p-values are wildly
    anti-conservative; Lilliefors 1967 corrects the null):

    same both-sided ECDF gap as :func:`ks_1samp` over the shared
    stepped cumsum, with μ̂, ŝ (sample sd) computed from the SAME
    per-value counts frame — zero extra scans of the data; Φ via the
    shared A&S erfc polynomial. The p-value is the Dallal–Wilkinson
    1986 closed form (``D' = D·(n/100)^0.49, n' = 100`` above
    n = 100), which is accurate in the decision region p ≲ 0.1 and
    reported clamped to [0, 1] — the same approximation statsmodels
    uses for small p, chosen here for engine reproducibility over
    the small-n lookup table. Output 1 row: ``(n, mean, sd, d_stat,
    p_value)``, 6dp; NULL when n < 4 or sd = 0.
    """
    from padua_spark.io_utils import track_cached

    v = F.col(value_col).cast("double")
    per = (
        df.where(v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    mom = (
        stepped.agg(
            F.sum("_c").cast("bigint").alias("n"),
            F.sum(F.col("_v") * F.col("_c")).alias("_s1"),
            F.sum(
                F.col("_v") * F.col("_v") * F.col("_c")
            ).alias("_s2"),
        )
        .withColumn("_one", F.lit(1))
    )
    nd = F.col("n").cast("double")
    mu = F.col("_s1") / nd
    sd = F.sqrt(
        (F.col("_s2") - nd * mu * mu) / (nd - 1.0)
    )
    mom = mom.select(
        "_one", "n", mu.alias("_mu"), sd.alias("_sd")
    )
    joined = stepped.withColumn("_one", F.lit(1)).join(
        F.broadcast(mom), on="_one"
    )
    z = (F.col("_v") - F.col("_mu")) / F.col("_sd")
    f0 = 1.0 - _normal_sf_1sided(z)
    n = F.col("_c_tot").cast("double")
    fn_hi = F.col("_c_run").cast("double") / n
    fn_lo = (F.col("_c_run") - F.col("_c")).cast("double") / n
    gap = F.greatest(F.abs(fn_hi - f0), F.abs(fn_lo - f0))
    agg = joined.groupBy("n", "_mu", "_sd").agg(
        F.max(gap).alias("_d")
    )
    nd2 = F.col("n").cast("double")
    ok = (F.col("n") >= 4) & (F.col("_sd") > 0)
    d_adj = F.when(
        nd2 > 100.0, F.col("_d") * F.pow(nd2 / 100.0, 0.49)
    ).otherwise(F.col("_d"))
    n_adj = F.when(nd2 > 100.0, F.lit(100.0)).otherwise(nd2)
    p = F.exp(
        -7.01256 * d_adj * d_adj * (n_adj + 2.78019)
        + 2.99587 * d_adj * F.sqrt(n_adj + 2.78019)
        - 0.122119
        + 0.974598 / F.sqrt(n_adj)
        + 1.67997 / n_adj
    )
    out = agg.select(
        "n",
        F.round("_mu", 6).alias("mean"),
        F.round(F.when(ok, F.col("_sd")), 6).alias("sd"),
        F.round(F.when(ok, F.col("_d")), 6).alias("d_stat"),
        F.round(
            F.when(ok, F.least(F.lit(1.0), F.greatest(F.lit(0.0), p))),
            6,
        ).alias("p_value"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


BOXCOX_GRID = [x / 4.0 for x in range(-8, 9)]  # -2.0 .. 2.0 step .25


def boxcox_lambda(
    df: DataFrame,
    value_col: str,
    grid: list[float] | None = None,
) -> DataFrame:
    """Box–Cox power-transform selection by profile likelihood over a
    FIXED λ grid — "which power makes this positive skewed metric
    most normal?" (the variance-stabilizing preprocessing step before
    any of the parametric batteries):

    for each λ: ``y = (x^λ − 1)/λ`` (λ ≠ 0; ``ln x`` at 0), profile
    log-likelihood ``ℓ(λ) = −n/2·ln σ̂²_MLE(y) + (λ−1)·Σ ln x``.
    The FIXED grid (default −2..2 step 0.25) instead of a continuous
    optimizer is deliberate — the same engine-reproducibility
    contract as the fixed Newton schedules (cox_ph): every engine
    evaluates the identical finite set.

    ONE aggregation computing all per-λ moment columns in a single
    pass (map-side combined; ~3·|grid| sums). Requires x > 0 —
    non-positive rows are excluded and counted. Output: one row per
    λ: ``(lam, n, n_nonpos, loglik, is_best)``, 6dp, best by max
    loglik (ties → smaller λ).

    Beyond the reference; standard per Box & Cox 1964.
    """
    grid = [float(g) for g in (grid or BOXCOX_GRID)]
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull())
    x = F.when(v > 0, v)
    aggs = [
        F.count(x).cast("bigint").alias("n"),
        F.count(F.when(v <= 0, 1)).cast("bigint").alias("n_nonpos"),
        F.sum(F.when(v > 0, F.log(v))).alias("_slog"),
    ]
    for i, lam in enumerate(grid):
        if lam == 0.0:
            y = F.log(v)
        else:
            y = (F.pow(v, F.lit(lam)) - 1.0) / F.lit(lam)
        y = F.when(v > 0, y)
        aggs += [
            F.sum(y).alias(f"_s1_{i}"),
            F.sum(y * y).alias(f"_s2_{i}"),
        ]
    agg = base.agg(*aggs)
    nd = F.col("n").cast("double")
    rows = []
    for i, lam in enumerate(grid):
        m = F.col(f"_s1_{i}") / nd
        var = F.col(f"_s2_{i}") / nd - m * m
        ll = F.when(
            (F.col("n") >= 2) & (var > 0),
            -nd / 2.0 * F.log(var)
            + (F.lit(lam) - 1.0) * F.col("_slog"),
        )
        rows += [F.lit(lam), ll]
    stacked = agg.select(
        "n", "n_nonpos",
        F.stack(F.lit(len(grid)), *rows).alias("lam", "_ll"),
    )
    from pyspark.sql import Window

    # |grid| rows: the partitionless window is over a constant frame
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    best = F.max(F.struct(F.col("_ll"), -F.col("lam"))).over(w)
    return stacked.select(
        F.col("lam"),
        "n", "n_nonpos",
        F.round("_ll", 6).alias("loglik"),
        (
            F.col("_ll").isNotNull()
            & (F.struct(F.col("_ll"), -F.col("lam")) == best)
        ).alias("is_best"),
    )


def jackknife_ratio(
    df: DataFrame,
    num_col: str,
    den_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Leave-one-out jackknife standard error of the RATIO estimator
    ``θ̂ = Σx/Σy`` — the survey-sampling workhorse for per-unit rates
    (revenue per session, tokens per document) where the naive
    per-row-ratio mean is biased and its variance formula wrong:

    ``θ_(i) = (Σx − x_i)/(Σy − y_i)``,
    ``se² = (n−1)/n · Σ_i (θ_(i) − θ̄_(·))²``, plus the
    bias-corrected point estimate ``θ_jack = n·θ̂ − (n−1)·θ̄_(·)``.

    TWO passes: one aggregation to the exact totals (broadcast back),
    one pass computing every θ_(i) as a scalar expression and
    aggregating its moments — no per-row collection, no resampling
    (the jackknife's determinism is the point: same answer on any
    engine/partitioning, unlike bootstrap draws). Output per group:
    ``(groups…, n, ratio, ratio_jack, se_jack)``, 6dp; NULL when
    n < 2 or any leave-one-out denominator is 0.

    Beyond the reference; standard per Quenouille/Tukey, Efron 1982.
    """
    from padua_spark.io_utils import track_cached

    group_cols = group_cols or []
    x = F.col(num_col).cast("double")
    y = F.col(den_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        *group_cols, x.alias("_x"), y.alias("_y")
    )
    tot = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
    )
    joined = (
        base.join(F.broadcast(tot), on=group_cols)
        if group_cols
        else base.crossJoin(F.broadcast(tot))
    )
    den_i = F.col("_sy") - F.col("_y")
    theta_i = F.when(
        den_i != 0, (F.col("_sx") - F.col("_x")) / den_i
    )
    agg = joined.groupBy(*group_cols).agg(
        F.max("_n").alias("n"),
        F.max("_sx").alias("_tx"),
        F.max("_sy").alias("_ty"),
        F.count(theta_i).cast("bigint").alias("_n_ok"),
        F.sum(theta_i).alias("_st"),
        F.sum(theta_i * theta_i).alias("_stt"),
    )
    nd = F.col("n").cast("double")
    ok = (
        (F.col("n") >= 2)
        & (F.col("_n_ok") == F.col("n"))
        & (F.col("_ty") != 0)
    )
    theta = F.col("_tx") / F.col("_ty")
    tbar = F.col("_st") / nd
    ssd = F.col("_stt") - nd * tbar * tbar
    se = F.sqrt((nd - 1.0) / nd * ssd)
    out = agg.select(
        *group_cols, "n",
        F.round(F.when(F.col("_ty") != 0, theta), 6).alias("ratio"),
        F.round(
            F.when(ok, nd * theta - (nd - 1.0) * tbar), 6
        ).alias("ratio_jack"),
        F.round(F.when(ok, se), 6).alias("se_jack"),
    )
    return track_cached(out)


def smd_balance(
    df: DataFrame,
    variant_col: str,
    covariate_cols: list[str],
    group_a,
    group_b,
) -> DataFrame:
    """Standardized mean differences — the covariate-balance audit
    every A/B readout should run BEFORE trusting its effect estimate
    (randomization failed ⇒ the "effect" is a selection artifact):

    per covariate ``SMD = (x̄_a − x̄_b) / √((s²_a + s²_b)/2)``
    (pooled-SD convention of Austin 2009; |SMD| < 0.1 is the usual
    "balanced" rubric, reported as ``balanced``).

    ONE conditional aggregation computes every covariate's per-arm
    exact sums in a single pass (2·3·|covariates| sums, map-side
    combined), then a ``stack`` to one row per covariate. Output:
    ``(covariate, n_a, n_b, mean_a, mean_b, smd, balanced)``, 6dp;
    NULL smd when either arm has n < 2 or both variances are 0.

    Beyond the reference; standard per Austin & Stuart 2015.
    """
    g = F.col(variant_col)
    base = df.where(g.isin([group_a, group_b]))
    aggs = [
        F.count(F.when(g == group_a, 1)).cast("bigint").alias("n_a"),
        F.count(F.when(g == group_b, 1)).cast("bigint").alias("n_b"),
    ]
    for i, c in enumerate(covariate_cols):
        v = F.col(c).cast("double")
        aggs += [
            F.sum(F.when(g == group_a, v)).alias(f"_sa{i}"),
            F.sum(F.when(g == group_b, v)).alias(f"_sb{i}"),
            F.sum(F.when(g == group_a, v * v)).alias(f"_qa{i}"),
            F.sum(F.when(g == group_b, v * v)).alias(f"_qb{i}"),
            F.count(F.when(g == group_a, v)).cast("bigint").alias(
                f"_na{i}"
            ),
            F.count(F.when(g == group_b, v)).cast("bigint").alias(
                f"_nb{i}"
            ),
        ]
    agg = base.agg(*aggs)
    rows = []
    for i, c in enumerate(covariate_cols):
        na = F.col(f"_na{i}").cast("double")
        nb = F.col(f"_nb{i}").cast("double")
        ma = F.col(f"_sa{i}") / na
        mb = F.col(f"_sb{i}") / nb
        va = (F.col(f"_qa{i}") - na * ma * ma) / (na - 1.0)
        vb = (F.col(f"_qb{i}") - nb * mb * mb) / (nb - 1.0)
        pooled = F.sqrt((va + vb) / 2.0)
        ok = (
            (F.col(f"_na{i}") >= 2)
            & (F.col(f"_nb{i}") >= 2)
            & (pooled > 0)
        )
        rows += [
            F.lit(c),
            F.col(f"_na{i}"),
            F.col(f"_nb{i}"),
            F.round(ma, 6),
            F.round(mb, 6),
            F.round(F.when(ok, (ma - mb) / pooled), 6),
        ]
    stacked = agg.select(
        F.stack(F.lit(len(covariate_cols)), *rows).alias(
            "covariate", "n_a", "n_b", "mean_a", "mean_b", "smd"
        )
    )
    return stacked.withColumn(
        "balanced",
        F.when(F.col("smd").isNotNull(), F.abs(F.col("smd")) < 0.1),
    )


def ratio_delta_ci(
    df: DataFrame,
    num_col: str,
    den_col: str,
    group_cols: list[str] | None = None,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Delta-method confidence interval for the ratio-of-sums metric
    ``θ̂ = Σx/Σy = x̄/ȳ`` — the closed-form companion to
    :func:`jackknife_ratio` (same estimator, first-order Taylor
    variance instead of leave-one-out; the standard per-user-metric
    CI in experimentation platforms, e.g. revenue per session where
    sessions vary per user):

    ``se² = (s²_x − 2θ̂·s_xy + θ̂²·s²_y) / (n·ȳ²)`` (sample
    covariances), ``CI = θ̂ ± z·se``.

    ONE aggregation to exact raw sums; everything after is scalar
    algebra. Output per group: ``(groups…, n, ratio, se_delta,
    ci_lo, ci_hi)``, 6dp; NULL when n < 2 or Σy = 0.

    Beyond the reference; standard (Fieller/delta; Deng et al. 2018
    "Applying the Delta Method in Metric Analytics").
    """
    group_cols = group_cols or []
    x = F.col(num_col).cast("double")
    y = F.col(den_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull())
    agg = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
        F.sum(x * y).alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("_sx") / nd
    my = F.col("_sy") / nd
    vx = (F.col("_sxx") - nd * mx * mx) / (nd - 1.0)
    vy = (F.col("_syy") - nd * my * my) / (nd - 1.0)
    cxy = (F.col("_sxy") - nd * mx * my) / (nd - 1.0)
    theta = F.col("_sx") / F.col("_sy")
    se = F.sqrt(
        (vx - 2.0 * theta * cxy + theta * theta * vy)
        / (nd * my * my)
    )
    ok = (F.col("n") >= 2) & (F.col("_sy") != 0)
    staged = agg.withColumn("_t", F.when(ok, theta)).withColumn(
        "_se", F.when(ok, se)
    )
    return staged.select(
        *group_cols, "n",
        F.round("_t", 6).alias("ratio"),
        F.round("_se", 6).alias("se_delta"),
        F.round(F.col("_t") - F.lit(float(z)) * F.col("_se"), 6)
        .alias("ci_lo"),
        F.round(F.col("_t") + F.lit(float(z)) * F.col("_se"), 6)
        .alias("ci_hi"),
    )


def weighted_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    weights: str = "quadratic",
) -> DataFrame:
    """Cohen's WEIGHTED kappa for ordinal ratings — partial credit
    for near-misses (a 4-vs-5 disagreement is not a 1-vs-5), the
    ordinal upgrade of the binary
    :func:`~padua_spark.extensions.quality.cohens_kappa`:

    ``κ_w = 1 − Σ w_ij·o_ij / Σ w_ij·e_ij`` with DISAGREEMENT
    weights ``w_ij = |i−j|`` (linear) or ``(i−j)²`` (quadratic —
    which makes κ_w the concordance form most used for model-grade
    agreement), observed cells ``o_ij`` and chance cells
    ``e_ij = r_i·c_j/n``. Ratings must be NUMERIC ordinal codes; the
    weight uses their actual numeric distance (so codes 1,2,4 weight
    2↔4 doubly).

    ONE aggregation to the bounded (i, j) contingency cells, margins
    from the cells frame, and the two weighted sums over cells ×
    broadcast margins — everything after the first aggregation is
    cell-count-sized. Exact integers until the final division
    (quadratic weights of integer codes are integers). Output 1 row:
    ``(n, k_categories, kappa_weighted)``, 6dp; NULL when chance
    disagreement is 0 (both raters constant).

    Beyond the reference; standard per Cohen 1968.
    """
    if weights not in ("linear", "quadratic"):
        raise ValueError(
            "weighted_kappa: weights must be linear|quadratic"
        )
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    a = F.col(rater_a).cast("double")
    b = F.col(rater_b).cast("double")
    cells = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_i"), b.alias("_j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_o"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rows_m = cells.groupBy("_i").agg(
        F.sum("_o").cast("bigint").alias("_r")
    )
    cols_m = cells.groupBy("_j").agg(
        F.sum("_o").cast("bigint").alias("_c")
    )
    kc = (
        cells.select(F.col("_i").alias("_cat"))
        .unionAll(cells.select(F.col("_j").alias("_cat")))
        .agg(
            F.countDistinct("_cat").cast("bigint").alias(
                "k_categories"
            )
        )
        .withColumn("_one", F.lit(1))
    )
    dist = F.col("_i") - F.col("_j")
    w = F.abs(dist) if weights == "linear" else dist * dist
    obs = cells.agg(
        F.sum("_o").cast("bigint").alias("n"),
        F.sum(w * F.col("_o").cast("double")).alias("_wo"),
    ).withColumn("_one", F.lit(1))
    grid = rows_m.crossJoin(cols_m)
    dist_e = F.col("_i") - F.col("_j")
    w_e = F.abs(dist_e) if weights == "linear" else dist_e * dist_e
    exp = grid.agg(
        F.sum(
            w_e
            * F.col("_r").cast("double")
            * F.col("_c").cast("double")
        ).alias("_we_n")
    ).withColumn("_one", F.lit(1))
    j = (
        obs.join(F.broadcast(exp), on="_one")
        .join(F.broadcast(kc), on="_one")
    )
    nd = F.col("n").cast("double")
    we = F.col("_we_n") / nd
    kappa = F.when(we > 0, 1.0 - F.col("_wo") / we)
    out = j.select(
        "n", "k_categories",
        F.round(kappa, 6).alias("kappa_weighted"),
    )
    return track_cached(out, cells)


def bland_altman(
    df: DataFrame,
    a_col: str,
    b_col: str,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Bland–Altman agreement limits for two measurement methods —
    the method-comparison standard (correlation says two assays move
    together; Bland–Altman says whether you can SUBSTITUTE one for
    the other): ``bias = mean(a−b)``, limits of agreement
    ``bias ± z·sd(a−b)``, plus the realized fraction of pairs
    outside the limits (≈ 5% under normal differences).

    TWO passes: one aggregation to the exact difference moments, one
    broadcast-joined count of out-of-limit pairs. Output 1 row:
    ``(n, bias, sd_diff, loa_lo, loa_hi, frac_outside)``, 6dp; NULL
    limits when n < 2 or sd = 0.

    Beyond the reference; standard per Bland & Altman 1986 —
    completes the agreement battery around Lin's CCC.
    """
    from padua_spark.io_utils import track_cached

    a = F.col(a_col).cast("double")
    b = F.col(b_col).cast("double")
    base = df.where(a.isNotNull() & b.isNotNull()).select(
        (a - b).alias("_d")
    )
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_d").alias("_s1"),
        F.sum(F.col("_d") * F.col("_d")).alias("_s2"),
    )
    nd = F.col("n").cast("double")
    bias = F.col("_s1") / nd
    sd = F.sqrt((F.col("_s2") - nd * bias * bias) / (nd - 1.0))
    ok = (F.col("n") >= 2) & (sd > 0)
    stats = agg.select(
        "n",
        bias.alias("_bias"),
        F.when(ok, sd).alias("_sd"),
        F.when(ok, bias - F.lit(float(z)) * sd).alias("_lo"),
        F.when(ok, bias + F.lit(float(z)) * sd).alias("_hi"),
    ).withColumn("_one", F.lit(1))
    outside = (
        base.withColumn("_one", F.lit(1))
        .join(F.broadcast(stats), on="_one")
        .agg(
            F.sum(
                (
                    (F.col("_d") < F.col("_lo"))
                    | (F.col("_d") > F.col("_hi"))
                ).cast("int")
            ).cast("bigint").alias("_n_out")
        )
        .withColumn("_one", F.lit(1))
    )
    out = stats.join(F.broadcast(outside), on="_one").select(
        "n",
        F.round("_bias", 6).alias("bias"),
        F.round("_sd", 6).alias("sd_diff"),
        F.round("_lo", 6).alias("loa_lo"),
        F.round("_hi", 6).alias("loa_hi"),
        F.round(
            F.when(
                F.col("_sd").isNotNull(),
                F.col("_n_out").cast("double")
                / F.col("n").cast("double"),
            ),
            6,
        ).alias("frac_outside"),
    )
    return track_cached(out, base)


def icc_2_1(
    df: DataFrame,
    subject_col: str,
    rater_col: str,
    value_col: str,
) -> DataFrame:
    """Intraclass correlation ICC(2,1) — two-way random effects,
    absolute agreement, single measures (Shrout & Fleiss 1979's
    ICC(2,1); the "can any one rater's score stand in for the
    consensus?" reliability number, the continuous-rating companion
    to :func:`fleiss_kappa`):

    from the two-way ANOVA decomposition over a COMPLETE n×k design
    (every subject rated by every rater — ENFORCED with a preflight
    that names the offending subject):
    ``ICC = (MSR − MSE) / (MSR + (k−1)·MSE + (k/n)·(MSC − MSE))``.

    All sums of squares come from exact raw sums in ONE pass over
    the data (per-subject and per-rater totals are
    cardinality-sized), no centering column ever materialized.
    Output 1 row: ``(n_subjects, k_raters, msr, msc, mse, icc)``,
    6dp; NULL when the residual df is 0 or the denominator is 0.
    """
    s = F.col(subject_col)
    r = F.col(rater_col)
    v = F.col(value_col).cast("double")
    base = df.where(
        s.isNotNull() & r.isNotNull() & v.isNotNull()
    ).select(s.alias("_s"), r.alias("_r"), v.alias("_v"))
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    per_subj = base.groupBy("_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cnt"),
        F.sum("_v").alias("_ts"),
    )
    chk = per_subj.agg(
        F.min("_cnt").alias("_lo"), F.max("_cnt").alias("_hi")
    ).collect()[0]
    if chk["_lo"] != chk["_hi"]:
        bad = (
            per_subj.where(F.col("_cnt") == chk["_lo"])
            .limit(1)
            .collect()[0]["_s"]
        )
        raise ValueError(
            f"icc_2_1: incomplete design (subject {bad!r} has "
            f"{chk['_lo']} ratings, others {chk['_hi']}); ICC(2,1) "
            "requires every subject rated by every rater — filter "
            "to the complete block first"
        )
    per_rater = base.groupBy("_r").agg(F.sum("_v").alias("_tr"))
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_obs"),
        F.sum("_v").alias("_g"),
        F.sum(F.col("_v") * F.col("_v")).alias("_ss"),
    ).withColumn("_one", F.lit(1))
    srow = per_subj.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subjects"),
        F.sum(F.col("_ts") * F.col("_ts")).alias("_sts"),
    ).withColumn("_one", F.lit(1))
    scol = per_rater.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_raters"),
        F.sum(F.col("_tr") * F.col("_tr")).alias("_str"),
    ).withColumn("_one", F.lit(1))
    j = tot.join(F.broadcast(srow), on="_one").join(
        F.broadcast(scol), on="_one"
    )
    n = F.col("n_subjects").cast("double")
    k = F.col("k_raters").cast("double")
    nobs = F.col("_n_obs").cast("double")
    cm = F.col("_g") * F.col("_g") / nobs
    ss_tot = F.col("_ss") - cm
    ss_rows = F.col("_sts") / k - cm
    ss_cols = F.col("_str") / n - cm
    ss_err = ss_tot - ss_rows - ss_cols
    msr = ss_rows / (n - 1.0)
    msc = ss_cols / (k - 1.0)
    mse = ss_err / ((n - 1.0) * (k - 1.0))
    den = msr + (k - 1.0) * mse + k / n * (msc - mse)
    ok = (n >= 2) & (k >= 2) & (den != 0)
    from padua_spark.io_utils import track_cached

    out = j.select(
        "n_subjects", "k_raters",
        F.round(msr, 6).alias("msr"),
        F.round(msc, 6).alias("msc"),
        F.round(mse, 6).alias("mse"),
        F.round(
            F.when(ok, (msr - mse) / den), 6
        ).alias("icc"),
    )
    return track_cached(out, base)


def bowker_symmetry(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Bowker's test of symmetry for a paired k×k table — the k-class
    generalization of McNemar ("did the label distribution MOVE, and
    in which direction?" between two annotation passes / model
    versions): ``χ² = Σ_{i<j} (n_ij − n_ji)² / (n_ij + n_ji)`` over
    the discordant pair counts, df = the number of (i, j) pairs with
    ``n_ij + n_ji > 0`` (zero-total pairs carry no information — the
    conditional convention; with all pairs populated this is the
    textbook k(k−1)/2).

    ONE aggregation to the bounded (i, j) cells, one cells-level
    self-merge via full outer join on the mirrored key (never a
    data-sized join), the chi-square survival via the shared
    series+Lentz UDF. Output 1 row: ``(n, k_categories, chi2, df,
    p_value)``, 6dp; p 1.0 when there are no discordant pairs.

    Beyond the reference; standard per Bowker 1948.
    """
    from pyspark import StorageLevel

    from padua_spark.functions.distributions import chi2_sf_udf
    from padua_spark.io_utils import track_cached

    a = F.col(a_col)
    b = F.col(b_col)
    cells = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_i"), b.alias("_j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    up = cells.where(F.col("_i") < F.col("_j"))
    dn = cells.where(F.col("_i") > F.col("_j")).select(
        F.col("_j").alias("_i"),
        F.col("_i").alias("_j"),
        F.col("_c").alias("_c2"),
    )
    pairs = up.join(dn, on=["_i", "_j"], how="full_outer").select(
        F.coalesce(F.col("_c"), F.lit(0)).alias("_u"),
        F.coalesce(F.col("_c2"), F.lit(0)).alias("_d"),
    )
    term = (
        (F.col("_u") - F.col("_d"))
        * (F.col("_u") - F.col("_d"))
    ).cast("double") / (F.col("_u") + F.col("_d")).cast("double")
    kc = (
        cells.select(F.col("_i").alias("_cat"))
        .unionAll(cells.select(F.col("_j").alias("_cat")))
        .agg(
            F.countDistinct("_cat").cast("bigint").alias(
                "k_categories"
            )
        )
        .withColumn("_one", F.lit(1))
    )
    tot = cells.agg(
        F.sum("_c").cast("bigint").alias("n")
    ).withColumn("_one", F.lit(1))
    agg = pairs.agg(
        F.sum(
            F.when(F.col("_u") + F.col("_d") > 0, term)
        ).alias("_chi2"),
        F.sum(
            (F.col("_u") + F.col("_d") > 0).cast("int")
        ).cast("bigint").alias("df"),
    ).withColumn("_one", F.lit(1))
    j = agg.join(F.broadcast(tot), on="_one").join(
        F.broadcast(kc), on="_one"
    )
    staged = j.withColumn(
        "_p",
        F.when(
            F.col("df") > 0,
            chi2_sf_udf(
                F.coalesce(F.col("_chi2"), F.lit(0.0)),
                F.col("df").cast("double"),
            ),
        ).otherwise(F.lit(1.0)),
    )
    out = staged.select(
        "n", "k_categories",
        F.round(F.coalesce(F.col("_chi2"), F.lit(0.0)), 6).alias(
            "chi2"
        ),
        "df",
        F.round("_p", 6).alias("p_value"),
    )
    return track_cached(out, cells)


def _spatial_edge_stats(
    values, edges, id_col, value_col, src_col, dst_col, moments,
    cross_aggs, positive=False,
):
    """The edge preparation and global sums shared by
    :func:`morans_i`, :func:`geary_c` and :func:`getis_ord_g`.

    Values: non-NULL (and ``> 0`` when ``positive``) node values.
    Edges: ``graph._undirected_edges`` (symmetrised, self-loops
    dropped, deduped), kept only when BOTH endpoints carry a value,
    persisted
    (three consumers). Returns ``(j, e)``: ``j`` is ONE row of
    ``n_nodes`` plus the value power sums named by ``moments``
    (``moments[p-1]`` = Σ xᵖ), the cross aggregate ``n_edges`` plus
    ``cross_aggs`` over the valued edges (endpoint values ``_va``,
    ``_vb``) and ``_sdeg2`` = Σ deg²; ``e`` is the persisted edge
    frame for the caller to track."""
    from pyspark import StorageLevel

    from padua_spark.extensions.graph import _undirected_edges

    v = F.col(value_col).cast("double")
    keep = F.col(id_col).isNotNull() & v.isNotNull()
    if positive:
        keep = keep & (v > 0)
    vals = values.where(keep).select(
        F.col(id_col).alias("_x"), v.alias("_v")
    )
    # keep only edges whose BOTH endpoints carry a value
    known = vals.select(F.col("_x"))
    e = (
        _undirected_edges(edges, src_col, dst_col, "_v2")
        .join(known.withColumnRenamed("_x", "_u"), on="_u")
        .join(known.withColumnRenamed("_x", "_v2"), on="_v2")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    powers = []
    for name in moments:
        term = F.col("_v") if not powers else powers[-1][0] * F.col("_v")
        powers.append((term, name))
    vstats = vals.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        *[F.sum(term).alias(name) for term, name in powers],
    ).withColumn("_one", F.lit(1))
    va = vals.select(F.col("_x").alias("_u"), F.col("_v").alias("_va"))
    vb = vals.select(
        F.col("_x").alias("_v2"), F.col("_v").alias("_vb")
    )
    cross = (
        e.join(va, on="_u")
        .join(vb, on="_v2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            *cross_aggs,
        )
        .withColumn("_one", F.lit(1))
    )
    deg = (
        e.select(F.col("_u").alias("_x"))
        .unionAll(e.select(F.col("_v2").alias("_x")))
        .groupBy("_x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_deg"))
        .agg(
            F.sum(
                F.col("_deg") * F.col("_deg")
            ).cast("bigint").alias("_sdeg2")
        )
        .withColumn("_one", F.lit(1))
    )
    j = vstats.join(F.broadcast(cross), on="_one").join(
        F.broadcast(deg), on="_one"
    )
    return j, e


def morans_i(
    values: DataFrame,
    edges: DataFrame,
    id_col: str = "node",
    value_col: str = "value",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Moran's I autocorrelation of a node attribute over a graph —
    "do connected documents share quality?" (the graph-native
    homophily check for candidate graphs, citation webs, k-NN
    neighborhoods; positive I = neighbors alike, ≈ −1/(n−1) =
    random):

    with symmetric binary weights from the (deduped, symmetrized)
    undirected edge list, centered values ``z``:
    ``I = (n/S₀)·Σ_{(u,v)} z_u z_v / Σ z²`` (S₀ = 2m over both
    directions), ``E[I] = −1/(n−1)``, and the normality-assumption
    variance (S₁ = 4m, S₂ = 4·Σ deg²) giving a two-sided z/p.

    ONE degree/edge aggregation + one values join
    (:func:`_spatial_edge_stats`, shared with :func:`geary_c` and
    :func:`getis_ord_g`) — the z products ride the edge list; nothing
    is pairwise beyond the given edges. Output 1 row: ``(n_nodes,
    n_edges, morans_i, expected_i, z, p_value)``, 6dp; NULL when
    variance degenerates, and expected_i NULL below two valued
    nodes. Nodes absent
    from ``values`` are dropped with their edges.

    Beyond the reference; standard per Moran 1950 / Cliff & Ord.
    """
    from padua_spark.io_utils import track_cached

    j, e = _spatial_edge_stats(
        values, edges, id_col, value_col, src_col, dst_col,
        ["_s1", "_s2"],
        [
            F.sum(F.col("_va") * F.col("_vb")).alias("_svv"),
            F.sum(F.col("_va") + F.col("_vb")).alias("_sends"),
        ],
    )
    n = F.col("n_nodes").cast("double")
    m = F.col("n_edges").cast("double")
    mean = F.col("_s1") / n
    # Σ z_u z_v over BOTH directions = 2·(Σ_edges v_a v_b − x̄·Σ ends
    #   + m·x̄²); Σ z² = s2 − n·x̄²
    num = 2.0 * (
        F.col("_svv") - mean * F.col("_sends") + m * mean * mean
    )
    den = F.col("_s2") - n * mean * mean
    s0 = 2.0 * m
    i_stat = F.when((den > 0) & (m > 0), n / s0 * num / den)
    # −1/(n−1) is undefined below two valued nodes (n = 0 would read 1)
    e_i = F.when(n >= 2.0, -1.0 / (n - 1.0))
    s1 = 4.0 * m
    s2 = 4.0 * F.col("_sdeg2").cast("double")
    var = (
        (n * n * s1 - n * s2 + 3.0 * s0 * s0)
        / ((n * n - 1.0) * s0 * s0)
        - e_i * e_i
    )
    staged = j.withColumn("_i", i_stat).withColumn(
        "_z",
        F.when(
            i_stat.isNotNull() & (var > 0),
            (i_stat - e_i) / F.sqrt(var),
        ),
    )
    out = staged.select(
        "n_nodes", "n_edges",
        F.round("_i", 6).alias("morans_i"),
        F.round(e_i, 6).alias("expected_i"),
        F.round("_z", 6).alias("z"),
        F.round(
            F.when(
                F.col("_z").isNotNull(),
                _normal_sf_2sided(F.col("_z")),
            ),
            6,
        ).alias("p_value"),
    )
    return track_cached(out, e)


def inequality_indices(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    epsilon: float = 0.5,
) -> DataFrame:
    """Theil T and Atkinson inequality indices per group — the
    decomposable companions to the Gini ("how concentrated is token
    mass / spend / compute across members?" with additive
    between/within decomposability that Gini lacks):

    ``T = Σ (x/μ)·ln(x/μ) / n`` (0 = perfect equality, ln n =
    maximal), ``A(ε) = 1 − (mean(x^{1−ε}))^{1/(1−ε)} / μ`` for
    ``ε ≠ 1``. Requires x > 0; non-positive rows are excluded and
    counted.

    ONE aggregation to ``(n, Σx, Σx·ln x, Σx^{1−ε})``; both indices
    are scalar algebra after (``T = Σx·ln x/(n·μ) − ln μ``). Output
    per group: ``(groups…, n, n_nonpos, mean, theil_t, atkinson)``,
    6dp; NULL when n = 0 or μ ≤ 0.

    Beyond the reference; standard per Theil 1967 / Atkinson 1970.
    """
    if epsilon == 1.0:
        raise ValueError(
            "inequality_indices: epsilon=1 needs the geometric-mean "
            "form; use a nearby value (e.g. 0.999) or extend"
        )
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull())
    x = F.when(v > 0, v)
    agg = base.groupBy(*group_cols).agg(
        F.count(x).cast("bigint").alias("n"),
        F.count(F.when(v <= 0, 1)).cast("bigint").alias("n_nonpos"),
        F.sum(x).alias("_s1"),
        F.sum(x * F.log(x)).alias("_sxlx"),
        F.sum(F.pow(x, F.lit(1.0 - float(epsilon)))).alias("_spow"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("_s1") / nd
    theil = F.col("_sxlx") / (nd * mu) - F.log(mu)
    atk = 1.0 - F.pow(
        F.col("_spow") / nd, F.lit(1.0 / (1.0 - float(epsilon)))
    ) / mu
    ok = (F.col("n") > 0) & (mu > 0)
    return agg.select(
        *group_cols, "n", "n_nonpos",
        F.round(F.when(ok, mu), 6).alias("mean"),
        F.round(F.when(ok, theil), 6).alias("theil_t"),
        F.round(F.when(ok, atk), 6).alias("atkinson"),
    )


def cronbachs_alpha(
    df: DataFrame,
    item_cols: list[str],
) -> DataFrame:
    """Cronbach's alpha internal-consistency reliability over k item
    columns — "do these k quality sub-scores measure one construct?"
    (the scale-construction standard before averaging rubric items
    into a single label):

    ``α = k/(k−1) · (1 − Σ σ²_i / σ²_T)`` with sample variances of
    each item and of the per-row total score; rows with ANY NULL item
    are dropped (listwise, the classical convention).

    ONE aggregation over the data computing every item's exact sums
    plus the total-score moments (the total is a row expression — no
    second pass). Output 1 row: ``(n, k_items, alpha)``, 6dp; NULL
    when n < 2 or the total variance is 0.

    Beyond the reference; standard per Cronbach 1951.
    """
    k = len(item_cols)
    if k < 2:
        raise ValueError("cronbachs_alpha: need >= 2 items")
    items = [F.col(c).cast("double") for c in item_cols]
    cond = items[0].isNotNull()
    for it in items[1:]:
        cond = cond & it.isNotNull()
    total = items[0]
    for it in items[1:]:
        total = total + it
    base = df.where(cond)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for i, it in enumerate(items):
        aggs += [
            F.sum(it).alias(f"_s{i}"),
            F.sum(it * it).alias(f"_q{i}"),
        ]
    aggs += [
        F.sum(total).alias("_st"),
        F.sum(total * total).alias("_qt"),
    ]
    agg = base.agg(*aggs)
    nd = F.col("n").cast("double")
    sum_vi = None
    for i in range(k):
        m = F.col(f"_s{i}") / nd
        vi = (F.col(f"_q{i}") - nd * m * m) / (nd - 1.0)
        sum_vi = vi if sum_vi is None else sum_vi + vi
    mt = F.col("_st") / nd
    vt = (F.col("_qt") - nd * mt * mt) / (nd - 1.0)
    ok = (F.col("n") >= 2) & (vt > 0)
    alpha = F.lit(float(k) / (k - 1.0)) * (1.0 - sum_vi / vt)
    return agg.select(
        "n",
        F.lit(k).cast("bigint").alias("k_items"),
        F.round(F.when(ok, alpha), 6).alias("alpha"),
    )


def stuart_maxwell(
    df: DataFrame,
    a_col: str,
    b_col: str,
    max_categories: int = 64,
) -> DataFrame:
    """Stuart–Maxwell test of MARGINAL homogeneity for a paired k×k
    table — "did the overall label MIX change between the two passes?"
    (Bowker asks about cell symmetry; this asks about the margins —
    the k-class McNemar for distribution shift in paired labels):

    ``χ² = d' V⁻¹ d`` over the first k−1 categories, with
    ``d_i = row_i − col_i`` and ``V_ii = row_i + col_i − 2 n_ii``,
    ``V_ij = −(n_ij + n_ji)``; df = k−1.

    Scale shape: ONE aggregation to the bounded k×k cells, which are
    COLLECTED under an explicit ``max_categories`` guard (k² values —
    the same bounded-collect discipline as markov_attribution's
    channel matrix) for the (k−1)-dimensional solve in numpy; the
    result is a 1-row frame. The chi-square p uses the shared
    series+Lentz survival. Output 1 row: ``(n, k_categories, chi2,
    df, p_value)``, 6dp; p 1.0 when d = 0, NULL when V is singular.

    Beyond the reference; standard per Stuart 1955 / Maxwell 1970.
    """
    import numpy as np

    from pyspark import StorageLevel

    a = F.col(a_col)
    b = F.col(b_col)
    cells = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_i"), b.alias("_j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # guard BEFORE the collect: a mis-specified high-cardinality
    # column must raise from a distributed count, never after an
    # unbounded driver transfer (same discipline as
    # ordinal_association)
    n_cells = cells.count()
    if n_cells > max_categories * max_categories:
        cells.unpersist()
        raise ValueError(
            f"stuart_maxwell: {n_cells} distinct (a, b) cells exceed "
            f"max_categories^2={max_categories * max_categories} — "
            "the k x k cell matrix is collected driver-side; bin the "
            "labels first"
        )
    rows = cells.collect()
    cells.unpersist()
    cats = sorted({r["_i"] for r in rows} | {r["_j"] for r in rows})
    k = len(cats)
    if k > max_categories:
        raise ValueError(
            f"stuart_maxwell: {k} categories exceed "
            f"max_categories={max_categories} — the k x k cell "
            "matrix is collected driver-side; bin the labels first"
        )
    spark = df.sparkSession
    if k < 2:
        out = local_frame(
            spark,
            [(int(sum(r["_c"] for r in rows)), k, None, 0, 1.0)],
            "n bigint, k_categories int, chi2 double, df int, "
            "p_value double",
        )
        return out
    idx = {c: i for i, c in enumerate(cats)}
    m = np.zeros((k, k))
    for r in rows:
        m[idx[r["_i"]], idx[r["_j"]]] = r["_c"]
    n = int(m.sum())
    row_t = m.sum(axis=1)
    col_t = m.sum(axis=0)
    d = (row_t - col_t)[: k - 1]
    v = np.zeros((k - 1, k - 1))
    for i in range(k - 1):
        for j in range(k - 1):
            if i == j:
                v[i, j] = row_t[i] + col_t[i] - 2.0 * m[i, i]
            else:
                v[i, j] = -(m[i, j] + m[j, i])
    if np.allclose(d, 0.0):
        chi2, p = 0.0, 1.0
    else:
        try:
            chi2 = float(d @ np.linalg.solve(v, d))
        except np.linalg.LinAlgError:
            chi2 = None
        if chi2 is None:
            p = None
        else:
            from padua_spark.functions.distributions import chi2_sf

            p = float(chi2_sf(chi2, k - 1))
    out = local_frame(
        spark,
        [(
            n, k,
            None if chi2 is None else round(chi2, 6),
            k - 1,
            None if p is None else round(p, 6),
        )],
        "n bigint, k_categories int, chi2 double, df int, "
        "p_value double",
    )
    return out


def breusch_pagan(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Breusch–Pagan heteroskedasticity test (Koenker's studentized
    form, the statsmodels default) for the simple regression of ``y``
    on ``x`` — the residual-variance diagnostic beside
    :func:`durbin_watson`'s autocorrelation one ("does spread grow
    with the predictor?", the assumption every OLS forecast interval
    leans on):

    ``LM = n·R²`` of the auxiliary regression of ``e²`` on ``x``,
    ``p ~ χ²₁`` via the closed identity ``P(χ²₁ ≥ x) = erfc(√(x/2))``
    (shared A&S polynomial — no UDF anywhere).

    Scale shape: TWO aggregations of the fact table — the first to
    the five OLS moments (the fitted line), broadcast back as a 1-row
    frame (a deliberate constant-fold BroadcastNestedLoopJoin), the
    second to the three auxiliary moments of ``e²``. Computing e²
    per-row against the SAME fitted (a, b) doubles on both engines
    beats a single-pass 4th-order moment expansion, whose Σx⁴-scale
    cancellations are a cross-engine knife edge. Output 1 row:
    ``(n, slope, intercept, lm_stat, p_value)``, 6dp; NULL stats when
    n < 3 or x or e² is constant.

    Beyond the reference; standard per Breusch & Pagan 1979 /
    Koenker 1981.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        x.alias("_x"), y.alias("_y")
    )
    m1 = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    sxx_c = F.col("_sxx") - F.col("_sx") * F.col("_sx") / nd
    sxy_c = F.col("_sxy") - F.col("_sx") * F.col("_sy") / nd
    fit = m1.select(
        "n",
        F.when((F.col("n") >= 3) & (sxx_c > 0), sxy_c / sxx_c)
        .alias("_b"),
        (F.col("_sy") / nd).alias("_ybar"),
        (F.col("_sx") / nd).alias("_xbar"),
        F.lit(1).alias("_one"),
    ).withColumn("_a", F.col("_ybar") - F.col("_b") * F.col("_xbar"))
    joined = base.withColumn("_one", F.lit(1)).join(
        F.broadcast(fit), on="_one"
    )
    e2 = (
        (F.col("_y") - F.col("_a") - F.col("_b") * F.col("_x"))
        * (F.col("_y") - F.col("_a") - F.col("_b") * F.col("_x"))
    )
    m2 = joined.agg(
        F.max("n").alias("n"),
        F.max("_b").alias("_b"),
        F.max("_a").alias("_a"),
        F.sum("_x").alias("_sx"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(e2).alias("_su"),
        F.sum(e2 * e2).alias("_suu"),
        F.sum(F.col("_x") * e2).alias("_sxu"),
    )
    nd2 = F.col("n").cast("double")
    sxx2 = F.col("_sxx") - F.col("_sx") * F.col("_sx") / nd2
    suu2 = F.col("_suu") - F.col("_su") * F.col("_su") / nd2
    sxu2 = F.col("_sxu") - F.col("_sx") * F.col("_su") / nd2
    r2 = sxu2 * sxu2 / (sxx2 * suu2)
    lm = F.when(
        (F.col("_b").isNotNull()) & (sxx2 > 0) & (suu2 > 0),
        nd2 * r2,
    )
    p = _normal_sf_2sided(F.sqrt(lm))  # P(chi2_1 >= x) = erfc(sqrt(x/2))
    return m2.select(
        "n",
        F.round("_b", 6).alias("slope"),
        F.round("_a", 6).alias("intercept"),
        F.round(lm, 6).alias("lm_stat"),
        F.round(F.when(lm.isNotNull(), p), 6).alias("p_value"),
    )


def chow_test(
    df: DataFrame,
    x_col: str,
    y_col: str,
    segment_col: str,
) -> DataFrame:
    """Chow structural-break test — "did the regression CHANGE between
    the two regimes?" (pre/post a launch date, two segments of a time
    axis; the formal version of eyeballing two trend lines):

    fit ``y ~ x`` pooled and per segment;
    ``F = ((SSE_p − SSE_a − SSE_b)/k) / ((SSE_a + SSE_b)/(n − 2k))``
    with k = 2 (intercept + slope), df (k, n − 2k); p via the shared
    regularized-incomplete-beta t/F machinery.

    ONE aggregation: per-segment conditional moment sums (n, Σx, Σy,
    Σx², Σxy, Σy² for segment 0 and 1 — 12 partials), every SSE the
    closed centered form ``Syy_c − Sxy_c²/Sxx_c``, pooled from the
    summed moments. Output 1 row: ``(n_a, n_b, sse_a, sse_b,
    sse_pooled, f_stat, dfn, dfd, p_value)``, 6dp; NULL when either
    segment has < 3 rows or zero x-variance.

    Beyond the reference; standard per Chow 1960.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    s = F.col(segment_col).cast("int")
    base = df.where(
        x.isNotNull() & y.isNotNull() & s.isin(0, 1)
    ).select(x.alias("_x"), y.alias("_y"), s.alias("_s"))
    aggs = []
    for g in (0, 1):
        hit = F.col("_s") == g
        aggs += [
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint")
            .alias(f"_n{g}"),
            F.sum(F.when(hit, F.col("_x")).otherwise(0.0))
            .alias(f"_sx{g}"),
            F.sum(F.when(hit, F.col("_y")).otherwise(0.0))
            .alias(f"_sy{g}"),
            F.sum(F.when(hit, F.col("_x") * F.col("_x")).otherwise(0.0))
            .alias(f"_sxx{g}"),
            F.sum(F.when(hit, F.col("_x") * F.col("_y")).otherwise(0.0))
            .alias(f"_sxy{g}"),
            F.sum(F.when(hit, F.col("_y") * F.col("_y")).otherwise(0.0))
            .alias(f"_syy{g}"),
        ]
    agg = base.agg(*aggs)

    def _sse(n, sx, sy, sxx, sxy, syy):
        nd = n.cast("double")
        sxx_c = sxx - sx * sx / nd
        sxy_c = sxy - sx * sy / nd
        syy_c = syy - sy * sy / nd
        return F.when(
            (n >= 3) & (sxx_c > 0), syy_c - sxy_c * sxy_c / sxx_c
        )

    c = F.col
    sse_a = _sse(c("_n0"), c("_sx0"), c("_sy0"), c("_sxx0"),
                 c("_sxy0"), c("_syy0"))
    sse_b = _sse(c("_n1"), c("_sx1"), c("_sy1"), c("_sxx1"),
                 c("_sxy1"), c("_syy1"))
    sse_p = _sse(
        c("_n0") + c("_n1"), c("_sx0") + c("_sx1"),
        c("_sy0") + c("_sy1"), c("_sxx0") + c("_sxx1"),
        c("_sxy0") + c("_sxy1"), c("_syy0") + c("_syy1"),
    )
    staged = agg.withColumn("_ssea", sse_a).withColumn(
        "_sseb", sse_b
    ).withColumn("_ssep", sse_p)
    ntot = (c("_n0") + c("_n1")).cast("double")
    dfd = ntot - 4.0
    fstat = F.when(
        c("_ssea").isNotNull() & c("_sseb").isNotNull()
        & c("_ssep").isNotNull() & (dfd > 0)
        & (c("_ssea") + c("_sseb") > 0),
        ((c("_ssep") - c("_ssea") - c("_sseb")) / 2.0)
        / ((c("_ssea") + c("_sseb")) / dfd),
    )
    staged = staged.withColumn("_f", F.greatest(F.lit(0.0), fstat))
    staged = staged.withColumn(
        "_p",
        F.when(
            F.col("_f").isNotNull(),
            f_sf_udf(F.col("_f"), F.lit(2.0), dfd),
        ),
    )
    return staged.select(
        F.col("_n0").alias("n_a"),
        F.col("_n1").alias("n_b"),
        F.round("_ssea", 6).alias("sse_a"),
        F.round("_sseb", 6).alias("sse_b"),
        F.round("_ssep", 6).alias("sse_pooled"),
        F.round("_f", 6).alias("f_stat"),
        F.lit(2.0).alias("dfn"),
        F.round(dfd, 6).alias("dfd"),
        F.round("_p", 6).alias("p_value"),
    )


def cooks_distance(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_cols: list[str],
    threshold: float | None = None,
) -> DataFrame:
    """Cook's distance influence screen for the simple regression of
    ``y`` on ``x`` — "which rows are BENDING the fitted line?" (the
    row-level complement to :func:`grubbs_test`'s single-outlier
    question; the standard pre-fit hygiene pass for any trend the
    pipeline reports):

    ``D_i = e_i²·h_i / (p·s²·(1 − h_i)²)`` with
    ``h_i = 1/n + (x_i − x̄)²/Sxx``, p = 2, ``s² = SSE/(n − 2)``;
    flagged where ``D_i > threshold`` (default the classic ``4/n``).

    Scale shape: ONE aggregation to the OLS moments, broadcast back
    as a 1-row frame (constant-fold BNLJ), then a pure scan-level
    expression per row — no sort, no window, no second shuffle.
    Output: ``(*id_cols, x, y, residual, leverage, cooks_d)`` for
    flagged rows, 6dp.

    Beyond the reference; standard per Cook 1977.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        *id_cols, x.alias("_x"), y.alias("_y")
    )
    m = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    nd = F.col("_n").cast("double")
    sxx_c = F.col("_sxx") - F.col("_sx") * F.col("_sx") / nd
    sxy_c = F.col("_sxy") - F.col("_sx") * F.col("_sy") / nd
    syy_c = F.col("_syy") - F.col("_sy") * F.col("_sy") / nd
    fit = m.select(
        "_n",
        (sxy_c / sxx_c).alias("_b"),
        (F.col("_sy") / nd - (sxy_c / sxx_c) * F.col("_sx") / nd)
        .alias("_a"),
        (F.col("_sx") / nd).alias("_xbar"),
        sxx_c.alias("_sxxc"),
        ((syy_c - sxy_c * sxy_c / sxx_c) / (nd - 2.0)).alias("_s2"),
        F.lit(1).alias("_one"),
    ).where(
        (F.col("_n") >= 4) & (F.col("_sxxc") > 0) & (F.col("_s2") > 0)
    )
    joined = base.withColumn("_one", F.lit(1)).join(
        F.broadcast(fit), on="_one"
    )
    e = F.col("_y") - F.col("_a") - F.col("_b") * F.col("_x")
    h = (
        1.0 / F.col("_n").cast("double")
        + (F.col("_x") - F.col("_xbar"))
        * (F.col("_x") - F.col("_xbar"))
        / F.col("_sxxc")
    )
    d = (
        e * e * h
        / (
            2.0 * F.col("_s2")
            * (F.lit(1.0) - h) * (F.lit(1.0) - h)
        )
    )
    thr = (
        F.lit(float(threshold))
        if threshold is not None
        else 4.0 / F.col("_n").cast("double")
    )
    return (
        joined.withColumn("_d", d)
        .where(F.col("_d") > thr)
        .select(
            *id_cols,
            F.round("_x", 6).alias("x"),
            F.round("_y", 6).alias("y"),
            F.round(e, 6).alias("residual"),
            F.round(h, 6).alias("leverage"),
            F.round("_d", 6).alias("cooks_d"),
        )
    )


def mahalanobis_outliers(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_cols: list[str],
    d2_threshold: float = 13.815510557964274,
) -> DataFrame:
    """Bivariate Mahalanobis-distance outlier screen — the
    correlation-aware generalization of the 2-D z-score box ("far
    from the cloud ALONG ITS SHAPE", catching points no per-axis
    filter sees): ``d² = Δ'Σ̂⁻¹Δ`` against the sample mean/covariance,
    flagged where ``d² > d2_threshold`` (default the χ²₂ 0.999
    quantile — under normality ~0.1% false-flag rate).

    Scale shape: ONE aggregation to the five covariance moments
    (sample covariance, n − 1), the 2×2 inverse in closed form on the
    1-row frame, broadcast back (constant-fold BNLJ), then a pure
    scan-level quadratic form per row. Output: ``(*id_cols, x, y,
    d2)`` for flagged rows, 6dp; empty when n < 3 or the covariance
    is singular.

    Beyond the reference; textbook (Mahalanobis 1936).
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        *id_cols, x.alias("_x"), y.alias("_y")
    )
    m = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    nd = F.col("_n").cast("double")
    vx = (F.col("_sxx") - F.col("_sx") * F.col("_sx") / nd) / (
        nd - 1.0
    )
    vy = (F.col("_syy") - F.col("_sy") * F.col("_sy") / nd) / (
        nd - 1.0
    )
    cxy = (F.col("_sxy") - F.col("_sx") * F.col("_sy") / nd) / (
        nd - 1.0
    )
    det = vx * vy - cxy * cxy
    fit = m.select(
        "_n",
        (F.col("_sx") / nd).alias("_mx"),
        (F.col("_sy") / nd).alias("_my"),
        vx.alias("_vx"),
        vy.alias("_vy"),
        cxy.alias("_cxy"),
        det.alias("_det"),
        F.lit(1).alias("_one"),
    ).where((F.col("_n") >= 3) & (F.col("_det") > 0))
    joined = base.withColumn("_one", F.lit(1)).join(
        F.broadcast(fit), on="_one"
    )
    dx = F.col("_x") - F.col("_mx")
    dy = F.col("_y") - F.col("_my")
    d2 = (
        F.col("_vy") * dx * dx
        - 2.0 * F.col("_cxy") * dx * dy
        + F.col("_vx") * dy * dy
    ) / F.col("_det")
    return (
        joined.withColumn("_d2", d2)
        .where(F.col("_d2") > F.lit(float(d2_threshold)))
        .select(
            *id_cols,
            F.round("_x", 6).alias("x"),
            F.round("_y", 6).alias("y"),
            F.round("_d2", 6).alias("d2"),
        )
    )


def huber_regression(
    df: DataFrame,
    x_col: str,
    y_col: str,
    k: float = 1.345,
    n_iters: int = 3,
) -> DataFrame:
    """Huber-loss robust simple regression by FIXED-ITERATION IRLS —
    the trend line that ignores the price-glitch rows Cook's distance
    flags (OLS chases outliers quadratically; Huber weights them down
    linearly past ``k`` scale units):

    iteration 0 is plain OLS; its residual scale ``s₀ = √(SSE/(n−2))``
    is FROZEN (the fixed-scale Huber variant — a per-iteration MAD
    rescale would need a quantile pass per round and, worse, make the
    iteration count data-dependent, which breaks the engine-parity
    contract shared with :func:`cox_ph`'s unrolled Newton steps);
    each of the ``n_iters`` reweighted rounds solves the closed
    weighted least squares with ``w = min(1, k·s₀/|e|)``.

    Scale shape: one aggregation per round (OLS moments, then
    weighted moments), each consuming the previous 1-row fit via a
    broadcast constant-fold join — n_iters + 1 scans of the fact
    table, zero sorts, zero UDFs, zero driver collects. Output 1 row:
    ``(n, slope_ols, intercept_ols, slope, intercept, scale,
    n_downweighted)``, 6dp; NULL fit when n < 3 or x is constant.

    Beyond the reference; standard per Huber 1964 (IRLS form).
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        x.alias("_x"), y.alias("_y")
    ).withColumn("_one", F.lit(1))
    m = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    nd = F.col("_n").cast("double")
    sxx_c = F.col("_sxx") - F.col("_sx") * F.col("_sx") / nd
    sxy_c = F.col("_sxy") - F.col("_sx") * F.col("_sy") / nd
    syy_c = F.col("_syy") - F.col("_sy") * F.col("_sy") / nd
    b0 = sxy_c / sxx_c
    fit = m.select(
        "_n",
        F.when((F.col("_n") >= 3) & (sxx_c > 0), b0).alias("_b"),
        F.when(
            (F.col("_n") >= 3) & (sxx_c > 0),
            F.col("_sy") / nd - b0 * F.col("_sx") / nd,
        ).alias("_a"),
        F.when(
            (F.col("_n") >= 3) & (sxx_c > 0),
            F.sqrt((syy_c - sxy_c * sxy_c / sxx_c) / (nd - 2.0)),
        ).alias("_s0"),
        F.lit(1).alias("_one"),
    )
    fit = fit.withColumn("_b0", F.col("_b")).withColumn(
        "_a0", F.col("_a")
    )
    for _ in range(int(n_iters)):
        j = base.join(F.broadcast(fit), on="_one")
        e = F.abs(
            F.col("_y") - F.col("_a") - F.col("_b") * F.col("_x")
        )
        w = F.when(
            e > F.lit(float(k)) * F.col("_s0"),
            F.lit(float(k)) * F.col("_s0") / e,
        ).otherwise(F.lit(1.0))
        agg = j.agg(
            F.max("_n").alias("_n"),
            F.max("_b0").alias("_b0"),
            F.max("_a0").alias("_a0"),
            F.max("_s0").alias("_s0"),
            F.sum(w).alias("_sw"),
            F.sum(w * F.col("_x")).alias("_swx"),
            F.sum(w * F.col("_y")).alias("_swy"),
            F.sum(w * F.col("_x") * F.col("_x")).alias("_swxx"),
            F.sum(w * F.col("_x") * F.col("_y")).alias("_swxy"),
            F.sum((w < 1.0).cast("bigint")).alias("_ndw"),
        )
        wsxx = F.col("_swxx") - F.col("_swx") * F.col("_swx") / F.col(
            "_sw"
        )
        wsxy = F.col("_swxy") - F.col("_swx") * F.col("_swy") / F.col(
            "_sw"
        )
        bn = wsxy / wsxx
        fit = agg.select(
            "_n", "_b0", "_a0", "_s0", "_ndw",
            F.when(wsxx > 0, bn).alias("_b"),
            F.when(
                wsxx > 0,
                F.col("_swy") / F.col("_sw")
                - bn * F.col("_swx") / F.col("_sw"),
            ).alias("_a"),
            F.lit(1).alias("_one"),
        )
    return fit.select(
        F.col("_n").alias("n"),
        F.round("_b0", 6).alias("slope_ols"),
        F.round("_a0", 6).alias("intercept_ols"),
        F.round("_b", 6).alias("slope"),
        F.round("_a", 6).alias("intercept"),
        F.round("_s0", 6).alias("scale"),
        F.col("_ndw").alias("n_downweighted"),
    )


def negbin_fit(
    df: DataFrame,
    count_col: str,
) -> DataFrame:
    """Negative-binomial method-of-moments fit for an overdispersed
    count column (tokens per document, events per user, defects per
    batch) — the first question about any count distribution: "is
    this Poisson, and if not, how bad?":

    ``dispersion = s²/x̄`` (1 under Poisson), MoM shape
    ``r = x̄²/(s² − x̄)`` and ``p = x̄/s²`` (NULL unless s² > x̄ —
    under- or equi-dispersed data has no NB fit), plus the
    zero-inflation screen: observed zero fraction next to the Poisson
    prediction ``e^{−x̄}``.

    Integer contract ENFORCED in-plan (the gini_concentration rule):
    a fractional "count" raises at scan time rather than fitting
    nonsense. ONE aggregation; every moment from exact integer sums
    where they fit a double. Output 1 row: ``(n, mean, variance,
    dispersion, nb_r, nb_p, zero_frac, poisson_zero_frac)``, 6dp;
    NULL variance-derived fields when n < 2.

    Beyond the reference; textbook MoM (e.g. Hilbe, Negative Binomial
    Regression).
    """
    v = F.col(count_col)
    guarded = F.when(
        (v == F.floor(v)) & (v >= 0), v
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "negbin_fit requires non-negative integer "
                    "counts; got "
                ),
                v.cast("string"),
                F.lit(f" in column {count_col!r}"),
            )
        ).cast(df.schema[count_col].dataType)
    )
    base = df.where(v.isNotNull()).select(
        guarded.cast("double").alias("_c")
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_c").alias("_s1"),
        F.sum(F.col("_c") * F.col("_c")).alias("_s2"),
        F.sum((F.col("_c") == 0).cast("bigint")).alias("_z"),
    )
    nd = F.col("n").cast("double")
    m = F.col("_s1") / nd
    var = F.when(
        F.col("n") >= 2,
        (F.col("_s2") - nd * m * m) / (nd - 1.0),
    )
    disp = F.when(m > 0, var / m)
    over = var > m
    r = F.when(over, m * m / (var - m))
    p = F.when(over, m / var)
    return agg.select(
        "n",
        F.round(m, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.round(disp, 6).alias("dispersion"),
        F.round(r, 6).alias("nb_r"),
        F.round(p, 6).alias("nb_p"),
        F.round(F.col("_z").cast("double") / nd, 6).alias("zero_frac"),
        F.round(F.exp(-m), 6).alias("poisson_zero_frac"),
    )


def mde_two_proportion(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    variant_a,
    variant_b,
    alpha: float = 0.05,
    power: float = 0.8,
) -> DataFrame:
    """Post-hoc minimum detectable effect for a two-proportion A/B —
    "was this experiment even ABLE to see the lift we care about?"
    (the question to ask before reading a null result as 'no
    effect'):

    ``MDE = (z_{1−α/2} + z_{power})·√(p̄(1−p̄)·(1/n_a + 1/n_b))``
    with the pooled rate p̄ — the standard normal-approximation
    planning identity, evaluated on the REALIZED sample sizes. The z
    quantiles come from a fixed lookup of the supported (α, power)
    grid (0.10/0.05/0.01 × 0.8/0.9/0.95) so no inverse-normal code
    path exists to disagree across engines.

    ONE conditional aggregation. Output 1 row: ``(n_a, n_b, rate_a,
    rate_b, pooled_rate, observed_diff, mde_absolute, powered)``,
    6dp; ``powered`` is |observed_diff| ≥ MDE. NULLs when either arm
    is empty.

    Beyond the reference; standard power analysis (e.g. Fleiss,
    Statistical Methods for Rates and Proportions).
    """
    _Z_ALPHA = {0.10: 1.6448536269514722, 0.05: 1.959963984540054,
                0.01: 2.5758293035489004}
    _Z_POWER = {0.8: 0.8416212335729143, 0.9: 1.2815515655446004,
                0.95: 1.6448536269514722}
    if alpha not in _Z_ALPHA or power not in _Z_POWER:
        raise ValueError(
            "mde_two_proportion: supported alpha in "
            f"{sorted(_Z_ALPHA)} and power in {sorted(_Z_POWER)} "
            "(fixed z lookup keeps both engines identical)"
        )
    zsum = _Z_ALPHA[alpha] + _Z_POWER[power]
    g = F.col(variant_col)
    s = F.col(success_col).cast("int")
    base = df.where(
        g.isin([variant_a, variant_b]) & s.isNotNull()
    )
    agg = base.agg(
        F.sum((g == variant_a).cast("int")).cast("bigint").alias("n_a"),
        F.sum((g == variant_b).cast("int")).cast("bigint").alias("n_b"),
        F.sum(F.when(g == variant_a, s).otherwise(0)).cast("bigint")
        .alias("_ka"),
        F.sum(F.when(g == variant_b, s).otherwise(0)).cast("bigint")
        .alias("_kb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    ra = F.when(ok, F.col("_ka") / na)
    rb = F.when(ok, F.col("_kb") / nb)
    pbar = F.when(ok, (F.col("_ka") + F.col("_kb")) / (na + nb))
    mde = F.lit(float(zsum)) * F.sqrt(
        pbar * (1.0 - pbar) * (1.0 / na + 1.0 / nb)
    )
    diff = rb - ra
    return agg.select(
        "n_a", "n_b",
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(pbar, 6).alias("pooled_rate"),
        F.round(diff, 6).alias("observed_diff"),
        F.round(mde, 6).alias("mde_absolute"),
        F.when(ok, F.abs(diff) >= mde).alias("powered"),
    )


def holm_adjust(
    df: DataFrame,
    p_col: str = "p_value",
    out_col: str = "p_holm",
) -> DataFrame:
    """Holm step-down adjusted p-values — the FWER companion to the
    FDR machinery in :func:`qvalues` (use Holm when ONE false positive
    is unacceptable — release gates, safety filters — and BH/Storey
    when a controlled false-discovery RATE is fine):

    sort p ascending; ``p̃_(i) = min(1, max_{j ≤ i} (m − j + 1)·p_(j))``
    — uniformly more powerful than Bonferroni, valid under arbitrary
    dependence.

    Plan note: the rank/forward-max windows are global-order — a
    single-partition sort of the per-feature p-value table (m =
    #features, ≪ fact-table size; the same documented trade as
    :func:`qvalues`). Rows with NULL p pass through with NULL output.
    Output: input + ``out_col``, 6dp.
    """
    valid = df.filter(F.col(p_col).isNotNull())
    nulls = df.filter(F.col(p_col).isNull()).withColumn(
        out_col, F.lit(None).cast("double")
    )
    w_all = Window.partitionBy()
    w_rank = Window.orderBy(F.col(p_col).asc())
    m_col = F.count(F.lit(1)).over(w_all).cast("double")
    ranked = valid.withColumn("_rank", F.row_number().over(w_rank))
    raw = (m_col - F.col("_rank").cast("double") + 1.0) * F.col(p_col)
    w_runmax = Window.orderBy(
        F.col(p_col).asc(), F.col("_rank").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    out = (
        ranked.withColumn("_h_raw", raw)
        .withColumn(
            out_col,
            F.round(
                F.least(F.max("_h_raw").over(w_runmax), F.lit(1.0)), 6
            ),
        )
        .drop("_h_raw", "_rank")
    )
    return out.unionByName(nulls)


def delong_test(
    df: DataFrame,
    label_col: str,
    score_a_col: str,
    score_b_col: str,
) -> DataFrame:
    """DeLong's test for comparing two CORRELATED ROC-AUCs — "is model
    B actually better than model A on the SAME eval rows?" (the
    correct test; comparing two independent AUC CIs ignores that both
    models score the same examples and is badly conservative):

    AUC via midranks; per-example structural components
    ``V10_i = (R_i − R_i^{pos})/n₀`` over positives and
    ``V01_j = 1 − (R_j − R_j^{neg})/n₁`` over negatives (R = midrank
    among all, R^{class} = midrank within the example's own class);
    ``z = (AUC_A − AUC_B)/√v`` with
    ``v = (s₁₀^{AA}+s₁₀^{BB}−2s₁₀^{AB})/n₁ +
    (s₀₁^{AA}+s₀₁^{BB}−2s₀₁^{AB})/n₀`` (sample covariances of the
    components); two-sided p via the shared A&S-erfc polynomial.

    Scale shape: per model, ONE groupBy to the per-distinct-score
    class counts, the DISTRIBUTED stepped cumsum
    (:func:`_stepped_running_counts` — never a global sort of the
    data), and one value-keyed join back to the rows; the final
    covariance pass is one aggregation. No pairwise enumeration
    anywhere (the naive definition is n₁·n₀ pairs PER MODEL). Output
    1 row: ``(n_pos, n_neg, auc_a, auc_b, auc_diff, z, p_value)``,
    6dp; z/p NULL when either class is empty or the variance is 0.

    Beyond the reference; standard per DeLong, DeLong & Clarke-
    Pearson 1988 (the Sun & Xu 2014 midrank formulation).
    """
    from padua_spark.io_utils import track_cached

    y = F.col(label_col).cast("int")
    base = df.where(
        y.isNotNull()
        & F.col(score_a_col).isNotNull()
        & F.col(score_b_col).isNotNull()
    ).select(
        y.alias("_y"),
        F.col(score_a_col).cast("double").alias("_sa"),
        F.col(score_b_col).cast("double").alias("_sb"),
    )
    cached = []
    comp = base
    for tag in ("a", "b"):
        per = (
            comp.groupBy(F.col(f"_s{tag}").alias("_v"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("_c"),
                F.sum("_y").cast("bigint").alias("_cp"),
            )
            .withColumn("_cn", F.col("_c") - F.col("_cp"))
        )
        stepped = _stepped_running_counts(per, "_v", ["_c", "_cp", "_cn"])
        cached.extend(getattr(stepped, "_padua_cached", ()))
        mr_all = (
            (F.col("_c_run") - F.col("_c")).cast("double")
            + (F.col("_c").cast("double") + 1.0) / 2.0
        )
        mr_pos = (
            (F.col("_cp_run") - F.col("_cp")).cast("double")
            + (F.col("_cp").cast("double") + 1.0) / 2.0
        )
        mr_neg = (
            (F.col("_cn_run") - F.col("_cn")).cast("double")
            + (F.col("_cn").cast("double") + 1.0) / 2.0
        )
        ranks = stepped.select(
            F.col("_v").alias(f"_s{tag}"),
            mr_all.alias(f"_ra_{tag}"),
            mr_pos.alias(f"_rp_{tag}"),
            mr_neg.alias(f"_rn_{tag}"),
        )
        comp = comp.join(ranks, on=f"_s{tag}")
    n1 = F.sum("_y").cast("double")
    n0 = F.sum(F.lit(1) - F.col("_y")).cast("double")
    counted = comp.withColumn("_one", F.lit(1))
    aggs = [
        F.sum("_y").cast("bigint").alias("n_pos"),
        F.sum(F.lit(1) - F.col("_y")).cast("bigint").alias("n_neg"),
    ]
    # V components need n0/n1 — fold them in a second pass over a
    # staged frame via a 1-row broadcast (constant-fold BNLJ)
    totals = counted.agg(
        n1.alias("_n1"), n0.alias("_n0"), F.lit(1).alias("_one")
    )
    j = counted.join(F.broadcast(totals), on="_one")
    v10 = {
        t: (F.col(f"_ra_{t}") - F.col(f"_rp_{t}")) / F.col("_n0")
        for t in ("a", "b")
    }
    v01 = {
        t: 1.0 - (F.col(f"_ra_{t}") - F.col(f"_rn_{t}")) / F.col("_n1")
        for t in ("a", "b")
    }
    is_pos = F.col("_y") == 1

    def _sums(prefix, vmap, cond):
        out = []
        for t in ("a", "b"):
            out.append(
                F.sum(F.when(cond, vmap[t]).otherwise(0.0))
                .alias(f"_{prefix}s{t}")
            )
        for ta, tb in (("a", "a"), ("b", "b"), ("a", "b")):
            out.append(
                F.sum(
                    F.when(cond, vmap[ta] * vmap[tb]).otherwise(0.0)
                ).alias(f"_{prefix}x{ta}{tb}")
            )
        return out

    agg = j.agg(
        F.sum("_y").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("_y")).cast("bigint").alias("n_neg"),
        *_sums("p", v10, is_pos),
        *_sums("n", v01, ~is_pos),
    )
    n1d = F.col("n_pos").cast("double")
    n0d = F.col("n_neg").cast("double")
    auc = {t: F.col(f"_ps{t}") / n1d for t in ("a", "b")}

    def _cov(prefix, nd, ta, tb):
        return (
            F.col(f"_{prefix}x{ta}{tb}")
            - F.col(f"_{prefix}s{ta}") * F.col(f"_{prefix}s{tb}") / nd
        ) / (nd - 1.0)

    var = (
        _cov("p", n1d, "a", "a")
        + _cov("p", n1d, "b", "b")
        - 2.0 * _cov("p", n1d, "a", "b")
    ) / n1d + (
        _cov("n", n0d, "a", "a")
        + _cov("n", n0d, "b", "b")
        - 2.0 * _cov("n", n0d, "a", "b")
    ) / n0d
    ok = (F.col("n_pos") >= 2) & (F.col("n_neg") >= 2)
    z = F.when(ok & (var > 0), (auc["a"] - auc["b"]) / F.sqrt(var))
    out = agg.select(
        "n_pos", "n_neg",
        F.round(auc["a"], 6).alias("auc_a"),
        F.round(auc["b"], 6).alias("auc_b"),
        F.round(auc["a"] - auc["b"], 6).alias("auc_diff"),
        F.round(z, 6).alias("z"),
        F.round(
            F.when(z.isNotNull(), _normal_sf_2sided(z)), 6
        ).alias("p_value"),
    )
    return track_cached(out, *cached)


def ipw_ate(
    df: DataFrame,
    treatment_col: str,
    outcome_col: str,
    propensity_col: str,
    trim: float = 0.01,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect (Hájek /
    self-normalized form) — the workhorse observational-causal
    estimator once a propensity column exists (fit one with
    :func:`~padua_spark.operators.ml.logistic_regression` or bring
    your own):

    ``ATE = Σ_T y/e / Σ_T 1/e − Σ_C y/(1−e) / Σ_C 1/(1−e)``

    with propensities TRIMMED to ``[trim, 1−trim]`` (the standard
    positivity guard — untrimmed IPW's variance is unbounded as
    e → 0/1); the normal-approximation SE uses the weighted
    within-arm variances of the Hájek residuals, and the effective
    sample size ``ESS = (Σw)²/Σw²`` per arm reports how much data the
    weights actually keep.

    ONE conditional aggregation. Output 1 row: ``(n_treat,
    n_control, ess_treat, ess_control, ate, se, z, p_value)``, 6dp;
    NULL inference when either arm is empty.

    Beyond the reference; standard per Horvitz-Thompson 1952 / Hájek
    1971 (see Imbens & Rubin 2015 ch. 12 for the SE form).
    """
    t = F.col(treatment_col).cast("int")
    y = F.col(outcome_col).cast("double")
    e = F.col(propensity_col).cast("double")
    e = F.least(F.greatest(e, F.lit(float(trim))), F.lit(1.0 - trim))
    base = df.where(
        t.isin(0, 1) & y.isNotNull() & F.col(propensity_col).isNotNull()
    ).select(t.alias("_t"), y.alias("_y"), e.alias("_e"))
    wt = F.when(F.col("_t") == 1, 1.0 / F.col("_e")).otherwise(
        1.0 / (1.0 - F.col("_e"))
    )
    staged = base.withColumn("_w", wt)
    aggs = []
    for g in (1, 0):
        hit = F.col("_t") == g
        tag = "t" if g == 1 else "c"
        aggs += [
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint")
            .alias(f"_n{tag}"),
            F.sum(F.when(hit, F.col("_w")).otherwise(0.0))
            .alias(f"_sw{tag}"),
            F.sum(F.when(hit, F.col("_w") * F.col("_w")).otherwise(0.0))
            .alias(f"_sww{tag}"),
            F.sum(F.when(hit, F.col("_w") * F.col("_y")).otherwise(0.0))
            .alias(f"_swy{tag}"),
            F.sum(
                F.when(
                    hit, F.col("_w") * F.col("_w") * F.col("_y")
                    * F.col("_y")
                ).otherwise(0.0)
            ).alias(f"_swwyy{tag}"),
            F.sum(
                F.when(
                    hit, F.col("_w") * F.col("_w") * F.col("_y")
                ).otherwise(0.0)
            ).alias(f"_swwy{tag}"),
        ]
    agg = staged.agg(*aggs)

    def _arm(tag):
        sw = F.col(f"_sw{tag}")
        mu = F.col(f"_swy{tag}") / sw
        # variance of the Hajek ratio estimator via the linearized
        # residuals: Var ~ sum w^2 (y - mu)^2 / (sum w)^2
        s2 = (
            F.col(f"_swwyy{tag}")
            - 2.0 * mu * F.col(f"_swwy{tag}")
            + mu * mu * F.col(f"_sww{tag}")
        ) / (sw * sw)
        ess = sw * sw / F.col(f"_sww{tag}")
        return mu, s2, ess

    mu_t, v_t, ess_t = _arm("t")
    mu_c, v_c, ess_c = _arm("c")
    ok = (F.col("_nt") > 0) & (F.col("_nc") > 0)
    ate = F.when(ok, mu_t - mu_c)
    se = F.when(ok & (v_t + v_c > 0), F.sqrt(v_t + v_c))
    z = ate / se
    return agg.select(
        F.col("_nt").alias("n_treat"),
        F.col("_nc").alias("n_control"),
        F.round(F.when(ok, ess_t), 6).alias("ess_treat"),
        F.round(F.when(ok, ess_c), 6).alias("ess_control"),
        F.round(ate, 6).alias("ate"),
        F.round(se, 6).alias("se"),
        F.round(z, 6).alias("z"),
        F.round(
            F.when(z.isNotNull(), _normal_sf_2sided(z)), 6
        ).alias("p_value"),
    )


def diff_in_diff(
    df: DataFrame,
    group_col: str,
    post_col: str,
    outcome_col: str,
) -> DataFrame:
    """2×2 difference-in-differences — the launch-impact workhorse
    when assignment wasn't randomized but a control series exists
    ("treated region vs control region, before vs after"):

    ``ATT = (ȳ_{T,post} − ȳ_{T,pre}) − (ȳ_{C,post} − ȳ_{C,pre})``

    (identical to the OLS interaction coefficient of
    ``y ~ group·post``); SE from the four independent cell means
    (``√Σ s²_g,p/n_g,p`` — the heteroskedasticity-robust 2×2 form),
    normal-approximation z/p. ``group_col`` and ``post_col`` must be
    0/1.

    ONE conditional aggregation to the four cells. Output 1 row: the
    four cell means + ``(att, se, z, p_value)``, 6dp; NULL inference
    when any cell has < 2 rows.

    Beyond the reference; textbook (Card & Krueger 1994 form).
    """
    g = F.col(group_col).cast("int")
    p = F.col(post_col).cast("int")
    y = F.col(outcome_col).cast("double")
    base = df.where(
        g.isin(0, 1) & p.isin(0, 1) & y.isNotNull()
    ).select(g.alias("_g"), p.alias("_p"), y.alias("_y"))
    aggs = []
    for gg in (0, 1):
        for pp in (0, 1):
            hit = (F.col("_g") == gg) & (F.col("_p") == pp)
            tag = f"{gg}{pp}"
            aggs += [
                F.sum(F.when(hit, 1).otherwise(0)).cast("bigint")
                .alias(f"_n{tag}"),
                F.sum(F.when(hit, F.col("_y")).otherwise(0.0))
                .alias(f"_s{tag}"),
                F.sum(
                    F.when(hit, F.col("_y") * F.col("_y"))
                    .otherwise(0.0)
                ).alias(f"_q{tag}"),
            ]
    agg = base.agg(*aggs)

    def _cell(tag):
        n = F.col(f"_n{tag}").cast("double")
        mu = F.col(f"_s{tag}") / n
        var = (F.col(f"_q{tag}") - n * mu * mu) / (n - 1.0)
        return n, mu, var

    cells = {t: _cell(t) for t in ("00", "01", "10", "11")}
    ok = None
    for t in cells:
        c = F.col(f"_n{t}") >= 2
        ok = c if ok is None else ok & c
    att = (cells["11"][1] - cells["10"][1]) - (
        cells["01"][1] - cells["00"][1]
    )
    se2 = None
    for t in cells:
        n, _, var = cells[t]
        term = var / n
        se2 = term if se2 is None else se2 + term
    se = F.when(ok & (se2 > 0), F.sqrt(se2))
    z = F.when(ok, att) / se
    return agg.select(
        F.col("_n00").alias("n_ctrl_pre"),
        F.col("_n01").alias("n_ctrl_post"),
        F.col("_n10").alias("n_treat_pre"),
        F.col("_n11").alias("n_treat_post"),
        F.round(F.when(ok, cells["00"][1]), 6).alias("mean_ctrl_pre"),
        F.round(F.when(ok, cells["01"][1]), 6).alias("mean_ctrl_post"),
        F.round(F.when(ok, cells["10"][1]), 6).alias("mean_treat_pre"),
        F.round(F.when(ok, cells["11"][1]), 6).alias("mean_treat_post"),
        F.round(F.when(ok, att), 6).alias("att"),
        F.round(se, 6).alias("se"),
        F.round(z, 6).alias("z"),
        F.round(
            F.when(z.isNotNull(), _normal_sf_2sided(z)), 6
        ).alias("p_value"),
    )


_LEHMER_M = 2_147_483_647  # 2^31 - 1 (Park-Miller modulus)
_LEHMER_A = 48_271


def _lehmer_bit(id_col: Column, salt: int) -> Column:
    """Deterministic engine-portable pseudo-random bit for a row id:
    quadratic mixing over GF(M) — ``h1 = h0² mod M``,
    ``h2 = (h1·A + h0) mod M``, ``h3 = h2² mod M`` with the
    Park-Miller constants. The SQUARING matters: a pure
    multiplicative (Lehmer) step maps consecutive ids to a constant-
    step lattice whose splits are far TOO balanced (measured: null-
    diff sd collapsed ~10× below the binomial-split theory on
    periodic inputs); the quadratic chain matches the theoretical
    split variance on both periodic and uniform inputs. Every product
    stays < 2^63 (M−1 squared = 4.61e18), so the arithmetic is exact
    BIGINT on any engine — no 64-bit wraparound semantics involved —
    and the threshold on h3 gives a balanced bit."""
    h0 = (
        (id_col.cast("long") % F.lit(_LEHMER_M)) + F.lit(int(salt))
    ) % F.lit(_LEHMER_M)
    h1 = (h0 * h0) % F.lit(_LEHMER_M)
    h2 = (h1 * F.lit(_LEHMER_A) + h0) % F.lit(_LEHMER_M)
    h3 = (h2 * h2) % F.lit(_LEHMER_M)
    return (h3 < F.lit(_LEHMER_M // 2)).cast("int")


def randomization_test_mean(
    df: DataFrame,
    id_col: str,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    n_perms: int = 199,
) -> DataFrame:
    """Randomization (permutation) test for a difference in means —
    the assumption-free significance check for A/B metrics whose
    distribution laughs at the t-test (revenue, latency tails):
    re-randomize the group labels ``n_perms`` times, p = fraction of
    null |diffs| ≥ |observed| (with the add-one rule
    ``(1 + #extreme)/(1 + B)`` — the exact-valid Monte Carlo form).

    Engine determinism: re-randomizations are NOT sampled — each perm
    b reassigns every row by a Park-Miller Lehmer hash of
    ``(id + salt_b)`` (exact integer arithmetic < 2^48, identical on
    any engine), so the test is reproducible bit-for-bit. This is
    random-REASSIGNMENT (binomial splits), the standard large-n
    approximation of the permutation null; the label-count-preserving
    exact permutation is not expressible as a scan (documented
    trade).

    Scale shape: EXPLODE a literal 1..B sequence against the rows and
    compute each perm's reassignment bit as a plain codegen
    expression on the (row × perm) frame, then ONE map-side-combined
    groupBy(b) to the B-row null-diff table — measured ~10× faster
    than B conditional-sum columns in a single wide aggregation,
    which trips Spark's codegen field limit (>100 aggregate
    expressions fall back to interpreted evaluation) AND pays an
    interpreted per-row price for every CASE. The observed diff is
    one more aggregation of the same persisted base; the extreme
    count is a second aggregation over the B-row frame. Output 1 row:
    ``(n_a, n_b, observed_diff, p_value, n_perms)``, 6dp.

    Beyond the reference; standard per Fisher 1935 / Edgington &
    Onghena (Monte Carlo randomization form).
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    base = df.where(
        g.isin([group_a, group_b]) & v.isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        (g == group_a).cast("int").alias("_a"),
        v.alias("_v"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    obs_agg = base.agg(
        F.sum("_a").cast("bigint").alias("_na"),
        F.sum(F.lit(1) - F.col("_a")).cast("bigint").alias("_nb"),
        F.sum(F.when(F.col("_a") == 1, F.col("_v")).otherwise(0.0))
        .alias("_sa"),
        F.sum(F.when(F.col("_a") == 0, F.col("_v")).otherwise(0.0))
        .alias("_sb"),
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_v").alias("_s"),
    ).withColumn("_one", F.lit(1))
    # (row x perm) bits in whole-stage codegen: the hash arithmetic
    # is inlined per exploded row — never an interpreted HOF lambda
    st = base.select(
        "_id", "_v",
        F.explode(
            F.sequence(F.lit(1), F.lit(int(n_perms)))
        ).alias("_b"),
    )
    h0 = (
        (F.col("_id").cast("long") % F.lit(_LEHMER_M))
        + F.col("_b").cast("long") * F.lit(1_000_003)
    ) % F.lit(_LEHMER_M)
    h1 = (h0 * h0) % F.lit(_LEHMER_M)
    h2 = (h1 * F.lit(_LEHMER_A) + h0) % F.lit(_LEHMER_M)
    h3 = (h2 * h2) % F.lit(_LEHMER_M)
    bit = (h3 < F.lit(_LEHMER_M // 2)).cast("int")
    per = st.select("_v", "_b", bit.alias("_bit")).groupBy("_b").agg(
        F.sum("_bit").cast("bigint").alias("_pn"),
        F.sum(F.col("_bit") * F.col("_v")).alias("_ps"),
    )
    j = per.withColumn("_one", F.lit(1)).join(
        F.broadcast(obs_agg), on="_one"
    )
    obs = F.col("_sa") / F.col("_na").cast("double") - F.col(
        "_sb"
    ) / F.col("_nb").cast("double")
    pn = F.col("_pn").cast("double")
    qn = (F.col("_n") - F.col("_pn")).cast("double")
    null_d = F.when(
        (pn > 0) & (qn > 0),
        F.col("_ps") / pn - (F.col("_s") - F.col("_ps")) / qn,
    )
    ext = F.when(
        null_d.isNotNull() & (F.abs(null_d) >= F.abs(obs)), 1
    ).otherwise(0)
    fin = j.agg(
        F.max("_na").alias("_na"),
        F.max("_nb").alias("_nb"),
        F.max("_sa").alias("_sa"),
        F.max("_sb").alias("_sb"),
        F.sum(ext).cast("bigint").alias("_next"),
    )
    obs_f = F.col("_sa") / F.col("_na").cast("double") - F.col(
        "_sb"
    ) / F.col("_nb").cast("double")
    p = (1.0 + F.col("_next").cast("double")) / (1.0 + float(n_perms))
    ok = (F.col("_na") > 0) & (F.col("_nb") > 0)
    out = fin.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.round(F.when(ok, obs_f), 6).alias("observed_diff"),
        F.round(F.when(ok, p), 6).alias("p_value"),
        F.lit(int(n_perms)).alias("n_perms"),
    )
    return track_cached(out, base)


def bayes_ab_beta(
    df: DataFrame,
    variant_col: str,
    success_col: str,
    variant_a,
    variant_b,
    prior_alpha: int = 1,
    prior_beta: int = 1,
    max_support: int = 200_000,
) -> DataFrame:
    """Bayesian beta-binomial A/B — ``P(rate_B > rate_A)`` under
    independent Beta posteriors (the "chance to beat control" number
    product dashboards actually want, instead of a p-value):

    with integer priors, the EXACT closed sum (Cook's identity)
    ``P = Σ_{i=0}^{a₂−1} exp(ln B(a₁+i, b₁+b₂) − ln(b₂+i)
    − ln B(1+i, b₂) − ln B(a₁, b₁))`` over the posterior
    ``a₂ = α+k_B`` support — a JVM higher-order fold sharing the
    Lanczos log-gamma with every other exact test. ABOVE
    ``max_support`` (the big-data regime where the posteriors are
    needle-thin anyway) the test switches in-plan to the normal
    moment approximation ``P ≈ Φ((μ_B−μ_A)/√(v_A+v_B))`` with the
    exact Beta moments — the fold's support clamps to one element, so
    the big-n branch does no sum at all (the :func:`sign_test`
    discipline). ``method`` reports the branch.

    ONE conditional aggregation. Output 1 row: ``(n_a, k_a, n_b,
    k_b, rate_a, rate_b, lift, method, prob_b_beats_a)``, 6dp.

    Beyond the reference; standard (Cook 2005, "Exact calculation of
    beta inequalities").
    """
    from padua_spark.operators.external import gammaln_col

    if int(prior_alpha) != prior_alpha or int(prior_beta) != prior_beta:
        raise ValueError(
            "bayes_ab_beta: priors must be integers — the exact sum "
            "needs an integer posterior alpha"
        )
    g = F.col(variant_col)
    s = F.col(success_col).cast("int")
    base = df.where(g.isin([variant_a, variant_b]) & s.isNotNull())
    agg = base.agg(
        F.sum((g == variant_a).cast("int")).cast("bigint").alias("n_a"),
        F.sum((g == variant_b).cast("int")).cast("bigint").alias("n_b"),
        F.sum(F.when(g == variant_a, s).otherwise(0)).cast("bigint")
        .alias("k_a"),
        F.sum(F.when(g == variant_b, s).otherwise(0)).cast("bigint")
        .alias("k_b"),
    )
    pa, pb = int(prior_alpha), int(prior_beta)
    staged = (
        agg.withColumn("_a1", F.col("k_a") + F.lit(pa))
        .withColumn("_b1", F.col("n_a") - F.col("k_a") + F.lit(pb))
        .withColumn("_a2", F.col("k_b") + F.lit(pa))
        .withColumn("_b2", F.col("n_b") - F.col("k_b") + F.lit(pb))
    )
    if max_support is None:
        is_exact = F.lit(True)
    else:
        is_exact = F.col("_a2") <= F.lit(int(max_support))
    staged = staged.withColumn("_exact", is_exact).withColumn(
        "_a2c", F.when(is_exact, F.col("_a2")).otherwise(F.lit(1))
    )

    def _logbeta(a, b):
        return (
            gammaln_col(a.cast("double"))
            + gammaln_col(b.cast("double"))
            - gammaln_col((a + b).cast("double"))
        )

    lb_a1b1 = _logbeta(F.col("_a1"), F.col("_b1"))
    idx = F.sequence(
        F.lit(0).cast("bigint"), F.col("_a2c") - F.lit(1)
    )
    a1 = F.col("_a1")
    b1 = F.col("_b1")
    b2 = F.col("_b2")
    terms = F.transform(
        idx,
        lambda i: F.exp(
            _logbeta(a1 + i, b1 + b2)
            - F.log((b2 + i).cast("double"))
            - _logbeta(i + F.lit(1), b2)
            - lb_a1b1
        ),
    )
    p_exact = F.aggregate(
        terms, F.lit(0.0), lambda acc, t: acc + t
    )
    mu_a = F.col("_a1").cast("double") / (
        F.col("_a1") + F.col("_b1")
    ).cast("double")
    mu_b = F.col("_a2").cast("double") / (
        F.col("_a2") + F.col("_b2")
    ).cast("double")

    def _betavar(a, b):
        ad, bd = a.cast("double"), b.cast("double")
        return ad * bd / ((ad + bd) * (ad + bd) * (ad + bd + 1.0))

    z = (mu_b - mu_a) / F.sqrt(
        _betavar(F.col("_a1"), F.col("_b1"))
        + _betavar(F.col("_a2"), F.col("_b2"))
    )
    p_norm = 1.0 - _normal_sf_1sided(z)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    prob = F.when(ok & F.col("_exact"), p_exact).when(
        ok & ~F.col("_exact"), p_norm
    )
    return staged.select(
        "n_a", "k_a", "n_b", "k_b",
        F.round(
            F.when(ok, F.col("k_a") / F.col("n_a").cast("double")), 6
        ).alias("rate_a"),
        F.round(
            F.when(ok, F.col("k_b") / F.col("n_b").cast("double")), 6
        ).alias("rate_b"),
        F.round(F.when(ok, mu_b - mu_a), 6).alias("lift"),
        F.when(F.col("_exact"), F.lit("exact"))
        .otherwise(F.lit("normal")).alias("method"),
        F.round(
            F.least(F.greatest(prob, F.lit(0.0)), F.lit(1.0)), 6
        ).alias("prob_b_beats_a"),
    )


def eb_rate_shrinkage(
    df: DataFrame,
    group_cols: list[str],
    success_col: str,
) -> DataFrame:
    """Empirical-Bayes beta-binomial rate shrinkage — the per-group
    rate you should ACTUALLY rank by (per-source quality pass rates,
    per-domain click rates): raw rates for tiny groups are noise, so
    shrink each toward the corpus-wide prior with strength learned
    from the between-group spread:

    method-of-moments prior: ``μ = Σk/Σn``;
    ``σ²_p = max(var(p̂_g) − mean(p̂_g(1−p̂_g)/n_g), 0)`` (observed
    between-group variance minus the average binomial noise);
    prior strength ``M = μ(1−μ)/σ²_p − 1``;
    ``shrunk_g = (k_g + μM)/(n_g + M)``. When σ²_p ≤ 0 the groups are
    indistinguishable from a single rate and every group shrinks all
    the way to μ (M = ∞ limit; ``prior_strength`` NULL).

    Scale shape: one groupBy to the per-group (n, k), one global
    aggregation over the GROUPS frame (tiny), broadcast back
    (constant-fold BNLJ). Output: one row per group: ``(*group_cols,
    n, k, raw_rate, shrunk_rate, prior_mean, prior_strength)``, 6dp.

    Beyond the reference; standard (Efron & Morris 1975 shape, the
    beta-binomial MoM variant).
    """
    s = F.col(success_col).cast("int")
    per = (
        df.where(s.isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(s).cast("bigint").alias("k"),
        )
    )
    nd = F.col("n").cast("double")
    p_hat = F.col("k").cast("double") / nd
    glob = per.agg(
        F.sum("k").cast("double").alias("_sk"),
        F.sum("n").cast("double").alias("_sn"),
        F.count(F.lit(1)).cast("double").alias("_g"),
        F.sum(p_hat).alias("_sp"),
        F.sum(p_hat * p_hat).alias("_spp"),
        F.sum(p_hat * (1.0 - p_hat) / nd).alias("_snoise"),
    )
    mu = F.col("_sk") / F.col("_sn")
    var_obs = (
        F.col("_spp") - F.col("_sp") * F.col("_sp") / F.col("_g")
    ) / (F.col("_g") - 1.0)
    var_p = F.greatest(
        var_obs - F.col("_snoise") / F.col("_g"), F.lit(0.0)
    )
    m_str = F.when(
        (F.col("_g") >= 2) & (var_p > 0),
        F.greatest(mu * (1.0 - mu) / var_p - 1.0, F.lit(0.0)),
    )
    prior = glob.select(
        mu.alias("_mu"), m_str.alias("_m"), F.lit(1).alias("_one")
    )
    j = per.withColumn("_one", F.lit(1)).join(
        F.broadcast(prior), on="_one"
    )
    shrunk = F.when(
        F.col("_m").isNotNull(),
        (F.col("k").cast("double") + F.col("_mu") * F.col("_m"))
        / (nd + F.col("_m")),
    ).otherwise(F.col("_mu"))
    return j.select(
        *group_cols, "n", "k",
        F.round(p_hat, 6).alias("raw_rate"),
        F.round(shrunk, 6).alias("shrunk_rate"),
        F.round("_mu", 6).alias("prior_mean"),
        F.round("_m", 6).alias("prior_strength"),
    )


def chapman_estimate(
    df: DataFrame,
    in_a_col: str,
    in_b_col: str,
) -> DataFrame:
    """Chapman capture–recapture population estimate — "how big is
    the TRUE corpus/population given two overlapping samples?" (two
    crawls of the same web slice, two dedup passes, two labeling
    vendors): from the two membership flags,

    ``N̂ = (n₁+1)(n₂+1)/(m+1) − 1`` (the bias-corrected
    Lincoln–Petersen), ``Var̂ = (n₁+1)(n₂+1)(n₁−m)(n₂−m) /
    ((m+1)²(m+2))``, normal 95% CI. Independence of the two capture
    processes is the caller's assumption to defend, as ever.

    ONE aggregation over the union frame (rows = items seen by either
    sample, flags 0/1). Output 1 row: ``(n_a, n_b, n_both, n_either,
    n_hat, se, ci_lo, ci_hi)``, 6dp; CI floored at ``n_either`` (the
    estimate can't be below what was observed).

    Beyond the reference; standard (Chapman 1951).
    """
    a = F.col(in_a_col).cast("int")
    b = F.col(in_b_col).cast("int")
    base = df.where(a.isNotNull() & b.isNotNull())
    agg = base.agg(
        F.sum(a).cast("bigint").alias("n_a"),
        F.sum(b).cast("bigint").alias("n_b"),
        F.sum(a * b).cast("bigint").alias("n_both"),
        F.sum(
            F.greatest(a, b)
        ).cast("bigint").alias("n_either"),
    )
    n1 = F.col("n_a").cast("double")
    n2 = F.col("n_b").cast("double")
    m = F.col("n_both").cast("double")
    n_hat = (n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1.0
    var = (
        (n1 + 1.0) * (n2 + 1.0) * (n1 - m) * (n2 - m)
        / ((m + 1.0) * (m + 1.0) * (m + 2.0))
    )
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    zc = 1.959963984540054
    lo = F.greatest(
        n_hat - zc * se, F.col("n_either").cast("double")
    )
    return agg.select(
        "n_a", "n_b", "n_both", "n_either",
        F.round(n_hat, 6).alias("n_hat"),
        F.round(se, 6).alias("se"),
        F.round(lo, 6).alias("ci_lo"),
        F.round(n_hat + zc * se, 6).alias("ci_hi"),
    )


def hotelling_t2(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Hotelling T² for a BIVARIATE mean difference — "did
    (latency, error-rate) move together?" — the multivariate t-test
    that respects the correlation between the two metrics (two
    separate t-tests double-count shared variance and miss
    correlated shifts):

    ``T² = (n_a n_b / n)·d' S⁻¹ d`` with ``d`` the mean-difference
    2-vector and ``S`` the pooled covariance (closed 2×2 inverse —
    no linear algebra library, both engines share the algebra);
    ``F = (n − 3)/(2(n − 2))·T²`` with df (2, n − 3), p via the
    shared regularized-incomplete-beta survival.

    ONE conditional aggregation to the 10 exact per-group sums;
    listwise over rows where both metrics are present. Output 1 row:
    ``(n_a, n_b, t2, f_stat, p_value)``, 6dp; NULL when either group
    has < 2 complete rows, n < 4, or S is singular.

    Beyond the reference; standard per Hotelling 1931 / Anderson,
    *An Introduction to Multivariate Statistical Analysis*.
    """
    from padua_spark.functions.distributions import f_sf_udf

    g = F.col(group_col)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(
        x.isNotNull() & y.isNotNull() & g.isin([group_a, group_b])
    )
    ia = (g == F.lit(group_a)).cast("int")
    ib = (g == F.lit(group_b)).cast("int")

    def _sums(tag, ind):
        return [
            F.sum(ind).cast("bigint").alias(f"n_{tag}"),
            F.sum(ind * x).alias(f"_sx{tag}"),
            F.sum(ind * y).alias(f"_sy{tag}"),
            F.sum(ind * x * x).alias(f"_sxx{tag}"),
            F.sum(ind * y * y).alias(f"_syy{tag}"),
            F.sum(ind * x * y).alias(f"_sxy{tag}"),
        ]

    agg = base.agg(*(_sums("a", ia) + _sums("b", ib)))
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = na + nb
    mxa, mya = F.col("_sxa") / na, F.col("_sya") / na
    mxb, myb = F.col("_sxb") / nb, F.col("_syb") / nb
    # pooled centered SSCP: Σ_g (S_g − n_g m_g m_g')
    sxx = (
        F.col("_sxxa") - na * mxa * mxa
        + F.col("_sxxb") - nb * mxb * mxb
    ) / (n - 2.0)
    syy = (
        F.col("_syya") - na * mya * mya
        + F.col("_syyb") - nb * myb * myb
    ) / (n - 2.0)
    sxy = (
        F.col("_sxya") - na * mxa * mya
        + F.col("_sxyb") - nb * mxb * myb
    ) / (n - 2.0)
    det = sxx * syy - sxy * sxy
    dx = mxa - mxb
    dy = mya - myb
    quad = (
        dx * dx * syy - 2.0 * dx * dy * sxy + dy * dy * sxx
    ) / det
    ok = (
        (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
        & (n >= 4.0) & (det > 0)
    )
    t2 = F.when(ok, na * nb / n * quad)
    fstat = t2 * (n - 3.0) / (2.0 * (n - 2.0))
    staged = agg.select(
        "n_a", "n_b",
        t2.alias("_t2"), fstat.alias("_f"),
        F.when(ok, n - 3.0).alias("_dfd"),
    )
    return staged.select(
        "n_a", "n_b",
        F.round("_t2", 6).alias("t2"),
        F.round("_f", 6).alias("f_stat"),
        F.round(
            f_sf_udf(F.col("_f"), F.lit(2.0), F.col("_dfd")), 6
        ).alias("p_value"),
    )


def hodges_lehmann_shift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    max_cells: int = 4_000_000,
    conf_level: float | None = None,
) -> DataFrame:
    """Hodges–Lehmann two-sample shift estimator — the median of all
    pairwise differences ``x_i − y_j`` (x from ``group_a``, y from
    ``group_b``): the robust location-shift companion to
    :func:`mannwhitney_u_stat` (it inverts the same rank test;
    Hodges & Lehmann 1963), immune to the outliers that drag a
    difference-of-means.

    Scale shape: pairs are NEVER enumerated row-wise — one
    aggregation to the per-group DISTINCT-VALUE counts, then the
    difference DOMAIN is the bounded ``d_a × d_b`` cell grid
    (explicit ``max_cells`` guard, the
    :func:`~padua_spark.operators.stats.ordinal_association`
    enforce-don't-hope contract: the cell product is the cost, so a
    wide continuous domain must be binned first). Cell differences
    carry weight ``c_a·c_b``; the weighted median comes off the
    shared distributed stepped cumsum (never a partitionless
    data-sized sort): with ``T = n_a·n_b`` total pairs, the estimate
    is the mean of the ⌈T/2⌉-th and ⌊T/2⌋+1-th order statistics.

    Output 1 row: ``(n_a, n_b, n_pairs, hl_shift)``, 6dp; NULL when
    either group is empty. With ``conf_level`` set, two more rank
    lookups off the SAME stepped frame add the Moses/Lehmann
    distribution-free CI columns ``(ci_lo, ci_hi)``: with
    ``k = max(0, ⌊n_a·n_b/2 − z·√(n_a·n_b(n_a+n_b+1)/12)⌋)``, the CI
    is the (k+1)-th and (n_a·n_b − k)-th smallest pairwise
    differences (the large-sample normal rank bound; documented
    convention — R's wilcox.test applies an extra continuity
    tweak).

    Beyond the reference; standard per Hodges & Lehmann 1963.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull() & g.isin([group_a, group_b]))
    cells = (
        base.groupBy(
            (g == F.lit(group_a)).alias("_isa"), v.alias("_v")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = cells.groupBy("_isa").agg(
        F.count(F.lit(1)).alias("_d"), F.sum("_c").alias("_n")
    ).collect()
    da = db = na = nb = 0
    for r in counts:
        if r["_isa"]:
            da, na = r["_d"], r["_n"]
        else:
            db, nb = r["_d"], r["_n"]
    if max_cells is not None and da * db > max_cells:
        cells.unpersist()
        raise ValueError(
            f"hodges_lehmann_shift: {da} x {db} distinct-value cells "
            f"exceed max_cells={max_cells} — the pairwise-difference "
            "domain is the cost; bin or round the values first"
        )
    spark = df.sparkSession
    if na == 0 or nb == 0:
        schema = (
            "n_a bigint, n_b bigint, n_pairs bigint, hl_shift double"
        )
        row = [na, nb, na * nb, None]
        if conf_level is not None:
            schema += ", ci_lo double, ci_hi double"
            row += [None, None]
        out = local_frame(spark, [tuple(row)], schema)
        cells.unpersist()
        return out
    va = cells.where(F.col("_isa")).select(
        F.col("_v").alias("_va"), F.col("_c").alias("_ca")
    )
    vb = cells.where(~F.col("_isa")).select(
        F.col("_v").alias("_vb"), F.col("_c").alias("_cb")
    )
    # bounded cell grid: broadcast the side with fewer distinct
    # values (both bounded by the max_cells guard)
    if db <= da:
        grid = va.crossJoin(F.broadcast(vb))
    else:
        grid = F.broadcast(va).crossJoin(vb)
    diffs = grid.groupBy(
        (F.col("_va") - F.col("_vb")).alias("_dv")
    ).agg(F.sum(F.col("_ca") * F.col("_cb")).alias("_w"))
    stepped = _stepped_running_counts(diffs, "_dv", ["_w"])
    t = na * nb
    k1 = (t + 1) // 2
    k2 = t // 2 + 1
    aggs = [
        F.min(
            F.when(F.col("_w_run") >= F.lit(k1), F.col("_dv"))
        ).alias("_lo"),
        F.min(
            F.when(F.col("_w_run") >= F.lit(k2), F.col("_dv"))
        ).alias("_hi"),
    ]
    if conf_level is not None:
        import math

        # z via the high-precision two-sided constants for the
        # common levels, Acklam scalar otherwise (same approximation
        # family as norm_ppf_col so any SQL twin can embed the same
        # literal)
        z = _norm_ppf_scalar(0.5 + float(conf_level) / 2.0)
        k = max(
            0,
            int(
                math.floor(
                    na * nb / 2.0
                    - z * math.sqrt(na * nb * (na + nb + 1) / 12.0)
                )
            ),
        )
        k_lo = min(k + 1, t)
        k_hi = max(1, t - k)
        aggs += [
            F.min(
                F.when(F.col("_w_run") >= F.lit(k_lo), F.col("_dv"))
            ).alias("_cl"),
            F.min(
                F.when(F.col("_w_run") >= F.lit(k_hi), F.col("_dv"))
            ).alias("_ch"),
        ]
    sel = stepped.agg(*aggs)
    cols = [
        F.lit(na).cast("bigint").alias("n_a"),
        F.lit(nb).cast("bigint").alias("n_b"),
        F.lit(t).cast("bigint").alias("n_pairs"),
        F.round(
            (F.col("_lo") + F.col("_hi")) / 2.0, 6
        ).alias("hl_shift"),
    ]
    if conf_level is not None:
        cols += [
            F.round("_cl", 6).alias("ci_lo"),
            F.round("_ch", 6).alias("ci_hi"),
        ]
    out = sel.select(*cols)
    return track_cached(
        out, cells, *getattr(stepped, "_padua_cached", ())
    )


def hodges_lehmann_pseudomedian(
    df: DataFrame,
    value_col: str,
    max_cells: int = 4_000_000,
) -> DataFrame:
    """One-sample Hodges–Lehmann pseudo-median — the median of all
    Walsh averages ``(x_i + x_j)/2`` over pairs ``i ≤ j`` (the
    location estimator the Wilcoxon signed-rank test inverts; equals
    the median for symmetric distributions but far more
    outlier-robust than the mean).

    Same bounded-cell discipline as :func:`hodges_lehmann_shift`:
    one aggregation to the distinct-value counts (domain d, guarded
    ``d·(d+1)/2 ≤ max_cells``), Walsh-average cells weighted
    ``c_i·c_j`` for distinct value pairs and ``c_i·(c_i+1)/2`` on the
    diagonal, weighted median off the shared stepped cumsum with
    ``T = n(n+1)/2`` Walsh pairs. Output 1 row:
    ``(n, n_pairs, pseudomedian)``, 6dp; NULL on empty input.

    Beyond the reference; standard per Hodges & Lehmann 1963 /
    R ``wilcox.test`` conf.int estimator.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    v = F.col(value_col).cast("double")
    cells = (
        df.where(v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    row = cells.agg(
        F.count(F.lit(1)).alias("_d"), F.sum("_c").alias("_n")
    ).collect()[0]
    d, n = row["_d"], row["_n"] or 0
    if max_cells is not None and d * (d + 1) // 2 > max_cells:
        cells.unpersist()
        raise ValueError(
            f"hodges_lehmann_pseudomedian: {d * (d + 1) // 2} Walsh "
            f"cells exceed max_cells={max_cells} — bin or round the "
            "values first"
        )
    spark = df.sparkSession
    if n == 0:
        cells.unpersist()
        return local_frame(
            spark,
            [(0, 0, None)],
            "n bigint, n_pairs bigint, pseudomedian double",
        )
    a = cells.select(
        F.col("_v").alias("_va"), F.col("_c").alias("_ca")
    )
    b = cells.select(
        F.col("_v").alias("_vb"), F.col("_c").alias("_cb")
    )
    grid = a.crossJoin(F.broadcast(b)).where(
        F.col("_va") <= F.col("_vb")
    )
    wgt = F.when(
        F.col("_va") == F.col("_vb"),
        F.col("_ca") * (F.col("_ca") + 1) / 2,
    ).otherwise(F.col("_ca") * F.col("_cb")).cast("bigint")
    walsh = grid.groupBy(
        ((F.col("_va") + F.col("_vb")) / 2.0).alias("_dv")
    ).agg(F.sum(wgt).alias("_w"))
    stepped = _stepped_running_counts(walsh, "_dv", ["_w"])
    t = n * (n + 1) // 2
    k1 = (t + 1) // 2
    k2 = t // 2 + 1
    sel = stepped.agg(
        F.min(
            F.when(F.col("_w_run") >= F.lit(k1), F.col("_dv"))
        ).alias("_lo"),
        F.min(
            F.when(F.col("_w_run") >= F.lit(k2), F.col("_dv"))
        ).alias("_hi"),
    )
    out = sel.select(
        F.lit(int(n)).cast("bigint").alias("n"),
        F.lit(int(t)).cast("bigint").alias("n_pairs"),
        F.round(
            (F.col("_lo") + F.col("_hi")) / 2.0, 6
        ).alias("pseudomedian"),
    )
    return track_cached(
        out, cells, *getattr(stepped, "_padua_cached", ())
    )


def two_proportion_effects(
    df: DataFrame,
    group_col: str,
    success: Column,
    group_a,
    group_b,
    z_crit: float = 1.959963984540054,
) -> DataFrame:
    """Two-proportion EFFECT-SIZE battery — the companion to
    :func:`two_proportion_ztest`'s significance answer ("is the lift
    real?" vs "how big is it, with honest uncertainty?"):

    risk difference ``d = p_a − p_b`` with the Newcombe hybrid-score
    CI (Newcombe 1998 method 10 — built from the two one-sample
    Wilson intervals ``(l, u)``: ``d − √((p_a−l_a)² + (u_b−p_b)²)``
    to ``d + √((u_a−p_a)² + (p_b−l_b)²)`` — never collapses to a
    zero-width interval at p = 0 or 1, unlike the Wald CI), relative
    risk ``p_a/p_b``, and Cohen's ``h = 2·asin(√p_a) − 2·asin(√p_b)``
    (the variance-stabilized effect size power analysis uses).

    ONE conditional aggregation to the four exact counts, closed-form
    algebra after. Output 1 row: ``(n_a, n_b, p_a, p_b, risk_diff,
    rd_ci_lo, rd_ci_hi, relative_risk, cohens_h)``, 6dp; relative
    risk NULL when ``p_b = 0``, all NULL when a group is empty.

    Beyond the reference; standard per Newcombe 1998 / Cohen 1988
    §6.2.
    """
    g = F.col(group_col)
    base = df.where(g.isin([group_a, group_b]) & success.isNotNull())
    ia = (g == F.lit(group_a)).cast("int")
    ib = (g == F.lit(group_b)).cast("int")
    s = success.cast("int")
    agg = base.agg(
        F.sum(ia).cast("bigint").alias("n_a"),
        F.sum(ib).cast("bigint").alias("n_b"),
        F.sum(ia * s).cast("bigint").alias("_ka"),
        F.sum(ib * s).cast("bigint").alias("_kb"),
    )
    z = F.lit(float(z_crit))
    z2 = z * z

    def wilson(k, n):
        nd = n.cast("double")
        p = k.cast("double") / nd
        center = (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd)
        half = (
            z
            * F.sqrt(
                p * (1.0 - p) / nd + z2 / (4.0 * nd * nd)
            )
            / (1.0 + z2 / nd)
        )
        return p, center - half, center + half

    pa, la, ua = wilson(F.col("_ka"), F.col("n_a"))
    pb, lb, ub = wilson(F.col("_kb"), F.col("n_b"))
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    d = pa - pb
    lo = d - F.sqrt((pa - la) * (pa - la) + (ub - pb) * (ub - pb))
    hi = d + F.sqrt((ua - pa) * (ua - pa) + (pb - lb) * (pb - lb))
    h = 2.0 * F.asin(F.sqrt(pa)) - 2.0 * F.asin(F.sqrt(pb))
    return agg.select(
        "n_a", "n_b",
        F.round(F.when(ok, pa), 6).alias("p_a"),
        F.round(F.when(ok, pb), 6).alias("p_b"),
        F.round(F.when(ok, d), 6).alias("risk_diff"),
        F.round(F.when(ok, lo), 6).alias("rd_ci_lo"),
        F.round(F.when(ok, hi), 6).alias("rd_ci_hi"),
        F.round(F.when(ok & (pb > 0), pa / pb), 6).alias(
            "relative_risk"
        ),
        F.round(F.when(ok, h), 6).alias("cohens_h"),
    )


def propensity_strata_att(
    df: DataFrame,
    treatment_col: str,
    outcome_col: str,
    score_col: str,
    n_strata: int = 5,
) -> DataFrame:
    """Propensity-score SUBCLASSIFICATION estimate of the average
    treatment effect on the treated (Rosenbaum & Rubin 1984) — the
    relational-native alternative to 1-NN matching (whose global
    nearest-neighbor search is a data-sized ordered scan): stratify
    on the score, difference means within strata, weight by each
    stratum's treated count:

    ``ATT = Σ_k (n_{t,k}/n_t)·(ȳ_{t,k} − ȳ_{c,k})`` over ``n_strata``
    strata cut at the exact score quantiles of the TREATED units (the
    ATT convention — strata equalize the treated distribution), with
    the linearized SE ``√(Σ w_k²·(s²_{t,k}/n_{t,k} +
    s²_{c,k}/n_{c,k}))``. Strata with no controls are DROPPED from
    the estimate and reported (``n_strata_used`` vs ``n_strata`` —
    common-support erosion is a finding, not a silent reweight).

    Scale shape: boundaries from the shared distributed stepped
    cumsum over the treated score domain (the :func:`~padua_spark.
    extensions.features.gains_table` law), then ONE conditional
    aggregation per stratum cell and a ≤ ``n_strata``-row roll-up.
    Output 1 row: ``(n_treated, n_control, n_strata_used,
    n_singleton_arm_strata, att, se)``, 6dp; NULL att when no stratum
    has both arms. SE convention: a stratum arm with exactly 1 unit
    has no within-arm variance estimate, so it contributes ZERO
    variance to the linearized SE while the stratum still contributes
    to the ATT point estimate — the SE therefore UNDERSTATES
    uncertainty when ``n_singleton_arm_strata > 0`` (reported
    explicitly so callers can widen strata or drop them).

    Beyond the reference; standard per Rosenbaum & Rubin 1984 /
    Imbens & Rubin 2015 ch. 17.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from padua_spark.io_utils import track_cached

    t = F.col(treatment_col).cast("int")
    y = F.col(outcome_col).cast("double")
    s = F.col(score_col).cast("double")
    base = df.where(
        t.isNotNull() & y.isNotNull() & s.isNotNull()
    ).select(t.alias("_t"), y.alias("_y"), s.alias("_s")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    per = base.where(F.col("_t") == 1).groupBy(
        F.col("_s").alias("_v")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    k = int(n_strata)
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
    stratum = F.lit(1)
    for i in range(len(qs)):
        stratum = stratum + (F.col("_s") > F.col(f"b{i}")).cast("int")
    cells = (
        base.join(F.broadcast(bounds))
        .groupBy(stratum.alias("_k"), "_t")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_n"),
            F.sum("_y").alias("_sy"),
            F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        )
    )
    tr = cells.where(F.col("_t") == 1).select(
        "_k", F.col("_n").alias("_nt"), F.col("_sy").alias("_syt"),
        F.col("_syy").alias("_syyt"),
    )
    ct = cells.where(F.col("_t") == 0).select(
        "_k", F.col("_n").alias("_nc"), F.col("_sy").alias("_syc"),
        F.col("_syy").alias("_syyc"),
    )
    both = tr.join(ct, on="_k", how="left")
    ntd = F.col("_nt").cast("double")
    ncd = F.col("_nc").cast("double")
    myt = F.col("_syt") / ntd
    myc = F.col("_syc") / ncd
    vart = F.when(
        F.col("_nt") >= 2,
        (F.col("_syyt") - ntd * myt * myt) / (ntd - 1.0),
    )
    varc = F.when(
        F.col("_nc") >= 2,
        (F.col("_syyc") - ncd * myc * myc) / (ncd - 1.0),
    )
    usable = F.col("_nc").isNotNull() & (F.col("_nc") > 0)
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_tr_used = F.sum(F.when(usable, F.col("_nt"))).over(w).cast(
        "double"
    )
    wk = F.when(usable, ntd / n_tr_used)
    att = F.sum(F.when(usable, wk * (myt - myc))).over(w)
    sevar = F.sum(
        F.when(
            usable,
            wk * wk * (
                F.coalesce(vart, F.lit(0.0)) / ntd
                + F.coalesce(varc, F.lit(0.0)) / ncd
            ),
        )
    ).over(w)
    staged = both.select(
        F.sum(F.col("_nt")).over(w).alias("_ntt"),
        F.sum(F.coalesce(F.col("_nc"), F.lit(0))).over(w).alias(
            "_nct"
        ),
        F.sum(usable.cast("int")).over(w).alias("_used"),
        F.sum(
            F.when(
                usable & ((F.col("_nt") < 2) | (F.col("_nc") < 2)),
                1,
            ).otherwise(0)
        ).over(w).alias("_singleton"),
        att.alias("_att"),
        sevar.alias("_sev"),
    ).limit(1)
    return track_cached(
        staged.select(
            F.col("_ntt").cast("bigint").alias("n_treated"),
            F.col("_nct").cast("bigint").alias("n_control"),
            F.col("_used").cast("int").alias("n_strata_used"),
            F.col("_singleton").cast("int").alias(
                "n_singleton_arm_strata"
            ),
            F.round("_att", 6).alias("att"),
            F.round(F.sqrt("_sev"), 6).alias("se"),
        ),
        base,
        *getattr(stepped, "_padua_cached", ()),
    )


def fleming_harrington_test(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
    group_a,
    group_b,
    rho: float = 1.0,
) -> DataFrame:
    """Fleming–Harrington G^ρ weighted log-rank test — the
    late-vs-early sensitivity dial on :func:`logrank_test`: each event
    time's hypergeometric O−E term is weighted by the pooled
    Kaplan–Meier survival just before it, ``w_t = Ŝ(t−)^ρ`` (ρ = 0 is
    the plain log-rank; ρ = 1 is Peto–Prentice-style, emphasizing
    EARLY differences where Ŝ is still near 1; larger ρ further
    de-emphasizes the late tail):

    ``Z² = (Σ w_t(d_at − d_t·n_at/n_t))² / Σ w_t²·V_t`` with the
    log-rank hypergeometric ``V_t``; p via the shared A&S-erfc normal
    survival of ``|Z|``.

    Scale shape: the :func:`logrank_test` machinery plus ONE extra
    stepped-cumsum pass — ``Ŝ(t−) = exp(Σ_{s<t} ln(1 − d_s/n_s))``
    comes from a running sum of the per-time log factors in event-time
    order (never a partitionless data-sized window). Output 1 row:
    ``(n_a, n_b, rho, observed_a, expected_a_w, chi2, p_value)`` —
    ``expected_a_w`` the WEIGHTED expectation; NULL chi2/p when the
    weighted variance degenerates.

    Beyond the reference; standard per Fleming & Harrington 1981 /
    Harrington & Fleming 1982.
    """
    from padua_spark.io_utils import track_cached

    dur = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("int")
    g = F.col(group_col)
    base = df.where(
        dur.isNotNull() & ev.isNotNull() & g.isin([group_a, group_b])
    )
    in_a = g == F.lit(group_a)
    per = base.groupBy(dur.alias("_t")).agg(
        F.sum(F.when(in_a, ev).otherwise(0)).cast("bigint")
        .alias("ev_a"),
        F.count(F.when(in_a, 1)).cast("bigint").alias("lv_a"),
        F.sum(F.when(~in_a, ev).otherwise(0)).cast("bigint")
        .alias("ev_b"),
        F.count(F.when(~in_a, 1)).cast("bigint").alias("lv_b"),
    )
    stepped = _stepped_running_counts(
        per, "_t", ["ev_a", "lv_a", "ev_b", "lv_b"],
    )
    n_a = F.col("lv_a_tot") - (F.col("lv_a_run") - F.col("lv_a"))
    n_b = F.col("lv_b_tot") - (F.col("lv_b_run") - F.col("lv_b"))
    d_t = F.col("ev_a") + F.col("ev_b")
    n_t = n_a + n_b
    # per-time KM log factor ln(1 - d/n); 0 where no events
    logf = F.when(
        (d_t > 0) & (n_t > d_t),
        F.log(
            (n_t - d_t).cast("double") / n_t.cast("double")
        ),
    ).otherwise(F.lit(0.0))
    staged = stepped.select(
        "_t", "ev_a", "ev_b",
        n_a.alias("_na"), n_b.alias("_nb"),
        F.col("lv_a_tot").alias("_nta"),
        F.col("lv_b_tot").alias("_ntb"),
        logf.alias("_lf"),
    )
    # second stepped pass: running sum of the log factors, EXCLUSIVE
    # of the current time (S(t-)), in event-time order
    stepped2 = _stepped_running_counts(staged, "_t", ["_lf"])
    s_minus = F.exp(F.col("_lf_run") - F.col("_lf"))
    w = F.pow(s_minus, F.lit(float(rho)))
    na_, nb_ = F.col("_na"), F.col("_nb")
    dt_ = F.col("ev_a") + F.col("ev_b")
    nt_ = na_ + nb_
    ra = na_.cast("double") / nt_.cast("double")
    e_a = F.when(dt_ > 0, dt_.cast("double") * ra).otherwise(
        F.lit(0.0)
    )
    v = F.when(
        (dt_ > 0) & (nt_ > 1),
        dt_.cast("double") * ra * (1.0 - ra)
        * (nt_ - dt_).cast("double") / (nt_ - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    agg = stepped2.agg(
        F.max("_nta").alias("n_a"),
        F.max("_ntb").alias("n_b"),
        F.sum("ev_a").cast("bigint").alias("observed_a"),
        F.sum(w * (F.col("ev_a").cast("double") - e_a)).alias("_oe"),
        F.sum(w * e_a).alias("_ew"),
        F.sum(w * w * v).alias("_v"),
    )
    chi2 = F.when(
        F.col("_v") > 0, F.col("_oe") * F.col("_oe") / F.col("_v")
    )
    out = agg.select(
        "n_a", "n_b",
        F.lit(float(rho)).alias("rho"),
        "observed_a",
        F.round("_ew", 6).alias("expected_a_w"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.when(
                chi2.isNotNull(),
                _normal_sf_2sided(F.sqrt(chi2)),
            ),
            6,
        ).alias("p_value"),
    )
    return track_cached(
        out,
        *getattr(stepped, "_padua_cached", ()),
        *getattr(stepped2, "_padua_cached", ()),
    )


def l_moments(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Sample L-moments λ₁–λ₄ and the L-ratios (L-CV, L-skewness,
    L-kurtosis; Hosking 1990) — the order-statistic alternative to
    classical moments: defined whenever the mean is, vastly more
    outlier-robust than skewness/kurtosis, and the standard basis for
    distribution fitting in hydrology/risk:

    probability-weighted moments ``b_r = n⁻¹ Σ_i [C(i−1,r)/C(n−1,r)]
    x_(i)`` computed WITHOUT materializing per-row ranks: for a tied
    value block occupying ranks ``p+1..p+c`` the weight sum telescopes
    by the hockey-stick identity ``Σ C(i−1, r) = C(p+c, r+1) −
    C(p, r+1)``, so one pass over the per-distinct-value counts frame
    (the shared stepped cumsum) yields every b_r exactly; then
    ``λ₂ = 2b₁ − b₀``, ``λ₃ = 6b₂ − 6b₁ + b₀``,
    ``λ₄ = 20b₃ − 30b₂ + 12b₁ − b₀``.

    Output 1 row: ``(n, l1, l2, l3, l4, l_cv, l_skew, l_kurt)``, 6dp;
    ratios NULL where their denominator is 0, l3/l4 NULL when n < 4.

    Beyond the reference; standard per Hosking 1990.
    """
    from padua_spark.io_utils import track_cached

    v = F.col(value_col).cast("double")
    per = (
        df.where(v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    p = (F.col("_c_run") - F.col("_c")).cast("double")
    pc = F.col("_c_run").cast("double")

    def comb(x, k):
        num = F.lit(1.0)
        for i in range(k):
            num = num * (x - float(i))
        import math

        return num / F.lit(float(math.factorial(k)))

    terms = [
        F.sum(F.col("_v") * (comb(pc, r + 1) - comb(p, r + 1)))
        .alias(f"_t{r}")
        for r in range(4)
    ]
    agg = stepped.agg(
        F.max("_c_tot").cast("bigint").alias("n"), *terms
    )
    nd = F.col("n").cast("double")
    b = [
        F.col("_t0") / nd,
        F.when(F.col("n") >= 2, F.col("_t1") / (nd * comb(nd - 1.0, 1))),
        F.when(F.col("n") >= 3, F.col("_t2") / (nd * comb(nd - 1.0, 2))),
        F.when(F.col("n") >= 4, F.col("_t3") / (nd * comb(nd - 1.0, 3))),
    ]
    l1 = b[0]
    l2 = 2.0 * b[1] - b[0]
    l3 = 6.0 * b[2] - 6.0 * b[1] + b[0]
    l4 = 20.0 * b[3] - 30.0 * b[2] + 12.0 * b[1] - b[0]
    out = agg.select(
        "n",
        F.round(l1, 6).alias("l1"),
        F.round(l2, 6).alias("l2"),
        F.round(l3, 6).alias("l3"),
        F.round(l4, 6).alias("l4"),
        F.round(F.when(l1 != 0, l2 / l1), 6).alias("l_cv"),
        F.round(F.when(l2 != 0, l3 / l2), 6).alias("l_skew"),
        F.round(F.when(l2 != 0, l4 / l2), 6).alias("l_kurt"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def deming_regression(
    df: DataFrame,
    x_col: str,
    y_col: str,
    delta: float = 1.0,
) -> DataFrame:
    """Deming errors-in-both-variables regression — the
    method-comparison fit :func:`bland_altman` plots and
    :func:`concordance_ccc` scores ("do the two assays agree, and
    what is the calibration line between them?"); OLS is biased
    toward 0 when x carries measurement error, Deming is the ML line
    under a known error-variance ratio ``δ = σ²_y/σ²_x``:

    ``β = (s_yy − δ·s_xx + √((s_yy − δ·s_xx)² + 4δ·s_xy²))/(2·s_xy)``
    (Deming 1943 closed form from the five centered moments),
    ``α = ȳ − β·x̄``; Pearson r alongside.

    ONE aggregation to six exact sums, closed-form after. Output
    1 row: ``(n, delta, slope, intercept, r)``, 6dp; NULL fit when
    n < 2 or ``s_xy = 0`` (the closed form divides by it — a
    vertical/degenerate configuration).

    Beyond the reference; standard per Deming 1943 / CLSI EP09.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(x.isNotNull() & y.isNotNull())
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
        F.sum(x * y).alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    sxx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / nd
    syy = F.col("_syy") - F.col("_sy") * F.col("_sy") / nd
    sxy = F.col("_sxy") - F.col("_sx") * F.col("_sy") / nd
    d = F.lit(float(delta))
    ok = (F.col("n") >= 2) & (sxy != 0)
    beta = F.when(
        ok,
        (
            syy - d * sxx
            + F.sqrt(
                (syy - d * sxx) * (syy - d * sxx)
                + 4.0 * d * sxy * sxy
            )
        )
        / (2.0 * sxy),
    )
    alpha = F.when(ok, (F.col("_sy") - beta * F.col("_sx")) / nd)
    r = F.when(
        ok & (sxx > 0) & (syy > 0), sxy / F.sqrt(sxx * syy)
    )
    return agg.select(
        "n",
        F.lit(float(delta)).alias("delta"),
        F.round(beta, 6).alias("slope"),
        F.round(alpha, 6).alias("intercept"),
        F.round(r, 6).alias("r"),
    )


def score_separation(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """KS separation and the Youden-optimal cutoff of a binary
    score — the credit-scoring/threshold-picking companion to
    :func:`~padua_spark.extensions.quality.group_auc`'s rank summary:
    at every distinct score threshold t (classify positive when
    ``score > t``), ``TPR(t) = P(score > t | y=1)``,
    ``FPR(t) = P(score > t | y=0)``; the KS statistic is
    ``max_t (TPR − FPR)`` and the maximizing t is Youden's optimal
    cutoff (J = TPR − FPR, the distance the score separates the two
    classes).

    ONE aggregation to per-distinct-score (pos, neg) counts, the
    shared distributed stepped cumsum for the two ECDFs, and one
    argmax row (ties broken toward the SMALLEST cutoff — any engine
    agrees). Output 1 row: ``(n_pos, n_neg, ks_stat,
    optimal_cutoff, tpr_at_cutoff, fpr_at_cutoff)``, 6dp; NULLs when
    either class is empty.

    Beyond the reference; standard per Youden 1950 / the
    credit-risk KS convention.
    """
    from pyspark.sql import Window

    from padua_spark.io_utils import track_cached

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.where(s.isNotNull() & y.isNotNull())
    per = base.groupBy(s.alias("_v")).agg(
        F.sum(y).cast("bigint").alias("_p"),
        F.sum(F.lit(1) - y).cast("bigint").alias("_g"),
    )
    stepped = _stepped_running_counts(per, "_v", ["_p", "_g"])
    npos = F.col("_p_tot").cast("double")
    nneg = F.col("_g_tot").cast("double")
    # classify positive when score > v: TPR = 1 - F_pos(v)
    tpr = 1.0 - F.col("_p_run").cast("double") / npos
    fpr = 1.0 - F.col("_g_run").cast("double") / nneg
    j = tpr - fpr
    staged = stepped.select(
        "_v",
        F.col("_p_tot").alias("_np"),
        F.col("_g_tot").alias("_ng"),
        j.alias("_j"), tpr.alias("_tpr"), fpr.alias("_fpr"),
    )
    best = staged.agg(
        F.max("_np").cast("bigint").alias("n_pos"),
        F.max("_ng").cast("bigint").alias("n_neg"),
        F.max(
            F.struct(
                F.col("_j").alias("j"),
                (-F.col("_v")).alias("negv"),
                F.col("_tpr").alias("tpr"),
                F.col("_fpr").alias("fpr"),
            )
        ).alias("_b"),
    )
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    out = best.select(
        "n_pos", "n_neg",
        F.round(F.when(ok, F.col("_b.j")), 6).alias("ks_stat"),
        F.round(F.when(ok, -F.col("_b.negv")), 6).alias(
            "optimal_cutoff"
        ),
        F.round(F.when(ok, F.col("_b.tpr")), 6).alias(
            "tpr_at_cutoff"
        ),
        F.round(F.when(ok, F.col("_b.fpr")), 6).alias(
            "fpr_at_cutoff"
        ),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def rate_standardization(
    df: DataFrame,
    strata_col: str,
    event_col: str,
    exposure_col: str,
    ref_df: DataFrame,
    ref_strata_col: str = "stratum",
    ref_rate_col: str = "ref_rate",
    ref_weight_col: str = "ref_weight",
) -> DataFrame:
    """Direct + indirect rate standardization — the epidemiology /
    reliability-engineering adjustment behind "is cohort A's failure
    rate really higher, or does it just skew old?": strata are the
    confounder levels (age bands, device generations, workload
    classes), ``ref_df`` carries the standard population's per-stratum
    ``ref_rate`` (events per exposure unit) and ``ref_weight``
    (population share for direct standardization):

    crude rate = Σe/ΣE;
    DIRECT standardized rate = Σ_s w_s·(e_s/E_s) over strata with
    exposure (weights renormalized over the strata present —
    documented);
    INDIRECT: ``SMR = Σe / Σ_s E_s·ref_rate_s`` with Byar's
    approximate 95% CI
    (``SMR·(1 − 1/(9O) ± 1.96/(3√O))³`` — the standard Poisson
    approximation, O = observed events).

    ONE aggregation per stratum, one BROADCAST join to the (bounded,
    dimension-sized) reference, one roll-up row. Output 1 row:
    ``(n_strata_used, observed, expected, crude_rate, direct_rate,
    smr, smr_ci_lo, smr_ci_hi)``, 6dp; NULLs where denominators
    vanish.

    Beyond the reference; standard per Breslow & Day 1987 vol. II /
    Byar's CI.
    """
    e = F.col(event_col).cast("double")
    x = F.col(exposure_col).cast("double")
    base = df.where(
        F.col(strata_col).isNotNull()
        & e.isNotNull() & x.isNotNull() & (x > 0)
    )
    per = base.groupBy(F.col(strata_col).alias("_s")).agg(
        F.sum(e).alias("_e"), F.sum(x).alias("_x")
    )
    ref = ref_df.select(
        F.col(ref_strata_col).alias("_s"),
        F.col(ref_rate_col).cast("double").alias("_rr"),
        F.col(ref_weight_col).cast("double").alias("_rw"),
    )
    j = per.join(F.broadcast(ref), on="_s")
    agg = j.agg(
        F.count(F.lit(1)).cast("int").alias("n_strata_used"),
        F.sum("_e").alias("_obs"),
        F.sum("_x").alias("_exp_tot"),
        F.sum(F.col("_x") * F.col("_rr")).alias("_expected"),
        F.sum(F.col("_rw") * (F.col("_e") / F.col("_x"))).alias(
            "_dnum"
        ),
        F.sum("_rw").alias("_dden"),
    )
    obs = F.col("_obs")
    smr = F.when(F.col("_expected") > 0, obs / F.col("_expected"))
    zq = F.lit(1.959963984540054)
    lo = F.when(
        (obs > 0) & (F.col("_expected") > 0),
        smr
        * F.pow(
            1.0 - 1.0 / (9.0 * obs) - zq / (3.0 * F.sqrt(obs)),
            F.lit(3.0),
        ),
    )
    hi = F.when(
        (obs > 0) & (F.col("_expected") > 0),
        smr
        * F.pow(
            1.0 - 1.0 / (9.0 * (obs + 1.0))
            + zq / (3.0 * F.sqrt(obs + 1.0)),
            F.lit(3.0),
        )
        * (obs + 1.0)
        / obs,
    )
    return agg.select(
        "n_strata_used",
        F.round(obs, 6).alias("observed"),
        F.round("_expected", 6).alias("expected"),
        F.round(
            F.when(F.col("_exp_tot") > 0, obs / F.col("_exp_tot")),
            6,
        ).alias("crude_rate"),
        F.round(
            F.when(F.col("_dden") > 0, F.col("_dnum") / F.col("_dden")),
            6,
        ).alias("direct_rate"),
        F.round(smr, 6).alias("smr"),
        F.round(lo, 6).alias("smr_ci_lo"),
        F.round(hi, 6).alias("smr_ci_hi"),
    )


# c4(n) = sqrt(2/(n-1))·Γ(n/2)/Γ((n-1)/2) — the unbiasing constant
# for the sample SD in subgroups of size n (ASTM STP 15D table); a
# compile-time table keeps both engines on identical doubles.
_C4_TABLE = {
    2: 0.7978845608028654, 3: 0.8862269254527580,
    4: 0.9213177319235613, 5: 0.9399856029866254,
    6: 0.9515328619481445, 7: 0.9593687886998328,
    8: 0.9650304561473722, 9: 0.9693106997139539,
    10: 0.9726592741215884, 11: 0.9753500771452293,
    12: 0.9775593518547722, 13: 0.9794056043142177,
    14: 0.9809714367555161, 15: 0.9823161771626504,
    16: 0.9834835316158412, 17: 0.9845064054718315,
    18: 0.9854099332461694, 19: 0.9862140384939500,
    20: 0.9869342675246552, 21: 0.9875829288261562,
    22: 0.9881702533158311, 23: 0.9887047080740545,
    24: 0.9891933964514305, 25: 0.9896403755857028,
}


def control_chart_limits(
    df: DataFrame,
    subgroup_col: str,
    value_col: str,
    n_sigma: float = 3.0,
    max_subgroup_size: int = 25,
) -> DataFrame:
    """X̄–S control-chart limits (Shewhart) — the SPC companion to
    :func:`process_capability`: subgroups (batches, shifts, hourly
    buckets) each contribute a mean and sample SD; the chart centers
    on the grand mean with limits
    ``x̿ ± n_sigma·(s̄/c₄)/√n̄`` and the S-chart on ``s̄`` with
    ``s̄ ± n_sigma·(s̄/c₄)·√(1 − c₄²)`` (clamped at 0), where ``c₄``
    is the classical small-sample unbiasing constant (compile-time
    table — identical doubles on any engine).

    The textbook construction assumes a CONSTANT subgroup size; this
    implementation uses the rounded mean subgroup size n̄ for c₄ and
    REPORTS min/max subgroup sizes so ragged designs are visible, and
    raises when n̄ is outside the tabulated 2..``max_subgroup_size``.
    TWO aggregations (per subgroup, then the 1-row roll-up). Output
    1 row: ``(n_subgroups, n_min, n_max, n_bar, grand_mean, s_bar,
    xbar_lcl, xbar_ucl, s_lcl, s_ucl)``, 6dp.

    Beyond the reference; standard per Montgomery, *Introduction to
    Statistical Quality Control* §6.3.
    """
    v = F.col(value_col).cast("double")
    per = (
        df.where(v.isNotNull() & F.col(subgroup_col).isNotNull())
        .groupBy(F.col(subgroup_col).alias("_g"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_n"),
            F.avg(v).alias("_m"),
            F.stddev_samp(v).alias("_s"),
        )
        .where(F.col("_n") >= 2)
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_subgroups"),
        F.min("_n").cast("bigint").alias("n_min"),
        F.max("_n").cast("bigint").alias("n_max"),
        F.avg(F.col("_n").cast("double")).alias("_nbar"),
        F.avg("_m").alias("_xbb"),
        F.avg("_s").alias("_sbar"),
    )
    row = agg.collect()[0]
    if row["n_subgroups"] == 0:
        return local_frame(
            df.sparkSession,
            [(0, None, None, None, None, None, None, None, None,
              None)],
            "n_subgroups bigint, n_min bigint, n_max bigint, "
            "n_bar double, grand_mean double, s_bar double, "
            "xbar_lcl double, xbar_ucl double, s_lcl double, "
            "s_ucl double",
        )
    nbar = int(round(row["_nbar"]))
    if nbar < 2 or nbar > max_subgroup_size:
        raise ValueError(
            f"control_chart_limits: rounded mean subgroup size "
            f"{nbar} outside the tabulated 2..{max_subgroup_size} — "
            "re-batch the subgroups"
        )
    c4 = _C4_TABLE[nbar]
    z = float(n_sigma)
    sigma_hat = F.col("_sbar") / F.lit(c4)
    import math

    half_x = F.lit(z) * sigma_hat / F.lit(math.sqrt(nbar))
    half_s = F.lit(z) * sigma_hat * F.lit(math.sqrt(1.0 - c4 * c4))
    return agg.select(
        "n_subgroups", "n_min", "n_max",
        F.round("_nbar", 6).alias("n_bar"),
        F.round("_xbb", 6).alias("grand_mean"),
        F.round("_sbar", 6).alias("s_bar"),
        F.round(F.col("_xbb") - half_x, 6).alias("xbar_lcl"),
        F.round(F.col("_xbb") + half_x, 6).alias("xbar_ucl"),
        F.round(
            F.greatest(F.lit(0.0), F.col("_sbar") - half_s), 6
        ).alias("s_lcl"),
        F.round(F.col("_sbar") + half_s, 6).alias("s_ucl"),
    )


def roc_points(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """The full ROC curve as a TABLE — one (threshold, tpr, fpr)
    point per distinct score (classify positive when ``score > t``),
    plus the exact trapezoidal AUC repeated per row (equals the
    rank-sum AUC of :func:`~padua_spark.extensions.quality.group_auc`
    — a useful cross-check): the plotting/report companion to
    :func:`score_separation`'s single optimal point.

    One aggregation to per-distinct-score class counts, the shared
    stepped cumsum for both ECDFs; the AUC trapezoid folds on the
    SAME stepped frame: between consecutive thresholds the curve is
    linear, so ``AUC = Σ Δfpr·(tpr_hi + tpr_lo)/2`` — assembled from
    per-row exact integer counts (``Δfpr·mean(tpr)`` per row needs
    only that row's counts and running counts, no window over
    neighbors). Output per distinct score: ``(threshold, n_pos_gt,
    n_neg_gt, tpr, fpr, auc)``, 6dp; the scan point (1, 1) at
    threshold −∞ is implicit.

    Beyond the reference; the standard eval table.
    """
    from padua_spark.io_utils import track_cached

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.where(s.isNotNull() & y.isNotNull())
    per = base.groupBy(s.alias("_v")).agg(
        F.sum(y).cast("bigint").alias("_p"),
        F.sum(F.lit(1) - y).cast("bigint").alias("_g"),
    )
    stepped = _stepped_running_counts(per, "_v", ["_p", "_g"])
    npos = F.col("_p_tot")
    nneg = F.col("_g_tot")
    p_gt = npos - F.col("_p_run")
    g_gt = nneg - F.col("_g_run")
    tpr = p_gt.cast("double") / npos.cast("double")
    fpr = g_gt.cast("double") / nneg.cast("double")
    # trapezoid between threshold v (exclusive > v) and the previous
    # point (> v_prev, i.e. this row's counts BEFORE its own mass):
    # Δfpr = _g/nneg, tpr_hi = (p_gt + _p)/npos, tpr_lo = tpr.
    # Exact integers: 2·auc·npos·nneg = Σ _g·(2·p_gt + _p)
    contrib = F.col("_g").cast("decimal(38,0)") * (
        F.lit(2).cast("decimal(38,0)") * p_gt.cast("decimal(38,0)")
        + F.col("_p").cast("decimal(38,0)")
    )
    staged = stepped.select(
        F.col("_v").alias("threshold"),
        p_gt.alias("n_pos_gt"),
        g_gt.alias("n_neg_gt"),
        tpr.alias("_tpr"), fpr.alias("_fpr"),
        contrib.alias("_ctr"),
        npos.alias("_np"), nneg.alias("_ng"),
    )
    # the curve table is VALUE-DOMAIN sized (continuous scores make it
    # data-sized), so the AUC total comes from a 1-row aggregate
    # broadcast back — never a partitionless window over the frame
    tot = staged.agg(
        F.sum("_ctr").alias("_ctot"),
        F.max("_np").alias("_npt"),
        F.max("_ng").alias("_ngt"),
    )
    auc = F.when(
        (F.col("_npt") > 0) & (F.col("_ngt") > 0),
        F.col("_ctot").cast("double")
        / (
            2.0
            * F.col("_npt").cast("double")
            * F.col("_ngt").cast("double")
        ),
    )
    out = staged.join(F.broadcast(tot)).select(
        "threshold", "n_pos_gt", "n_neg_gt",
        F.round("_tpr", 6).alias("tpr"),
        F.round("_fpr", 6).alias("fpr"),
        F.round(auc, 6).alias("auc"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def youden_threshold(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """The optimal operating point of a classifier score — the
    threshold maximizing Youden's ``J = tpr − fpr`` (equivalently
    sensitivity + specificity − 1), the standard cut-point choice
    when false positives and false negatives cost the same: the
    single-row companion to :func:`roc_points` (which plots the whole
    curve this picks from).

    Engine-exact selection: J's SIGN STRUCTURE is decided on the
    exact integer numerator ``p_gt·N − g_gt·P`` (J times the positive
    constant P·N) in decimal(38,0) — count-based per the committed
    decimal audit — so the argmax never hinges on float rounding;
    ties take the LOWEST threshold (the most sensitive of the
    equally-informed cut points, documented). Classify positive when
    ``score > threshold`` (the :func:`roc_points` convention).

    One per-distinct-score aggregation through the shared stepped
    cumsum, a 1-row max broadcast back, and an ``arg-min-threshold``
    roll-up over the tied rows. Output 1 row: ``(n_pos, n_neg,
    threshold, n_pos_gt, n_neg_gt, tpr, fpr, youden_j)``, 6dp; empty
    when either class is absent.

    Beyond the reference; standard per Youden 1950.
    """
    from padua_spark.io_utils import track_cached

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.where(s.isNotNull() & y.isNotNull())
    per = base.groupBy(s.alias("_v")).agg(
        F.sum(y).cast("bigint").alias("_p"),
        F.sum(F.lit(1) - y).cast("bigint").alias("_g"),
    )
    stepped = _stepped_running_counts(per, "_v", ["_p", "_g"])
    dec = "decimal(38,0)"
    npos = F.col("_p_tot")
    nneg = F.col("_g_tot")
    p_gt = npos - F.col("_p_run")
    g_gt = nneg - F.col("_g_run")
    jnum = p_gt.cast(dec) * nneg.cast(dec) - g_gt.cast(dec) * npos.cast(
        dec
    )
    staged = stepped.where((npos > 0) & (nneg > 0)).select(
        F.col("_v").alias("_thr"),
        p_gt.alias("_pgt"),
        g_gt.alias("_ggt"),
        jnum.alias("_jn"),
        npos.alias("_np"),
        nneg.alias("_ng"),
    )
    jmax = staged.agg(F.max("_jn").alias("_jmax"))
    best = (
        staged.join(F.broadcast(jmax))
        .where(F.col("_jn") == F.col("_jmax"))
        .agg(
            F.max("_np").alias("_np"),
            F.max("_ng").alias("_ng"),
            F.min("_thr").alias("_bthr"),
            F.min_by("_pgt", "_thr").alias("_bp"),
            F.min_by("_ggt", "_thr").alias("_bg"),
        )
    )
    tpr = F.col("_bp").cast("double") / F.col("_np").cast("double")
    fpr = F.col("_bg").cast("double") / F.col("_ng").cast("double")
    out = best.select(
        F.col("_np").cast("bigint").alias("n_pos"),
        F.col("_ng").cast("bigint").alias("n_neg"),
        F.col("_bthr").alias("threshold"),
        F.col("_bp").cast("bigint").alias("n_pos_gt"),
        F.col("_bg").cast("bigint").alias("n_neg_gt"),
        F.round(tpr, 6).alias("tpr"),
        F.round(fpr, 6).alias("fpr"),
        F.round(tpr - fpr, 6).alias("youden_j"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def value_at_risk(
    df: DataFrame,
    value_col: str,
    alpha: float = 0.95,
) -> DataFrame:
    """Historical Value-at-Risk and Expected Shortfall (CVaR) of a
    loss distribution — the risk-tail pair behind "how bad is the
    worst 5%?" (losses POSITIVE; pass negated returns for P&L):

    ``VaR_α = min{v : F(v) ≥ α}`` (the lower empirical quantile —
    the same boundary law as :func:`~padua_spark.extensions.features.
    gains_table`), ``ES_α = E[X | X > VaR] `` over the strict
    exceedances, with the exceedance count reported (``ES = VaR``
    when nothing exceeds — the discrete-tail convention, documented).

    ONE per-distinct-value aggregation carrying both the counts and
    the value·count sums through the shared stepped cumsum, one
    roll-up row — the tail mean needs no second scan: at the VaR row,
    ``n_exceed = n − cum_count`` and
    ``tail_sum = total_vsum − cum_vsum``. Output 1 row: ``(n, alpha,
    var, n_exceed, expected_shortfall)``, 6dp.

    Beyond the reference; standard per Jorion / McNeil-Frey-Embrechts.
    """
    from padua_spark.io_utils import track_cached

    v = F.col(value_col).cast("double")
    per = (
        df.where(v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_c"),
        )
        .withColumn("_vc", F.col("_v") * F.col("_c").cast("double"))
    )
    stepped = _stepped_running_counts(per, "_v", ["_c", "_vc"])
    rank = F.ceil(
        F.lit(float(alpha)) * F.col("_c_tot").cast("double")
    ).cast("bigint")
    # the struct min picks the SMALLEST qualifying value row and
    # carries its cumulative state along — one aggregation, no collect
    hit = F.min(
        F.when(
            F.col("_c_run") >= rank,
            F.struct(
                F.col("_v").alias("v"),
                F.col("_c_run").alias("crun"),
                F.col("_vc_run").alias("vcrun"),
            ),
        )
    )
    agg = stepped.agg(
        F.max("_c_tot").cast("bigint").alias("n"),
        F.max("_vc_tot").alias("_vtot"),
        hit.alias("_h"),
    )
    n_exceed = (F.col("n") - F.col("_h.crun")).cast("bigint")
    es = F.when(
        n_exceed > 0,
        (F.col("_vtot") - F.col("_h.vcrun"))
        / n_exceed.cast("double"),
    ).otherwise(F.col("_h.v"))
    out = agg.select(
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
        F.lit(float(alpha)).alias("alpha"),
        F.round(F.col("_h.v"), 6).alias("var"),
        F.coalesce(n_exceed, F.lit(0)).cast("bigint").alias(
            "n_exceed"
        ),
        F.round(
            F.when(F.col("_h").isNotNull(), es), 6
        ).alias("expected_shortfall"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def meta_analysis(
    df: DataFrame,
    effect_col: str,
    se_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Fixed- and random-effects meta-analysis per group — the
    standard many-experiments roll-up (per-segment A/B effects,
    per-site lift estimates, replicated studies): inverse-variance
    pooling, DerSimonian–Laird heterogeneity, and Egger's
    small-study/publication-bias regression, in the textbook forms:

    fixed ``θ_F = Σwθ/Σw`` with ``w = 1/se²``, ``se_F = 1/√Σw``;
    ``Q = Σw(θ − θ_F)²``, ``I² = max(0, (Q−(k−1))/Q)``,
    ``τ² = max(0, (Q−(k−1)) / (Σw − Σw²/Σw))`` (DL); random
    ``θ_R = Σw*θ/Σw*`` with ``w* = 1/(se²+τ²)``, ``se_R = 1/√Σw*``;
    Egger: OLS of ``θ/se`` on ``1/se`` — the intercept estimates
    asymmetry, ``t = b₀/se(b₀)`` with k−2 df (p two-sided via the
    shared Arrow-batched student-t SF on the bounded per-group row).

    Scale shape: ONE aggregation computes every fixed-effect and
    Egger ingredient; τ² is broadcast back for ONE more aggregation
    (the random weights need it per study) — two passes total, no
    window, no driver loop. Studies with NULL or non-positive se are
    excluded. Output per group: ``(groups..., k, theta_fixed,
    se_fixed, q, i2, tau2, theta_random, se_random,
    egger_intercept, egger_t, egger_p)``, 6dp; random/Egger NULL
    when k < 2 / k < 3.

    Beyond the reference; standard per DerSimonian & Laird 1986 /
    Egger et al. 1997.
    """
    from pyspark import StorageLevel

    from padua_spark.functions.distributions import t_sf_udf
    from padua_spark.io_utils import track_cached

    group_cols = group_cols or []
    th = F.col(effect_col).cast("double")
    se = F.col(se_col).cast("double")
    base = df.where(
        th.isNotNull() & se.isNotNull() & (se > 0)
    ).select(*group_cols, th.alias("_th"), se.alias("_se")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    w = 1.0 / (F.col("_se") * F.col("_se"))
    x = 1.0 / F.col("_se")
    y = F.col("_th") / F.col("_se")
    first = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_k"),
        F.sum(w).alias("_sw"),
        F.sum(w * F.col("_th")).alias("_swt"),
        F.sum(w * F.col("_th") * F.col("_th")).alias("_swt2"),
        F.sum(w * w).alias("_sw2"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(x * y).alias("_sxy"),
        F.sum(y * y).alias("_syy"),
    )
    kd = F.col("_k").cast("double")
    tf = F.col("_swt") / F.col("_sw")
    q = F.col("_swt2") - F.col("_swt") * F.col("_swt") / F.col("_sw")
    c = F.col("_sw") - F.col("_sw2") / F.col("_sw")
    tau2 = F.when(
        (F.col("_k") >= 2) & (c > 0),
        F.greatest(F.lit(0.0), (q - (kd - 1.0)) / c),
    )
    # Egger OLS of y on x: slope denominator and intercept
    den = kd * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    b1 = (kd * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / den
    b0 = (F.col("_sy") - b1 * F.col("_sx")) / kd
    sse = (
        F.col("_syy") - b0 * F.col("_sy") - b1 * F.col("_sxy")
    )
    sig2 = F.when(F.col("_k") >= 3, F.greatest(
        F.lit(0.0), sse / (kd - 2.0)
    ))
    se_b0 = F.sqrt(sig2 * F.col("_sxx") / den)
    egger_t = F.when((F.col("_k") >= 3) & (den > 0) & (se_b0 > 0),
                     b0 / se_b0)
    stats1 = first.select(
        *group_cols, "_k", "_sw", tf.alias("_tf"), q.alias("_q"),
        tau2.alias("_tau2"), b0.alias("_b0"),
        egger_t.alias("_et"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    joined = (
        base.join(
            F.broadcast(stats1.select(*group_cols, "_tau2")),
            on=group_cols,
        )
        if group_cols
        else base.crossJoin(
            F.broadcast(stats1.select("_tau2"))
        )
    )
    ws = 1.0 / (
        F.col("_se") * F.col("_se") + F.coalesce(F.col("_tau2"),
                                                 F.lit(0.0))
    )
    second = joined.groupBy(*group_cols).agg(
        F.sum(ws).alias("_sws"),
        F.sum(ws * F.col("_th")).alias("_swst"),
    )
    both = (
        stats1.join(second, on=group_cols)
        if group_cols
        else stats1.crossJoin(F.broadcast(second))
    )
    kd2 = F.col("_k").cast("double")
    i2 = F.when(
        (F.col("_k") >= 2) & (F.col("_q") > 0),
        F.greatest(
            F.lit(0.0), (F.col("_q") - (kd2 - 1.0)) / F.col("_q")
        ),
    )
    out = both.select(
        *group_cols,
        F.col("_k").alias("k"),
        F.round("_tf", 6).alias("theta_fixed"),
        F.round(1.0 / F.sqrt(F.col("_sw")), 6).alias("se_fixed"),
        F.round(F.when(F.col("_k") >= 2, F.col("_q")), 6).alias("q"),
        F.round(i2, 6).alias("i2"),
        F.round("_tau2", 6).alias("tau2"),
        F.round(
            F.when(
                F.col("_k") >= 2, F.col("_swst") / F.col("_sws")
            ),
            6,
        ).alias("theta_random"),
        F.round(
            F.when(F.col("_k") >= 2, 1.0 / F.sqrt(F.col("_sws"))),
            6,
        ).alias("se_random"),
        F.round(F.when(F.col("_k") >= 3, F.col("_b0")), 6)
        .alias("egger_intercept"),
        F.round("_et", 6).alias("egger_t"),
        F.round(
            F.when(
                F.col("_et").isNotNull(),
                # t_sf_udf is ALREADY the two-sided P(|T| >= |t|)
                t_sf_udf(F.abs(F.col("_et")), kd2 - 2.0),
            ),
            6,
        ).alias("egger_p"),
    )
    return track_cached(out, base, stats1)


def ancova_1cov(
    df: DataFrame,
    group_col: str,
    covariate_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANCOVA with a single covariate — "does the group
    effect survive adjusting for x?", the missing step between
    :func:`anova_1way` (no adjustment) and a full regression: the
    F test compares the common-slope model ``y ~ group + x``
    against the reduced ``y ~ x``:

    ``SSE_full = Syy_w − Sxy_w²/Sxx_w`` (pooled WITHIN-group
    centered cross sums), ``SSE_red = Syy_t − Sxy_t²/Sxx_t``
    (total), ``F = ((SSE_red − SSE_full)/(k−1)) /
    (SSE_full/(N−k−1))``; also reports the pooled common slope
    ``β_w = Sxy_w/Sxx_w``. p via the shared Arrow-batched F SF on
    the 1-row result.

    Scale shape: ONE aggregation to per-group raw sums (k bounded
    rows), one roll-up assembling within/total sums algebraically —
    no centered column materialized, no window. Output 1 row:
    ``(n, k_groups, slope_common, sse_full, sse_reduced, f_stat,
    df1, df2, p_value)``, 6dp; NULL F when degenerate (Sxx ≤ 0 or
    df ≤ 0).

    Beyond the reference; standard per Fisher / Huitema (The
    Analysis of Covariance and Alternatives).
    """
    from padua_spark.functions.distributions import f_sf_udf
    from padua_spark.io_utils import track_cached

    x = F.col(covariate_col).cast("double")
    y = F.col(value_col).cast("double")
    per = (
        df.where(
            x.isNotNull() & y.isNotNull()
            & F.col(group_col).isNotNull()
        )
        .groupBy(F.col(group_col).alias("_g"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_n"),
            F.sum(x).alias("_sx"),
            F.sum(y).alias("_sy"),
            F.sum(x * x).alias("_sxx"),
            F.sum(y * y).alias("_syy"),
            F.sum(x * y).alias("_sxy"),
        )
    )
    nd = F.col("_n").cast("double")
    agg = per.agg(
        F.sum("_n").cast("bigint").alias("_nt"),
        F.count(F.lit(1)).cast("bigint").alias("_k"),
        F.sum(F.col("_sxx") - F.col("_sx") * F.col("_sx") / nd)
        .alias("_sxxw"),
        F.sum(F.col("_syy") - F.col("_sy") * F.col("_sy") / nd)
        .alias("_syyw"),
        F.sum(F.col("_sxy") - F.col("_sx") * F.col("_sy") / nd)
        .alias("_sxyw"),
        F.sum("_sx").alias("_sxt"),
        F.sum("_sy").alias("_syt"),
        F.sum("_sxx").alias("_sxxt"),
        F.sum("_syy").alias("_syyt"),
        F.sum("_sxy").alias("_sxyt"),
    )
    ntd = F.col("_nt").cast("double")
    kd = F.col("_k").cast("double")
    sxx_t = F.col("_sxxt") - F.col("_sxt") * F.col("_sxt") / ntd
    syy_t = F.col("_syyt") - F.col("_syt") * F.col("_syt") / ntd
    sxy_t = F.col("_sxyt") - F.col("_sxt") * F.col("_syt") / ntd
    sse_full = F.when(
        F.col("_sxxw") > 0,
        F.col("_syyw")
        - F.col("_sxyw") * F.col("_sxyw") / F.col("_sxxw"),
    )
    sse_red = F.when(sxx_t > 0, syy_t - sxy_t * sxy_t / sxx_t)
    df1 = kd - 1.0
    df2 = ntd - kd - 1.0
    fstat = F.when(
        (F.col("_k") >= 2) & (df2 > 0) & (sse_full > 0),
        ((sse_red - sse_full) / df1) / (sse_full / df2),
    )
    staged = agg.select(
        F.col("_nt").alias("n"),
        F.col("_k").alias("k_groups"),
        F.round(
            F.when(
                F.col("_sxxw") > 0,
                F.col("_sxyw") / F.col("_sxxw"),
            ),
            6,
        ).alias("slope_common"),
        # 2dp, not 6: SSEs are O(sum-of-squares) huge - at ~5e9 the
        # double ulp is ~1e-6, so 6dp would sit on the ulp boundary
        # and flip between engines (bit the r11 parity run)
        F.round(sse_full, 2).alias("sse_full"),
        F.round(sse_red, 2).alias("sse_reduced"),
        fstat.alias("_f"),
        df1.alias("_df1"),
        df2.alias("_df2"),
    )
    out = staged.select(
        "n", "k_groups", "slope_common", "sse_full", "sse_reduced",
        F.round("_f", 6).alias("f_stat"),
        F.col("_df1").cast("int").alias("df1"),
        F.col("_df2").cast("bigint").alias("df2"),
        F.round(
            F.when(
                F.col("_f").isNotNull(),
                f_sf_udf(F.col("_f"), F.col("_df1"), F.col("_df2")),
            ),
            6,
        ).alias("p_value"),
    )
    return track_cached(out)


def seasonal_mann_kendall(
    df: DataFrame,
    group_cols: list[str],
    season_col: str,
    order_col: str,
    value_col: str,
    max_group_size: int | None = 10_000,
) -> DataFrame:
    """Seasonal Mann–Kendall trend test per group (Hirsch & Slack
    1984) — :func:`mann_kendall` applied WITHIN each season and
    combined, so a strong annual cycle can't masquerade as (or mask)
    a monotone trend: the standard form for monthly/weekly series
    ("is this metric trending, season-adjusted?"):

    ``S = Σ_seasons S_s``, ``Var(S) = Σ_seasons Var(S_s)`` (the
    independent-seasons form — the serial-correlation covariance
    correction is a modeling choice this base case omits,
    documented), continuity-corrected ``z = (S ∓ 1)/√Var``,
    two-sided A&S normal p.

    Scale shape: exactly :func:`mann_kendall`'s bounded-group pair
    join with the season added to the key (the enforcement bound
    applies PER (group, season) — seasons shrink the quadratic
    blocks), then one ≤ n_seasons-row roll-up per group. Output per
    group: ``(groups..., n_obs, n_seasons, s_stat, var_s, z,
    p_normal)``, 6dp; z/p NULL when the combined variance
    degenerates.
    """
    per = mann_kendall(
        df, [*group_cols, season_col], order_col, value_col,
        max_group_size,
    )
    agg = per.groupBy(*group_cols).agg(
        F.sum("n_obs").cast("bigint").alias("n_obs"),
        F.count(F.lit(1)).cast("bigint").alias("n_seasons"),
        F.sum("s_stat").cast("bigint").alias("s_stat"),
        F.sum("var_s").alias("_var"),
    )
    sS = F.coalesce(F.col("s_stat"), F.lit(0)).cast("double")
    z = F.when(
        F.col("_var") > 0,
        F.when(sS > 0, (sS - 1.0) / F.sqrt(F.col("_var")))
        .when(sS < 0, (sS + 1.0) / F.sqrt(F.col("_var")))
        .otherwise(F.lit(0.0)),
    )
    return agg.select(
        *group_cols,
        "n_obs", "n_seasons", "s_stat",
        F.round("_var", 6).alias("var_s"),
        F.round(z, 6).alias("z"),
        F.round(_normal_sf_2sided(z), 6).alias("p_normal"),
    )


def msprt_normal(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    tau: float = 1.0,
) -> DataFrame:
    """Mixture Sequential Probability Ratio Test (mSPRT) for a
    difference in means — the always-valid p-value behind modern
    continuous-monitoring experimentation (Johari, Koomen, Pekelis &
    Walsh 2017): peek whenever you like, the type-I guarantee holds,
    unlike the fixed-horizon t-test :func:`ttest_ind` (the companion
    to :func:`sprt_bernoulli`, which needs a point alternative —
    mSPRT mixes over effect sizes with a ``N(0, τ²)`` prior):

    ``Λ = √(V/(V+τ²)) · exp(δ̂²·τ²/(2V(V+τ²)))`` with
    ``δ̂ = x̄_a − x̄_b`` and the plug-in variance
    ``V = s²_pooled·(1/n_a + 1/n_b)`` (documented plug-in — the
    theory assumes known σ; pooled-s² is the standard practical
    substitution), always-valid ``p = min(1, 1/Λ)``.

    ONE aggregation, closed form. Output 1 row: ``(n_a, n_b, diff,
    v_hat, lambda, p_always_valid)``, 6dp (lambda capped at 1e12 for
    display); NULL when either arm has n < 2 or V = 0.
    """
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    base = df.where(g.isin([group_a, group_b]) & v.isNotNull())
    a = (g == group_a).cast("int")
    agg = base.agg(
        F.sum(a).cast("bigint").alias("_na"),
        F.sum(1 - a).cast("bigint").alias("_nb"),
        F.sum(F.when(g == group_a, v).otherwise(0.0)).alias("_sa"),
        F.sum(F.when(g == group_b, v).otherwise(0.0)).alias("_sb"),
        F.sum(F.when(g == group_a, v * v).otherwise(0.0))
        .alias("_qa"),
        F.sum(F.when(g == group_b, v * v).otherwise(0.0))
        .alias("_qb"),
    )
    nad = F.col("_na").cast("double")
    nbd = F.col("_nb").cast("double")
    ma = F.col("_sa") / nad
    mb = F.col("_sb") / nbd
    ssa = F.col("_qa") - nad * ma * ma
    ssb = F.col("_qb") - nbd * mb * mb
    s2p = F.greatest(
        F.lit(0.0), (ssa + ssb) / (nad + nbd - 2.0)
    )
    vhat = s2p * (1.0 / nad + 1.0 / nbd)
    t2 = float(tau) * float(tau)
    diff = ma - mb
    lam = F.when(
        (F.col("_na") >= 2) & (F.col("_nb") >= 2) & (vhat > 0),
        F.sqrt(vhat / (vhat + t2))
        * F.exp(
            F.least(
                F.lit(700.0),
                diff * diff * t2 / (2.0 * vhat * (vhat + t2)),
            )
        ),
    )
    return agg.select(
        F.col("_na").alias("n_a"),
        F.col("_nb").alias("n_b"),
        F.round(diff, 6).alias("diff"),
        F.round(vhat, 6).alias("v_hat"),
        F.round(F.least(lam, F.lit(1e12)), 6).alias("lambda"),
        F.round(
            F.least(F.lit(1.0), 1.0 / lam), 6
        ).alias("p_always_valid"),
    )


def gsea_prerank(
    df: DataFrame,
    id_col: str,
    score_col: str,
    in_set_col: str,
    weight_exponent: float = 1.0,
    n_perms: int = 99,
    max_list_size: int | None = 2_000_000,
) -> DataFrame:
    """GSEA pre-ranked enrichment score (Subramanian et al. 2005) —
    "does the flagged set concentrate at the top (or bottom) of this
    ranking?", the running-sum statistic behind gene-set / feature-set
    / retrieval-slice enrichment (the reference's GO-enrichment
    domain, analysis.py:336-384, re-expressed as an engine-native
    statistic instead of an HTTP call):

    rank all items by score DESCENDING (ties broken by id — pinned
    total order); walking down the list,
    ``P_hit(i) = Σ_{j≤i, hit} |s_j|^p / Σ_hit |s|^p`` and
    ``P_miss(i) = #{j≤i, miss}/N_miss``; ``ES`` = the signed maximum
    deviation ``P_hit − P_miss`` (largest |·|, EARLIEST rank on
    ties). Significance by ``n_perms`` deterministic label
    re-randomizations — each permutation reassigns membership by the
    shared Park–Miller Lehmer hash with probability ``n_hit/N`` (the
    binomial approximation of the permutation null, the documented
    :func:`randomization_test_mean` trade), ``p = (1 + #{|ES_b| ≥
    |ES|})/(1 + B)`` and ``NES = ES / mean|ES_b|``.

    Scale contract: a RANKED-LIST operator — the cumsum is a
    partitionless ordered window over the list, bounded by
    ``max_list_size`` with an explicit raise (gene/feature lists are
    ≤ 10⁵–10⁶; this is not a fact-table operator); the permutation
    pass is the same window PARTITIONED BY perm (B parallel tasks).
    Output 1 row: ``(n, n_hit, es, es_rank, nes, p_value,
    n_perms)``, 6dp.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from padua_spark.io_utils import track_cached

    s = F.col(score_col).cast("double")
    hit = F.col(in_set_col).cast("int")
    base = df.where(s.isNotNull() & hit.isNotNull()).select(
        F.col(id_col).alias("_id"),
        s.alias("_s"),
        F.pow(F.abs(s), float(weight_exponent)).alias("_w"),
        hit.alias("_h"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    tot = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_h").cast("bigint").alias("_nh"),
    ).collect()[0]
    n, nh = tot["_n"], tot["_nh"] or 0
    if max_list_size is not None and n > max_list_size:
        raise ValueError(
            f"gsea_prerank: list size {n} exceeds "
            f"max_list_size={max_list_size}; this is a ranked-list "
            "operator (partitionless ordered cumsum) — pre-filter "
            "to the feature domain or raise the bound deliberately"
        )
    if n == 0 or nh == 0 or nh == n:
        out = base.sparkSession.range(1).select(
            F.lit(n).cast("bigint").alias("n"),
            F.lit(nh).cast("bigint").alias("n_hit"),
            F.lit(None).cast("double").alias("es"),
            F.lit(None).cast("bigint").alias("es_rank"),
            F.lit(None).cast("double").alias("nes"),
            F.lit(None).cast("double").alias("p_value"),
            F.lit(int(n_perms)).alias("n_perms"),
        )
        return track_cached(out, base)
    nmiss = n - nh

    def _es_frame(frame, part_cols):
        wo = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col("_s").desc(), F.col("_id").asc())
            if part_cols
            else Window.orderBy(F.col("_s").desc(), F.col("_id").asc())
        )
        run = wo.rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return frame.select(
            *part_cols,
            F.row_number().over(wo).cast("bigint").alias("_r"),
            F.sum(F.col("_w") * F.col("_h")).over(run).alias("_cw"),
            F.sum(1 - F.col("_h")).over(run).cast("double")
            .alias("_cm"),
        )

    # observed pass: per-rank deviation, totals joined back
    obs_tot = base.agg(
        F.sum(F.col("_w") * F.col("_h")).alias("_sw")
    )
    stepped = _es_frame(base, []).join(F.broadcast(obs_tot))
    dev = F.col("_cw") / F.col("_sw") - F.col("_cm") / float(nmiss)
    obs = stepped.select(
        F.col("_r"), dev.alias("_dev")
    ).agg(
        F.max(F.abs(F.col("_dev"))).alias("_k"),
        F.min_by(
            F.struct("_r", "_dev"),
            F.struct(-F.abs(F.col("_dev")), F.col("_r")),
        ).alias("_best"),
    )
    # permutation pass: hash membership with prob nh/n
    B = int(n_perms)
    thresh = int(_LEHMER_M * nh // n)
    st = base.select(
        "_id", "_s", "_w",
        F.explode(F.sequence(F.lit(1), F.lit(B))).alias("_b"),
    )
    h0 = (
        (F.col("_id").cast("long") % F.lit(_LEHMER_M))
        + F.col("_b").cast("long") * F.lit(1_000_003)
    ) % F.lit(_LEHMER_M)
    h1 = (h0 * h0) % F.lit(_LEHMER_M)
    h2 = (h1 * F.lit(_LEHMER_A) + h0) % F.lit(_LEHMER_M)
    h3 = (h2 * h2) % F.lit(_LEHMER_M)
    perm = st.select(
        "_b", "_id", "_s", "_w",
        (h3 < F.lit(thresh)).cast("int").alias("_h"),
    )
    ptot = perm.groupBy("_b").agg(
        F.sum(F.col("_w") * F.col("_h")).alias("_sw"),
        F.sum(1 - F.col("_h")).cast("double").alias("_nm"),
    )
    pstep = _es_frame(perm, ["_b"]).join(
        F.broadcast(ptot), on="_b"
    )
    pdev = F.when(
        (F.col("_sw") > 0) & (F.col("_nm") > 0),
        F.col("_cw") / F.col("_sw") - F.col("_cm") / F.col("_nm"),
    )
    pes = pstep.select("_b", pdev.alias("_dev")).groupBy("_b").agg(
        F.max(F.abs(F.col("_dev"))).alias("_kb")
    )
    obs_b = obs.withColumn("_one", F.lit(1))
    summary = pes.withColumn("_one", F.lit(1)).join(
        F.broadcast(obs_b), on="_one"
    ).agg(
        F.max("_k").alias("_k"),
        F.max("_best._dev").alias("_es"),
        F.max("_best._r").alias("_rank"),
        F.sum(
            (F.col("_kb") >= F.col("_k")).cast("int")
        ).cast("bigint").alias("_ext"),
        F.avg("_kb").alias("_mab"),
    )
    out = summary.select(
        F.lit(n).cast("bigint").alias("n"),
        F.lit(nh).cast("bigint").alias("n_hit"),
        F.round("_es", 6).alias("es"),
        F.col("_rank").alias("es_rank"),
        F.round(
            F.when(F.col("_mab") > 0, F.col("_es") / F.col("_mab")),
            6,
        ).alias("nes"),
        F.round(
            (F.col("_ext") + 1).cast("double") / float(B + 1), 6
        ).alias("p_value"),
        F.lit(B).alias("n_perms"),
    )
    return track_cached(out, base)


def yuen_trimmed_ttest(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    trim: float = 0.2,
) -> DataFrame:
    """Yuen's trimmed-means t-test — the robust two-sample location
    test (Yuen 1974): heavy tails and outliers wreck
    :func:`ttest_ind`'s power; Yuen compares TRIMMED means with a
    WINSORIZED variance and Welch-style df, keeping nominal error
    rates under gross non-normality (the standard robust-statistics
    recommendation, Wilcox *Modern Statistics*).

    Semantics (pinned for engine parity — the
    :func:`~padua_spark.operators.normalization.trimmed_mean`
    boundary rule, not rank-trimming whose tie-breaks differ by
    engine): per group the exact interpolated ``[trim, 1−trim]``
    percentile bounds; the trimmed mean averages values INSIDE the
    bounds (boundary-equal values kept, h_j = kept count); the
    winsorized variance is the sample variance of values CLAMPED to
    the bounds (all n_j values).

    ``d_j = (n_j−1)·s²_wj / (h_j·(h_j−1))``,
    ``t = (x̄_ta − x̄_tb)/√(d_a+d_b)``,
    ``df = (d_a+d_b)² / (d_a²/(h_a−1) + d_b²/(h_b−1))``, p two-sided
    via the shared Arrow-batched t SF.

    Scale shape: one percentile shuffle-sort (two-column projection),
    broadcast bounds back, ONE conditional aggregation per group,
    2-row pivot to one row. Output 1 row: ``(n_a, n_b, h_a, h_b,
    trimmed_mean_a, trimmed_mean_b, diff, t_stat, df, p_value)``,
    6dp; NULL t when either h_j < 2 or the variance degenerates.
    """
    from pyspark import StorageLevel

    from padua_spark.functions.distributions import t_sf_udf
    from padua_spark.io_utils import track_cached
    from padua_spark.operators.normalization import group_percentiles

    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    base = df.where(
        g.isin([group_a, group_b]) & v.isNotNull()
    ).select(
        (g == group_a).cast("int").alias("_a"), v.alias("_v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bounds = group_percentiles(
        base, ["_a"], F.col("_v"),
        {"_lo": float(trim), "_hi": 1.0 - float(trim)},
    )
    joined = base.join(F.broadcast(bounds), on="_a")
    w = F.least(F.greatest(F.col("_v"), F.col("_lo")), F.col("_hi"))
    inside = (F.col("_v") >= F.col("_lo")) & (
        F.col("_v") <= F.col("_hi")
    )
    per = joined.groupBy("_a").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.count(F.when(inside, 1)).cast("bigint").alias("_h"),
        F.avg(F.when(inside, F.col("_v"))).alias("_tm"),
        F.sum(w).alias("_sw"),
        F.sum(w * w).alias("_qw"),
    )
    row = per.groupBy().pivot("_a", [1, 0]).agg(
        F.first("_n").alias("n"),
        F.first("_h").alias("h"),
        F.first("_tm").alias("tm"),
        F.first("_sw").alias("sw"),
        F.first("_qw").alias("qw"),
    )

    def _d(side):
        n = F.col(f"{side}_n").cast("double")
        h = F.col(f"{side}_h").cast("double")
        mw = F.col(f"{side}_sw") / n
        ssw = F.col(f"{side}_qw") - n * mw * mw
        s2w = F.greatest(F.lit(0.0), ssw / (n - 1.0))
        return F.when(
            (F.col(f"{side}_h") >= 2) & (n >= 2),
            (n - 1.0) * s2w / (h * (h - 1.0)),
        )

    da, db = _d("1"), _d("0")
    diff = F.col("1_tm") - F.col("0_tm")
    t = F.when((da + db) > 0, diff / F.sqrt(da + db))
    ha = F.col("1_h").cast("double")
    hb = F.col("0_h").cast("double")
    dfree = F.when(
        (da.isNotNull()) & (db.isNotNull()) & ((da + db) > 0),
        (da + db) * (da + db)
        / (da * da / (ha - 1.0) + db * db / (hb - 1.0)),
    )
    out = row.select(
        F.col("1_n").alias("n_a"),
        F.col("0_n").alias("n_b"),
        F.col("1_h").alias("h_a"),
        F.col("0_h").alias("h_b"),
        F.round("1_tm", 6).alias("trimmed_mean_a"),
        F.round("0_tm", 6).alias("trimmed_mean_b"),
        F.round(diff, 6).alias("diff"),
        F.round(t, 6).alias("t_stat"),
        F.round(dfree, 6).alias("df"),
        F.round(
            F.when(t.isNotNull(), t_sf_udf(F.abs(t), dfree)), 6
        ).alias("p_value"),
    )
    return track_cached(out, base)


def passing_bablok(
    df: DataFrame,
    x_col: str,
    y_col: str,
    max_points: int | None = 20_000,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Passing–Bablok regression — the nonparametric method-comparison
    line beside :func:`deming_regression` (Deming needs the error-
    variance ratio and normality; PB needs neither and is invariant
    to swapping the two assays): the slope is the SHIFTED median of
    all pairwise slopes (Passing & Bablok 1983):

    over all point pairs, ``S_ij = (y_j−y_i)/(x_j−x_i)``; pairs with
    tied x are excluded (undefined slope — the Theil–Sen convention)
    and slopes exactly −1 are discarded (the paper's rule; they carry
    no orientation information); with ``K = #{S < −1}`` and N valid
    slopes, ``b = S_{((N+1)/2+K)}`` for odd N, else the mean of the
    two middle shifted order statistics; ``a = median(y − b·x)``
    (exact two-middle interpolation). The slope CI uses the paper's
    rank bounds ``C = z·√(n(n−1)(2n+5)/18)``,
    ``M1 = ⌈(N−C)/2⌉, M2 = N−M1+1`` shifted by K.

    **Scale contract**: pairs come from a self-join — O(n²) — so the
    point count is ENFORCED ≤ ``max_points`` (method-comparison
    datasets are small; pass ``None`` to opt out deliberately). The
    order statistics come from the shared distributed stepped cumsum
    over the SLOPE VALUE DOMAIN (never a single-task sort of the
    pair frame). Output 1 row: ``(n_points, n_slopes, k_neg, slope,
    slope_lo, slope_hi, intercept)``, 6dp.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached
    from padua_spark.operators.normalization import group_medians

    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    pts = df.where(x.isNotNull() & y.isNotNull()).select(
        x.alias("_x"), y.alias("_y")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    n_pts = pts.count()
    if max_points is not None and n_pts > max_points:
        raise ValueError(
            f"passing_bablok: {n_pts} points exceed "
            f"max_points={max_points}; the pair join is O(n²) — "
            "sample the comparison set or opt out deliberately"
        )
    a_side = pts.select(
        F.col("_x").alias("_xa"), F.col("_y").alias("_ya")
    )
    b_side = pts.select(
        F.col("_x").alias("_xb"), F.col("_y").alias("_yb")
    )
    pairs = a_side.join(
        b_side,
        (F.col("_xa") < F.col("_xb"))
        | (
            (F.col("_xa") == F.col("_xb"))
            & (F.col("_ya") < F.col("_yb"))
        ),
    ).where(F.col("_xa") != F.col("_xb"))
    slope = (F.col("_yb") - F.col("_ya")) / (
        F.col("_xb") - F.col("_xa")
    )
    slopes = pairs.select(slope.alias("_s")).where(
        F.col("_s") != -1.0
    )
    per = slopes.groupBy(F.col("_s").alias("_v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    ktab = stepped.agg(
        F.max("_c_tot").alias("_n"),
        F.sum(
            F.when(F.col("_v") < -1.0, F.col("_c")).otherwise(0)
        ).cast("bigint").alias("_k"),
    )
    st2 = stepped.crossJoin(F.broadcast(ktab))
    nN = F.col("_n")
    kK = F.col("_k")
    half = (nN + 1) / F.lit(2)
    odd = nN % 2 == 1
    # target ranks (1-based within the ordered slope list)
    r_mid1 = F.when(odd, F.floor(half) + kK).otherwise(
        nN / F.lit(2) + kK
    ).cast("bigint")
    r_mid2 = F.when(odd, F.floor(half) + kK).otherwise(
        nN / F.lit(2) + 1 + kK
    ).cast("bigint")
    # C uses the POINT count (the Kendall S variance), not the
    # slope count - mixing them explodes the rank band
    npd = float(n_pts)
    c_band = F.lit(
        float(z) * (npd * (npd - 1.0) * (2.0 * npd + 5.0) / 18.0)
        ** 0.5
    )
    m1 = F.ceil((nN.cast("double") - c_band) / 2.0).cast("bigint")
    r_lo = F.greatest(F.lit(1).cast("bigint"), m1 + kK)
    r_hi = F.least(nN, nN - m1 + 1 + kK)

    def _pick(rank, name):
        return F.min(
            F.when(F.col("_c_run") >= rank, F.col("_v"))
        ).alias(name)

    sel = st2.agg(
        F.max("_n").alias("_ns"),
        F.max("_k").alias("_kn"),
        _pick(r_mid1, "_s1"),
        _pick(r_mid2, "_s2"),
        _pick(r_lo, "_slo"),
        _pick(r_hi, "_shi"),
    )
    b_val = (F.col("_s1") + F.col("_s2")) / 2.0
    brow = sel.select(
        "_ns", "_kn", b_val.alias("_b"), "_slo", "_shi"
    )
    resid = pts.crossJoin(F.broadcast(brow)).select(
        F.lit(1).alias("_g"),
        (F.col("_y") - F.col("_b") * F.col("_x")).alias("_r"),
    )
    med = group_medians(
        resid, ["_g"], F.col("_r"), out_col="_a"
    ).select("_a")
    out = brow.crossJoin(F.broadcast(med)).select(
        F.lit(n_pts).cast("bigint").alias("n_points"),
        F.col("_ns").cast("bigint").alias("n_slopes"),
        F.col("_kn").alias("k_neg"),
        F.round("_b", 6).alias("slope"),
        F.round("_slo", 6).alias("slope_lo"),
        F.round("_shi", 6).alias("slope_hi"),
        F.round("_a", 6).alias("intercept"),
    )
    return track_cached(
        out, pts, *getattr(stepped, "_padua_cached", ())
    )


def median_ci(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    z: float = 1.959963984540054,
) -> DataFrame:
    """Distribution-free confidence interval for the median per group
    — the order-statistic (sign-test inversion) interval every robust
    report should quote beside the point median (no normality, no
    bootstrap):

    the interval is ``(x_(l), x_(u))`` with the large-sample ranks
    ``l = ⌊(n − z√n)/2⌋`` and ``u = ⌈(n + z√n)/2⌉ + 1`` clamped to
    [1, n] (the standard normal approximation of the binomial rank
    bounds — pinned as THE rule, exact-binomial ranks differ by ≤ 1
    at small n and would make the rank data-dependent in a way two
    engines can disagree on); the point median is the exact
    two-middle interpolation.

    Scale shape: one per-(group, value) count aggregation, rank
    selection off a window over that AGGREGATED value-domain frame
    (partitioned by group — never the raw rows), one roll-up. Output
    per group: ``(groups..., n, median, ci_lo, ci_hi)``, 6dp.

    Beyond the reference; standard per Hahn & Meeker (Statistical
    Intervals) / the sign-test inversion.
    """
    from pyspark.sql import Window

    group_cols = group_cols or []
    v = F.col(value_col).cast("double")
    per = (
        df.where(v.isNotNull())
        .groupBy(*group_cols, v.alias("_v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    wv = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wg = Window.partitionBy(*group_cols)
    stepped = per.select(
        *group_cols, "_v", "_c",
        F.sum("_c").over(wv).alias("_run"),
        F.sum("_c").over(wg).alias("_n"),
    )
    nd = F.col("_n").cast("double")
    zl = F.lit(float(z))
    r_lo = F.greatest(
        F.lit(1).cast("bigint"),
        F.floor((nd - zl * F.sqrt(nd)) / 2.0).cast("bigint"),
    )
    r_hi = F.least(
        F.col("_n"),
        (F.ceil((nd + zl * F.sqrt(nd)) / 2.0) + 1).cast("bigint"),
    )
    # exact two-middle median ranks
    m1 = F.floor((nd + 1.0) / 2.0).cast("bigint")
    m2 = F.ceil((nd + 1.0) / 2.0).cast("bigint")

    def _pick(rank, name):
        return F.min(
            F.when(F.col("_run") >= rank, F.col("_v"))
        ).alias(name)

    agg = stepped.groupBy(*group_cols).agg(
        F.max("_n").alias("n"),
        _pick(r_lo, "_lo"),
        _pick(r_hi, "_hi"),
        _pick(m1, "_m1"),
        _pick(m2, "_m2"),
    )
    return agg.select(
        *group_cols,
        "n",
        F.round((F.col("_m1") + F.col("_m2")) / 2.0, 6)
        .alias("median"),
        F.round("_lo", 6).alias("ci_lo"),
        F.round("_hi", 6).alias("ci_hi"),
    )


def rm_anova_1way(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """One-way repeated-measures ANOVA — the PARAMETRIC
    within-subjects test beside :func:`friedman_test` (Friedman ranks
    away the scale; this keeps it, with the block effect removed from
    the error term — the reason paired designs beat
    :func:`anova_1way` on the same data):

    over COMPLETE blocks only (every block must carry all k
    treatments exactly once — the :func:`friedman_test` completeness
    rule; incomplete blocks are dropped and counted):
    ``SS_treat = n·Σ_t (x̄_t − x̄)²``, ``SS_block = k·Σ_b (x̄_b −
    x̄)²``, ``SS_err = SS_total − SS_treat − SS_block``,
    ``F = (SS_treat/(k−1)) / (SS_err/((k−1)(n−1)))``, p via the
    shared Arrow-batched F SF.

    Scale shape: one completeness semi-join (:func:`_complete_blocks`),
    one aggregation to per-treatment sums (k rows), one to per-block sums
    (n rows — block-domain sized), one to the grand sums; the SSs
    assemble algebraically (no centered columns). Output 1 row:
    ``(n_blocks, k_treatments, ss_treat, ss_block, ss_error,
    f_stat, df1, df2, p_value)``, SS 2dp (sum-of-squares magnitude —
    the documented ANCOVA ulp rule), F/p 6dp.
    """
    from pyspark import StorageLevel

    from padua_spark.functions.distributions import f_sf_udf
    from padua_spark.io_utils import track_cached

    kept, _, _ = _complete_blocks(df, block_col, treatment_col, value_col)
    kept = kept.persist(StorageLevel.MEMORY_AND_DISK)
    per_t = kept.groupBy("_t").agg(F.sum("_v").alias("_st"))
    per_b = kept.groupBy("_b").agg(F.sum("_v").alias("_sb"))
    grand = kept.agg(
        F.count(F.lit(1)).cast("bigint").alias("_nk"),
        F.sum("_v").alias("_g1"),
        F.sum(F.col("_v") * F.col("_v")).alias("_g2"),
    )
    tt = per_t.crossJoin(F.broadcast(grand)).agg(
        F.max("_nk").alias("_nk"),
        F.max("_g1").alias("_g1"),
        F.max("_g2").alias("_g2"),
        F.count(F.lit(1)).cast("bigint").alias("_k"),
        F.sum(F.col("_st") * F.col("_st")).alias("_sst2"),
    )
    bb = per_b.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum(F.col("_sb") * F.col("_sb")).alias("_ssb2"),
    )
    j = tt.crossJoin(F.broadcast(bb))
    nk = F.col("_nk").cast("double")
    kd = F.col("_k").cast("double")
    ndd = F.col("_n").cast("double")
    cm = F.col("_g1") * F.col("_g1") / nk
    ss_total = F.col("_g2") - cm
    ss_treat = F.col("_sst2") / ndd - cm
    ss_block = F.col("_ssb2") / kd - cm
    ss_err = ss_total - ss_treat - ss_block
    df1 = kd - 1.0
    df2 = (kd - 1.0) * (ndd - 1.0)
    fstat = F.when(
        (F.col("_k") >= 2) & (F.col("_n") >= 2) & (ss_err > 0),
        (ss_treat / df1) / (ss_err / df2),
    )
    out = j.select(
        F.col("_n").alias("n_blocks"),
        F.col("_k").alias("k_treatments"),
        F.round(ss_treat, 2).alias("ss_treat"),
        F.round(ss_block, 2).alias("ss_block"),
        F.round(ss_err, 2).alias("ss_error"),
        F.round(fstat, 6).alias("f_stat"),
        df1.cast("int").alias("df1"),
        df2.cast("bigint").alias("df2"),
        F.round(
            F.when(
                fstat.isNotNull(),
                f_sf_udf(fstat, df1, df2),
            ),
            6,
        ).alias("p_value"),
    )
    return track_cached(out, kept)


def iv_wald(
    df: DataFrame,
    group_cols: list[str],
    instrument_col: str,
    treatment_col: str,
    outcome_col: str,
) -> DataFrame:
    """Instrumental-variable (Wald/2SLS, one instrument) causal slope
    per group — the missing member of the causal panel beside
    :func:`ipw_ate` / :func:`diff_in_diff` / propensity
    stratification: when treatment is endogenous but an instrument z
    shifts treatment without touching the outcome directly,
    ``β_IV = Cov(z,y) / Cov(z,x)`` (equals 2SLS with one instrument;
    for binary z this is the classic Wald ratio of group-mean
    differences).

    Pinned inference: homoskedastic IV standard error
    ``SE² = σ̂²_u·S_zz / S_zx²`` with ``σ̂²_u = Σû²/(n−2)``,
    ``Σû² = S_yy − 2β·S_xy + β²·S_xx`` (centered cross-moment
    algebra, no residual column); first-stage strength as the
    F statistic of x ~ z (``F = β₁²·S_zz / (RSS₁/(n−2))``, the weak-
    instrument screen — report, don't gate). z two-sided normal.

    ONE moment aggregation per group (9 centered sums via the
    Σab − n·ā·b̄ identity), everything else scalar algebra on the
    per-group row. Output: ``(groups..., n, beta_iv, se, z, p_value,
    first_stage_f)``, 6dp; NULLs when n < 3 or S_zx ≈ 0 (irrelevant
    instrument, pinned guard |S_zx| > 0).
    """
    zc = F.col(instrument_col).cast("double")
    xc = F.col(treatment_col).cast("double")
    yc = F.col(outcome_col).cast("double")
    base = df.where(
        zc.isNotNull() & xc.isNotNull() & yc.isNotNull()
    ).select(*group_cols, zc.alias("_z"), xc.alias("_x"),
             yc.alias("_y"))
    agg = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_z").alias("_sz"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_z") * F.col("_z")).alias("_szz"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_z") * F.col("_x")).alias("_szx"),
        F.sum(F.col("_z") * F.col("_y")).alias("_szy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    mz = F.col("_sz") / nd
    mx = F.col("_sx") / nd
    my = F.col("_sy") / nd
    szz = F.col("_szz") - nd * mz * mz
    sxx = F.col("_sxx") - nd * mx * mx
    syy = F.col("_syy") - nd * my * my
    szx = F.col("_szx") - nd * mz * mx
    szy = F.col("_szy") - nd * mz * my
    sxy = F.col("_sxy") - nd * mx * my
    ok = (F.col("n") >= 3) & (F.abs(szx) > 0)
    beta = F.when(ok, szy / szx)
    ssu = syy - 2.0 * beta * sxy + beta * beta * sxx
    sig2 = ssu / (nd - 2.0)
    se = F.when(
        ok & (sig2 >= 0), F.sqrt(sig2 * szz / (szx * szx))
    )
    z = F.when(se > 0, beta / se)
    b1 = F.when(szz > 0, szx / szz)
    rss1 = sxx - szx * szx / szz
    fstat = F.when(
        ok & (szz > 0) & (rss1 > 0),
        b1 * b1 * szz / (rss1 / (nd - 2.0)),
    )
    return agg.select(
        *group_cols, "n",
        F.round(beta, 6).alias("beta_iv"),
        F.round(se, 6).alias("se"),
        F.round(z, 6).alias("z"),
        F.round(_normal_sf_2sided(z), 6).alias("p_value"),
        F.round(fstat, 6).alias("first_stage_f"),
    )


def sobel_mediation(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    mediator_col: str,
    y_col: str,
) -> DataFrame:
    """Baron–Kenny mediation with the Sobel test per group: how much
    of x's effect on y flows THROUGH the mediator m? Paths:
    ``a`` = slope of m ~ x; ``b`` = partial slope of m in
    y ~ x + m (closed-form two-regressor OLS); indirect effect
    ``a·b``, total ``c`` = slope of y ~ x, direct ``c′ = c − a·b``
    (the exact OLS decomposition identity). Sobel
    ``z = a·b / √(b²·s_a² + a²·s_b²)`` with the classical OLS
    standard errors (``s_a²`` from m ~ x with df = n−2; ``s_b²``
    from the two-regressor fit with df = n−3), p two-sided normal.

    ONE moment aggregation per group (centered sums via the
    Σab − n·ā·b̄ identity); the 2×2 normal-equation solve is scalar
    algebra on the per-group row. Output: ``(groups..., n, a_path,
    b_path, indirect, direct, total, sobel_z, p_value)``, 6dp; NULLs
    when n < 4 or a design moment degenerates.
    """
    xc = F.col(x_col).cast("double")
    mc = F.col(mediator_col).cast("double")
    yc = F.col(y_col).cast("double")
    base = df.where(
        xc.isNotNull() & mc.isNotNull() & yc.isNotNull()
    ).select(*group_cols, xc.alias("_x"), mc.alias("_m"),
             yc.alias("_y"))
    agg = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum("_m").alias("_sm"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_m") * F.col("_m")).alias("_smm"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum(F.col("_x") * F.col("_m")).alias("_sxm"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_m") * F.col("_y")).alias("_smy"),
    )
    # Staged projections (guide §7.3): the closed-form solve references
    # each moment/path expression many times, and inlining them
    # textually blows the single-Project expression tree up
    # combinatorially — measured round 14: the one-select form spent
    # ~1.1 s of DRIVER time analyzing two selects (py4j itself was
    # ~0.15 s) and re-evaluated the z subtree ~15x inside the erfc
    # polynomial. Aliasing each reused subtree ONCE per stage keeps
    # analysis linear and lets the optimizer keep the stages separate
    # (CollapseProject does not inline non-cheap aliases consumed more
    # than once). Each output evaluates the exact same arithmetic DAG
    # as before — values are bit-identical, only the tree sharing
    # changes.
    nd = F.col("n").cast("double")
    mx = F.col("_sx") / nd
    mm = F.col("_sm") / nd
    my = F.col("_sy") / nd
    m1 = agg.select(
        *group_cols, "n",
        (F.col("_sxx") - nd * mx * mx).alias("_cxx"),
        (F.col("_smm") - nd * mm * mm).alias("_cmm"),
        (F.col("_syy") - nd * my * my).alias("_cyy"),
        (F.col("_sxm") - nd * mx * mm).alias("_cxm"),
        (F.col("_sxy") - nd * mx * my).alias("_cxy"),
        (F.col("_smy") - nd * mm * my).alias("_cmy"),
    )
    sxx = F.col("_cxx")
    smm = F.col("_cmm")
    syy = F.col("_cyy")
    sxm = F.col("_cxm")
    sxy = F.col("_cxy")
    smy = F.col("_cmy")
    m2 = m1.select(
        *group_cols, "n",
        "_cxx", "_cmm", "_cyy", "_cxm", "_cxy", "_cmy",
        (sxx * smm - sxm * sxm).alias("_det"),
    )
    det = F.col("_det")
    ok = (F.col("n") >= 4) & (sxx > 0) & (det > 0)
    a = F.when(ok, sxm / sxx)
    rss_a = smm - sxm * sxm / sxx
    s2_a = F.when(ok, (rss_a / (nd - 2.0)) / sxx)
    b = F.when(ok, (sxx * smy - sxm * sxy) / det)
    bx = F.when(ok, (smm * sxy - sxm * smy) / det)
    rss_y = syy - bx * sxy - b * smy
    s2_b = F.when(ok, (rss_y / (nd - 3.0)) * sxx / det)
    c_tot = F.when(ok, sxy / sxx)
    m3 = m2.select(
        *group_cols, "n",
        ok.alias("_ok"),
        a.alias("_a"),
        b.alias("_b"),
        s2_a.alias("_s2a"),
        s2_b.alias("_s2b"),
        c_tot.alias("_c"),
    )
    ac = F.col("_a")
    bc = F.col("_b")
    indirect = ac * bc
    denom = bc * bc * F.col("_s2a") + ac * ac * F.col("_s2b")
    z = F.when(F.col("_ok") & (denom > 0), indirect / F.sqrt(denom))
    m4 = m3.select(
        *group_cols, "n", "_a", "_b", "_c",
        indirect.alias("_ind"),
        z.alias("_z"),
    )
    return m4.select(
        *group_cols, "n",
        F.round(F.col("_a"), 6).alias("a_path"),
        F.round(F.col("_b"), 6).alias("b_path"),
        F.round(F.col("_ind"), 6).alias("indirect"),
        F.round(F.col("_c") - F.col("_ind"), 6).alias("direct"),
        F.round(F.col("_c"), 6).alias("total"),
        F.round(F.col("_z"), 6).alias("sobel_z"),
        F.round(_normal_sf_2sided(F.col("_z")), 6).alias("p_value"),
    )


def rdd_sharp(
    df: DataFrame,
    group_cols: list[str],
    running_col: str,
    outcome_col: str,
    cutoff: float,
    bandwidth: float,
) -> DataFrame:
    """Sharp regression-discontinuity estimate per group: the jump in
    the outcome at a treatment cutoff, identified from units JUST
    around it — local LINEAR fit on each side within ``bandwidth``
    (rectangular kernel, pinned — triangular kernels need a
    bandwidth-selection story; the uniform-kernel local linear is
    the transparent engine-exact base case):

    left side ``c−h ≤ r < c``, right side ``c ≤ r ≤ c+h`` (the
    boundary sits with the treated side, pinned); per side OLS
    ``y ~ (r−c)`` gives the intercept AT the cutoff; effect
    ``τ = α_R − α_L``; homoskedastic per-side intercept variance
    ``Var(α̂) = σ̂²·(1/n + x̄²/S_xx)``, ``SE_τ = √(V_L + V_R)``, z
    two-sided normal.

    ONE conditional-moment aggregation (both sides as CASE sums in
    the same per-group row — no second scan, no join). Output:
    ``(groups..., n_left, n_right, alpha_left, alpha_right, tau, se,
    z, p_value)``, 6dp; NULLs when either side has n < 3 or a
    degenerate design.
    """
    r = F.col(running_col).cast("double")
    yc = F.col(outcome_col).cast("double")
    c0 = float(cutoff)
    h = float(bandwidth)
    base = df.where(
        r.isNotNull() & yc.isNotNull()
        & (r >= c0 - h) & (r <= c0 + h)
    ).select(
        *group_cols,
        (r - F.lit(c0)).alias("_x"),
        yc.alias("_y"),
        (r >= c0).cast("int").alias("_s"),
    )
    sides = {}
    for tag, flag in (("l", 0), ("r", 1)):
        hit = F.col("_s") == flag
        sides[tag] = [
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint")
            .alias(f"_n{tag}"),
            F.sum(F.when(hit, F.col("_x"))).alias(f"_sx{tag}"),
            F.sum(F.when(hit, F.col("_y"))).alias(f"_sy{tag}"),
            F.sum(F.when(hit, F.col("_x") * F.col("_x")))
            .alias(f"_sxx{tag}"),
            F.sum(F.when(hit, F.col("_x") * F.col("_y")))
            .alias(f"_sxy{tag}"),
            F.sum(F.when(hit, F.col("_y") * F.col("_y")))
            .alias(f"_syy{tag}"),
        ]
    agg = base.groupBy(*group_cols).agg(*sides["l"], *sides["r"])

    def side(tag):
        n = F.col(f"_n{tag}").cast("double")
        mx = F.col(f"_sx{tag}") / n
        my = F.col(f"_sy{tag}") / n
        sxx = F.col(f"_sxx{tag}") - n * mx * mx
        sxy = F.col(f"_sxy{tag}") - n * mx * my
        syy = F.col(f"_syy{tag}") - n * my * my
        ok = (F.col(f"_n{tag}") >= 3) & (sxx > 0)
        slope = F.when(ok, sxy / sxx)
        alpha = F.when(ok, my - slope * mx)
        rss = syy - sxy * sxy / sxx
        var_a = F.when(
            ok, (rss / (n - 2.0)) * (1.0 / n + mx * mx / sxx)
        )
        return alpha, var_a

    al, vl = side("l")
    ar, vr = side("r")
    tau = ar - al
    se = F.when((vl >= 0) & (vr >= 0), F.sqrt(vl + vr))
    z = F.when(se > 0, tau / se)
    return agg.select(
        *group_cols,
        F.col("_nl").alias("n_left"),
        F.col("_nr").alias("n_right"),
        F.round(al, 6).alias("alpha_left"),
        F.round(ar, 6).alias("alpha_right"),
        F.round(tau, 6).alias("tau"),
        F.round(se, 6).alias("se"),
        F.round(z, 6).alias("z"),
        F.round(_normal_sf_2sided(z), 6).alias("p_value"),
    )


def goldfeld_quandt(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    x_col: str,
    y_col: str,
    drop_frac: float = 0.2,
) -> DataFrame:
    """Goldfeld–Quandt heteroscedasticity test per group — the
    split-sample companion to :func:`breusch_pagan` (BP needs the
    variance to be a LINEAR function of x; GQ only asks "is the
    noise bigger at one end?"): rows are ordered by the suspected
    variance driver, the middle ``drop_frac`` is dropped, OLS
    ``y ~ x`` is fit on each outer segment, and
    ``F = (RSS_hi/df_hi) / (RSS_lo/df_lo)`` with
    ``df = n_seg − 2`` is F-distributed under homoscedasticity
    (upper-tail test: variance INCREASING with the order — pinned;
    invert the order columns for the decreasing alternative).

    Segment size ``n_seg = ⌊n·(1−drop_frac)/2⌋`` per side (pinned).
    Plan: one group-partitioned ordered window pass (row_number +
    per-group count), segment flags as row expressions, ONE
    conditional-moment aggregation, p via the shared Arrow F SF.
    Output: ``(groups..., n, n_segment, rss_lo, rss_hi, f_stat, dfn,
    dfd, p_value)``, 6dp; NULLs when n_seg < 3 or a segment design
    degenerates.
    """
    from padua_spark.functions.distributions import f_sf_udf

    if not 0.0 <= drop_frac < 1.0:
        raise ValueError("goldfeld_quandt: drop_frac must be in [0,1)")
    xc = F.col(x_col).cast("double")
    yc = F.col(y_col).cast("double")
    base = df.where(xc.isNotNull() & yc.isNotNull()).select(
        *group_cols, *order_cols, xc.alias("_x"), yc.alias("_y")
    )
    wo = Window.partitionBy(*group_cols).orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    wg = Window.partitionBy(*group_cols)
    stepped = base.select(
        *group_cols, "_x", "_y",
        F.row_number().over(wo).cast("bigint").alias("_rn"),
        F.count(F.lit(1)).over(wg).cast("bigint").alias("_cnt"),
    )
    nseg = F.floor(
        F.col("_cnt").cast("double") * (1.0 - float(drop_frac)) / 2.0
    ).cast("bigint")
    lo = F.col("_rn") <= nseg
    hi = F.col("_rn") > F.col("_cnt") - nseg
    aggs = []
    for tag, hit in (("l", lo), ("h", hi)):
        aggs += [
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint")
            .alias(f"_n{tag}"),
            F.sum(F.when(hit, F.col("_x"))).alias(f"_sx{tag}"),
            F.sum(F.when(hit, F.col("_y"))).alias(f"_sy{tag}"),
            F.sum(F.when(hit, F.col("_x") * F.col("_x")))
            .alias(f"_sxx{tag}"),
            F.sum(F.when(hit, F.col("_x") * F.col("_y")))
            .alias(f"_sxy{tag}"),
            F.sum(F.when(hit, F.col("_y") * F.col("_y")))
            .alias(f"_syy{tag}"),
        ]
    agg = stepped.groupBy(*group_cols).agg(
        F.max("_cnt").alias("n"), F.max(nseg).alias("n_segment"),
        *aggs,
    )

    def rss(tag):
        n = F.col(f"_n{tag}").cast("double")
        mx = F.col(f"_sx{tag}") / n
        my = F.col(f"_sy{tag}") / n
        sxx = F.col(f"_sxx{tag}") - n * mx * mx
        sxy = F.col(f"_sxy{tag}") - n * mx * my
        syy = F.col(f"_syy{tag}") - n * my * my
        ok = (F.col(f"_n{tag}") >= 3) & (sxx > 0)
        return F.when(ok, syy - sxy * sxy / sxx)

    rss_lo = rss("l")
    rss_hi = rss("h")
    dfree = (F.col("n_segment") - 2).cast("double")
    fstat = F.when(
        (rss_lo > 0) & rss_hi.isNotNull() & (dfree > 0),
        (rss_hi / dfree) / (rss_lo / dfree),
    )
    staged = agg.withColumn("_f", fstat).withColumn(
        "_df", dfree
    )
    return staged.select(
        *group_cols, "n", "n_segment",
        F.round(rss_lo, 6).alias("rss_lo"),
        F.round(rss_hi, 6).alias("rss_hi"),
        F.round("_f", 6).alias("f_stat"),
        F.col("_df").alias("dfn"),
        F.col("_df").alias("dfd"),
        F.round(
            f_sf_udf(F.col("_f"), F.col("_df"), F.col("_df")), 6
        ).alias("p_value"),
    )


def winsorized_correlation(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Winsorized Pearson correlation per group (Wilcox) — the
    robust-correlation companion to :func:`spearman_rho` that stays
    in the VALUE domain: both variables are clamped to their exact
    interpolated ``[trim, 1−trim]`` percentile bounds (marginal
    winsorization, each variable at its own bounds — pinned) and
    Pearson's r is computed on the clamped pairs. Outlier pairs stop
    dominating the covariance but the metric keeps interval-scale
    information rank methods discard.

    Inference (pinned, Wilcox's convention): the t statistic uses
    the EFFECTIVE df of the trimmed sample,
    ``t = r_w·√(h−2) / √(1−r_w²)`` with ``h = n − 2·⌊trim·n⌋``,
    two-sided p via the shared Arrow t SF.

    Plan: one percentile pass per group (two-column projection),
    broadcast bounds back, ONE moment aggregation on the clamped
    columns. Output per group: ``(groups..., n, h_eff, r_winsorized,
    t_stat, p_value)``, 6dp; NULLs when h < 3 or a clamped variance
    degenerates.
    """
    from pyspark import StorageLevel

    from padua_spark.functions.distributions import t_sf_udf
    from padua_spark.io_utils import track_cached
    from padua_spark.operators.normalization import group_percentiles

    xc = F.col(x_col).cast("double")
    yc = F.col(y_col).cast("double")
    base = df.where(xc.isNotNull() & yc.isNotNull()).select(
        *group_cols, xc.alias("_x"), yc.alias("_y")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    bx = group_percentiles(
        base, group_cols, F.col("_x"),
        {"_xlo": float(trim), "_xhi": 1.0 - float(trim)},
    )
    by = group_percentiles(
        base, group_cols, F.col("_y"),
        {"_ylo": float(trim), "_yhi": 1.0 - float(trim)},
    )
    joined = base.join(F.broadcast(bx), on=group_cols).join(
        F.broadcast(by), on=group_cols
    )
    wx = F.least(F.greatest(F.col("_x"), F.col("_xlo")), F.col("_xhi"))
    wy = F.least(F.greatest(F.col("_y"), F.col("_ylo")), F.col("_yhi"))
    agg = joined.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(wx).alias("_sx"),
        F.sum(wy).alias("_sy"),
        F.sum(wx * wx).alias("_sxx"),
        F.sum(wy * wy).alias("_syy"),
        F.sum(wx * wy).alias("_sxy"),
    )
    nd = F.col("n").cast("double")
    mx = F.col("_sx") / nd
    my = F.col("_sy") / nd
    sxx = F.col("_sxx") - nd * mx * mx
    syy = F.col("_syy") - nd * my * my
    sxy = F.col("_sxy") - nd * mx * my
    h = (
        F.col("n")
        - 2 * F.floor(F.lit(float(trim)) * nd).cast("bigint")
    )
    hd = h.cast("double")
    r = F.when((sxx > 0) & (syy > 0), sxy / F.sqrt(sxx * syy))
    t = F.when(
        (h >= 3) & (r.isNotNull()) & (F.abs(r) < 1.0),
        r * F.sqrt(hd - 2.0) / F.sqrt(1.0 - r * r),
    )
    staged = agg.withColumn("_r", r).withColumn(
        "_t", t
    ).withColumn("_h", h)
    out = staged.select(
        *group_cols, "n",
        F.col("_h").alias("h_eff"),
        F.round("_r", 6).alias("r_winsorized"),
        F.round("_t", 6).alias("t_stat"),
        F.round(
            t_sf_udf(
                F.col("_t"), (F.col("_h") - 2).cast("double")
            ),
            6,
        ).alias("p_value"),
    )
    return track_cached(out, base)


def kuiper_2samp(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-sample Kuiper test — the rotation-invariant KS variant
    (``V = D⁺ + D⁻`` instead of max|D|): equally sensitive at the
    distribution's tails and center, and the standard choice when a
    shift can occur anywhere in a cyclic or bounded score range
    (KS's single supremum under-weights tails).

    ``D⁺ = max_v (F_a − F_b)``, ``D⁻ = max_v (F_b − F_a)`` over the
    pooled distinct values (both ≥ 0: the ECDFs meet at the last
    value); asymptotic p with Stephens' effective-size correction:
    ``λ = (√N_e + 0.155 + 0.24/√N_e)·V``, ``N_e = n_a·n_b/(n_a+n_b)``,
    ``p = 2·Σ_{j=1..50} (4j²λ² − 1)·e^{−2j²λ²}`` clamped to [0, 1],
    and p = 1 when λ < 0.4 (the series' validity floor — pinned).
    Spark evaluates the series as a sequential left-fold over
    ``F.aggregate(F.sequence(1, 50), …)`` — the SAME addition order as
    the DuckDB twin's unrolled sum, so the 6dp gate is unaffected —
    because a 50-term compile-time unroll blows the 64 KB
    whole-stage-codegen method limit into an interpreted fallback
    (round-12 verdict "what's wrong" #1).

    Scale shape: the shared distributed stepped ECDF
    (:func:`_ecdf_stepped_counts` — never a single-task sort), one
    max aggregation, scalar series on the 1-row frame. Output 1 row:
    ``(n_a, n_b, d_plus, d_minus, v_stat, p_value)``, 6dp.
    """
    from padua_spark.io_utils import track_cached

    ecdf = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    dfa = F.col("_fa").cast("double") / F.col("_na").cast("double")
    dfb = F.col("_fb").cast("double") / F.col("_nb").cast("double")
    agg = ecdf.agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.max(dfa - dfb).alias("_dp"),
        F.max(dfb - dfa).alias("_dm"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    v = F.col("_dp") + F.col("_dm")
    ne = na * nb / (na + nb)
    lam_expr = (
        F.sqrt(ne) + F.lit(0.155) + F.lit(0.24) / F.sqrt(ne)
    ) * v
    # Stage λ² once, then fold j=1..50 left-to-right: identical
    # floating-point addition order to the unrolled twin, one compact
    # codegen'd higher-order function instead of a >64 KB method.
    staged = agg.withColumn("_lam", lam_expr)
    lam = F.col("_lam")
    series = F.aggregate(
        F.sequence(F.lit(1), F.lit(50)),
        F.lit(0.0),
        # left-associated 4·j²·λ·λ exactly as the unrolled twin writes
        # it — (((4·j²)·λ)·λ), not 4·j²·(λ·λ) — FP mult isn't
        # associative and the 6dp gate compares against that form
        lambda acc, j: acc + (
            F.lit(4.0) * (j * j).cast("double") * lam * lam
            - F.lit(1.0)
        ) * F.exp(
            F.lit(-2.0) * (j * j).cast("double") * lam * lam
        ),
    )
    p = F.when(lam < 0.4, F.lit(1.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), 2.0 * series))
    )
    out = staged.select(
        "n_a", "n_b",
        F.round("_dp", 6).alias("d_plus"),
        F.round("_dm", 6).alias("d_minus"),
        F.round(v, 6).alias("v_stat"),
        F.round(
            F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), p), 6
        ).alias("p_value"),
    )
    return track_cached(out, *getattr(ecdf, "_padua_cached", ()))


def mde_two_mean(
    df: DataFrame,
    variant_col: str,
    value_col: str,
    variant_a,
    variant_b,
    alpha: float = 0.05,
    power: float = 0.8,
) -> DataFrame:
    """Post-hoc minimum detectable effect for a two-MEAN A/B — the
    continuous-metric sibling of :func:`mde_two_proportion` ("could
    this experiment have seen the revenue lift we care about?"):

    ``MDE = (z_{1−α/2} + z_{power})·√(s²_a/n_a + s²_b/n_b)`` on the
    REALIZED per-arm sample variances (Welch-style planning
    identity). The z quantiles come from the same fixed (α, power)
    lookup as the proportion twin, so no inverse-normal code path
    exists to disagree across engines.

    ONE conditional-moment aggregation. Output 1 row: ``(n_a, n_b,
    mean_a, mean_b, sd_a, sd_b, observed_diff, mde_absolute,
    powered)``, 6dp; NULLs when either arm has n < 2.
    """
    _Z_ALPHA = {0.10: 1.6448536269514722, 0.05: 1.959963984540054,
                0.01: 2.5758293035489004}
    _Z_POWER = {0.8: 0.8416212335729143, 0.9: 1.2815515655446004,
                0.95: 1.6448536269514722}
    if alpha not in _Z_ALPHA or power not in _Z_POWER:
        raise ValueError(
            "mde_two_mean: supported alpha in "
            f"{sorted(_Z_ALPHA)} and power in {sorted(_Z_POWER)} "
            "(fixed z lookup keeps both engines identical)"
        )
    zsum = _Z_ALPHA[alpha] + _Z_POWER[power]
    g = F.col(variant_col)
    v = F.col(value_col).cast("double")
    base = df.where(g.isin([variant_a, variant_b]) & v.isNotNull())
    aggs = []
    for tag, arm in (("a", variant_a), ("b", variant_b)):
        hit = g == arm
        aggs += [
            F.sum(hit.cast("int")).cast("bigint").alias(f"n_{tag}"),
            F.sum(F.when(hit, v)).alias(f"_s{tag}"),
            F.sum(F.when(hit, v * v)).alias(f"_q{tag}"),
        ]
    agg = base.agg(*aggs)

    def arm(tag):
        n = F.col(f"n_{tag}").cast("double")
        m = F.col(f"_s{tag}") / n
        var = (F.col(f"_q{tag}") - n * m * m) / (n - 1.0)
        return n, m, var

    na, ma, va = arm("a")
    nb, mb, vb = arm("b")
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    mde = F.when(
        ok & (va >= 0) & (vb >= 0),
        F.lit(float(zsum)) * F.sqrt(va / na + vb / nb),
    )
    diff = F.when(ok, mb - ma)
    return agg.select(
        "n_a", "n_b",
        F.round(F.when(ok, ma), 6).alias("mean_a"),
        F.round(F.when(ok, mb), 6).alias("mean_b"),
        F.round(F.when(ok & (va >= 0), F.sqrt(va)), 6).alias("sd_a"),
        F.round(F.when(ok & (vb >= 0), F.sqrt(vb)), 6).alias("sd_b"),
        F.round(diff, 6).alias("observed_diff"),
        F.round(mde, 6).alias("mde_absolute"),
        F.when(
            mde.isNotNull(), F.abs(diff) >= mde
        ).alias("powered"),
    )


def overdispersion_test(
    df: DataFrame,
    group_cols: list[str],
    count_col: str,
) -> DataFrame:
    """Poisson overdispersion tests per group — "is a Poisson model
    even admissible for these event counts?" (the gate before
    :func:`poisson_rate_test`-style inference and the
    negative-binomial escalation check beside :func:`negbin_fit`):

    against the constant-rate Poisson null (μ̂ = ȳ, pinned):
    dispersion index ``D = (n−1)s²/ȳ`` (χ²_{n−1} under the null)
    with the Wilson–Hilferty normal approximation
    ``z_D = √(2D) − √(2(n−1)−1)``, and the Cameron–Trivedi
    regression-form statistic
    ``z_CT = Σ[(y−ȳ)² − y] / √(2·n·ȳ²)`` (asymptotically N(0,1);
    positive = overdispersed). Both from ONE moment aggregation —
    counts stay integer until the final divisions. Two-sided normal
    p for each. Output per group: ``(groups..., n, mean, variance,
    dispersion_index, z_wh, p_wh, z_ct, p_ct)``, 6dp; NULLs when
    n < 2 or ȳ = 0.
    """
    y = F.col(count_col).cast("double")
    base = df.where(y.isNotNull()).select(
        *group_cols, y.alias("_y")
    )
    agg = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_y").alias("_s"),
        F.sum(F.col("_y") * F.col("_y")).alias("_q"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("_s") / nd
    ss = F.col("_q") - nd * mean * mean
    var = ss / (nd - 1.0)
    ok = (F.col("n") >= 2) & (mean > 0)
    disp = F.when(ok, (nd - 1.0) * var / mean)
    z_wh = F.when(
        ok, F.sqrt(2.0 * disp) - F.sqrt(2.0 * (nd - 1.0) - 1.0)
    )
    z_ct = F.when(
        ok,
        (ss - F.col("_s")) / F.sqrt(2.0 * nd * mean * mean),
    )
    return agg.select(
        *group_cols, "n",
        F.round(mean, 6).alias("mean"),
        F.round(F.when(F.col("n") >= 2, var), 6).alias("variance"),
        F.round(disp, 6).alias("dispersion_index"),
        F.round(z_wh, 6).alias("z_wh"),
        F.round(_normal_sf_2sided(z_wh), 6).alias("p_wh"),
        F.round(z_ct, 6).alias("z_ct"),
        F.round(_normal_sf_2sided(z_ct), 6).alias("p_ct"),
    )


def lepage_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Lepage two-sample LOCATION-AND-SCALE omnibus test: the sum of
    the squared standardized Wilcoxon rank-sum (location) and
    Ansari–Bradley (scale) statistics, ``L = z_W² + z_AB² ~ χ²₂`` —
    the classic rank-based answer to "did this metric move in center
    OR spread?" when either alone would be underpowered (A/B guard
    rails, drift screens).

    Both components ride ONE pass over the shared distributed stepped
    ECDF (:func:`_ecdf_stepped_counts`): integer doubled midranks
    ``d = 2F − h + 1`` give the doubled rank sum ``W₂ = Σ c_a·d`` with
    tie-corrected null moments ``E[W₂] = n_a(N+1)``,
    ``Var[W₂] = n_a·n_b/3·((N+1) − Σ(t³−t)/(N(N−1)))`` (the
    :func:`mannwhitney_z_stats` convention), and doubled
    min-from-both-ends scores give AB₂ with the exact conditional
    moments (the :func:`ansari_bradley` convention). df=2 makes the
    chi-square survival EXACT and closed form: ``p = e^{−L/2}``.
    Output 1 row: ``(n_a, n_b, w_stat, ab_stat, z_location, z_scale,
    lepage_l, p_value)``, 6dp.

    Beyond the reference; standard per Lepage 1971.
    """
    from padua_spark.io_utils import track_cached

    ecdf = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    h = F.col("_ca") + F.col("_cb")
    f_pool = F.col("_fa") + F.col("_fb")
    n2 = F.col("_na") + F.col("_nb")
    d = 2 * f_pool - h + 1
    s2 = F.least(d, 2 * n2 + 2 - d)
    dec = "decimal(38,0)"
    agg = ecdf.select(
        "_ca", "_cb", h.alias("_h"), d.alias("_d"), s2.alias("_s2")
    ).agg(
        F.sum(F.col("_ca").cast(dec) * F.col("_d").cast(dec)).alias(
            "_w2"
        ),
        F.sum(F.col("_ca").cast(dec) * F.col("_s2").cast(dec)).alias(
            "_ab2"
        ),
        F.sum(F.col("_h").cast(dec) * F.col("_s2").cast(dec)).alias(
            "_hs"
        ),
        F.sum(
            F.col("_h").cast(dec)
            * F.col("_s2").cast(dec)
            * F.col("_s2").cast(dec)
        ).alias("_hss"),
        F.sum(
            F.col("_h").cast(dec) * F.col("_h").cast(dec)
            * F.col("_h").cast(dec)
            - F.col("_h").cast(dec)
        ).alias("_tie"),
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nt = na + nb
    w2 = F.col("_w2").cast("double")
    ab2 = F.col("_ab2").cast("double")
    hs = F.col("_hs").cast("double")
    hss = F.col("_hss").cast("double")
    tie = F.col("_tie").cast("double")
    var_w2 = (
        na * nb / 3.0 * ((nt + 1.0) - tie / (nt * (nt - 1.0)))
    )
    e_ab2 = na * hs / nt
    var_ab2 = na * nb * (hss - hs * hs / nt) / (nt * (nt - 1.0))
    z_w = F.when(var_w2 > 0, (w2 - na * (nt + 1.0)) / F.sqrt(var_w2))
    z_ab = F.when(var_ab2 > 0, (ab2 - e_ab2) / F.sqrt(var_ab2))
    staged = agg.withColumn("_zw", z_w).withColumn("_zab", z_ab)
    lep = F.col("_zw") * F.col("_zw") + F.col("_zab") * F.col("_zab")
    out = staged.select(
        "n_a", "n_b",
        F.round(w2 / 2.0, 6).alias("w_stat"),
        F.round(ab2 / 2.0, 6).alias("ab_stat"),
        F.round("_zw", 6).alias("z_location"),
        F.round("_zab", 6).alias("z_scale"),
        F.round(lep, 6).alias("lepage_l"),
        F.round(F.exp(-lep / 2.0), 6).alias("p_value"),
    )
    return track_cached(out, *getattr(ecdf, "_padua_cached", ()))


def cucconi_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cucconi two-sample location-scale test — older than Lepage and
    based on SQUARED ranks and squared contrary ranks of the second
    sample instead of a Wilcoxon+Ansari sum; the standard reference
    alternative when the change may hit center and spread together.

    ``U = (6ΣR_b² − n_b(N+1)(2N+1)) / √(n_a n_b (N+1)(2N+1)(8N+11)/5)``
    ``V`` the same on contrary ranks ``N+1−R``;
    ``ρ = 2(N²−4)/((2N+1)(8N+11)) − 1``;
    ``C = (U² + V² − 2ρUV) / (2(1−ρ²))``, asymptotic null
    ``P(C ≥ c) = e^{−c}`` (Cucconi 1968; Marozzi 2009). Ties take
    MIDRANKS (documented convention — scipy has no Cucconi;
    integer-exact via doubled midranks: ``ΣR² = Σ c_b·d²/4``,
    ``Σ(N+1−R)² = Σ c_b·(2N+2−d)²/4``). One pass over the shared
    distributed stepped ECDF. Output 1 row: ``(n_a, n_b, u_stat,
    v_stat, rho, c_stat, p_value)``, 6dp.

    Beyond the reference; standard per Marozzi 2009.
    """
    from padua_spark.io_utils import track_cached

    ecdf = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    h = F.col("_ca") + F.col("_cb")
    f_pool = F.col("_fa") + F.col("_fb")
    n2 = F.col("_na") + F.col("_nb")
    d = 2 * f_pool - h + 1
    dc = 2 * n2 + 2 - d  # doubled contrary midrank
    dec = "decimal(38,0)"
    agg = ecdf.select(
        "_ca", "_cb", d.alias("_d"), dc.alias("_dc")
    ).agg(
        F.sum(
            F.col("_cb").cast(dec)
            * F.col("_d").cast(dec) * F.col("_d").cast(dec)
        ).alias("_r2"),
        F.sum(
            F.col("_cb").cast(dec)
            * F.col("_dc").cast(dec) * F.col("_dc").cast(dec)
        ).alias("_cr2"),
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nt = na + nb
    sum_r2 = F.col("_r2").cast("double") / 4.0
    sum_cr2 = F.col("_cr2").cast("double") / 4.0
    denom = F.sqrt(
        na * nb * (nt + 1.0) * (2.0 * nt + 1.0)
        * (8.0 * nt + 11.0) / 5.0
    )
    u = (6.0 * sum_r2 - nb * (nt + 1.0) * (2.0 * nt + 1.0)) / denom
    v = (6.0 * sum_cr2 - nb * (nt + 1.0) * (2.0 * nt + 1.0)) / denom
    rho = (
        2.0 * (nt * nt - 4.0)
        / ((2.0 * nt + 1.0) * (8.0 * nt + 11.0))
        - 1.0
    )
    staged = (
        agg.withColumn("_u", u).withColumn("_v", v)
        .withColumn("_rho", rho)
    )
    uc, vc, rc = F.col("_u"), F.col("_v"), F.col("_rho")
    c_stat = (
        (uc * uc + vc * vc - 2.0 * rc * uc * vc)
        / (2.0 * (1.0 - rc * rc))
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    out = staged.select(
        "n_a", "n_b",
        F.round(F.when(ok, uc), 6).alias("u_stat"),
        F.round(F.when(ok, vc), 6).alias("v_stat"),
        F.round(F.when(ok, rc), 6).alias("rho"),
        F.round(F.when(ok, c_stat), 6).alias("c_stat"),
        F.round(F.when(ok, F.exp(-c_stat)), 6).alias("p_value"),
    )
    return track_cached(out, *getattr(ecdf, "_padua_cached", ()))


def conover_squared_ranks(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
) -> DataFrame:
    """Conover squared-ranks k-group SCALE test: rank the absolute
    deviations from each group's own mean over the POOLED sample,
    then compare per-group sums of SQUARED ranks —
    ``T = (Σ_g S_g²/n_g − N·S̄²) / D² ~ χ²_{k−1}`` with
    ``S_g = Σ_{i∈g} R_i²``, ``S̄ = (1/N)ΣR_i²``,
    ``D² = (ΣR_i⁴ − N·S̄²)/(N−1)`` (Conover & Iman; the tie-robust
    form via midranks — D² computed from the realized ranks absorbs
    ties exactly). The rank-based k-group companion to
    :func:`levene_stats` that needs no variance-of-variance
    assumptions.

    Plan: one aggregation for the k group means (broadcast back — k
    bounded), one pooled distinct-value frame over ``|x − x̄_g|``
    with per-group counts, the distributed stepped running sum, then
    ONE exact integer aggregation (doubled midranks: ``R² = d²/4``,
    ``R⁴ = d⁴/16`` — decimal(38,0) holds Σd⁴ ≲ N·(2N)⁴). Closed-form
    chi-square survival (:func:`_chi2_sf_closed`, df = k−1 bounded by
    ``len(groups)``). Output 1 row: ``(k_groups, n_total, t_stat,
    p_value)``, 6dp.

    Beyond the reference; standard per Conover, Practical
    Nonparametric Statistics §5.3.
    """
    from padua_spark.io_utils import track_cached

    k = len(groups)
    if k < 2:
        raise ValueError("conover_squared_ranks: need >= 2 groups")
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    base = df.where(g.isin(list(groups)) & v.isNotNull())
    means = base.groupBy(g.alias("_g")).agg(
        F.avg(v).alias("_mean")
    )
    z = base.join(
        F.broadcast(means), g == F.col("_g")
    ).select(g.alias("_grp"), F.abs(v - F.col("_mean")).alias("_z"))
    cols = [f"_c{i}" for i in range(k)]
    per = z.groupBy(F.col("_z").alias("_v")).agg(
        *[
            F.count(F.when(F.col("_grp") == grp, 1)).alias(c)
            for grp, c in zip(groups, cols)
        ]
    )
    pooled = per.select(
        "_v", *cols,
        sum([F.col(c) for c in cols[1:]], F.col(cols[0])).alias("_ct"),
    )
    stepped = _stepped_running_counts(pooled, "_v", ["_ct"])
    dmid = _doubled_midrank("_ct")
    dec = "decimal(38,0)"
    d2 = dmid.cast(dec) * dmid.cast(dec)
    agg = stepped.agg(
        *[
            F.sum(F.col(c).cast(dec) * d2).alias(f"_s{i}")
            for i, c in enumerate(cols)
        ],
        *[F.sum(c).alias(f"_n{i}") for i, c in enumerate(cols)],
        F.sum(F.col("_ct").cast(dec) * d2).alias("_hd2"),
        F.sum(F.col("_ct").cast(dec) * d2 * d2).alias("_hd4"),
    )
    n_total = sum(
        [F.col(f"_n{i}") for i in range(1, k)], F.col("_n0")
    )
    nd = n_total.cast("double")
    sum_r2 = F.col("_hd2").cast("double") / 4.0
    sum_r4 = F.col("_hd4").cast("double") / 16.0
    sbar = sum_r2 / nd
    dsq = (sum_r4 - nd * sbar * sbar) / (nd - 1.0)
    ssq = None
    for i in range(k):
        term = (
            F.col(f"_s{i}").cast("double")
            * F.col(f"_s{i}").cast("double") / 16.0
            / F.col(f"_n{i}").cast("double")
        )
        term = F.when(F.col(f"_n{i}") > 0, term).otherwise(F.lit(0.0))
        ssq = term if ssq is None else ssq + term
    t_stat = F.when(dsq > 0, (ssq - nd * sbar * sbar) / dsq)
    staged = agg.withColumn("_t", t_stat).withColumn(
        "_ntot", n_total.cast("bigint")
    )
    out = staged.select(
        F.lit(k).cast("bigint").alias("k_groups"),
        F.col("_ntot").alias("n_total"),
        F.round("_t", 6).alias("t_stat"),
        F.round(
            _chi2_sf_closed(F.col("_t"), F.lit(k - 1), k - 1), 6
        ).alias("p_value"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def variance_outlier_screen(
    df: DataFrame,
    group_col: str,
    value_col: str,
    groups: list,
) -> DataFrame:
    """Cochran's C + Hartley's F_max variance-outlier screen: is ONE
    group's variance out of line with the rest? ``C = s²_max / Σs²``
    and ``F_max = s²_max / s²_min`` — the classic pre-ANOVA
    homogeneity screens that localize WHICH group misbehaves (Levene
    and Bartlett only say "not all equal").

    The p-value uses the exact identity
    ``s²_max / mean(others) = (k−1)·C/(1−C) ~ F(ν_max, Σν−ν_max)``
    for a PRE-CHOSEN group, Bonferroni-multiplied by k for the
    realized maximum: ``p ≤ min(1, k·SF_F)`` — conservative, and
    exact-conditional in the balanced case (documented; Cochran's
    table-based critical values assume balance too). F survival via
    the shared vectorized betainc (``f_sf_udf``).

    ONE moment aggregation (k bounded rows), then max_by/min stitches
    on that k-row frame — no second data pass. Output 1 row:
    ``(k_groups, n_total, max_group, cochran_c, hartley_fmax, f_stat,
    df1, df2, p_bonferroni)``, 6dp; NULL p when any group has n < 2
    or all variances are zero.

    Beyond the reference; standard per Cochran 1941 / Hartley 1950.
    """
    from padua_spark.functions.distributions import f_sf_udf

    k = len(groups)
    if k < 2:
        raise ValueError("variance_outlier_screen: need >= 2 groups")
    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    base = df.where(g.isin(list(groups)) & v.isNotNull())
    per = base.groupBy(g.alias("_g")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_q"),
    )
    nd = F.col("_n").cast("double")
    var = F.when(
        F.col("_n") >= 2,
        (F.col("_q") - F.col("_s") * F.col("_s") / nd) / (nd - 1.0),
    )
    pv = per.select(
        "_g", "_n", var.alias("_var"), (nd - 1.0).alias("_nu")
    )
    agg = pv.agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum("_n").cast("bigint").alias("n_total"),
        F.max_by("_g", "_var").alias("max_group"),
        F.max("_var").alias("_vmax"),
        F.min("_var").alias("_vmin"),
        F.sum("_var").alias("_vsum"),
        F.max_by("_nu", "_var").alias("_numax"),
        F.sum("_nu").alias("_nusum"),
        F.min("_n").alias("_nmin"),
    )
    c = F.col("_vmax") / F.col("_vsum")
    fmax = F.when(
        F.col("_vmin") > 0, F.col("_vmax") / F.col("_vmin")
    )
    fstat = F.when(
        (F.col("_vsum") > F.col("_vmax")),
        F.lit(float(k - 1)) * c / (1.0 - c),
    )
    ok = (F.col("_nmin") >= 2) & (F.col("_vsum") > 0)
    staged = agg.select(
        "*",
        F.when(ok, c).alias("_c"),
        F.when(ok, fmax).alias("_fmax"),
        F.when(ok, fstat).alias("_f"),
        F.when(ok, F.col("_numax")).alias("_df1"),
        F.when(ok, F.col("_nusum") - F.col("_numax")).alias("_df2"),
    )
    return staged.select(
        F.lit(k).cast("bigint").alias("k_groups"),
        "n_total", "max_group",
        F.round("_c", 6).alias("cochran_c"),
        F.round("_fmax", 6).alias("hartley_fmax"),
        F.round("_f", 6).alias("f_stat"),
        F.col("_df1").cast("bigint").alias("df1"),
        F.col("_df2").cast("bigint").alias("df2"),
        F.round(
            F.least(
                F.lit(1.0),
                F.lit(float(k)) * f_sf_udf(
                    F.col("_f"), F.col("_df1"), F.col("_df2")
                ),
            ),
            6,
        ).alias("p_bonferroni"),
    )


# Stephens / D'Agostino (1986) Table 4.9 upper percentage points for
# the CASE-3 (mean and sd estimated) MODIFIED EDF statistics vs a
# fitted normal — pinned so both engines and the tests share one
# source of truth. Keys: alpha -> critical value of the modified stat.
EDF_CASE3_CRIT = {
    "w2": {0.10: 0.104, 0.05: 0.126, 0.01: 0.179},
    "u2": {0.10: 0.096, 0.05: 0.117, 0.01: 0.164},
}


def edf_normality_battery(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """EDF goodness-of-fit battery vs a FITTED normal — the
    Anderson–Darling A², Cramér–von Mises W², and Watson U²
    statistics with Stephens' case-3 modifications (mean and sd
    estimated from the same sample), completing the EDF corner that
    :func:`lilliefors_normal` (sup-norm) opened: A² weights the
    tails, W² integrates the whole gap, U² is rotation-invariant.

    Tie-exact closed forms on the shared distributed stepped ECDF
    (value v with count c ending at cumulative rank F):

    ``A² = −n − (1/n)·Σ_v [c(2F−c)·lnΦ(z_v) +
    c(2(n−F)+c)·ln(1−Φ(z_v))]`` (the order-statistic sum collapsed
    per distinct value);
    ``W² = Σ_v [c·Φ² − (Φ/n)·c(2F−c) + (g(F)−g(F−c))/(4n²)]
    + 1/(12n)`` with ``g(m) = m(2m−1)(2m+1)/3 = Σ_{j≤m}(2j−1)²``;
    ``U² = W² − n(Φ̄ − ½)²``. Φ via the shared A&S erfc polynomial,
    clamped to [1e−300, 1−1e−16] before logs.

    Modified stats: ``A*² = A²(1 + 0.75/n + 2.25/n²)`` with the
    R-nortest closed-form p (4-range exponential-polynomial);
    ``W*² = W²(1 + 0.5/n)``, ``U*² = U²(1 + 0.5/n)`` reported with
    reject flags against the pinned Table-4.9 criticals
    (``EDF_CASE3_CRIT``) — no defensible closed-form p exists for
    case-3 W²/U², so the battery reports the decision, not a made-up
    p. Output 1 row: ``(n, mean, sd, a2_stat, a2_mod, p_ad, w2_stat,
    w2_mod, w2_reject_10pct, w2_reject_5pct, w2_reject_1pct,
    u2_stat, u2_mod, u2_reject_5pct)``, 6dp.

    Beyond the reference; standard per D'Agostino & Stephens 1986
    ch. 4.
    """
    from padua_spark.io_utils import track_cached

    v = F.col(value_col).cast("double")
    per = (
        df.where(v.isNotNull())
        .groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    mom = (
        stepped.agg(
            F.sum("_c").cast("bigint").alias("n"),
            F.sum(F.col("_v") * F.col("_c")).alias("_s1"),
            F.sum(F.col("_v") * F.col("_v") * F.col("_c")).alias(
                "_s2"
            ),
        )
        .withColumn("_one", F.lit(1))
    )
    nd0 = F.col("n").cast("double")
    mu = F.col("_s1") / nd0
    sd = F.sqrt((F.col("_s2") - nd0 * mu * mu) / (nd0 - 1.0))
    mom = mom.select("_one", "n", mu.alias("_mu"), sd.alias("_sd"))
    joined = stepped.withColumn("_one", F.lit(1)).join(
        F.broadcast(mom), on="_one"
    )
    z = (F.col("_v") - F.col("_mu")) / F.col("_sd")
    phi_raw = 1.0 - _normal_sf_1sided(z)
    phi = F.least(
        F.greatest(phi_raw, F.lit(1e-300)), F.lit(1.0 - 1e-16)
    )
    c = F.col("_c").cast("double")
    fcum = F.col("_c_run").cast("double")
    n = F.col("_c_tot").cast("double")
    # Σ(2i−1) over the tie span = c(2F−c); Σ(2(n−i)+1) = c(2(n−F)+c)
    w_lo = c * (2.0 * fcum - c)
    w_hi = c * (2.0 * (n - fcum) + c)

    def gsum(m):
        return m * (2.0 * m - 1.0) * (2.0 * m + 1.0) / 3.0

    agg = joined.groupBy("n", "_mu", "_sd").agg(
        F.sum(
            w_lo * F.log(phi) + w_hi * F.log(1.0 - phi)
        ).alias("_ad"),
        F.sum(
            c * phi * phi
            - phi / n * w_lo
            + (gsum(fcum) - gsum(fcum - c)) / (4.0 * n * n)
        ).alias("_w2"),
        F.sum(c * phi).alias("_sphi"),
    )
    nd = F.col("n").cast("double")
    a2 = -nd - F.col("_ad") / nd
    w2 = F.col("_w2") + 1.0 / (12.0 * nd)
    phibar = F.col("_sphi") / nd
    u2 = w2 - nd * (phibar - 0.5) * (phibar - 0.5)
    staged = (
        agg.withColumn("_a2", a2)
        .withColumn("_w2s", w2)
        .withColumn("_u2", u2)
    )
    a2m = F.col("_a2") * (
        1.0 + 0.75 / nd + 2.25 / (nd * nd)
    )
    w2m = F.col("_w2s") * (1.0 + 0.5 / nd)
    u2m = F.col("_u2") * (1.0 + 0.5 / nd)
    staged = (
        staged.withColumn("_a2m", a2m)
        .withColumn("_w2m", w2m)
        .withColumn("_u2m", u2m)
    )
    zz = F.col("_a2m")
    p_ad = (
        F.when(
            zz < 0.2,
            1.0 - F.exp(-13.436 + 101.14 * zz - 223.73 * zz * zz),
        )
        .when(
            zz < 0.34,
            1.0 - F.exp(-8.318 + 42.796 * zz - 59.938 * zz * zz),
        )
        .when(zz < 0.6, F.exp(0.9177 - 4.279 * zz - 1.38 * zz * zz))
        .when(zz < 10.0, F.exp(1.2937 - 5.709 * zz + 0.0186 * zz * zz))
        .otherwise(F.lit(3.7e-24))
    )
    ok = (F.col("n") >= 8) & (F.col("_sd") > 0)
    cw = EDF_CASE3_CRIT["w2"]
    cu = EDF_CASE3_CRIT["u2"]
    out = staged.select(
        "n",
        F.round("_mu", 6).alias("mean"),
        F.round(F.when(ok, F.col("_sd")), 6).alias("sd"),
        F.round(F.when(ok, F.col("_a2")), 6).alias("a2_stat"),
        F.round(F.when(ok, F.col("_a2m")), 6).alias("a2_mod"),
        F.round(
            F.when(
                ok,
                F.least(F.lit(1.0), F.greatest(F.lit(0.0), p_ad)),
            ),
            6,
        ).alias("p_ad"),
        F.round(F.when(ok, F.col("_w2s")), 6).alias("w2_stat"),
        F.round(F.when(ok, F.col("_w2m")), 6).alias("w2_mod"),
        F.when(ok, F.col("_w2m") > cw[0.10]).alias("w2_reject_10pct"),
        F.when(ok, F.col("_w2m") > cw[0.05]).alias("w2_reject_5pct"),
        F.when(ok, F.col("_w2m") > cw[0.01]).alias("w2_reject_1pct"),
        F.round(F.when(ok, F.col("_u2")), 6).alias("u2_stat"),
        F.round(F.when(ok, F.col("_u2m")), 6).alias("u2_mod"),
        F.when(ok, F.col("_u2m") > cu[0.05]).alias("u2_reject_5pct"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def f_variance_ratio_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Classical two-sample F test of equal variances —
    ``F = s²_a / s²_b ~ F(n_a−1, n_b−1)`` under normality, two-sided
    ``p = 2·min(SF, 1−SF)`` clamped to [0, 1]. The textbook
    parametric companion to :func:`levene_stats` (robust) and
    :func:`ansari_bradley` (rank): exact under normality, famously
    fragile otherwise — reported with both group variances so the
    caller can see what drove it.

    ONE conditional-moment aggregation; F survival via the shared
    vectorized betainc (``f_sf_udf``). Output 1 row: ``(n_a, n_b,
    var_a, var_b, f_stat, df1, df2, p_two_sided)``, 6dp; NULLs when
    either group has n < 2 or s²_b = 0.

    Beyond the reference; the classic Snedecor F.
    """
    from padua_spark.functions.distributions import f_sf_udf

    g = F.col(group_col)
    v = F.col(value_col).cast("double")
    base = df.where(g.isin([group_a, group_b]) & v.isNotNull())
    aggs = []
    for tag, arm in (("a", group_a), ("b", group_b)):
        hit = g == arm
        aggs += [
            F.sum(hit.cast("int")).cast("bigint").alias(f"n_{tag}"),
            F.sum(F.when(hit, v)).alias(f"_s{tag}"),
            F.sum(F.when(hit, v * v)).alias(f"_q{tag}"),
        ]
    agg = base.agg(*aggs)

    def var(tag):
        nd = F.col(f"n_{tag}").cast("double")
        m = F.col(f"_s{tag}") / nd
        return (F.col(f"_q{tag}") - nd * m * m) / (nd - 1.0)

    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    staged = agg.select(
        "n_a", "n_b",
        F.when(ok, var("a")).alias("_va"),
        F.when(ok, var("b")).alias("_vb"),
    ).withColumn(
        "_f",
        F.when(
            F.col("_vb") > 0, F.col("_va") / F.col("_vb")
        ),
    )
    sf = f_sf_udf(
        F.col("_f"),
        (F.col("n_a") - 1).cast("double"),
        (F.col("n_b") - 1).cast("double"),
    )
    staged = staged.withColumn("_sf", sf)
    p2 = F.least(
        F.lit(1.0),
        2.0 * F.least(F.col("_sf"), 1.0 - F.col("_sf")),
    )
    return staged.select(
        "n_a", "n_b",
        F.round("_va", 6).alias("var_a"),
        F.round("_vb", 6).alias("var_b"),
        F.round("_f", 6).alias("f_stat"),
        F.when(F.col("_f").isNotNull(), F.col("n_a") - 1)
        .cast("bigint").alias("df1"),
        F.when(F.col("_f").isNotNull(), F.col("n_b") - 1)
        .cast("bigint").alias("df2"),
        F.round(
            F.when(F.col("_f").isNotNull(), p2), 6
        ).alias("p_two_sided"),
    )


def poisson_two_rate_test(
    df: DataFrame,
    arm_col: str,
    arm_a,
    arm_b,
    event_flag: Column,
    exposure_flag: Column,
    max_support: int = 500_000,
) -> DataFrame:
    """Exact conditional comparison of two Poisson RATES (the C-test,
    Przyborowski & Wilenski 1940): with counts ``k_a, k_b`` over
    exposures ``t_a, t_b``, condition on ``K = k_a + k_b`` — under
    ``H₀: λ_a = λ_b``, ``k_a | K ~ Binomial(K, t_a/(t_a+t_b))`` — and
    report the exact point-probability two-sided p plus the realized
    rate ratio. The exact answer to "is the error rate per click
    higher in arm A?" at counts where the z approximation lies.

    ONE conditional-count aggregation to the four integers, then the
    shared bounded JVM binomial tail fold
    (:func:`_binom_exact_pvalues`, raises above ``max_support``).
    Output 1 row: ``(k_a, k_b, t_a, t_b, rate_a, rate_b, rate_ratio,
    p_left, p_right, p_two)``, 6dp; NULL rates when an exposure is 0.

    Beyond the reference; standard per Przyborowski & Wilenski 1940 /
    Lehmann TSH §4.5.
    """
    a = F.col(arm_col)
    base = df.where(a.isin([arm_a, arm_b]))
    agg = base.agg(
        F.sum(
            F.when((a == arm_a) & event_flag, 1).otherwise(0)
        ).cast("bigint").alias("k_a"),
        F.sum(
            F.when((a == arm_b) & event_flag, 1).otherwise(0)
        ).cast("bigint").alias("k_b"),
        F.sum(
            F.when((a == arm_a) & exposure_flag, 1).otherwise(0)
        ).cast("bigint").alias("t_a"),
        F.sum(
            F.when((a == arm_b) & exposure_flag, 1).otherwise(0)
        ).cast("bigint").alias("t_b"),
    )
    staged = agg.withColumn(
        "_K", (F.col("k_a") + F.col("k_b")).cast("bigint")
    ).withColumn(
        "_p0",
        F.col("t_a").cast("double")
        / (F.col("t_a") + F.col("t_b")).cast("double"),
    )
    staged, pl, pr, pt = _binom_exact_pvalues(
        staged, "_K", "k_a", "_p0", max_support
    )
    ra = F.when(
        F.col("t_a") > 0,
        F.col("k_a").cast("double") / F.col("t_a").cast("double"),
    )
    rb = F.when(
        F.col("t_b") > 0,
        F.col("k_b").cast("double") / F.col("t_b").cast("double"),
    )
    staged = staged.withColumn("_ra", ra).withColumn("_rb", rb)
    ok = (F.col("_K") > 0) & (F.col("t_a") > 0) & (F.col("t_b") > 0)
    return staged.select(
        "k_a", "k_b", "t_a", "t_b",
        F.round("_ra", 6).alias("rate_a"),
        F.round("_rb", 6).alias("rate_b"),
        F.round(
            F.when(
                F.col("_rb") > 0, F.col("_ra") / F.col("_rb")
            ),
            6,
        ).alias("rate_ratio"),
        F.round(F.when(ok, F.least(pl, F.lit(1.0))), 6).alias(
            "p_left"
        ),
        F.round(F.when(ok, F.least(pr, F.lit(1.0))), 6).alias(
            "p_right"
        ),
        F.round(F.when(ok, F.least(pt, F.lit(1.0))), 6).alias(
            "p_two"
        ),
    )


def wallis_moore_test(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Wallis–Moore phase-frequency test of randomness per group: are
    rises and falls of the ordered series grouped into fewer (trend/
    cycles) or more (oscillation) PHASES than chance? A phase is a
    maximal run of same-signed successive differences; with the first
    and last phase excluded, ``h ~ N((2n−7)/3, (16n−29)/90)`` under
    randomness (n = series length). The sign-based sibling of
    :func:`turning_points_test` — phases count runs, turning points
    count extrema; they disagree exactly when oscillation is bursty.

    Convention under ties (documented; the classic test assumes a
    continuous series): ZERO differences are dropped before phase
    counting, and n is the retained difference count + 1. Two ordered
    window passes per group (diff sign, then sign change), one
    aggregation. Two-sided p via the shared A&S erfc polynomial.
    Output per group: ``(group_cols..., n, h_phases, z, p_value)``,
    6dp; NULL z when n < 10.

    Beyond the reference; standard per Wallis & Moore 1941.
    """
    v = F.col(value_col).cast("double")
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    diffed = (
        df.where(v.isNotNull())
        .withColumn("_d", v - F.lag(v).over(w))
        .where(F.col("_d").isNotNull() & (F.col("_d") != 0))
        .withColumn("_sgn", F.signum("_d"))
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    flagged = diffed.withColumn(
        "_chg",
        F.when(
            F.lag("_sgn").over(w2).isNull(), F.lit(0)
        ).when(
            F.col("_sgn") != F.lag("_sgn").over(w2), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    agg = flagged.groupBy(*group_cols).agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n"),
        F.sum("_chg").cast("bigint").alias("_nchg"),
    )
    # total phases = changes + 1; interior phases exclude first+last
    h = F.greatest(
        F.col("_nchg") + 1 - 2, F.lit(0)
    ).cast("bigint")
    nd = F.col("n").cast("double")
    mean_h = (2.0 * nd - 7.0) / 3.0
    var_h = (16.0 * nd - 29.0) / 90.0
    staged = agg.withColumn("_h", h).withColumn(
        "_z",
        F.when(
            (F.col("n") >= 10) & (var_h > 0),
            (h.cast("double") - mean_h) / F.sqrt(var_h),
        ),
    )
    return staged.select(
        *group_cols, "n",
        F.col("_h").alias("h_phases"),
        F.round("_z", 6).alias("z"),
        F.round(_normal_sf_2sided(F.col("_z")), 6).alias("p_value"),
    )


def geary_c(
    values: DataFrame,
    edges: DataFrame,
    id_col: str = "node",
    value_col: str = "value",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Geary's C autocorrelation of a node attribute over a graph —
    the LOCAL-difference companion to :func:`morans_i` (Moran is a
    cross-product global measure; Geary squares the per-edge
    difference, so it reacts to neighborhood-level dissimilarity
    Moran can average away; C < 1 = neighbors alike, E[C] = 1):

    symmetric binary weights on the deduped, symmetrized edge list,
    ``C = (n−1)·Σ_{(u,v)} (x_u − x_v)² / (2S₀·Σ(x−x̄)²)`` summed over
    both directions (S₀ = 2m), with the normality-assumption variance
    ``Var(C) = [(2S₁ + S₂)(n−1) − 4S₀²] / (2(n+1)S₀²)``
    (S₁ = 4m, S₂ = 4·Σ deg²) and a two-sided z/p.

    Same one-pass plan as :func:`morans_i`, :func:`_spatial_edge_stats`
    (edge joins + one degree aggregation; nothing pairwise beyond the
    given edges). Output 1
    row: ``(n_nodes, n_edges, geary_c, z, p_value)``, 6dp; NULL when
    the value variance or edge count degenerates. Nodes absent from
    ``values`` are dropped with their edges.

    Beyond the reference; standard per Geary 1954 / Cliff & Ord 1981.
    """
    from padua_spark.io_utils import track_cached

    j, e = _spatial_edge_stats(
        values, edges, id_col, value_col, src_col, dst_col,
        ["_s1", "_s2"],
        [
            F.sum(
                (F.col("_va") - F.col("_vb"))
                * (F.col("_va") - F.col("_vb"))
            ).alias("_sdd"),
        ],
    )
    n = F.col("n_nodes").cast("double")
    m = F.col("n_edges").cast("double")
    mean = F.col("_s1") / n
    den = F.col("_s2") - n * mean * mean
    s0 = 2.0 * m
    # Σ over both directions of (x_u − x_v)² = 2·Σ_edges (va − vb)²
    c_stat = F.when(
        (den > 0) & (m > 0),
        (n - 1.0) * (2.0 * F.col("_sdd")) / (2.0 * s0 * den),
    )
    s1 = 4.0 * m
    s2 = 4.0 * F.col("_sdeg2").cast("double")
    var = (
        ((2.0 * s1 + s2) * (n - 1.0) - 4.0 * s0 * s0)
        / (2.0 * (n + 1.0) * s0 * s0)
    )
    staged = j.withColumn("_c", c_stat).withColumn(
        "_z",
        F.when(
            c_stat.isNotNull() & (var > 0),
            (c_stat - 1.0) / F.sqrt(var),
        ),
    )
    out = staged.select(
        "n_nodes", "n_edges",
        F.round("_c", 6).alias("geary_c"),
        F.round("_z", 6).alias("z"),
        F.round(
            F.when(
                F.col("_z").isNotNull(),
                _normal_sf_2sided(F.col("_z")),
            ),
            6,
        ).alias("p_value"),
    )
    return track_cached(out, e)


def getis_ord_g(
    values: DataFrame,
    edges: DataFrame,
    id_col: str = "node",
    value_col: str = "value",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Global Getis–Ord G — CONCENTRATION autocorrelation of a
    POSITIVE node attribute: are the large values clustered on
    connected nodes? Distinct from Moran/Geary (which center the
    attribute): G compares the weighted cross product to all pairs,
    so it detects hot spots specifically (high-high clustering) —
    "are the long documents near-duplicates of each other?".

    ``G = Σ_{(u,v)} x_u x_v / Σ_{i≠j} x_i x_j`` over both directions
    of the deduped symmetrized edge list (binary weights, W = S₀ =
    2m); ``E[G] = W/(n(n−1))``; the randomization variance from
    Getis & Ord 1992 with the B-coefficients on S₁ = 4m,
    S₂ = 4·Σ deg² and value moments ``m_j = Σ x^j``:

    ``B₀=(n²−3n+3)S₁−nS₂+3W²``, ``B₁=−[(n²−n)S₁−2nS₂+6W²]``,
    ``B₂=−[2nS₁−(n+3)S₂+6W²]``, ``B₃=4(n−1)S₁−2(n+1)S₂+8W²``,
    ``B₄=S₁−S₂+W²``;
    ``E[G²] = (B₀m₂²+B₁m₄+B₂m₁²m₂+B₃m₁m₃+B₄m₁⁴) /
    [(m₁²−m₂)²·n(n−1)(n−2)(n−3)]``.

    Rows with ``x ≤ 0`` are DROPPED (documented — G is defined for
    positive attributes), along with their edges. Same one-pass plan
    as :func:`morans_i`, :func:`_spatial_edge_stats`. Output 1 row:
    ``(n_nodes, n_edges, g_stat, expected_g, z, p_value)``, 6dp.

    Beyond the reference; standard per Getis & Ord 1992.
    """
    from padua_spark.io_utils import track_cached

    j, e = _spatial_edge_stats(
        values, edges, id_col, value_col, src_col, dst_col,
        ["_m1", "_m2", "_m3", "_m4"],
        [F.sum(F.col("_va") * F.col("_vb")).alias("_svv")],
        positive=True,
    )
    n = F.col("n_nodes").cast("double")
    m = F.col("n_edges").cast("double")
    m1, m2 = F.col("_m1"), F.col("_m2")
    m3, m4 = F.col("_m3"), F.col("_m4")
    w = 2.0 * m
    s1 = 4.0 * m
    s2 = 4.0 * F.col("_sdeg2").cast("double")
    den = m1 * m1 - m2
    g_stat = F.when(
        (den > 0) & (m > 0), 2.0 * F.col("_svv") / den
    )
    e_g = w / (n * (n - 1.0))
    b0 = (n * n - 3.0 * n + 3.0) * s1 - n * s2 + 3.0 * w * w
    b1 = -((n * n - n) * s1 - 2.0 * n * s2 + 6.0 * w * w)
    b2 = -(2.0 * n * s1 - (n + 3.0) * s2 + 6.0 * w * w)
    b3 = 4.0 * (n - 1.0) * s1 - 2.0 * (n + 1.0) * s2 + 8.0 * w * w
    b4 = s1 - s2 + w * w
    eg2 = (
        b0 * m2 * m2 + b1 * m4 + b2 * m1 * m1 * m2
        + b3 * m1 * m3 + b4 * m1 * m1 * m1 * m1
    ) / (
        den * den * n * (n - 1.0) * (n - 2.0) * (n - 3.0)
    )
    var = eg2 - e_g * e_g
    staged = j.withColumn("_g", g_stat).withColumn(
        "_var", F.when(g_stat.isNotNull() & (n > 3), var)
    ).withColumn(
        "_z",
        F.when(
            F.col("_var") > 0,
            (g_stat - e_g) / F.sqrt(F.col("_var")),
        ),
    )
    out = staged.select(
        "n_nodes", "n_edges",
        F.round("_g", 6).alias("g_stat"),
        F.round(e_g, 6).alias("expected_g"),
        F.round("_z", 6).alias("z"),
        F.round(
            F.when(
                F.col("_z").isNotNull(),
                _normal_sf_2sided(F.col("_z")),
            ),
            6,
        ).alias("p_value"),
    )
    return track_cached(out, e)


def quantile_shares(
    df: DataFrame,
    group_col: str,
    value_col: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Decile value shares + the Palma ratio per group — the
    "who holds the value" table behind every inequality dashboard
    (quintile/decile shares and Palma = top-10% share / bottom-40%
    share are the reporting standard next to the Gini the repo
    already computes):

    units are assigned to exact deciles by ``ntile(10)`` over
    ``(value, order_cols...)`` — a deterministic total order
    (documented; ntile's floor-based bucket sizing is identical on
    both engines) — then each decile's value sum over the group
    total gives the share. Output per group: ``(group, n,
    total_value, bottom40_share, top10_share, top20_share,
    palma_ratio)``, 6dp; NULLs when the group total is ≤ 0.

    One window pass (per-group ntile) + one aggregation — no
    per-group sort beyond the windowed partition. Negative values
    are kept (documented — shares can exceed [0,1] with negatives,
    exactly as in the income-accounting convention).

    Beyond the reference; standard per Palma 2011 / Cobham-Sumner
    2013.
    """
    v = F.col(value_col).cast("double")
    order = [v.asc()] + [
        F.col(c).asc() for c in (order_cols or [])
    ]
    w = Window.partitionBy(group_col).orderBy(*order)
    staged = (
        df.where(v.isNotNull())
        .withColumn("_dec", F.ntile(10).over(w))
    )
    agg = staged.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).alias("_tot"),
        F.sum(F.when(F.col("_dec") <= 4, v)).alias("_b40"),
        F.sum(F.when(F.col("_dec") == 10, v)).alias("_t10"),
        F.sum(F.when(F.col("_dec") >= 9, v)).alias("_t20"),
    )
    ok = F.col("_tot") > 0
    b40 = F.coalesce(F.col("_b40"), F.lit(0.0)) / F.col("_tot")
    t10 = F.coalesce(F.col("_t10"), F.lit(0.0)) / F.col("_tot")
    t20 = F.coalesce(F.col("_t20"), F.lit(0.0)) / F.col("_tot")
    return agg.select(
        group_col, "n",
        F.round("_tot", 6).alias("total_value"),
        F.round(F.when(ok, b40), 6).alias("bottom40_share"),
        F.round(F.when(ok, t10), 6).alias("top10_share"),
        F.round(F.when(ok, t20), 6).alias("top20_share"),
        F.round(
            F.when(ok & (b40 > 0), t10 / b40), 6
        ).alias("palma_ratio"),
    )


def oaxaca_blinder(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Twofold Oaxaca–Blinder decomposition of a group gap with one
    covariate — "how much of the outcome gap between A and B is
    composition (different x) vs structure (different returns to
    x)?" The standard audit before reading a raw group difference as
    disparity (pay gaps, conversion gaps across segments, model
    score gaps across slices).

    Per-group simple OLS ``y = α_g + β_g x`` from closed-form
    moments; with B as the reference structure:

    ``gap = ȳ_a − ȳ_b``;
    ``explained  = β_b·(x̄_a − x̄_b)`` (composition at B's returns);
    ``unexplained = gap − explained
                  = (α_a − α_b) + x̄_a·(β_a − β_b)``.

    ONE conditional-moment aggregation (documented reference-group
    convention; swap a/b to flip it). Output 1 row: ``(n_a, n_b,
    mean_y_a, mean_y_b, mean_x_a, mean_x_b, beta_a, beta_b, gap,
    explained, unexplained, explained_share)``, 6dp; NULLs when a
    group has n < 3 or zero x variance.

    Beyond the reference; standard per Oaxaca 1973 / Blinder 1973.
    """
    g = F.col(group_col)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(
        g.isin([group_a, group_b]) & x.isNotNull() & y.isNotNull()
    )
    aggs = []
    for tag, arm in (("a", group_a), ("b", group_b)):
        hit = g == arm
        aggs += [
            F.sum(hit.cast("int")).cast("bigint").alias(f"n_{tag}"),
            F.sum(F.when(hit, x)).alias(f"_sx{tag}"),
            F.sum(F.when(hit, y)).alias(f"_sy{tag}"),
            F.sum(F.when(hit, x * x)).alias(f"_sxx{tag}"),
            F.sum(F.when(hit, x * y)).alias(f"_sxy{tag}"),
        ]
    agg = base.agg(*aggs)

    def fit(tag):
        n = F.col(f"n_{tag}").cast("double")
        mx = F.col(f"_sx{tag}") / n
        my = F.col(f"_sy{tag}") / n
        sxx = F.col(f"_sxx{tag}") - n * mx * mx
        sxy = F.col(f"_sxy{tag}") - n * mx * my
        beta = F.when((F.col(f"n_{tag}") >= 3) & (sxx > 0), sxy / sxx)
        return mx, my, beta

    mxa, mya, ba = fit("a")
    mxb, myb, bb = fit("b")
    staged = agg.select(
        "n_a", "n_b",
        mya.alias("_mya"), myb.alias("_myb"),
        mxa.alias("_mxa"), mxb.alias("_mxb"),
        ba.alias("_ba"), bb.alias("_bb"),
    )
    gap = F.col("_mya") - F.col("_myb")
    explained = F.col("_bb") * (F.col("_mxa") - F.col("_mxb"))
    return staged.select(
        "n_a", "n_b",
        F.round("_mya", 6).alias("mean_y_a"),
        F.round("_myb", 6).alias("mean_y_b"),
        F.round("_mxa", 6).alias("mean_x_a"),
        F.round("_mxb", 6).alias("mean_x_b"),
        F.round("_ba", 6).alias("beta_a"),
        F.round("_bb", 6).alias("beta_b"),
        F.round(gap, 6).alias("gap"),
        F.round(explained, 6).alias("explained"),
        F.round(gap - explained, 6).alias("unexplained"),
        F.round(
            F.when(F.abs(gap) > 0, explained / gap), 6
        ).alias("explained_share"),
    )


def event_study_did(
    df: DataFrame,
    treat_flag: Column,
    period_col: str,
    value_col: str,
    treat_period: int,
    n_leads: int = 3,
    n_lags: int = 3,
) -> DataFrame:
    """Event-study difference-in-differences with leads and lags —
    the dynamic DiD plot behind every launch read-out: per relative
    period τ ∈ [−n_leads, n_lags] (τ = period − treat_period),

    ``effect(τ) = (ȳ_treat,τ − ȳ_ctrl,τ)
                − (ȳ_treat,−1 − ȳ_ctrl,−1)``

    (τ = −1 is the baseline, its effect is 0 by construction; the
    pre-period effects are the parallel-trends CHECK, the
    post-period ones the estimate). SEs by the four-cell Welch form
    ``√(Σ s²/n)`` over the two τ cells and the two baseline cells.

    ONE conditional-moment aggregation over all (arm, τ) cells, one
    posexplode of the computed struct array (never a τ-branch
    union). Output one row per τ: ``(rel_period, n_treat, n_ctrl,
    mean_treat, mean_ctrl, effect, se)``, 6dp; effect NULL when a
    cell is empty.

    Beyond the reference; standard per the modern DiD event-study
    design (e.g. Angrist & Pischke MHE §5).
    """
    taus = list(range(-int(n_leads), int(n_lags) + 1))
    v = F.col(value_col).cast("double")
    rel = F.col(period_col).cast("bigint") - F.lit(int(treat_period))
    base = df.where(v.isNotNull()).select(
        treat_flag.cast("boolean").alias("_tr"),
        rel.alias("_tau"),
        v.alias("_v"),
    ).where(F.col("_tau").between(min(taus), max(taus)))
    aggs = []
    for t in taus:
        for arm, flag in (("t", True), ("c", False)):
            hit = (F.col("_tau") == t) & (F.col("_tr") == flag)
            tag = f"{arm}{t}".replace("-", "m")
            aggs += [
                F.sum(hit.cast("int")).cast("bigint").alias(
                    f"_n{tag}"
                ),
                F.sum(F.when(hit, F.col("_v"))).alias(f"_s{tag}"),
                F.sum(
                    F.when(hit, F.col("_v") * F.col("_v"))
                ).alias(f"_q{tag}"),
            ]
    agg = base.agg(*aggs)

    def cell(tag):
        n = F.col(f"_n{tag}").cast("double")
        mean = F.when(F.col(f"_n{tag}") > 0, F.col(f"_s{tag}") / n)
        var = F.when(
            F.col(f"_n{tag}") >= 2,
            (F.col(f"_q{tag}") - n * mean * mean) / (n - 1.0),
        )
        return n, mean, var

    nb_t, mb_t, vb_t = cell("tm1")
    nb_c, mb_c, vb_c = cell("cm1")
    structs = []
    for t in taus:
        tag_t = f"t{t}".replace("-", "m")
        tag_c = f"c{t}".replace("-", "m")
        nt, mt, vt = cell(tag_t)
        nc, mc, vc = cell(tag_c)
        eff = (mt - mc) - (mb_t - mb_c)
        se = F.sqrt(
            vt / nt + vc / nc + vb_t / nb_t + vb_c / nb_c
        )
        structs.append(
            F.struct(
                F.lit(t).cast("bigint").alias("rel_period"),
                F.col(f"_n{tag_t}").alias("n_treat"),
                F.col(f"_n{tag_c}").alias("n_ctrl"),
                F.round(mt, 6).alias("mean_treat"),
                F.round(mc, 6).alias("mean_ctrl"),
                F.round(eff, 6).alias("effect"),
                F.round(se, 6).alias("se"),
            )
        )
    rows = agg.select(
        F.posexplode(F.array(*structs)).alias("_i", "_r")
    )
    return rows.select(
        "_r.rel_period", "_r.n_treat", "_r.n_ctrl",
        "_r.mean_treat", "_r.mean_ctrl", "_r.effect", "_r.se",
    )


def post_stratified_mean(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    population_shares: dict,
) -> DataFrame:
    """Post-stratified mean estimator — reweight a biased sample to
    KNOWN population strata shares ("our survey over-sampled mobile
    users; what's the population mean?"): ``μ̂ = Σ_h W_h·ȳ_h`` with
    declared weights ``W_h`` (renormalized over the strata actually
    present — documented), and the standard post-stratification
    variance ``SE² = Σ_h W_h²·s_h²/n_h``. Reported beside the raw
    mean so the design effect of the reweighting is visible.

    ONE aggregation to the per-stratum moments (strata bounded by
    the declared dict — compile-time weight CASE, no join), one
    stitch. Output 1 row: ``(n, n_strata, raw_mean,
    post_stratified_mean, se, design_ratio)``, 6dp (design_ratio =
    SE² of the estimator over the SRS variance s²/n).

    Beyond the reference; standard per Holt & Smith 1979 / any
    sampling text (Cochran §5A).
    """
    if not population_shares:
        raise ValueError("post_stratified_mean: empty shares")
    keys = sorted(population_shares)
    v = F.col(value_col).cast("double")
    s = F.col(strata_col)
    base = df.where(v.isNotNull() & s.isin(list(keys)))
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).alias("_st"),
        F.sum(v * v).alias("_qt"),
    ]
    for i, k in enumerate(keys):
        hit = s == k
        aggs += [
            F.sum(hit.cast("int")).cast("bigint").alias(f"_n{i}"),
            F.sum(F.when(hit, v)).alias(f"_s{i}"),
            F.sum(F.when(hit, v * v)).alias(f"_q{i}"),
        ]
    agg = base.agg(*aggs)
    wtot = None
    for i, k in enumerate(keys):
        wk = F.when(
            F.col(f"_n{i}") > 0, F.lit(float(population_shares[k]))
        ).otherwise(F.lit(0.0))
        wtot = wk if wtot is None else wtot + wk
    mu_ps = None
    var_ps = None
    n_strata = None
    for i, k in enumerate(keys):
        nd = F.col(f"_n{i}").cast("double")
        mean = F.col(f"_s{i}") / nd
        var = F.when(
            F.col(f"_n{i}") >= 2,
            (F.col(f"_q{i}") - nd * mean * mean) / (nd - 1.0),
        )
        w = F.lit(float(population_shares[k])) / wtot
        term_mu = F.when(F.col(f"_n{i}") > 0, w * mean).otherwise(
            F.lit(0.0)
        )
        term_v = F.when(
            F.col(f"_n{i}") >= 2, w * w * var / nd
        ).otherwise(F.lit(0.0))
        pres = (F.col(f"_n{i}") > 0).cast("int")
        mu_ps = term_mu if mu_ps is None else mu_ps + term_mu
        var_ps = term_v if var_ps is None else var_ps + term_v
        n_strata = pres if n_strata is None else n_strata + pres
    nd_all = F.col("n").cast("double")
    raw_mean = F.col("_st") / nd_all
    raw_var = (
        F.col("_qt") - nd_all * raw_mean * raw_mean
    ) / (nd_all - 1.0)
    staged = agg.select(
        "n",
        n_strata.cast("bigint").alias("n_strata"),
        raw_mean.alias("_raw"),
        mu_ps.alias("_mu"),
        var_ps.alias("_var"),
        (raw_var / nd_all).alias("_srs"),
    )
    return staged.select(
        "n", "n_strata",
        F.round("_raw", 6).alias("raw_mean"),
        F.round("_mu", 6).alias("post_stratified_mean"),
        F.round(
            F.when(F.col("_var") > 0, F.sqrt(F.col("_var"))), 6
        ).alias("se"),
        F.round(
            F.when(
                F.col("_srs") > 0, F.col("_var") / F.col("_srs")
            ),
            6,
        ).alias("design_ratio"),
    )


def cliffs_delta(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cliff's delta ordinal effect size for two groups — the
    dominance measure every "the test is significant, but is the
    difference MEANINGFUL?" report needs next to a Mann–Whitney p:
    ``δ = (#(a>b) − #(a<b)) / (n_a·n_b)`` in [−1, 1], plus the
    common-language effect size ``CLES = (#(a>b) + ½·#ties)/(n_a n_b)``
    (probability a random a exceeds a random b, ties half-credited)
    and the standard Romano magnitude label (|δ| < 0.147 negligible,
    < 0.33 small, < 0.474 medium, else large).

    All three pair counts are EXACT INTEGERS off one pass over the
    shared distributed stepped ECDF (:func:`_ecdf_stepped_counts`) —
    never the O(n_a·n_b) pair join: ``#(a>b) = Σ_v c_a(v)·B_<(v)``
    with ``B_<(v) = F_b(v) − c_b(v)`` the b-count strictly below each
    distinct value. Output 1 row: ``(n_a, n_b, n_gt, n_lt, n_ties,
    cliffs_delta, cles, magnitude)``, 6dp.

    Beyond the reference; standard per Cliff 1993 / Romano et al.
    2006.
    """
    from padua_spark.io_utils import track_cached

    ecdf = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    dec = "decimal(38,0)"
    b_lt = (F.col("_fb") - F.col("_cb")).cast(dec)
    b_gt = (F.col("_nb") - F.col("_fb")).cast(dec)
    agg = ecdf.agg(
        F.sum(F.col("_ca").cast(dec) * b_lt).alias("_gt"),
        F.sum(F.col("_ca").cast(dec) * b_gt).alias("_lt"),
        F.sum(
            F.col("_ca").cast(dec) * F.col("_cb").cast(dec)
        ).alias("_tie"),
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    gt = F.col("_gt").cast("double")
    lt = F.col("_lt").cast("double")
    tie = F.col("_tie").cast("double")
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    staged = agg.withColumn(
        "_delta", F.when(ok, (gt - lt) / (na * nb))
    )
    ad = F.abs(F.col("_delta"))
    out = staged.select(
        "n_a", "n_b",
        F.col("_gt").cast("bigint").alias("n_gt"),
        F.col("_lt").cast("bigint").alias("n_lt"),
        F.col("_tie").cast("bigint").alias("n_ties"),
        F.round("_delta", 6).alias("cliffs_delta"),
        F.round(
            F.when(ok, (gt + 0.5 * tie) / (na * nb)), 6
        ).alias("cles"),
        F.when(F.col("_delta").isNull(), F.lit(None).cast("string"))
        .when(ad < 0.147, F.lit("negligible"))
        .when(ad < 0.33, F.lit("small"))
        .when(ad < 0.474, F.lit("medium"))
        .otherwise(F.lit("large"))
        .alias("magnitude"),
    )
    return track_cached(out, *getattr(ecdf, "_padua_cached", ()))


def mood_scale_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Mood's two-sample SCALE test (distinct from
    :func:`mood_median_test`, which is a k-group LOCATION test):
    ``T = Σ_{i∈a} (R_i − (N+1)/2)²`` — squared deviations of group
    a's pooled ranks from the central rank; sensitive to spread
    differences when centers agree (scipy.stats.mood's statistic
    under the midrank tie convention, documented).

    Integer-exact on the shared stepped ECDF: with doubled midranks
    ``d = 2F − h + 1`` the quadrupled score ``q = (d − N − 1)²`` is
    an integer, so ``4T = Σ c_a·q`` is exact; the tie-robust null
    moments are the PERMUTATION-conditional moments of the realized
    scores (the :func:`ansari_bradley` convention):
    ``E[4T] = n_a·Σh·q/N``,
    ``Var[4T] = n_a·n_b/(N(N−1))·(Σh·q² − (Σh·q)²/N)`` — z is
    invariant to the 4× scaling. A&S-erfc two-sided p. Output 1 row:
    ``(n_a, n_b, t_stat, z, p_value)``, 6dp.

    Beyond the reference; standard per Mood 1954.
    """
    from padua_spark.io_utils import track_cached

    ecdf = _ecdf_stepped_counts(df, group_col, value_col, group_a, group_b)
    h = F.col("_ca") + F.col("_cb")
    f_pool = F.col("_fa") + F.col("_fb")
    n2 = F.col("_na") + F.col("_nb")
    d = 2 * f_pool - h + 1
    qv = (d - n2 - 1) * (d - n2 - 1)
    dec = "decimal(38,0)"
    agg = ecdf.select(
        "_ca", "_cb", h.alias("_h"), qv.alias("_q")
    ).agg(
        F.sum(F.col("_ca").cast(dec) * F.col("_q").cast(dec)).alias(
            "_t4"
        ),
        F.sum(F.col("_h").cast(dec) * F.col("_q").cast(dec)).alias(
            "_hq"
        ),
        F.sum(
            F.col("_h").cast(dec)
            * F.col("_q").cast(dec) * F.col("_q").cast(dec)
        ).alias("_hqq"),
        F.sum("_ca").alias("n_a"),
        F.sum("_cb").alias("n_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nt = na + nb
    t4 = F.col("_t4").cast("double")
    hq = F.col("_hq").cast("double")
    hqq = F.col("_hqq").cast("double")
    e4 = na * hq / nt
    var4 = na * nb / (nt * (nt - 1.0)) * (hqq - hq * hq / nt)
    z = F.when(var4 > 0, (t4 - e4) / F.sqrt(var4))
    staged = agg.withColumn("_z", z)
    out = staged.select(
        "n_a", "n_b",
        F.round(t4 / 4.0, 6).alias("t_stat"),
        F.round("_z", 6).alias("z"),
        F.round(_normal_sf_2sided(F.col("_z")), 6).alias("p_value"),
    )
    return track_cached(out, *getattr(ecdf, "_padua_cached", ()))


def _ols_fit_joined(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    y_scale: float,
    min_n: int,
) -> DataFrame:
    """Stage one of the per-group OLS screens (:func:`white_test`,
    :func:`ramsey_reset`): rows with both columns non-NULL as ``_x``
    and ``_y`` (y times ``y_scale``), one moment aggregation per
    group, the closed-form slope ``_beta`` (NULL below ``min_n`` rows
    or with no x spread) with the means ``_mx``/``_my``, joined back
    to every row (broadcast: one row per group)."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double") * F.lit(float(y_scale))
    base = df.where(x.isNotNull() & y.isNotNull()).select(
        *group_cols, x.alias("_x"), y.alias("_y")
    )
    mom = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
    )
    nd = F.col("_n").cast("double")
    sxx_c = F.col("_sxx") - F.col("_sx") * F.col("_sx") / nd
    sxy_c = F.col("_sxy") - F.col("_sx") * F.col("_sy") / nd
    beta = F.when((F.col("_n") >= min_n) & (sxx_c > 0), sxy_c / sxx_c)
    fit = mom.select(
        *group_cols, "_n",
        beta.alias("_beta"),
        (F.col("_sy") / nd).alias("_my"),
        (F.col("_sx") / nd).alias("_mx"),
    )
    return base.join(F.broadcast(fit), on=group_cols, how="inner")


def white_test(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    y_scale: float = 1.0,
) -> DataFrame:
    """White's heteroskedasticity test per group — the
    no-cross-terms single-regressor form: OLS ``y = α + βx``, then
    the auxiliary regression ``e² ~ 1 + x + x²`` whose
    ``LM = n·R²_aux ~ χ²₂`` (df = 2 makes the chi-square survival
    EXACT: ``p = e^{−LM/2}``). The general-form companion to
    :func:`breusch_pagan` (which tests only the linear-in-x
    variance) and :func:`goldfeld_quandt` (which needs a declared
    split point).

    Plan: the :func:`engle_granger` two-stage shape — one closed-form
    OLS aggregation per group, coefficients joined back (broadcast —
    k-row frame; :func:`_ols_fit_joined`), then ONE auxiliary
    aggregation of the centered
    second-stage moments; the 2-regressor R² is a closed 2×2 normal-
    equations solve (determinant form). ``y_scale`` rescales y before
    anything (LM and R² are scale-invariant; callers pass e.g. 1e-4
    for currency columns so the e⁴-order sums stay well-conditioned —
    documented). Output per group: ``(group_cols..., n, r2_aux,
    lm_stat, p_value, het_flag_5pct)``, 6dp.

    Beyond the reference; standard per White 1980.
    """
    joined = _ols_fit_joined(df, group_cols, x_col, y_col, y_scale, 4)
    e = (
        F.col("_y") - F.col("_my")
        - F.col("_beta") * (F.col("_x") - F.col("_mx"))
    )
    aux = joined.where(F.col("_beta").isNotNull()).select(
        *group_cols, "_x", (e * e).alias("_w")
    )
    a2 = aux.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_x").alias("_ax"),
        F.sum(F.col("_x") * F.col("_x")).alias("_ax2"),
        F.sum(F.col("_x") * F.col("_x") * F.col("_x")).alias("_ax3"),
        F.sum(
            F.col("_x") * F.col("_x") * F.col("_x") * F.col("_x")
        ).alias("_ax4"),
        F.sum("_w").alias("_aw"),
        F.sum(F.col("_x") * F.col("_w")).alias("_axw"),
        F.sum(F.col("_x") * F.col("_x") * F.col("_w")).alias("_ax2w"),
        F.sum(F.col("_w") * F.col("_w")).alias("_aww"),
    )
    m = F.col("n").cast("double")
    s11 = F.col("_ax2") - F.col("_ax") * F.col("_ax") / m
    s12 = F.col("_ax3") - F.col("_ax") * F.col("_ax2") / m
    s22 = F.col("_ax4") - F.col("_ax2") * F.col("_ax2") / m
    s1w = F.col("_axw") - F.col("_ax") * F.col("_aw") / m
    s2w = F.col("_ax2w") - F.col("_ax2") * F.col("_aw") / m
    sww = F.col("_aww") - F.col("_aw") * F.col("_aw") / m
    det = s11 * s22 - s12 * s12
    # explained SS via the Gram-Schmidt decomposition — a SUM OF TWO
    # SQUARES (x-projection + z-residual projection), never the
    # b₁S1w + b₂S2w mixed form whose opposite-sign terms cancel when
    # the aux signal is weak (the ramsey_reset instability, bisected
    # in round 13).
    zres = s22 - s12 * s12 / s11
    expl = (
        s1w * s1w / s11
        + (s2w - s12 * s1w / s11) * (s2w - s12 * s1w / s11) / zres
    )
    r2 = expl / sww
    ok = (
        (F.col("n") >= 5) & (det > 0) & (sww > 0)
        & (s11 > 0) & (zres > 0)
    )
    staged = a2.withColumn("_r2", F.when(ok, r2))
    lm = m * F.col("_r2")
    return staged.select(
        *group_cols, "n",
        F.round("_r2", 6).alias("r2_aux"),
        F.round(lm, 6).alias("lm_stat"),
        F.round(F.exp(-lm / 2.0), 6).alias("p_value"),
        F.when(
            F.col("_r2").isNotNull(), F.exp(-lm / 2.0) < 0.05
        ).alias("het_flag_5pct"),
    )


def ramsey_reset(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    y_scale: float = 1.0,
) -> DataFrame:
    """Ramsey RESET functional-form test per group (power-2 variant):
    fit ``y = α + βx``, then test whether adding ``ŷ²`` explains
    residual structure — ``F = (RSS₁ − RSS₂) / (RSS₂/(n−3)) ~
    F(1, n−3)``. The "is a straight line even the right model?"
    companion to the heteroskedasticity screens.

    Plan: the two-stage closed-form shape of :func:`white_test` —
    stage-1 OLS joined back (:func:`_ols_fit_joined`), ŷ² built per
    row, ONE
    auxiliary aggregation, and the two-regressor RSS from the closed
    2×2 solve: ``RSS₂ = Syy − (b₁S1y + b₂S2y)``. p via the exact
    F survival (:mod:`padua_spark.functions.distributions`
    ``f_sf_udf``, regularized incomplete beta). ``y_scale`` as in
    :func:`white_test` (F is scale-invariant). Output per group:
    ``(group_cols..., n, f_stat, p_value, misspec_flag_5pct)``, 6dp.

    Beyond the reference; standard per Ramsey 1969.
    """
    from padua_spark.functions.distributions import f_sf_udf

    joined = _ols_fit_joined(df, group_cols, x_col, y_col, y_scale, 5)
    yhat = (
        F.col("_my")
        + F.col("_beta") * (F.col("_x") - F.col("_mx"))
    )
    aux = joined.where(F.col("_beta").isNotNull()).select(
        *group_cols, "_x", "_y", (yhat * yhat).alias("_z")
    )
    a2 = aux.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_x").alias("_ax"),
        F.sum("_z").alias("_az"),
        F.sum("_y").alias("_ay"),
        F.sum(F.col("_x") * F.col("_x")).alias("_axx"),
        F.sum(F.col("_x") * F.col("_z")).alias("_axz"),
        F.sum(F.col("_z") * F.col("_z")).alias("_azz"),
        F.sum(F.col("_x") * F.col("_y")).alias("_axy"),
        F.sum(F.col("_z") * F.col("_y")).alias("_azy"),
        F.sum(F.col("_y") * F.col("_y")).alias("_ayy"),
    )
    m = F.col("n").cast("double")
    s11 = F.col("_axx") - F.col("_ax") * F.col("_ax") / m
    s12 = F.col("_axz") - F.col("_ax") * F.col("_az") / m
    s22 = F.col("_azz") - F.col("_az") * F.col("_az") / m
    s1y = F.col("_axy") - F.col("_ax") * F.col("_ay") / m
    s2y = F.col("_azy") - F.col("_az") * F.col("_ay") / m
    syy = F.col("_ayy") - F.col("_ay") * F.col("_ay") / m
    det = s11 * s22 - s12 * s12
    # Added-variable identity: the SSR gain from z given x is
    # (S2y − S12·S1y/S11)² / (S22 − S12²/S11) — computed DIRECTLY
    # as a square. The naive RSS₁ − RSS₂ subtracts two near-equal
    # ~Syy-scale numbers whose difference is ~F/n of the operands:
    # parallel-aggregation float jitter then swings F by double-digit
    # percentages per evaluation (caught by the DuckDB twin, whose F
    # changed 26% between two runs of the identical query).
    zres = s22 - s12 * s12 / s11
    gain = (
        (s2y - s12 * s1y / s11) * (s2y - s12 * s1y / s11) / zres
    )
    rss1 = syy - s1y * s1y / s11
    rss2 = rss1 - gain
    ok = (F.col("n") >= 5) & (det > 0) & (s11 > 0) & (zres > 0)
    fstat = F.when(
        ok & (rss2 > 0),
        gain / (rss2 / (m - 3.0)),
    )
    staged = a2.withColumn("_f", F.greatest(fstat, F.lit(0.0)))
    staged = staged.withColumn(
        "_p", f_sf_udf(F.col("_f"), F.lit(1.0), m - 3.0)
    )
    return staged.select(
        *group_cols, "n",
        F.round("_f", 6).alias("f_stat"),
        F.round("_p", 6).alias("p_value"),
        F.when(
            F.col("_f").isNotNull(), F.col("_p") < 0.05
        ).alias("misspec_flag_5pct"),
    )


def pot_gpd_fit(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    threshold: float,
    return_period_obs: int = 10_000,
) -> DataFrame:
    """Peaks-over-threshold with a method-of-moments Generalized
    Pareto fit per group — the extreme-value summary a tail-risk
    report needs beyond :func:`quantile_shares`: how heavy is the
    tail ABOVE a declared operating threshold, and what magnitude
    should we expect once every ``return_period_obs`` observations?

    Excesses ``e = v − u`` for ``v > u``; MoM estimators
    ``ξ̂ = ½(1 − ē²/s²)``, ``σ̂ = ½ē(ē²/s² + 1)`` (Hosking &
    Wallis 1987 — closed form, ONE aggregation, no iteration; MoM
    needs ξ < ½, flagged via ``xi_hat``); return level
    ``x_m = u + σ̂/ξ̂·((m·λ)^ξ̂ − 1)`` at exceedance rate
    ``λ = n_exc/n`` (ξ→0 limit ``u + σ̂·ln(m·λ)`` taken when
    |ξ̂| < 1e-9). Output per group: ``(group_cols..., n, n_exceed,
    exceed_rate, mean_excess, xi_hat, sigma_hat, return_level)``,
    6dp; NULLs when < 3 exceedances.

    Beyond the reference; standard per Pickands 1975 / Hosking &
    Wallis 1987.
    """
    v = F.col(value_col).cast("double")
    u = float(threshold)
    e = F.when(v > u, v - u)
    agg = df.where(v.isNotNull()).groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(e).cast("bigint").alias("n_exceed"),
        F.sum(e).alias("_se"),
        F.sum(e * e).alias("_see"),
    )
    nd = F.col("n").cast("double")
    k = F.col("n_exceed").cast("double")
    mbar = F.col("_se") / k
    s2 = (F.col("_see") - k * mbar * mbar) / (k - 1.0)
    ok = (F.col("n_exceed") >= 3) & (s2 > 0)
    r2 = mbar * mbar / s2
    xi = F.lit(0.5) * (F.lit(1.0) - r2)
    sigma = F.lit(0.5) * mbar * (r2 + F.lit(1.0))
    staged = (
        agg.withColumn("_xi", F.when(ok, xi))
        .withColumn("_sigma", F.when(ok, sigma))
        .withColumn("_lam", k / nd)
    )
    m_obs = F.lit(float(return_period_obs))
    xiC = F.col("_xi")
    rl = F.when(
        F.abs(xiC) < 1e-9,
        F.lit(u)
        + F.col("_sigma") * F.log(m_obs * F.col("_lam")),
    ).otherwise(
        F.lit(u)
        + F.col("_sigma") / xiC
        * (F.pow(m_obs * F.col("_lam"), xiC) - F.lit(1.0))
    )
    return staged.select(
        *group_cols, "n", "n_exceed",
        F.round("_lam", 6).alias("exceed_rate"),
        F.round(F.when(ok, mbar), 6).alias("mean_excess"),
        F.round("_xi", 6).alias("xi_hat"),
        F.round("_sigma", 6).alias("sigma_hat"),
        F.round(
            F.when(
                F.col("_xi").isNotNull()
                & (m_obs * F.col("_lam") > 1.0),
                rl,
            ),
            6,
        ).alias("return_level"),
    )


def rank_list_distance(
    df: DataFrame,
    item_col: str,
    metric_a_col: str,
    metric_b_col: str,
    top_k: int = 100,
) -> DataFrame:
    """Leaderboard-agreement battery: take the ``top_k`` items by
    metric A, rank the SAME items among themselves by metric B, and
    measure how far the two orderings disagree — Spearman's footrule
    ``Σ|r_A − r_B|`` (raw + normalized by its permutation maximum
    ``⌊k²/2⌋``), Spearman's ρ (exact permutation closed form
    ``1 − 6Σd²/(k(k²−1))``), and Kendall's τ-a over the C(k, 2)
    bounded pair frame. The "did the leaderboard actually change?"
    question behind ranking-drift review (complementing
    :func:`rbo_overlap`-style top-k SET measures with full
    ORDER-sensitivity).

    ``df`` is one row per item with the two metric columns (callers
    aggregate first — exact integer cents for money, the engine
    convention). Ranks are ``row_number`` with the item id as the
    deterministic tie-break. The k-row ranked frame is tiny by
    construction, so the pair self-join is bounded (k² ≤ 10⁴ for the
    default k=100) and the rank windows ride a ≤k-row frame.
    Output 1 row: ``(k, footrule, footrule_norm, spearman_rho,
    n_concordant, n_discordant, kendall_tau)``, 6dp.

    Beyond the reference; standard per Diaconis & Graham 1977.
    """
    ia = F.col(item_col)
    wa = Window.orderBy(F.col("_ma").desc(), F.col("_item").asc())
    ranked_a = (
        df.select(
            ia.alias("_item"),
            F.col(metric_a_col).alias("_ma"),
            F.col(metric_b_col).alias("_mb"),
        )
        .withColumn("_ra", F.row_number().over(wa))
        .where(F.col("_ra") <= top_k)
    )
    wb = Window.orderBy(F.col("_mb").desc(), F.col("_item").asc())
    ranked = ranked_a.withColumn(
        "_rb", F.row_number().over(wb)
    ).select("_item", "_ra", "_rb")
    d = (F.col("_ra") - F.col("_rb")).cast("bigint")
    base = ranked.select(
        "_item", "_ra", "_rb",
        F.abs(d).alias("_ad"), (d * d).alias("_dd"),
    )
    lhs = base.select(
        F.col("_item").alias("_i1"),
        F.col("_ra").alias("_ra1"), F.col("_rb").alias("_rb1"),
    )
    rhs = base.select(
        F.col("_item").alias("_i2"),
        F.col("_ra").alias("_ra2"), F.col("_rb").alias("_rb2"),
    )
    pairs = lhs.join(rhs, F.col("_i1") < F.col("_i2"))
    conc = (
        (F.col("_ra1") - F.col("_ra2"))
        * (F.col("_rb1") - F.col("_rb2"))
    )
    pair_agg = pairs.agg(
        F.sum(F.when(conc > 0, 1).otherwise(0))
        .cast("bigint").alias("n_concordant"),
        F.sum(F.when(conc < 0, 1).otherwise(0))
        .cast("bigint").alias("n_discordant"),
    )
    marg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("_ad").cast("bigint").alias("footrule"),
        F.sum("_dd").cast("bigint").alias("_sumd2"),
    )
    out = marg.crossJoin(F.broadcast(pair_agg))
    kd = F.col("k").cast("double")
    maxfoot = F.floor(
        F.col("k") * F.col("k") / 2
    ).cast("bigint")
    npairs = kd * (kd - 1.0) / 2.0
    return out.select(
        "k", "footrule",
        F.round(
            F.when(
                maxfoot > 0,
                F.col("footrule").cast("double")
                / maxfoot.cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("footrule_norm"),
        F.round(
            F.when(
                F.col("k") >= 2,
                1.0
                - 6.0 * F.col("_sumd2").cast("double")
                / (kd * (kd * kd - 1.0)),
            ),
            6,
        ).alias("spearman_rho"),
        "n_concordant", "n_discordant",
        F.round(
            F.when(
                F.col("k") >= 2,
                (
                    F.col("n_concordant") - F.col("n_discordant")
                ).cast("double")
                / npairs,
            ),
            6,
        ).alias("kendall_tau"),
    )
