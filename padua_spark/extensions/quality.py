"""Rule-based and model-based document quality scoring.

Two operators a training-data pipeline runs on every document:

* :func:`gopher_rules` — the Gopher/MassiveText-style heuristic rule
  battery (Rae et al. 2021, "Scaling Language Models", table A1):
  word-count bounds, mean-word-length bounds, symbol-to-word ratio,
  bullet/ellipsis line fractions, alphabetic-word fraction, stopword
  presence. Emitted as one boolean per rule plus the conjunction, so
  downstream can both filter and audit *why* documents were dropped.

* :func:`hashed_classifier_score` — a fastText-style linear classifier
  over hashed bag-of-words features: token → portable polynomial hash
  → weight bucket → mean bucket weight → sigmoid. The weight table
  here is a deterministic pseudo-random vector (Knuth multiplicative
  hash of the bucket id) so the score is reproducible and
  oracle-checkable end-to-end; a real model swaps in a broadcast
  weight array with the identical plan shape. The bucket-weight sum
  is computed in *integer* arithmetic (int64, exact) and divided once
  at the end, so the only floating-point ops are one division and one
  exp per document — the score is bit-reproducible across engines and
  summation orders.

Both are pure scan-level projections: no shuffle, no Python in the row
path, whole-stage-codegen throughout. At 100 TB they run at parquet
scan speed.

Every regex used is portable across Java regex (Spark) and RE2
(DuckDB oracles): no backreferences, no lookaround.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from padua_spark.extensions.dedup import MOD
from padua_spark.extensions.text import STOPWORDS, tokens
from padua_spark.io_utils import local_frame

#: Knuth multiplicative constant for the deterministic weight table.
_KNUTH = 2654435761
_W_MOD = 2147483648  # 2^31


def gopher_rules(
    df: DataFrame,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Append the Gopher rule battery to ``df``: per-rule booleans
    ``rule_*``, the raw signals they threshold, and ``quality_pass``
    (the conjunction).

    Documents with zero words fail the word-count rule and get NULL
    ratio signals (never a division error) — the conjunction treats
    NULL as fail.

    One tokenization and one line-split per row, staged as explicit
    projections (higher-order-function expressions get no CSE — an
    unstaged plan re-splits the text once per derived signal).
    """
    stopwords = stopwords or STOPWORDS["en"]
    t = F.col(text_col)
    staged = df.withColumns(
        {
            "_toks": tokens(F.lower(t)),
            "_lines": F.split(t, r"\n"),
        }
    )
    n_words = F.size("_toks")
    staged = staged.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": F.when(
                n_words > 0,
                F.aggregate(
                    F.col("_toks"),
                    F.lit(0).cast("bigint"),
                    lambda a, x: a + F.length(x),
                ).cast("double")
                / n_words.cast("double"),
            ),
            # '#' anywhere, or the '...'/'…' ellipses, per word
            "symbol_ratio": F.when(
                n_words > 0,
                (
                    F.size(F.split(t, r"#")) - 1
                    + F.size(F.split(t, r"\.\.\.")) - 1
                    + F.size(F.split(t, "…")) - 1
                ).cast("double")
                / n_words.cast("double"),
            ),
            "bullet_frac": F.size(
                F.filter(
                    F.col("_lines"),
                    lambda ln: F.trim(ln).rlike(r"^[-*•]"),
                )
            ).cast("double")
            / F.size("_lines").cast("double"),
            "ellipsis_frac": F.size(
                F.filter(
                    F.col("_lines"),
                    lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"),
                )
            ).cast("double")
            / F.size("_lines").cast("double"),
            "alpha_frac": F.when(
                n_words > 0,
                F.size(
                    F.filter(
                        F.col("_toks"), lambda x: x.rlike(r"[a-z]")
                    )
                ).cast("double")
                / n_words.cast("double"),
            ),
            "stopword_hits": F.size(
                F.filter(
                    F.col("_toks"),
                    lambda x: x.isin([F.lit(s) for s in stopwords]),
                )
            ),
        }
    )
    rules = {
        "rule_word_count": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "rule_mean_word_len": (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "rule_symbol_ratio": F.col("symbol_ratio") <= max_symbol_ratio,
        "rule_bullet": F.col("bullet_frac") <= max_bullet_frac,
        "rule_ellipsis": F.col("ellipsis_frac") <= max_ellipsis_frac,
        "rule_alpha": F.col("alpha_frac") >= min_alpha_frac,
        "rule_stopwords": F.col("stopword_hits") >= min_stopword_hits,
    }
    staged = staged.withColumns(rules)
    passed: Column = F.lit(True)
    for name in rules:
        passed = passed & F.coalesce(F.col(name), F.lit(False))
    return staged.withColumn("quality_pass", passed).drop("_toks", "_lines")


def bucket_weight_int(bucket: Column) -> Column:
    """Deterministic pseudo-random integer weight for a feature bucket:
    ``(bucket * KNUTH) mod 2^31`` — uniform over [0, 2^31), exact in
    int64 on every engine."""
    return (bucket.cast("bigint") * F.lit(_KNUTH)) % F.lit(_W_MOD)


def hashed_classifier_score(
    df: DataFrame,
    text_col: str,
    n_buckets: int = 1024,
    base: int = 131,
    lowercase: bool = True,
) -> DataFrame:
    """Append a fastText-style linear-classifier probability:

    1. token → portable polynomial hash (dedup.py's rolling hash) →
       feature ``bucket = hash mod n_buckets``;
    2. integer bucket weights ``w_b = (b·KNUTH) mod 2^31`` summed
       EXACTLY in int64 (``weight_sum``);
    3. ``margin = 2·(weight_sum / n) / 2^31 − 1`` ∈ (−1, 1) — the mean
       bucket weight rescaled, one exact-ish division per doc;
    4. ``prob = sigmoid(margin)``.

    A trained model replaces step 2's arithmetic with
    ``weights[bucket]`` against a broadcast array literal — same plan,
    still scan-speed. Output columns: ``n_tokens, weight_sum, margin,
    prob`` (NULL margin/prob for token-less documents).
    """
    from padua_spark.extensions.dedup import token_hashes

    t = F.col(text_col)
    # the dedup module's engine-portable per-token polynomial hash
    # (single-space split, init 7, per-codepoint mod reduce) — the same
    # feature space every other token-hash operator uses, and already
    # mirrored 1:1 by the DuckDB oracle macro.
    staged = df.withColumn(
        "_th", token_hashes(F.lower(t) if lowercase else t, base=base)
    )
    # fold: bucketed integer weight per token hash — a single pass
    # over the staged hash array, all int64, exact.
    wsum = F.aggregate(
        F.col("_th"),
        F.lit(0).cast("bigint"),
        lambda acc, h: acc + bucket_weight_int(h % F.lit(n_buckets)),
    )
    n = F.size("_th")
    out = staged.withColumns(
        {
            "n_tokens": n,
            "weight_sum": F.when(n > 0, wsum),
        }
    )
    margin = (
        F.lit(2.0) * (F.col("weight_sum").cast("double") / n.cast("double"))
        / F.lit(float(_W_MOD))
        - F.lit(1.0)
    )
    out = out.withColumn("margin", margin)
    return out.withColumn(
        "prob",
        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin"))),
    ).drop("_th")


def psi_drift(
    df: DataFrame,
    group_col: str,
    group_a,
    group_b,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between two slices of a value
    distribution — the standard drift monitor between training-data
    snapshots/sources (PSI < 0.1 stable, 0.1–0.25 moderate shift,
    > 0.25 investigate).

    Bins are ``n_bins`` equal-width intervals over the EXPLICIT
    ``[lo, hi]`` range (out-of-range values clamp into the edge bins,
    NULLs are excluded) — an explicit range keeps the binning
    deterministic and engine-portable, unlike data-driven quantile
    edges. Proportions use Laplace smoothing,
    ``p_i = (n_i + 0.5) / (n + 0.5·B)``, so empty bins contribute a
    finite, defined term instead of log(0).

    Scale shape: ONE conditional-count aggregation over the bin key
    (map-side partials, B rows out) plus a B-row window for the
    totals — the same single-pass shape as :func:`histogram`, at
    parquet-scan speed.

    Output: one row per OBSERVED bin ``(bin, n_a, n_b, p_a, p_b,
    contrib)`` with ``Σ contrib = PSI``; bins empty in both slices are
    omitted (any engine computing from the same counts omits the same
    bins, and their smoothed contribution is negligible by
    construction).
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    width = (hi - lo) / n_bins
    bin_idx = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_bins - 1),
            F.floor((v - F.lit(lo)) / F.lit(width)).cast("int"),
        ),
    )
    per = (
        df.where(
            F.col(group_col).isin([group_a, group_b]) & v.isNotNull()
        )
        .groupBy(bin_idx.alias("bin"))
        .agg(
            F.count(F.when(F.col(group_col) == group_a, 1)).alias("n_a"),
            F.count(F.when(F.col(group_col) == group_b, 1)).alias("n_b"),
        )
    )
    # B-row frame: the partitionless window is constant-size, fine
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot_a = F.sum("n_a").over(w).cast("double")
    tot_b = F.sum("n_b").over(w).cast("double")
    p_a = (F.col("n_a") + F.lit(0.5)) / (tot_a + F.lit(0.5 * n_bins))
    p_b = (F.col("n_b") + F.lit(0.5)) / (tot_b + F.lit(0.5 * n_bins))
    staged = per.select(
        "bin", "n_a", "n_b", p_a.alias("p_a"), p_b.alias("p_b")
    )
    contrib = (F.col("p_a") - F.col("p_b")) * F.log(
        F.col("p_a") / F.col("p_b")
    )
    return staged.select(
        "bin", "n_a", "n_b", "p_a", "p_b", contrib.alias("contrib")
    )


def psi_vs_reference(
    counts: DataFrame,
    ref: DataFrame,
    n_bins: int,
    window_cols: list[str] | None = None,
) -> DataFrame:
    """Finalize PSI per window from windowed bin ``counts(…, bin, n)``
    against a reference bin-count table ``ref(bin, ref_n)`` — the
    batch tail of the streaming drift monitor
    (:func:`padua_spark.streaming.windowed_value_histogram` emits the
    counts; this runs per micro-batch or offline).

    Every reference bin contributes to every window (a popular bin
    MISSING from a window is drift, not a no-op): the per-window frame
    cross-joins the broadcast reference (both tiny — windows × bins
    rows) and takes the window's count as 0 where absent. Laplace
    smoothing as in :func:`psi_drift`.

    ``counts`` is consumed TWICE here (window totals + the bin join);
    if it is the lazy output of an expensive upstream (and especially
    if ``ref`` derives from the same frame), ``persist()`` it first —
    Spark does not reuse the exchanges across the branches.

    Output: ``(*window_cols, n_events, psi)``.
    """
    window_cols = window_cols or ["window_start"]
    wt = counts.groupBy(*window_cols).agg(
        F.sum("n").alias("n_events")
    )
    rt = ref.agg(F.sum("ref_n").alias("_rt")).collect()[0]["_rt"] or 0
    full = wt.crossJoin(F.broadcast(ref)).join(
        counts.select(*window_cols, "bin", "n"),
        on=[*window_cols, "bin"],
        how="left",
    )
    n = F.coalesce(F.col("n"), F.lit(0))
    p_w = (n + F.lit(0.5)) / (
        F.col("n_events").cast("double") + F.lit(0.5 * n_bins)
    )
    p_r = (F.col("ref_n") + F.lit(0.5)) / (
        F.lit(float(rt)) + F.lit(0.5 * n_bins)
    )
    contrib = (p_w - p_r) * F.log(p_w / p_r)
    return (
        full.withColumn("_c", contrib)
        .groupBy(*window_cols, "n_events")
        .agg(F.sum("_c").alias("psi"))
    )


def repeated_ngram_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
) -> DataFrame:
    """Within-document repeated n-gram signals — the Gopher /
    RefinedWeb repetition filters (beyond the reference; pretraining
    curation drops docs whose text is dominated by repeated phrases:
    boilerplate, SEO spam, scraper loops). Complements
    :func:`padua_spark.extensions.text.repetition_signals` (dup-line +
    top-bigram via explode + groupBy): this one is configurable-n and
    takes the zero-shuffle plan — repetition is doc-local, so per-row
    array algebra beats shuffling exploded grams when the signal set
    allows it.

    Output per doc: ``n_grams`` (token n-grams in the doc),
    ``n_distinct``, ``dup_fraction`` = (n_grams − n_distinct)/n_grams
    (0 for docs shorter than n tokens), ``top_gram_count`` (occurrences
    of the most frequent n-gram) and ``top_gram_frac`` =
    top_gram_count·n / n_tokens — the token-coverage proxy for the
    "fraction of characters in the most common n-gram" rule.

    Scale shape: EVERYTHING is per-row array algebra inside
    whole-stage codegen — tokenize, n-gram build
    (``transform(sequence(...))``), distinct count, and the
    most-frequent-gram count via a sort + longest-equal-run
    ``aggregate`` — so the operator is a pure scan with ZERO shuffle;
    at 100 TB it runs at parquet-read speed. The gram array is staged
    as a real column first: PySpark higher-order lambdas are
    interpreted with no CSE, so referencing a heavy expression twice
    would recompute it per element (the exploded_shingles lesson).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda x: x != "")
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    n_tok = F.size("_toks")
    grams = F.when(
        n_tok >= n,
        F.transform(
            F.sequence(F.lit(1), n_tok - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = staged.select(
        id_col, "_toks", grams.alias("_grams")
    ).select(
        id_col,
        F.size("_toks").alias("_ntok"),
        F.size("_grams").alias("n_grams"),
        F.size(F.array_distinct("_grams")).alias("n_distinct"),
        F.array_sort("_grams").alias("_sorted"),
    )
    # longest equal run over the SORTED grams = max occurrence count
    run0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def _step(acc, x):
        new_run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            x.alias("prev"),
            new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    top = F.aggregate(F.col("_sorted"), run0, _step, lambda a: a["best"])
    # stage the O(g) run-length aggregate once; referencing the raw
    # expression from two output columns would evaluate it twice per
    # row (HOF expressions are non-cheap, so CollapseProject keeps
    # the staged projection)
    staged = staged.select(
        id_col, "_ntok", "n_grams", "n_distinct", top.alias("_top")
    )
    g = F.col("n_grams").cast("double")
    return staged.select(
        id_col,
        "n_grams",
        "n_distinct",
        F.when(
            F.col("n_grams") > 0,
            (g - F.col("n_distinct").cast("double")) / g,
        ).otherwise(F.lit(0.0)).alias("dup_fraction"),
        F.col("_top").alias("top_gram_count"),
        F.when(
            F.col("_ntok") > 0,
            F.col("_top").cast("double") * F.lit(float(n))
            / F.col("_ntok").cast("double"),
        ).otherwise(F.lit(0.0)).alias("top_gram_frac"),
    )


def calibration_bins(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram data for a probabilistic quality classifier:
    bucket predictions into ``n_bins`` equal-width probability bins
    and report per-bin count, mean predicted probability, and observed
    positive rate — the calibration check to run before using a
    classifier's scores as sampling weights or thresholds in a
    curation pipeline (a mis-calibrated filter silently reshapes the
    corpus).

    ONE conditional aggregation over a scan (bin index is a closed-form
    expression, prob 1.0 clamps into the top bin); integer counts and
    sums-of-rounded-micro-probs keep the surface exactly
    cross-engine-checkable. Output:
    ``(bin, n, mean_predicted, observed_rate)``.
    """
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("int")
    bin_idx = F.least(
        F.lit(n_bins - 1), F.floor(p * F.lit(n_bins)).cast("int")
    )
    # exact integer micro-units: the mean is a single division of an
    # order-free integer sum (float sums would be order-dependent)
    p_micro = F.round(p * F.lit(1_000_000)).cast("long")
    return (
        df.where(p.isNotNull() & y.isNotNull())
        .groupBy(bin_idx.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(p_micro).cast("double")
                / (F.count(F.lit(1)) * F.lit(1_000_000)).cast("double")
            ).alias("mean_predicted"),
            (
                F.sum(y).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("observed_rate"),
        )
    )


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
) -> DataFrame:
    """Cohen's kappa agreement between two binary judgments (two
    filter rules, a heuristic vs a classifier, two annotators) —
    chance-corrected agreement ``κ = (p_o − p_e)/(1 − p_e)``. The
    standard QA statistic when deciding whether a cheap filter can
    replace an expensive one in a curation pipeline.

    ONE conditional-count aggregation: the four confusion cells stay
    exact integers, κ is closed-form from them (both engines evaluate
    the identical rational expression). Output 1 row:
    ``(n, n00, n01, n10, n11, p_observed, kappa)``.
    """
    a = F.col(rater_a).cast("int")
    b = F.col(rater_b).cast("int")
    cells = df.where(a.isNotNull() & b.isNotNull()).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when((a == 0) & (b == 0), 1)).alias("n00"),
        F.count(F.when((a == 0) & (b == 1), 1)).alias("n01"),
        F.count(F.when((a == 1) & (b == 0), 1)).alias("n10"),
        F.count(F.when((a == 1) & (b == 1), 1)).alias("n11"),
    )
    nd = F.col("n").cast("double")
    po = (F.col("n00") + F.col("n11")).cast("double") / nd
    pe = (
        (F.col("n00") + F.col("n01")).cast("double")
        * (F.col("n00") + F.col("n10")).cast("double")
        + (F.col("n10") + F.col("n11")).cast("double")
        * (F.col("n01") + F.col("n11")).cast("double")
    ) / (nd * nd)
    return cells.select(
        "n", "n00", "n01", "n10", "n11",
        po.alias("p_observed"),
        F.when(pe < 1.0, (po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


def gini_concentration(
    df: DataFrame,
    value_col: str,
    exact: bool = True,
) -> DataFrame:
    """Gini coefficient of a non-negative numeric column — the
    concentration audit for corpus/revenue distributions (how skewed
    is token mass across sources, spend across customers, bytes
    across domains). 0 = perfectly even, →1 = winner-take-all.

    Exactness contract — ENFORCED, not hoped for: the default
    ``exact=True`` path assembles the sorted-rank identity from three
    exact integer sums (decimal-typed, no 64-bit overflow), which is
    only exact when every value IS an integer (cents / token counts).
    A fractional value would be silently truncated by the decimal
    cast and return a plausible wrong Gini, so the scan RAISES
    in-plan on the first ``v ≠ floor(v)`` it meets (same
    enforce-don't-hope style as ``sign_test`` /
    ``ordinal_association``). Callers with dollars/scores either
    pre-scale to integer units or pass ``exact=False``, which
    computes the same identity in double — correct to float
    summation order (~1 ulp per term; fine for scores, documented
    downgrade from bit-exact).

    Scale shape: per-distinct-value counts feed the DISTRIBUTED
    two-pass running sum (``stats._stepped_running_counts`` — never a
    data-sized global sort), midranks handle ties exactly:

    ``G = Σ v·c·2r̄ / (n·Σ v·c) − (n+1)/n``

    (``Σ_i i·x_(i) = Σ_v v·c_v·r̄_v`` under ties — each tied block
    contributes its value times its rank-sum, and the midrank times
    the block size IS the rank-sum). Output 1 row:
    ``(gini, n, total)``; ``total`` is NULL on the double path when
    the sum has a fractional part that a long cast would hide.
    """
    from padua_spark.io_utils import track_cached
    from padua_spark.operators.stats import (
        _doubled_midrank,
        _stepped_running_counts,
    )

    v = F.col(value_col)
    if exact:
        v = F.when(
            v == F.floor(v), v
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "gini_concentration(exact=True) requires "
                        "integer values (cents / token counts); got "
                        "fractional "
                    ),
                    v.cast("string"),
                    F.lit(
                        f" in column {value_col!r} - pre-scale to "
                        "integer units or pass exact=False for the "
                        "double-precision path"
                    ),
                )
            ).cast(df.schema[value_col].dataType)
        )
    per = (
        df.where(F.col(value_col).isNotNull() & (F.col(value_col) >= 0))
        .groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    two_rbar = _doubled_midrank("_c")
    dec = "decimal(38,0)" if exact else "double"
    agg = stepped.agg(
        F.sum(F.col("_c").cast("decimal(38,0)")).alias("_n"),
        F.sum((F.col("_v") * F.col("_c")).cast(dec)).alias("_s"),
        F.sum(
            (F.col("_v") * F.col("_c") * two_rbar).cast(dec)
        ).alias("_t2"),
    )
    nd = F.col("_n").cast("double")
    sd = F.col("_s").cast("double")
    gini = F.when(
        (F.col("_n") > 0) & (F.col("_s") > 0),
        F.col("_t2").cast("double") / (nd * sd) - (nd + 1.0) / nd,
    )
    total = F.col("_s").cast("long") if exact else F.when(
        F.col("_s") == F.floor(F.col("_s")), F.col("_s").cast("long")
    )
    out = agg.select(
        gini.alias("gini"),
        F.col("_n").cast("long").alias("n"),
        total.alias("total"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def benford_first_digit(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Benford's-law first-digit audit over a positive integer column
    (cents/micro-units — keep amounts exact BEFORE calling): observed
    first-significant-digit distribution next to the Benford
    expectation ``log10(1 + 1/d)``. Fabricated or synthetic amount
    columns diverge hard from Benford — a standard forensic data-
    quality screen.

    Engine-portable digit extraction: the first digit of an INTEGER's
    decimal string (``substring(cast(v as string), 1, 1)``) — no
    ``log10`` float edge cases at powers of ten. One groupBy(digit)
    over ≤ 9 groups; the chi-square contribution per digit is exact
    given the counts. Output 9 rows (digits with zero observations
    included): ``(digit, n_obs, p_observed, p_benford, chi2_term)``.
    """
    import math

    v = F.col(value_col)
    digits = (
        df.where(v.isNotNull() & (v > 0))
        .select(
            F.substring(v.cast("string"), 1, 1).cast("long").alias(
                "digit"
            )
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    spark = df.sparkSession
    all_digits = local_frame(
        spark,
        [(d, math.log10(1.0 + 1.0 / d)) for d in range(1, 10)],
        "digit long, p_benford double",
    )
    joined = all_digits.join(digits, on="digit", how="left").select(
        "digit",
        F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
        "p_benford",
    )
    w = Window.partitionBy()
    total = F.sum("n_obs").over(w).cast("double")
    po = F.col("n_obs").cast("double") / total
    exp_n = total * F.col("p_benford")
    chi2_term = (F.col("n_obs").cast("double") - exp_n) ** 2 / exp_n
    return joined.select(
        "digit",
        "n_obs",
        po.alias("p_observed"),
        "p_benford",
        chi2_term.alias("chi2_term"),
    ).orderBy("digit")


def chi2_gof(
    df: DataFrame,
    category_col: str,
    expected: dict | None = None,
) -> DataFrame:
    """Chi-square goodness-of-fit of a categorical column against an
    expected distribution (default: uniform over the observed
    categories) — the categorical complement to
    ``chi2_independence``: does a shard's label/priority/source mix
    match the design?

    One hash aggregation over the categories (≤ cardinality rows),
    then exact arithmetic per category. With ``expected`` given, its
    values are probabilities keyed by category (must cover every
    observed category; a missing key errors loudly at execution — a
    null-propagating join would hide bias). The join is FULL OUTER:
    an expected category with zero observations still contributes its
    ``(0−E)²/E = n·p`` term and counts toward ``dfree`` — silently
    dropping it would underestimate chi². Output 1 row:
    ``(chi2, n_total, k_categories, dfree)``.
    """
    counts = (
        df.where(F.col(category_col).isNotNull())
        .groupBy(F.col(category_col).alias("_cat"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    w = Window.partitionBy()
    if expected is None:
        total = F.sum("_n").over(w).cast("double")
        k = F.count(F.lit(1)).over(w)
        exp_n = total / k.cast("double")
    else:
        spark = df.sparkSession
        exp_df = local_frame(
            spark,
            [(str(c), float(p)) for c, p in sorted(expected.items())],
            "_cat string, _p double",
        )
        # full outer: unobserved-but-expected categories keep their
        # n·p term (observed count coalesced to 0) instead of vanishing
        counts = (
            counts.join(exp_df, on="_cat", how="full_outer")
            .select(
                "_cat",
                F.coalesce("_n", F.lit(0)).alias("_n"),
                "_p",
            )
        )
        total = F.sum("_n").over(w).cast("double")
        exp_n = total * F.coalesce(
            F.col("_p"),
            F.raise_error(
                F.concat(
                    F.lit("chi2_gof: observed category missing from "
                          "expected: "),
                    F.col("_cat"),
                )
            ).cast("double"),
        )
    per = counts.select(
        ((F.col("_n").cast("double") - exp_n) ** 2 / exp_n).alias("_t"),
        F.col("_n"),
    )
    return per.agg(
        F.sum("_t").alias("chi2"),
        F.sum("_n").alias("n_total"),
        F.count(F.lit(1)).alias("k_categories"),
        (F.count(F.lit(1)) - 1).cast("long").alias("dfree"),
    )


def group_auc(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Per-group ROC AUC of a score against a binary label via the
    rank-sum (Mann-Whitney) identity — the classifier-quality
    acceptance metric for per-slice evaluation ("does the quality
    classifier actually rank positives above negatives in EVERY
    source/language slice, not just on average?"):

    ``auc = (sum of positive midranks - n_pos(n_pos+1)/2)
            / (n_pos * n_neg)``

    Midranks make ties exact (equal scores share the average of their
    row numbers), and make the statistic independent of the engine's
    arbitrary ordering WITHIN a tie — the numerator is invariant, so
    the result is reproducible anywhere. No probability calibration is
    assumed: only the ordering of scores matters.

    Cost: one shuffle on the group key, one per-group sort shared by
    both window passes (row_number, then the per-(group, score) midrank
    average), one aggregation. NULL-score/label rows are dropped.

    Returns ``(groups..., n_pos, n_neg, auc)``; ``auc`` is NULL for
    single-class groups (undefined).
    """
    s = F.col(score_col).cast("double")
    lab = F.col(label_col).cast("int")
    base = df.where(s.isNotNull() & lab.isNotNull()).select(
        *group_cols, s.alias("_s"), lab.alias("_lab")
    )
    wo = Window.partitionBy(*group_cols).orderBy("_s")
    ranked = base.withColumn("_rn", F.row_number().over(wo))
    wt = Window.partitionBy(*group_cols, "_s")
    ranked = ranked.withColumn(
        "_mid", F.avg(F.col("_rn").cast("double")).over(wt)
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.sum("_lab").cast("bigint").alias("n_pos"),
        F.sum(1 - F.col("_lab")).cast("bigint").alias("n_neg"),
        F.sum(F.when(F.col("_lab") == 1, F.col("_mid"))).alias("_rp"),
    )
    np_, nn = F.col("n_pos"), F.col("n_neg")
    auc = (
        F.col("_rp") - np_.cast("double") * (np_ + 1) / 2.0
    ) / (np_ * nn).cast("double")
    return agg.select(
        *group_cols,
        "n_pos",
        "n_neg",
        F.when((np_ > 0) & (nn > 0), auc).alias("auc"),
    )


def classifier_loss(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
    eps: float = 1e-15,
) -> DataFrame:
    """Per-slice proper scoring rules for a probabilistic classifier:
    Brier score (mean squared probability error) and log loss (mean
    negative log likelihood, probabilities clipped to ``[eps, 1-eps]``)
    — the summary companions to :func:`calibration_bins` (bins show
    WHERE calibration fails; these give the single number per slice to
    alarm on) and to :func:`group_auc` (AUC ranks, these score the
    probabilities themselves).

    One conditional aggregation with map-side combine; NULL prob/label
    rows are dropped. Returns ``(groups..., n, brier, logloss)``.
    """
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("double")
    base = df.where(p.isNotNull() & y.isNotNull())
    pc = F.least(F.greatest(p, F.lit(eps)), F.lit(1.0 - eps))
    brier_term = (p - y) * (p - y)
    ll_term = -(y * F.log(pc) + (1.0 - y) * F.log(1.0 - pc))
    return base.groupBy(*(group_cols or [])).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(brier_term).alias("brier"),
        F.avg(ll_term).alias("logloss"),
    )


def top_quantile_by_group(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    keep_fraction: float,
    exact: bool = True,
    approx_accuracy: int = 10000,
) -> DataFrame:
    """Per-group top-quantile selection — the FineWeb/quality-filter
    recipe: within each group (source, language, …), keep the rows
    whose ``score_col`` is at or above the group's
    ``(1 − keep_fraction)`` quantile. Ties AT the threshold are all
    kept (threshold semantics, not exact-k), so the kept set is a pure
    function of the data — reproducible under any partitioning.
    Output: input columns + ``_thr`` dropped; rows with NULL score are
    dropped.

    Scale shape: NO per-group global window sort (a window
    partitioned by source puts an entire source in one task — the
    skew trap at corpus scale). The threshold comes from
    :func:`operators.normalization.group_percentiles` (one
    shuffle-sort of a two-column projection, whole-stage codegen) and
    broadcast-joins back, so the corpus itself never shuffles;
    ``exact=False`` swaps in the mergeable ``percentile_approx``
    sketch for extreme group cardinalities (same contract as
    ``winsorize``).
    """
    from padua_spark.operators.normalization import group_percentiles

    if "_thr" in df.columns:
        raise ValueError(
            "input already has a _thr column — rename it before "
            "top_quantile_by_group (the threshold join would collide)"
        )
    p = 1.0 - float(keep_fraction)
    v = F.col(score_col).cast("double")
    base = df.where(v.isNotNull())
    if exact:
        thr = group_percentiles(base, group_cols, v, {"_thr": p})
        thr = F.broadcast(thr)
    else:
        thr = base.groupBy(*group_cols).agg(
            F.percentile_approx(v, p, approx_accuracy).alias("_thr")
        )
    return (
        base.join(thr, on=group_cols, how="inner")
        .where(v >= F.col("_thr"))
        .drop("_thr")
    )


def split_conformal_intervals(
    cal_df: DataFrame,
    test_df: DataFrame,
    pred_col: str,
    actual_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split conformal prediction intervals — distribution-free
    finite-sample coverage for ANY point predictor (Vovk et al.;
    Lei et al. 2018): from a held-out calibration set's absolute
    residuals, take the ``⌈(n+1)(1−α)⌉``-th smallest (the exact
    conformal order statistic — an actual data value, no
    interpolation, so it is bit-identical on any engine) and emit
    ``[pred − q̂, pred + q̂]`` for every test row. Coverage ≥ 1−α holds
    under exchangeability alone. Output: test columns +
    ``(conformal_q, lo, hi)``.

    Scale shape: the order statistic comes from per-distinct-residual
    counts and the distributed stepped running count
    (:func:`operators.stats._stepped_running_counts` — never a
    data-sized partitionless window); the resulting ONE-row quantile
    frame broadcast-joins onto the test set (a deliberate 1-row BNLJ,
    the same pattern as the global-scalar joins in the stats
    battery).
    """
    from padua_spark.operators.stats import _stepped_running_counts

    resid = F.abs(
        F.col(actual_col).cast("double")
        - F.col(pred_col).cast("double")
    )
    per = (
        cal_df.where(resid.isNotNull())
        .groupBy(resid.alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    stepped = _stepped_running_counts(per, "_v", ["_c"])
    k = F.least(
        F.ceil(
            (F.col("_c_tot") + 1).cast("double") * F.lit(1.0 - alpha)
        ).cast("bigint"),
        F.col("_c_tot"),
    )
    q = (
        stepped.where(F.col("_c_run") >= k)
        .agg(F.min("_v").alias("conformal_q"))
    )
    pred = F.col(pred_col).cast("double")
    out = (
        test_df.crossJoin(F.broadcast(q))
        .withColumn("lo", pred - F.col("conformal_q"))
        .withColumn("hi", pred + F.col("conformal_q"))
    )
    from padua_spark.io_utils import track_cached

    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def qini_auuc(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    score_col: str,
) -> DataFrame:
    """Qini curve area for uplift-model evaluation — "does targeting
    by this score actually concentrate incremental outcomes?" (the
    uplift analogue of ROC AUC; Radcliffe 2007). Ranking the
    population by ``score_col`` DESCENDING, at each distinct score
    cutoff with cumulative treated/control counts ``n_t, n_c`` and
    outcome sums ``Y_t, Y_c``:

    ``qini(x) = Y_t − Y_c · n_t / n_c``  (0 while ``n_c = 0``),
    at ``x = (n_t + n_c) / N``,

    and the area is the trapezoid integral from (0, 0) through every
    distinct-score point. ``qini_random = qini(1)/2`` is the
    random-targeting diagonal's area; ``qini_coef = area − random``
    is the usual summary (positive = the score targets real uplift).
    Output 1 row: ``(n, n_treated, n_control, qini_final, qini_area,
    qini_random, qini_coef)``, floats rounded to 6dp.

    Scale shape: one aggregation to per-distinct-score counts, ONE
    distributed stepped running pass over the (negated) score domain
    (:func:`operators.stats._stepped_running_counts` — never a
    data-sized partitionless window), then a single aggregation: each
    trapezoid term needs its PREDECESSOR point, recovered per-row
    from ``cumulative − this-score's delta`` — no lag window at all.
    """
    from padua_spark.operators.stats import _stepped_running_counts
    from padua_spark.io_utils import track_cached

    t = F.col(treat_col).cast("int")
    y = F.col(outcome_col).cast("double")
    s = F.col(score_col).cast("double")
    base = df.where(
        t.isNotNull() & y.isNotNull() & s.isNotNull()
    ).select(t.alias("_t"), y.alias("_y"), (-s).alias("_ns"))
    per = base.groupBy("_ns").agg(
        F.sum(F.col("_t")).cast("bigint").alias("_nt"),
        F.sum(1 - F.col("_t")).cast("bigint").alias("_nc"),
        F.sum(F.when(F.col("_t") == 1, F.col("_y")).otherwise(0.0))
        .alias("_yt"),
        F.sum(F.when(F.col("_t") == 0, F.col("_y")).otherwise(0.0))
        .alias("_yc"),
    )
    stepped = _stepped_running_counts(per, "_ns", ["_nt", "_nc", "_yt", "_yc"])
    ntot = (F.col("_nt_tot") + F.col("_nc_tot")).cast("double")

    def _qini(ntc, ncc, ytc, ycc):
        return F.when(
            ncc > 0, ytc - ycc * ntc.cast("double") / ncc.cast("double")
        ).otherwise(ytc)

    y_cur = _qini(
        F.col("_nt_run"), F.col("_nc_run"),
        F.col("_yt_run"), F.col("_yc_run"),
    )
    y_prev = _qini(
        F.col("_nt_run") - F.col("_nt"),
        F.col("_nc_run") - F.col("_nc"),
        F.col("_yt_run") - F.col("_yt"),
        F.col("_yc_run") - F.col("_yc"),
    )
    dx = (F.col("_nt") + F.col("_nc")).cast("double") / ntot
    term = (y_cur + y_prev) / 2.0 * dx
    agg = stepped.agg(
        F.max("_nt_tot").alias("_ntt"),
        F.max("_nc_tot").alias("_nct"),
        F.max("_yt_tot").alias("_ytt"),
        F.max("_yc_tot").alias("_yct"),
        F.sum(term).alias("_area"),
    )
    qini_final = _qini(
        F.col("_ntt"), F.col("_nct"), F.col("_ytt"), F.col("_yct")
    )
    staged = agg.select(
        (F.col("_ntt") + F.col("_nct")).cast("bigint").alias("n"),
        F.col("_ntt").cast("bigint").alias("n_treated"),
        F.col("_nct").cast("bigint").alias("n_control"),
        qini_final.alias("_qf"),
        F.col("_area"),
    )
    out = staged.select(
        "n", "n_treated", "n_control",
        F.round("_qf", 6).alias("qini_final"),
        F.round("_area", 6).alias("qini_area"),
        F.round(F.col("_qf") / 2.0, 6).alias("qini_random"),
        F.round(
            F.col("_area") - F.col("_qf") / 2.0, 6
        ).alias("qini_coef"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
    n_bins: int = 50,
) -> DataFrame:
    """Isotonic (PAVA) calibration of a classifier score against a
    binary label — the non-parametric upgrade of
    :func:`calibration_bins`: instead of reporting raw per-bin
    positive rates, fit the best *monotone non-decreasing* rate curve
    (the pool-adjacent-violators solution), which is what you
    actually threshold or invert when using model scores as sampling
    weights in a curation pipeline.

    Distributed shape: PAVA looks sequential, but the fit has a
    closed relational form — the max-min identity

    ``iso(k) = max_{i ≤ k} min_{j ≥ k} mean(y[i..j])``

    — so after ONE aggregation collapses the data to the per-(group,
    bin) frame (``n_bins`` rows per group, constant in data size),
    the whole fit is two window passes over the O(n_bins²) segment
    grid: a running min over segment ends (per start), then a running
    max over segment starts (per bin). No Python, no iteration, no
    driver collect; segment means are single divisions of exact
    integer sums (order-free across engines). The raw data is touched
    exactly once at any scale; everything after is cardinality-sized.

    Output: one row per (group, bin) with data:
    ``(groups..., bin, n, rate_raw, rate_iso)``, rates 6dp;
    ``rate_iso`` is monotone non-decreasing in ``bin`` within each
    group. Beyond the reference (padua has no model calibration).
    """
    gcols = list(group_cols or [])
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    bin_idx = F.least(
        F.lit(n_bins - 1), F.floor(s * F.lit(n_bins)).cast("int")
    ).cast("bigint")
    pts = (
        df.where(s.isNotNull() & y.isNotNull())
        .groupBy(*gcols, bin_idx.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_c"),
            F.sum(y).cast("bigint").alias("_sy"),
        )
    )
    # cumulative integer sums over the bounded bin domain (≤ n_bins
    # rows per group — a partitionless-within-group window is fine)
    wc = (
        Window.partitionBy(*gcols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        if gcols
        else Window.orderBy("bin").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    pts = pts.select(
        *gcols,
        "bin",
        "_c",
        "_sy",
        F.sum("_c").over(wc).alias("_cc"),
        F.sum("_sy").over(wc).alias("_csy"),
        F.lit(0).alias("_g"),
    )
    a = pts.select(
        *[F.col(c).alias(f"_ga_{i}") for i, c in enumerate(gcols)],
        F.col("bin").alias("_i"),
        F.col("_sy").alias("_sy_i"),
        F.col("_c").alias("_c_i"),
        F.col("_csy").alias("_csy_i"),
        F.col("_cc").alias("_cc_i"),
        "_g",
    )
    b = pts.select(
        *[F.col(c).alias(f"_gb_{i}") for i, c in enumerate(gcols)],
        F.col("bin").alias("_j"),
        F.col("_csy").alias("_csy_j"),
        F.col("_cc").alias("_cc_j"),
        "_g",
    )
    on = [a[f"_ga_{i}"] == b[f"_gb_{i}"] for i in range(len(gcols))] or [
        a["_g"] == b["_g"]
    ]
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    seg = (
        a.join(b, cond)
        .where(F.col("_i") <= F.col("_j"))
        .select(
            *[F.col(f"_ga_{i}").alias(c) for i, c in enumerate(gcols)],
            "_i",
            "_j",
            (
                (F.col("_csy_j") - F.col("_csy_i") + F.col("_sy_i"))
                .cast("double")
                / (F.col("_cc_j") - F.col("_cc_i") + F.col("_c_i"))
                .cast("double")
            ).alias("_avg"),
        )
    )
    # min over segment ends j' >= j, per start i (reverse running min)
    w_min = Window.partitionBy(*gcols, "_i").orderBy(F.col("_j").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    m = seg.select(
        *gcols, "_i", "_j", F.min("_avg").over(w_min).alias("_m")
    )
    # max over starts i <= k at k = j, per bin (whole-partition max)
    w_max = Window.partitionBy(*gcols, "_j")
    iso = (
        m.select(
            *gcols, "_j", F.max("_m").over(w_max).alias("_iso"), "_i"
        )
        .where(F.col("_i") == F.col("_j"))
        .select(*gcols, F.col("_j").alias("bin"), "_iso")
    )
    raw = pts.select(
        *gcols,
        "bin",
        F.col("_c").alias("n"),
        (F.col("_sy").cast("double") / F.col("_c").cast("double")).alias(
            "_raw"
        ),
    )
    return (
        raw.join(iso, [*gcols, "bin"])
        .select(
            *gcols,
            "bin",
            "n",
            F.round("_raw", 6).alias("rate_raw"),
            F.round("_iso", 6).alias("rate_iso"),
        )
    )


def confusion_stats(
    df: DataFrame,
    group_cols: list[str],
    pred_col: str,
    label_col: str,
) -> DataFrame:
    """Per-group binary confusion battery — TP/FP/FN/TN with
    accuracy, precision, recall, F1 and Matthews correlation — the
    threshold-fixed companion to :func:`group_auc` (AUC ranks;
    deployment needs the operating point, per slice, or a filter that
    is 95% precise on average can be 40% precise on one source).

    ONE conditional aggregation over the fact table to four exact
    integers per group; every metric after is closed-form scalar
    arithmetic. MCC uses ``√(tp+fp)·√(tp+fn)·√(tn+fp)·√(tn+fn)`` as
    the denominator (factored square roots — the four-way product of
    bigint counts would overflow doubles' integer range at petabyte
    counts; the factored form never exceeds the counts themselves).

    Output per group: ``(groups..., tp, fp, fn, tn, accuracy,
    precision, recall, f1, mcc)``, floats rounded to 6dp; ratio
    metrics NULL where their denominator is 0.
    """
    p = F.col(pred_col).cast("int")
    y = F.col(label_col).cast("int")
    agg = df.where(p.isNotNull() & y.isNotNull()).groupBy(
        *group_cols
    ).agg(*confusion_count_aggs(p, y))
    return confusion_metrics_from_counts(agg, list(group_cols))


def confusion_count_aggs(p, y) -> list:
    """The four exact conditional-sum aggregate expressions
    (tp/fp/fn/tn) shared by :func:`confusion_stats` and the streaming
    :func:`padua_spark.streaming.windowed_confusion` — ONE stateful
    aggregation's worth of state per key."""
    return [
        F.sum(((p == 1) & (y == 1)).cast("int"))
        .cast("bigint").alias("tp"),
        F.sum(((p == 1) & (y == 0)).cast("int"))
        .cast("bigint").alias("fp"),
        F.sum(((p == 0) & (y == 1)).cast("int"))
        .cast("bigint").alias("fn"),
        F.sum(((p == 0) & (y == 0)).cast("int"))
        .cast("bigint").alias("tn"),
    ]


def confusion_metrics_from_counts(
    agg: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Closed-form confusion metrics from exact per-key TP/FP/FN/TN
    counts (the finalizer half shared with the streaming variant —
    runs per micro-batch or offline on any frame with those four
    bigint columns)."""
    tp = F.col("tp").cast("double")
    fp = F.col("fp").cast("double")
    fn = F.col("fn").cast("double")
    tn = F.col("tn").cast("double")
    n = tp + fp + fn + tn
    prec = F.when(tp + fp > 0, tp / (tp + fp))
    rec = F.when(tp + fn > 0, tp / (tp + fn))
    f1 = F.when(
        2.0 * tp + fp + fn > 0, 2.0 * tp / (2.0 * tp + fp + fn)
    )
    mcc_den = (
        F.sqrt(tp + fp) * F.sqrt(tp + fn)
        * F.sqrt(tn + fp) * F.sqrt(tn + fn)
    )
    mcc = F.when(mcc_den > 0, (tp * tn - fp * fn) / mcc_den)
    return agg.select(
        *key_cols, "tp", "fp", "fn", "tn",
        F.round(F.when(n > 0, (tp + tn) / n), 6).alias("accuracy"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        F.round(mcc, 6).alias("mcc"),
    )


def group_average_precision(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    label_col: str,
    id_col: str,
) -> DataFrame:
    """Per-group average precision (AP / area under the PR curve,
    step form) — the retrieval-quality metric that, unlike
    :func:`group_auc`, weights early precision: the right acceptance
    gate for "are the positives concentrated at the TOP of the score
    ranking", which is what a top-q selection actually consumes.

    ``AP = (1/n_pos) Σ_k rel(k) · (cum_pos(k) / k)``

    over the ranking by ``(score DESC, id ASC)`` — the explicit id
    tiebreak makes the permutation (and hence AP under tied scores)
    deterministic on every engine. ONE shuffle on the group, ONE
    ordered window pass producing both the rank and the cumulative
    positives (same window spec → a single WindowExec), one per-group
    aggregation. Per-group state is the ranked slice (the bounded-key
    caveat of every per-key ranking). Output:
    ``(groups..., n, n_pos, average_precision)``, AP rounded to 6dp,
    NULL when the group has no positives.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.where(s.isNotNull() & y.isNotNull()).select(
        *group_cols,
        s.alias("_s"),
        y.alias("_y"),
        F.col(id_col).alias("_id"),
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("_s").desc(), F.col("_id").asc()
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = base.select(
        *group_cols,
        "_y",
        F.row_number().over(w).alias("_k"),
        F.sum("_y").over(run).alias("_cum"),
    )
    agg = staged.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_y").cast("bigint").alias("n_pos"),
        F.sum(
            F.when(
                F.col("_y") == 1,
                F.col("_cum").cast("double")
                / F.col("_k").cast("double"),
            )
        ).alias("_ap_sum"),
    )
    return agg.select(
        *group_cols, "n", "n_pos",
        F.round(
            F.when(
                F.col("n_pos") > 0,
                F.col("_ap_sum") / F.col("n_pos").cast("double"),
            ),
            6,
        ).alias("average_precision"),
    )


def benford_test(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """Benford's-law first-digit conformity test — the classic
    fabricated-data / corrupted-feed screen: naturally occurring
    multi-scale magnitudes put digit d first with probability
    ``log10(1 + 1/d)``; flat or spiky digit profiles flag synthetic
    or truncated values.

    The first significant digit is extracted from the INTEGER part
    via string slicing (``substring(cast(bigint), 1, 1)``) — no
    floating ``log10`` anywhere, whose ``floor`` is knife-edged at
    powers of ten and engine-dependent. Rows with integer part 0 are
    excluded (no leading digit). ONE aggregation to the 9 digit
    counts, then ``χ² = Σ (n_d − n·p_d)²/(n·p_d)`` with the
    closed-form p for 8 even df... (χ²₈ survival =
    ``exp(−x/2)·Σ_{k<4}(x/2)^k/k!`` — both engines share it) and the
    mean absolute deviation ``MAD = mean_d |obs_d − p_d|`` with
    Nigrini's conformity bands. Output: one row per observed digit:
    ``(digit, n, observed_p, expected_p, chi2, p_value, mad)``,
    chi2/p/mad repeated per row (window over ≤9 rows), 6dp.

    Scale contract: the digit is read from ``|v|`` — signs are
    ignored (ledger debits are as Benford-distributed as credits),
    and rows with ``|v| < 1`` are excluded (no leading integer
    digit). Pre-scale fractional data — e.g. to cents — before
    calling, or sub-unit values silently fall out of the sample.
    """
    import math

    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    # explicit floor: Spark's double->bigint CAST truncates but other
    # engines round — floor is the unambiguous integer part
    digit = F.substring(
        F.floor(F.abs(v)).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    base = df.where(v.isNotNull() & (F.abs(v) >= 1)).select(
        digit.alias("digit")
    )
    per = base.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    w = Window.partitionBy()
    tot = F.sum("n").over(w).cast("double")
    exp_p = F.lit(0.0)
    for d in range(1, 10):
        exp_p = F.when(
            F.col("digit") == d, F.lit(math.log10(1.0 + 1.0 / d))
        ).otherwise(exp_p)
    staged = per.select(
        "digit", "n",
        (F.col("n").cast("double") / tot).alias("_obs"),
        exp_p.alias("_exp"),
        tot.alias("_tot"),
    )
    chi_term = (
        (F.col("n").cast("double") - F.col("_tot") * F.col("_exp"))
        * (F.col("n").cast("double") - F.col("_tot") * F.col("_exp"))
        / (F.col("_tot") * F.col("_exp"))
    )
    # digits with zero observed rows still contribute n·p_d to chi2:
    # add the missing-digit mass analytically (sum of expected p over
    # digits absent from the frame) — Σ_miss n·p_d
    mad_term = F.abs(F.col("_obs") - F.col("_exp"))
    w9 = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    seen_exp = F.sum("_exp").over(w9)
    chi2 = F.sum(chi_term).over(w9) + F.col("_tot") * (
        1.0 - seen_exp
    )
    # MAD over all 9 digits: absent digits contribute |0 − p_d|
    mad = (
        F.sum(mad_term).over(w9) + (1.0 - seen_exp)
    ) / 9.0
    x2 = chi2 / 2.0
    p = F.exp(-x2) * (
        1.0 + x2 + x2 * x2 / 2.0 + x2 * x2 * x2 / 6.0
    )
    return staged.select(
        "digit", "n",
        F.round("_obs", 6).alias("observed_p"),
        F.round("_exp", 6).alias("expected_p"),
        F.round(chi2, 6).alias("chi2"),
        F.round(p, 6).alias("p_value"),
        F.round(mad, 6).alias("mad"),
    )


def hhi_concentration(
    df: DataFrame,
    group_cols: list[str],
    member_col: str,
    value_col: str | None = None,
) -> DataFrame:
    """Herfindahl–Hirschman concentration index per group — "is this
    corpus slice dominated by a few sources?" (the antitrust number,
    repurposed for data-mix monitoring: HHI > 2500 on the
    source-share of a training slice means a handful of domains own
    it):

    member shares within each group (by row count, or by
    ``value_col`` mass — which must be NON-NEGATIVE: negative mass
    makes shares meaningless), ``HHI = 10000·Σ share²``; also
    reports the effective number of members ``1/Σ share²``.

    TWO nested aggregations (rows → member totals → group HHI), both
    map-side combined; nothing else. Output: ``(groups…, n_members,
    hhi, effective_members)``, 6dp.
    """
    val = (
        F.lit(1.0)
        if value_col is None
        else F.coalesce(F.col(value_col).cast("double"), F.lit(0.0))
    )
    members = (
        df.where(F.col(member_col).isNotNull())
        .groupBy(*group_cols, member_col)
        .agg(F.sum(val).alias("_m"))
    )
    agg = members.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.sum("_m").alias("_t"),
        F.sum(F.col("_m") * F.col("_m")).alias("_sq"),
    )
    ssq = F.col("_sq") / (F.col("_t") * F.col("_t"))
    return agg.select(
        *group_cols, "n_members",
        F.round(10000.0 * ssq, 6).alias("hhi"),
        F.round(
            F.when(ssq > 0, 1.0 / ssq), 6
        ).alias("effective_members"),
    )


def data_profile(
    df: DataFrame,
    columns: list[str] | None = None,
    exact: bool = True,
    rsd: float = 0.023,
) -> DataFrame:
    """Whole-table column profile — the first query anyone runs on an
    unfamiliar dataset ("what's in here, how NULL is it, how wide are
    the domains?"), as one engine-native pass:

    per column: ``(column, dtype, n, n_null, null_rate, n_distinct,
    min_value, max_value, mean, sd)`` — min/max as STRINGS
    (lexicographic for non-numerics, documented), mean/sd NULL for
    non-numeric columns, ``n_distinct`` EXACT (nulls excluded) under
    the default, an HLL++ estimate under ``exact=False``.

    Scale shape — ``exact`` is the 100 TB dial: with ``exact=True``
    the multiple ``count(distinct)`` aggregates compile to Spark's
    multi-distinct expansion (one scan, but each input row is
    replicated once PER distinct aggregate before the exchange —
    ~k× shuffle volume for a k-column table; the documented cost of
    exactness). With ``exact=False`` every ``count_distinct`` becomes
    ``approx_count_distinct`` (HyperLogLog++, relative sd ``rsd``,
    default 2.3%): mergeable bounded-size sketch state, NO Expand
    node, one plain partial/final aggregation pass — the mode to use
    on an unfamiliar 100 TB table, where the exact default would
    replicate the entire input through the shuffle. The aggregated
    1-row frame is PERSISTED before the compile-time k-branch pivot
    union — Spark reuses no exchanges across union branches, so an
    uncached frame would re-run the whole scan+aggregation once per
    column (recorded for ``io_utils.unpersist_intermediates``).
    Output: k rows, deterministic column order.
    """
    from functools import reduce

    numeric = {"int", "bigint", "smallint", "tinyint", "double",
               "float", "decimal"}
    cols = columns or list(df.columns)
    dtypes = dict(df.dtypes)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")]
    for c in cols:
        dt = dtypes[c].split("(")[0]
        if not exact:
            aggs.append(
                F.approx_count_distinct(F.col(c), float(rsd))
                .cast("bigint").alias(f"_nd_{c}")
            )
        aggs += [
            F.sum(F.col(c).isNull().cast("int")).cast("bigint")
            .alias(f"_null_{c}"),
            F.min(F.col(c)).cast("string").alias(f"_min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"_max_{c}"),
        ]
        if dt in numeric:
            v = F.col(c).cast("double")
            aggs += [
                F.sum(v).alias(f"_s_{c}"),
                F.sum(v * v).alias(f"_q_{c}"),
            ]
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    agg = df.agg(*aggs)
    if exact:
        # Exact distincts as k separate two-level aggregations stitched
        # in as broadcast 1-row frames, NOT k count_distinct aggregates
        # in one agg: Spark compiles multi-distinct into an Expand that
        # replicates every input row once per distinct aggregate
        # (k+1 x rows through both HashAggregates). Same exact values
        # (count_distinct ignores NULLs; so does the isNotNull
        # pre-filter here), measured 3.5x faster at sf0.1 and the
        # Expand blow-up disappears at any scale. The 100 TB
        # exact=False HLL dial is unchanged.
        for c in cols:
            nd = (
                df.select(F.col(c).alias("_v"))
                .where(F.col("_v").isNotNull())
                .distinct()
                .agg(
                    F.count(F.lit(1)).cast("bigint")
                    .alias(f"_nd_{c}")
                )
            )
            agg = agg.crossJoin(F.broadcast(nd))
    agg = agg.persist(StorageLevel.MEMORY_AND_DISK)
    branches = []
    for c in cols:
        dt = dtypes[c].split("(")[0]
        nn = (F.col("_n") - F.col(f"_null_{c}")).cast("double")
        if dt in numeric:
            mean = F.when(nn > 0, F.col(f"_s_{c}") / nn)
            sd = F.when(
                nn >= 2,
                F.sqrt(
                    F.greatest(
                        (
                            F.col(f"_q_{c}")
                            - nn * (F.col(f"_s_{c}") / nn)
                            * (F.col(f"_s_{c}") / nn)
                        ) / (nn - 1.0),
                        F.lit(0.0),
                    )
                ),
            )
        else:
            mean = F.lit(None).cast("double")
            sd = F.lit(None).cast("double")
        branches.append(
            agg.select(
                F.lit(c).alias("column"),
                F.lit(dtypes[c]).alias("dtype"),
                F.col("_n").alias("n"),
                F.col(f"_null_{c}").alias("n_null"),
                F.round(
                    F.col(f"_null_{c}").cast("double")
                    / F.col("_n").cast("double"),
                    6,
                ).alias("null_rate"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_value"),
                F.col(f"_max_{c}").alias("max_value"),
                F.round(mean, 6).alias("mean"),
                F.round(sd, 6).alias("sd"),
            )
        )
    out = reduce(lambda a, b: a.unionAll(b), branches)
    return track_cached(out, agg)


def json_profile(
    df: DataFrame,
    json_col: str,
    exact: bool = True,
    rsd: float = 0.023,
) -> DataFrame:
    """Per-key profile of a flat JSON-string column (crawl metadata,
    event props, model-card sidecars) — which keys exist, how often,
    how wide, and whether the values are secretly numeric:

    per key: ``(key, n_present, presence_rate, n_distinct,
    frac_numeric, min_value, max_value)`` — presence over the NON-NULL
    json rows, values profiled as strings (min/max lexicographic),
    ``frac_numeric`` the fraction castable to double. ``n_distinct``
    is exact by default; ``exact=False`` swaps it for
    ``approx_count_distinct`` (HLL++, relative sd ``rsd``).

    Scale shape: ``from_json`` to ``map<string,string>`` (flat
    objects; nested values arrive as their JSON text — profile them
    again one level down if needed), one explode, one groupBy(key)
    with a broadcast 1-row total for the rate. No UDF, no driver
    parsing. Rows whose json fails to parse count toward the total
    but no key. Unlike :func:`data_profile`, the exact default here
    is a SINGLE distinct aggregate per group — Spark plans it as a
    two-phase partial-dedup aggregation with NO Expand, so the exact
    path already scales; ``exact=False`` still helps when a key's
    value domain is itself huge (sketch state instead of a
    per-(key,value) dedup shuffle).
    """
    j = F.from_json(
        F.col(json_col), "map<string,string>"
    )
    base = df.where(F.col(json_col).isNotNull()).select(
        j.alias("_m")
    )
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    total = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("_tot"),
        F.lit(1).alias("_one"),
    )
    kv = base.where(F.col("_m").isNotNull()).select(
        F.explode("_m").alias("key", "_v")
    )
    nd = (
        F.count_distinct(F.col("_v"))
        if exact
        else F.approx_count_distinct(F.col("_v"), float(rsd))
    )
    per = kv.groupBy("key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_present"),
        nd.cast("bigint").alias("n_distinct"),
        F.sum(
            F.col("_v").cast("double").isNotNull().cast("int")
        ).cast("bigint").alias("_numeric"),
        F.min("_v").alias("min_value"),
        F.max("_v").alias("max_value"),
    )
    out = per.withColumn("_one", F.lit(1)).join(
        F.broadcast(total), on="_one"
    ).select(
        "key", "n_present",
        F.round(
            F.col("n_present").cast("double")
            / F.col("_tot").cast("double"),
            6,
        ).alias("presence_rate"),
        "n_distinct",
        F.round(
            F.col("_numeric").cast("double")
            / F.col("n_present").cast("double"),
            6,
        ).alias("frac_numeric"),
        "min_value", "max_value",
    )
    return track_cached(out, base)


def abc_analysis(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    a_threshold: float = 0.8,
    b_threshold: float = 0.95,
) -> DataFrame:
    """Pareto ABC classification — the inventory/revenue workhorse
    beside :func:`hhi_concentration`'s single number: rank keys by
    total value descending and classify by INCLUSIVE cumulative
    share: ``A`` while cum_share ≤ ``a_threshold``, ``B`` while
    ≤ ``b_threshold``, else ``C`` ("the A parts are 80% of spend").

    Semantics pinned for engine reproducibility: the cumulative walk
    is at the distinct-TOTAL level — keys tied on total value are
    classified identically (their shared inclusive cumulative), so
    no arbitrary tiebreak leaks into the classes.

    Scale shape: one aggregation to per-key totals, then the
    descending cumulative comes off the shared distributed stepped
    cumsum over the DISTINCT-total domain (never a partitionless sort
    of the key frame), joined back to the totals on the total value.
    NON-POSITIVE totals (negative, zero, or NULL) are excluded from
    the share base and the output — a zero-total key has exactly 0
    share and would classify as ``C`` if emitted, but negative totals
    make cumulative shares ill-defined, so all non-positive keys are
    dropped for a single consistent rule. Output: one row per key:
    ``(keys..., total_value, value_share, cum_share, abc_class)``,
    6dp shares.

    Beyond the reference; the classic Pareto/ABC inventory analysis.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached
    from padua_spark.operators.stats import _stepped_running_counts

    v = F.col(value_col).cast("double")
    per_key = (
        df.where(v.isNotNull())
        .groupBy(*key_cols)
        .agg(F.sum(v).alias("_tot"))
        .where(F.col("_tot") > 0)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    per_val = per_key.groupBy(
        (-F.col("_tot")).alias("_negv")
    ).agg(F.sum("_tot").alias("_mass"))
    stepped = _stepped_running_counts(per_val, "_negv", ["_mass"])
    classed = stepped.select(
        (-F.col("_negv")).alias("_tot"),
        (F.col("_mass_run") / F.col("_mass_tot")).alias("_cum"),
        (F.col("_mass_tot")).alias("_grand"),
    )
    out = per_key.join(classed, on="_tot").select(
        *key_cols,
        F.col("_tot").alias("total_value"),
        F.round(F.col("_tot") / F.col("_grand"), 6).alias(
            "value_share"
        ),
        F.round("_cum", 6).alias("cum_share"),
        F.when(
            F.col("_cum") <= F.lit(float(a_threshold)), F.lit("A")
        )
        .when(F.col("_cum") <= F.lit(float(b_threshold)), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return track_cached(
        out, per_key, *getattr(stepped, "_padua_cached", ())
    )


def binned_divergences(
    df: DataFrame,
    group_col: str,
    group_a,
    group_b,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """KL, Jensen-Shannon and Bhattacharyya divergences between two
    slices of a numeric distribution over FIXED equal-width bins —
    the bounded-metric companions to :func:`psi_drift` (PSI is
    unbounded and symmetric-ish; JS ∈ [0, ln 2] and Bhattacharyya
    give comparable numbers across features):

    same bin law as :func:`psi_drift` (explicit ``[lo, hi]``,
    edge-clamped, Laplace-smoothed ``p_i = (n_i + 0.5)/(n + 0.5·B)``
    so every bin is defined), then per bin ``kl_ab = p·ln(p/q)``,
    ``js = ½(p·ln(2p/(p+q)) + q·ln(2q/(p+q)))``, ``bc = √(p·q)``;
    the summary row carries ``KL(a‖b), KL(b‖a), JS,
    BD = −ln Σ√(pq)``.

    ONE conditional-count aggregation + a ≤ ``n_bins``-row window.
    Output: one row per OBSERVED bin ``(bin, n_a, n_b, p_a, p_b,
    kl_ab_term, js_term, bc_term, kl_ab, kl_ba, js, bhattacharyya)``,
    6dp, summary repeated per row. Bins empty in BOTH slices are
    omitted (their smoothed terms are negligible by construction —
    the :func:`psi_drift` convention).

    Beyond the reference; standard information-theoretic drift
    metrics (Lin 1991 for JS).
    """
    from pyspark.sql import Window

    v = F.col(value_col).cast("double")
    width = (hi - lo) / n_bins
    bin_idx = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_bins - 1),
            F.floor((v - F.lit(lo)) / F.lit(width)).cast("int"),
        ),
    )
    g = F.col(group_col)
    per = (
        df.where(g.isin([group_a, group_b]) & v.isNotNull())
        .groupBy(bin_idx.alias("bin"))
        .agg(
            F.sum((g == F.lit(group_a)).cast("int"))
            .cast("bigint").alias("n_a"),
            F.sum((g == F.lit(group_b)).cast("int"))
            .cast("bigint").alias("n_b"),
        )
    )
    w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ta = F.sum("n_a").over(w).cast("double")
    tb = F.sum("n_b").over(w).cast("double")
    bsm = 0.5 * float(n_bins)
    pa = (F.col("n_a").cast("double") + 0.5) / (ta + F.lit(bsm))
    pb = (F.col("n_b").cast("double") + 0.5) / (tb + F.lit(bsm))
    kl_ab_t = pa * F.log(pa / pb)
    kl_ba_t = pb * F.log(pb / pa)
    m = (pa + pb) / 2.0
    js_t = 0.5 * (pa * F.log(pa / m) + pb * F.log(pb / m))
    bc_t = F.sqrt(pa * pb)
    staged = per.select(
        "bin", "n_a", "n_b",
        pa.alias("_pa"), pb.alias("_pb"),
        kl_ab_t.alias("_klab"), kl_ba_t.alias("_klba"),
        js_t.alias("_js"), bc_t.alias("_bc"),
    )
    # NOTE: omitted both-empty bins each contribute smoothed mass;
    # the summary sums the OBSERVED bins only (documented; both
    # engines compute from the same counts so they agree exactly)
    kl_ab = F.sum("_klab").over(w)
    kl_ba = F.sum("_klba").over(w)
    js = F.sum("_js").over(w)
    bd = -F.log(F.sum("_bc").over(w))
    return staged.select(
        "bin", "n_a", "n_b",
        F.round("_pa", 6).alias("p_a"),
        F.round("_pb", 6).alias("p_b"),
        F.round("_klab", 6).alias("kl_ab_term"),
        F.round("_js", 6).alias("js_term"),
        F.round("_bc", 6).alias("bc_term"),
        F.round(kl_ab, 6).alias("kl_ab"),
        F.round(kl_ba, 6).alias("kl_ba"),
        F.round(js, 6).alias("js"),
        F.round(bd, 6).alias("bhattacharyya"),
    )


def category_diversity(
    df: DataFrame,
    category_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Categorical diversity battery per group — the corpus-mixing
    dashboard number ("how concentrated is this source's language /
    domain / label distribution?") beside :func:`hhi_concentration`'s
    economic framing:

    ``shannon_entropy`` in NATS (−Σ p·ln p), ``simpson`` (Σ p², the
    collision probability), ``inv_simpson`` (1/Σp², the effective
    number of equally-common classes), and ``evenness`` (Pielou's
    J = H/ln k, NULL when k = 1 — a single class has no evenness).

    Scale shape: one aggregation to the (group, category) cell frame,
    one roll-up — probabilities from exact integer counts, every
    statistic a plain sum over the bounded per-group class domain.
    NULL categories are excluded (they are missing, not a class).
    Output per group: ``(groups..., n, k_classes, shannon_entropy,
    simpson, inv_simpson, evenness)``, 6dp.

    Beyond the reference; standard per Shannon 1948 / Simpson 1949 /
    Pielou 1966.
    """
    group_cols = group_cols or []
    c = F.col(category_col)
    cells = (
        df.where(c.isNotNull())
        .groupBy(*group_cols, c.alias("_cat"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    tot = cells.groupBy(*group_cols).agg(
        F.sum("_c").cast("bigint").alias("_n"),
        F.count(F.lit(1)).cast("bigint").alias("_k"),
    )
    joined = (
        cells.join(F.broadcast(tot), on=group_cols)
        if group_cols
        else cells.crossJoin(F.broadcast(tot))
    )
    p = F.col("_c").cast("double") / F.col("_n").cast("double")
    agg = joined.groupBy(*group_cols).agg(
        F.max("_n").alias("_n"),
        F.max("_k").alias("_k"),
        F.sum(-p * F.log(p)).alias("_h"),
        F.sum(p * p).alias("_simp"),
    )
    h = F.col("_h")
    kd = F.col("_k").cast("double")
    return agg.select(
        *group_cols,
        F.col("_n").alias("n"),
        F.col("_k").alias("k_classes"),
        F.round(h, 6).alias("shannon_entropy"),
        F.round("_simp", 6).alias("simpson"),
        F.round(1.0 / F.col("_simp"), 6).alias("inv_simpson"),
        F.round(
            F.when(F.col("_k") >= 2, h / F.log(kd)), 6
        ).alias("evenness"),
    )


def lorenz_curve(
    df: DataFrame,
    value_col: str,
) -> DataFrame:
    """The Lorenz curve as a TABLE — one point per distinct value
    (ascending) with the cumulative population share and cumulative
    value share, plus the trapezoid Gini repeated per row: the
    plotting/report companion to :func:`gini_concentration`'s single
    number (exactly the :func:`~padua_spark.operators.stats.
    roc_points` relationship to group_auc).

    ``p_v = F(v)`` (fraction of units with value ≤ v),
    ``L_v = Σ_{x≤v} q_x·c_x / Σ q_x·c_x`` with ``q_x`` the grid-integer
    mass of ``x`` below; ``gini = 1 − Σ Δp·(L_hi + L_lo)`` over the
    distinct-value steps (the exact Lorenz-trapezoid identity; equals
    the textbook mean-difference Gini).

    Scale shape: one per-distinct-value aggregation carrying counts
    AND value·count mass through the shared stepped cumsum, the Gini
    from a 1-row aggregate broadcast back — never a partitionless
    window over the value-domain frame. Non-negative values only
    (negative mass makes the curve ill-defined — excluded and
    documented, the :func:`abc_analysis` rule). Output per distinct
    value ascending: ``(value, n_le, pop_share, value_share_cum,
    gini)``, 6dp (shares 9dp).

    Mass is summed exactly on a binary grid scaled to the data. With
    ``max v = f·2^e`` (``f ∈ [½, 1)``, one driver-side aggregate over
    the cached per-value frame) each value becomes the integer
    ``q = ⌊v·2^(K−e)⌋``, ``m = c·q`` as ``decimal(38,0)``, and
    ``Σ trap = Σ c·(2·M_run − m) / (n·M_tot)``, so each share and the
    Gini is ONE division of exact sums: float sums follow the
    partition count in their last ulp, which flips 9dp shares that
    sit on a rounding boundary. ``K = 60`` bits up to 2³² rows (fewer
    above, so ``2·n·M_tot`` stays below 10³⁸). At ``K = 60`` values
    within a factor 2⁷ of the maximum are on the grid exactly; any
    other loses less than ``max·2^−(K−1)``, so a share moves by less
    than ``n·2^−(K−1)``. Values must be finite (ValueError otherwise).

    Beyond the reference; standard per Lorenz 1905 / Gastwirth 1972.
    """
    import math

    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached
    from padua_spark.operators.stats import _stepped_running_counts

    v = F.col(value_col).cast("double")
    per = (
        df.where(v.isNotNull() & (v >= 0))
        .groupBy(v.alias("_v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    v_max, n = per.agg(F.max("_v"), F.sum("_c")).first()
    if v_max is not None and not math.isfinite(v_max):
        per.unpersist()
        raise ValueError(f"lorenz_curve: non-finite value in {value_col}")
    k_bits = min(60, 125 - 2 * (n or 0).bit_length())
    shift = k_bits - math.frexp(v_max or 0.0)[1]
    # 2**shift overflows a double past 1023 (a subnormal maximum)
    scaled = F.col("_v") * F.lit(2.0 ** min(shift, 1000))
    if shift > 1000:
        scaled = scaled * F.lit(2.0 ** (shift - 1000))
    dec = "decimal(20,0)"
    per_m = per.select(
        "_v", "_c",
        (F.col("_c").cast(dec) * F.floor(scaled).cast(dec)).alias("_m"),
    )
    stepped = _stepped_running_counts(per_m, "_v", ["_c", "_m"])
    per.unpersist()  # the stepped frame holds its own materialized copy

    def ratio(num, den):
        return F.col(num).cast("double") / F.col(den).cast("double")

    staged = stepped.select(
        F.col("_v").alias("value"),
        F.col("_c_run").cast("bigint").alias("n_le"),
        ratio("_c_run", "_c_tot").alias("_p"),
        ratio("_m_run", "_m_tot").alias("_l"),
        (F.col("_c") * (2 * F.col("_m_run") - F.col("_m"))).alias("_t"),
        (F.col("_c_tot") * F.col("_m_tot")).alias("_nm"),
    )
    g = staged.agg(F.sum("_t").alias("_ts"), F.max("_nm").alias("_nt"))
    out = staged.join(F.broadcast(g)).select(
        "value", "n_le",
        F.round("_p", 9).alias("pop_share"),
        F.round("_l", 9).alias("value_share_cum"),
        F.round(1.0 - ratio("_ts", "_nt"), 6).alias("gini"),
    )
    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def agreement_battery(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Chance-corrected agreement battery for two binary raters —
    Scott's π, Gwet's AC1, and PABAK beside the Cohen's κ already in
    :func:`cohens_kappa`. The four statistics differ ONLY in the
    chance model, which is exactly what breaks κ in practice (the
    prevalence paradox: κ collapses when one class dominates even at
    99% raw agreement; AC1 and PABAK are its standard counterweights,
    and any real rater-audit reports them together):

    with pooled prevalence ``π = (p_a + p_b)/2`` of the positive
    class and observed agreement ``p_o``:
    Scott ``π_s = (p_o − p_e)/(1 − p_e)``, ``p_e = π² + (1−π)²``;
    Gwet ``AC1 = (p_o − p_γ)/(1 − p_γ)``, ``p_γ = 2π(1−π)``;
    ``PABAK = 2p_o − 1``.

    ONE aggregation to the exact integer confusion cells; every
    statistic is a closed-form rational of those four integers.
    Output 1 row: ``(n, n00, n01, n10, n11, p_observed, scott_pi,
    gwet_ac1, pabak)``, 6dp; NULLs where a chance denominator is 0.

    Beyond the reference; standard per Scott 1955 / Gwet 2008 /
    Byrt, Bishop & Carlin 1993.
    """
    a = F.col(rater_a_col).cast("int")
    b = F.col(rater_b_col).cast("int")
    agg = df.where(a.isNotNull() & b.isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(((a == 0) & (b == 0)).cast("int"))
        .cast("bigint").alias("n00"),
        F.sum(((a == 0) & (b == 1)).cast("int"))
        .cast("bigint").alias("n01"),
        F.sum(((a == 1) & (b == 0)).cast("int"))
        .cast("bigint").alias("n10"),
        F.sum(((a == 1) & (b == 1)).cast("int"))
        .cast("bigint").alias("n11"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n00") + F.col("n11")).cast("double") / n
    pa = (F.col("n10") + F.col("n11")).cast("double") / n
    pb = (F.col("n01") + F.col("n11")).cast("double") / n
    pi = (pa + pb) / 2.0
    pe_s = pi * pi + (1.0 - pi) * (1.0 - pi)
    pe_g = 2.0 * pi * (1.0 - pi)
    return agg.select(
        "n", "n00", "n01", "n10", "n11",
        F.round(po, 6).alias("p_observed"),
        F.round(
            F.when(pe_s < 1.0, (po - pe_s) / (1.0 - pe_s)), 6
        ).alias("scott_pi"),
        F.round(
            F.when(pe_g < 1.0, (po - pe_g) / (1.0 - pe_g)), 6
        ).alias("gwet_ac1"),
        F.round(2.0 * po - 1.0, 6).alias("pabak"),
    )
