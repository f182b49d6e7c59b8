"""Event-time windowing operators (batch/streaming polymorphic)."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, GroupedData, SparkSession, Window
from pyspark.sql import functions as F

NANOS_PER_SEC = 1_000_000_000


def _expr_sum_chain(fmt: str, k: int) -> Column:
    """Left-associated sum ``fmt.format(i=0) + fmt.format(i=1) + …``
    parsed as ONE SQL expression. The AST is identical to the Python
    ``+``-chain loop it replaces (SQL ``+`` is left-associative), so
    values are bit-identical — but it costs one py4j round-trip
    instead of k Column-object calls. Guide §7.3 ("planning time…
    avoid generating gigantic expression trees in loops"): the k=64
    binned monitors spent 4-6 s per BUILD in those loops (measured
    round 13; the 128-aggregate chain alone was 4.26 s as Column
    objects vs 0.07 s parsed)."""
    return F.expr(" + ".join(fmt.format(i=i) for i in range(k)))


def _expr_bin_col(src: str, k: int) -> Column:
    """``least(k-1, floor(src·k))`` bin index as one parsed column —
    projected ONCE before the aggregation so the 2·k conditional
    aggregates test a plain int column instead of each re-deriving
    the bin expression per aggregate. Named ``__padua_bin`` so a user
    group column can never collide with it (the monitors select
    ``("*", _expr_bin_col(...))`` over the grouped frame)."""
    return F.expr(
        f"CAST(least({k - 1}, floor({src} * {k})) AS INT) AS __padua_bin"
    )


def _bin_count(alias: str, cond: str = "") -> str:
    """Per-bin row count template (``{i}`` = bin) for
    :func:`_binned_window_agg`, optionally under an extra ``cond``."""
    return (
        f"CAST(sum(CASE WHEN __padua_bin = {{i}}{cond} THEN 1 ELSE 0 END) "
        f"AS BIGINT) AS {alias}{{i}}"
    )


def _bin_sum(alias: str, value: str) -> str:
    """Per-bin sum-of-``value`` template for :func:`_binned_window_agg`."""
    return (
        f"sum(CASE WHEN __padua_bin = {{i}} THEN {value} ELSE 0.0D END) "
        f"AS {alias}{{i}}"
    )


# positives ``_p{i}`` / negatives ``_g{i}`` per score bin
_POS_NEG_BINS = (
    _bin_count("_p", " AND _y = 1"), _bin_count("_g", " AND _y = 0")
)


def _binned_window_agg(
    withts, src, k, window_duration, watermark, group_cols, *cells
) -> DataFrame:
    """The per-bin counting shared by the k-binned monitors: ``src``
    in [0, 1] quantized into ``k`` equal-width bins (projected once,
    :func:`_expr_bin_col`), then ONE stateful aggregation per (window,
    group) of every ``cells`` template for every bin, bin-major. Each
    aggregate is one parsed SQL expression (one py4j call, the same
    AST as the Column form — :func:`_expr_sum_chain` rationale)."""
    withb = withts.select("*", _expr_bin_col(src, k))
    aggs = [F.expr(c.format(i=i)) for i in range(k) for c in cells]
    return _window_keyed(
        withb, window_duration, watermark, *group_cols
    ).agg(*aggs)


def _scored_bin_counts(
    df, ts_col, score_col, label_col, group_cols, window_duration,
    watermark, k,
) -> DataFrame:
    """Per-bin positive/negative counts ``_p{i}``/``_g{i}`` of binary
    labelled scores in [0, 1] (NULL or out-of-range rows dropped) per
    (window, group) — the front half of every binned ranking monitor
    (AUC, average precision, gains)."""
    s = score_col.cast("double")
    y = label_col.cast("int")
    withts = df.where(
        s.isNotNull() & y.isNotNull() & (s >= 0) & (s <= 1)
    ).select(
        ts_col.alias("_event_time"),
        *group_cols,
        s.alias("_s"),
        y.alias("_y"),
    )
    return _binned_window_agg(
        withts, "_s", k, window_duration, watermark, group_cols,
        *_POS_NEG_BINS,
    )


def _pos_neg_cells(bins) -> Column:
    """The per-bin ``(p, g)`` counts as one array, in ``bins`` order —
    the input of the per-ROW folds (O(k) per window·group, not per
    event)."""
    return F.expr(
        "array("
        + ",".join(f"struct(_p{i} AS p, _g{i} AS g)" for i in bins)
        + ")"
    )


def _pos_neg_summary(agg, folded, k, group_cols, stat) -> DataFrame:
    """``(window_start, window_end, *group_cols, n_pos, n_neg, stat)``
    from the binned counts, the fold result staged as ``_acc`` and the
    class totals as ``_np``/``_ng`` (which ``stat`` reads)."""
    staged = agg.withColumn("_acc", folded).withColumn(
        "_np", _expr_sum_chain("_p{i}", k)
    ).withColumn("_ng", _expr_sum_chain("_g{i}", k))
    return staged.select(
        *_window_bounds(),
        *group_cols,
        F.col("_np").alias("n_pos"),
        F.col("_ng").alias("n_neg"),
        stat,
    )


def nanos_to_timestamp(ts_nanos: Column) -> Column:
    """int64 nanoseconds → TIMESTAMP (micros precision; Spark has no
    nanos type — see the nanosAsLong read conf)."""
    return F.timestamp_micros((ts_nanos / F.lit(1000)).cast("bigint"))


def event_time_col(df: DataFrame, col: str = "ts") -> Column:
    """``col`` as a TIMESTAMP event-time column, whatever physical type
    the source stores: int64 nanos (legacy ``nanosAsLong`` parquet
    reads), TIMESTAMP_NTZ (parquet TIMESTAMP without timezone), or
    TIMESTAMP. Pin ``spark.sql.session.timeZone`` (e.g. UTC) before
    relying on the NTZ branch for cross-engine determinism."""
    dt = df.schema[col].dataType.simpleString()
    if dt in ("bigint", "long"):
        return nanos_to_timestamp(F.col(col))
    if dt == "timestamp_ntz":
        return F.col(col).cast("timestamp")
    return F.col(col)


def epoch_us_col(df: DataFrame, col: str = "ts") -> Column:
    """``col`` as epoch microseconds (bigint), same polymorphism as
    :func:`event_time_col`."""
    dt = df.schema[col].dataType.simpleString()
    if dt in ("bigint", "long"):
        return F.expr(f"{col} DIV 1000")
    return F.unix_micros(F.col(col).cast("timestamp"))


def read_event_stream(
    spark: SparkSession,
    path: str,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """``readStream`` over a parquet directory of events. Schema is
    required by streaming parquet sources; pass the batch-inferred one.
    """
    reader = spark.readStream
    if schema is not None:
        reader = reader.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def _window_keyed(
    frame: DataFrame,
    window_duration: str | None,
    watermark: str | None,
    *keys,
    slide_duration: str | None = None,
    session_gap: str | None = None,
    name: str = "_w",
) -> GroupedData:
    """The window key every operator here aggregates under: an
    ``_event_time`` frame grouped by its event-time window (tumbling
    ``window_duration``, sliding with ``slide_duration``, gap-based
    sessions with ``session_gap``) aliased ``name``, plus ``keys``.
    A windowed monitor is its batch statistic's aggregation under this
    key. The watermark is attached on streaming frames only, right
    before the stateful aggregation whose state eviction it drives (a
    batch frame would just carry a node the optimizer drops)."""
    if watermark and frame.isStreaming:
        frame = frame.withWatermark("_event_time", watermark)
    win = (
        F.session_window("_event_time", session_gap)
        if session_gap
        else F.window("_event_time", window_duration, slide_duration)
    )
    return frame.groupBy(win.alias(name), *keys)


def _window_bounds(name: str = "_w", prefix: str = "window") -> list:
    """``({prefix}_start, {prefix}_end)`` out of the window struct
    ``name`` — the leading columns of every windowed output."""
    return [
        F.col(f"{name}.start").alias(f"{prefix}_start"),
        F.col(f"{name}.end").alias(f"{prefix}_end"),
    ]


def _generic_window_agg(
    df, ts_col, key_cols, aggs, watermark, name, window_duration=None,
    **window,
) -> DataFrame:
    """``aggs`` per (window, ``key_cols``), flattened to
    ``({name}_start, {name}_end, *key_cols, *agg columns)`` — the
    body of the three generic window aggregations below."""
    out = _window_keyed(
        df.withColumn("_event_time", ts_col), window_duration, watermark,
        *key_cols, name=name, **window,
    ).agg(*aggs)
    agg_cols = [c for c in out.columns if c != name and c not in key_cols]
    return out.select(*_window_bounds(name, name), *key_cols, *agg_cols)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: Column,
    key_cols: list[str],
    aggs: list[Column],
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling event-time window aggregation. On a stream, pass a
    ``watermark`` (e.g. ``'2 hours'``) to bound state for late data; on
    batch the same plan just runs as a groupBy."""
    return _generic_window_agg(
        df, ts_col, key_cols, aggs, watermark, "window", window_duration
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: Column,
    key_cols: list[str],
    aggs: list[Column],
    window_duration: str = "1 hour",
    slide_duration: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Sliding (overlapping) event-time windows — each event lands in
    ``window/slide`` windows; ``F.window`` expands them generator-side
    so the shuffle carries (window, key) rows, never a per-event
    cross join against a window table. Same batch/streaming polymorphism
    as :func:`tumbling_window_agg`."""
    return _generic_window_agg(
        df, ts_col, key_cols, aggs, watermark, "window", window_duration,
        slide_duration=slide_duration,
    )


def session_window_agg(
    df: DataFrame,
    ts_col: Column,
    key_cols: list[str],
    aggs: list[Column],
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Gap-based session windows (``F.session_window``) — the streaming
    path for sessionization; state is bounded by the watermark."""
    return _generic_window_agg(
        df, ts_col, key_cols, aggs, watermark, "session", session_gap=gap
    )


def sessionize_batch(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    gap: int,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Batch sessionization via lag + running sum (the SQL-expressible
    twin of :func:`session_window_agg`, used for oracle checks):
    a new session starts where the gap to the previous event exceeds
    ``gap`` (in the units of ``ts_col``). The window is partitioned by
    key — one shuffle on the session key; scales with per-key event
    counts. ``tiebreak_cols`` make ordering total under equal
    timestamps."""
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(F.col(ts_col)).over(w)
    new_session = F.when(
        prev.isNull() | (F.col(ts_col) - prev > gap), 1
    ).otherwise(0)
    with_idx = df.withColumn("_new", new_session).withColumn(
        "session_idx", F.sum("_new").over(w)
    )
    return (
        with_idx.groupBy(*key_cols, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .withColumn(
            "duration", F.col("session_end") - F.col("session_start")
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_time: Column,
    right_time: Column,
    lower: str = "0 seconds",
    upper: str = "1 hour",
    watermark: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch) interval join: rows pair when their
    keys match AND ``right_time ∈ [left_time + lower, left_time +
    upper]``.

    This is THE canonical Structured Streaming join shape: with
    watermarks on both sides and a bounded time range, each side's
    join state is purgeable once the watermark passes ``upper`` — the
    requirement for unbounded streams (an unconstrained stream-stream
    join would keep every row forever). On batch frames the identical
    plan runs as an ordinary range-predicated equi join (the equi keys
    drive the shuffle; the time range is a post-join filter — never a
    cross join).

    ``left_time``/``right_time`` become ``_lt``/``_rt`` TIMESTAMP
    columns in the output (callers may drop them); input column names
    must not collide across sides apart from ``key_cols``.
    """
    l_staged = left.withColumn("_lt", left_time)
    r_staged = right.withColumn("_rt", right_time)
    if watermark:
        if l_staged.isStreaming:
            l_staged = l_staged.withWatermark("_lt", watermark)
        if r_staged.isStreaming:
            r_staged = r_staged.withWatermark("_rt", watermark)
    cond = (
        (F.col("_rt") >= F.col("_lt") + F.expr(f"INTERVAL {lower}"))
        & (F.col("_rt") <= F.col("_lt") + F.expr(f"INTERVAL {upper}"))
    )
    for k in key_cols:
        cond = (l_staged[k] == r_staged[k]) & cond
    out = l_staged.join(r_staged, on=cond, how=how)
    # de-duplicate the key columns (present on both sides)
    keep = [l_staged[k].alias(k) for k in key_cols]
    keep += [
        l_staged[c]
        for c in left.columns
        if c not in key_cols
    ]
    keep += [
        r_staged[c]
        for c in right.columns
        if c not in key_cols
    ]
    keep += [F.col("_lt"), F.col("_rt")]
    return out.select(*keep)


def dedup_stream(
    df: DataFrame,
    key_cols: list[str],
    event_time: Column | None = None,
    watermark: str = "2 hours",
    time_col_name: str = "_event_time",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Streaming exact deduplication on ``key_cols`` — the streaming
    twin of ``extensions.dedup.exact_dedup`` for append-only corpora
    (the first arrival of each key survives).

    With ``event_time`` given, uses ``dropDuplicatesWithinWatermark``:
    the dedup state for a key is dropped once the watermark passes it,
    so state size is bounded by the watermark horizon instead of
    growing forever — the only sane contract at 100 TB/day ingest
    (exactly-once within the late-data window, at-least-once beyond
    it). Without ``event_time``, plain ``dropDuplicates`` keeps state
    forever (bounded-key domains only, e.g. dimension upserts).

    Works on batch DataFrames too (same plan shape, batch semantics):
    the batch twin keeps the row with the MINIMUM event time per key
    (ties broken by ``tiebreak_col`` when given, else all minimum-time
    rows survive), so non-key payload columns also match the streaming
    first-arrival row whenever arrival order follows event time — the
    append-only-log case this operator targets. Rows with a NULL event
    time are dropped by the batch twin (a NULL watermark column is
    likewise discarded by the streaming path).
    """
    if event_time is None:
        return df.dropDuplicates(key_cols)
    staged = df.withColumn(time_col_name, event_time)
    if staged.isStreaming:
        # the watermark column must exist when the dedup runs; dropping
        # it afterwards is a plain projection and restores the input
        # schema
        return (
            staged.withWatermark(time_col_name, watermark)
            .dropDuplicatesWithinWatermark(key_cols)
            .drop(time_col_name)
        )
    # batch twin: first arrival == minimum event time per key — an
    # agg + semi-join (exact_dedup), never a window sort of the corpus
    from padua_spark.extensions.dedup import exact_dedup

    return exact_dedup(
        staged, key_cols, time_col_name, id_col=tiebreak_col
    ).drop(time_col_name)


def windowed_value_histogram(
    df: DataFrame,
    ts_col: Column,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window histogram of a value column over explicit
    equal-width ``[lo, hi]`` bins (out-of-range clamps to edge bins,
    NULLs excluded) — ONE stateful aggregation, so it runs unchanged
    on a stream (watermark bounds state) or a batch frame. This is the
    streaming front half of the PSI drift monitor: emit windowed bin
    counts continuously, finalize PSI against a broadcast reference
    with :func:`padua_spark.extensions.quality.psi_vs_reference`
    (e.g. inside foreachBatch).

    Output: ``(window_start, window_end, bin, n)``.
    """
    v = F.col(value_col).cast("double")
    width = (hi - lo) / n_bins
    bin_idx = F.greatest(
        F.lit(0),
        F.least(
            F.lit(n_bins - 1),
            F.floor((v - F.lit(lo)) / F.lit(width)).cast("int"),
        ),
    )
    withts = df.where(v.isNotNull()).withColumn("_event_time", ts_col)
    out = _window_keyed(
        withts, window_duration, watermark, bin_idx.alias("bin"),
        name="window",
    ).agg(F.count(F.lit(1)).alias("n"))
    return out.select(
        *_window_bounds("window"),
        "bin",
        "n",
    )


def windowed_cms_sketch(
    df: DataFrame,
    ts_col: Column,
    key_col: Column,
    depth: int = 4,
    width: int = 512,
    window_duration: str = "1 day",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window count-min sketch of a key column — the
    streaming face of :func:`padua_spark.extensions.sketches.
    cms_token_sketch`: ONE stateful aggregation
    (``groupBy(window, j, bucket)``), so it runs unchanged on a
    stream (watermark bounds state) or a batch frame, and the state
    per window is CAPPED at depth·width rows regardless of key
    cardinality — the property that makes continuous top-k/frequency
    monitoring viable when the key domain is unbounded (user ids,
    tokens, URLs).

    Keys are hashed with the package's deterministic char-polynomial
    + affine family (same grid on any engine → estimates are
    hash-checkable). NULL keys are excluded.

    Output: ``(window_start, window_end, j, bucket, cnt)``. Point
    estimates per window: join candidate keys on (j, bucket) and take
    ``min(cnt)`` over the depth lines, as
    :func:`padua_spark.extensions.sketches.cms_estimate` does.
    """
    from padua_spark.extensions.dedup import MOD, _affine_constants
    from padua_spark.extensions.sketches import _char_poly

    withts = df.where(key_col.isNotNull()).withColumn(
        "_event_time", ts_col
    )
    # stage the char hash once; fan out to the depth affine lines
    hashed = withts.select(
        "_event_time", _char_poly(key_col).alias("_kh")
    )
    lines = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    (F.col("_kh") * F.lit(a) + F.lit(b)) % F.lit(MOD)
                    % F.lit(width)
                ).alias("bucket"),
            )
            for j, (a, b) in enumerate(_affine_constants(depth))
        ]
    )
    fanned = hashed.select(
        "_event_time", F.explode(lines).alias("_l")
    ).select(
        "_event_time",
        F.col("_l.j").alias("j"),
        F.col("_l.bucket").alias("bucket"),
    )
    agg = _window_keyed(
        fanned, window_duration, watermark, "j", "bucket"
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return agg.select(
        *_window_bounds(),
        "j",
        "bucket",
        "cnt",
    )


def windowed_ddsketch(
    df: DataFrame,
    ts_col: Column,
    value_col: Column,
    relative_accuracy: float = 0.01,
    window_duration: str = "1 day",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window DDSketch bucket counts — the streaming face
    of :func:`padua_spark.extensions.sketches.ddsketch_counts`
    ("continuous p99 of event value, per day, forever"): ONE stateful
    aggregation ``groupBy(window, bucket)``, so it runs unchanged on
    a stream (watermark bounds state) or a batch frame, and per-window
    state is CAPPED at the bucket-domain size (log_γ of the value
    range — ~2900 rows for α=1% across 12 decades) regardless of how
    many events the window absorbs.

    Same bucket law as the batch sketch (``k = ceil(ln x / ln γ)``,
    zero/negatives in the reserved NULL bucket), so windows finalize
    with the SAME :func:`~padua_spark.extensions.sketches.
    ddsketch_quantiles` (group by ``window_start``) and late shards
    merge by adding counts. Output: ``(window_start, window_end,
    bucket, n)``.
    """
    import math

    alpha = float(relative_accuracy)
    if not 0 < alpha < 1:
        raise ValueError("relative_accuracy must be in (0, 1)")
    gamma = (1.0 + alpha) / (1.0 - alpha)
    v = value_col.cast("double")
    withts = df.where(v.isNotNull()).select(
        ts_col.alias("_event_time"), v.alias("_v")
    )
    bucket = F.when(
        F.col("_v") > 0,
        F.ceil(
            F.log(F.col("_v")) / F.lit(math.log(gamma))
        ).cast("bigint"),
    )
    agg = _window_keyed(
        withts, window_duration, watermark, bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return agg.select(
        *_window_bounds(),
        "bucket",
        "n",
    )


def windowed_token_counts(
    df: DataFrame,
    ts_col: Column,
    text_col: str,
    window_duration: str = "1 hour",
    watermark: str | None = None,
    lowercase: bool = True,
) -> DataFrame:
    """Per-tumbling-window token counts of a text column — the
    streaming front half of the JS/Hellinger drift monitor (the
    windowed face of :func:`padua_spark.extensions.text.
    token_distribution_divergences`'s tokenize pass): ONE stateful
    aggregation ``groupBy(window, token)``, so it runs unchanged on a
    stream (watermark bounds state) or a batch frame. Finalize per
    micro-batch with :func:`js_hellinger_vs_reference` against a
    broadcast reference distribution.

    Per-window state = that window's VOCABULARY (distinct tokens),
    not its token volume — bounded by Heaps' law growth, the same
    state contract as the CMS/DDSketch windows but data-dependent;
    cap it upstream by pre-hashing tokens into a fixed-width space if
    the corpus is adversarial. The token array is STAGED as a column
    before the explode (interpreted higher-order exprs do no CSE).

    Output: ``(window_start, window_end, token, n)``.
    """
    from padua_spark.extensions.text import tokens

    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    withts = df.where(t.isNotNull()).select(
        ts_col.alias("_event_time"), toks.alias("_toks")
    )
    exploded = withts.select(
        "_event_time", F.explode("_toks").alias("token")
    ).where(F.col("token") != "")
    out = _window_keyed(exploded, window_duration, watermark, "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return out.select(
        *_window_bounds(),
        "token",
        "n",
    )


def js_hellinger_vs_reference(
    counts: DataFrame,
    ref: DataFrame,
    top_n: int = 100,
    window_cols: list[str] | None = None,
) -> DataFrame:
    """Finalize per-window Jensen-Shannon divergence and Hellinger
    distance from windowed token ``counts(…, token, n)`` against a
    reference token-count table ``ref(token, ref_n)`` — the batch
    tail of the streaming drift monitor
    (:func:`windowed_token_counts` emits the counts; this runs per
    micro-batch or offline), the bounded-metric companion to
    :func:`padua_spark.extensions.quality.psi_vs_reference`.

    Same distribution semantics as the batch
    :func:`~padua_spark.extensions.text.
    token_distribution_divergences`: the support is the reference's
    deterministic ``top_n`` tokens (by ``ref_n`` desc, ties by token
    text) PLUS an explicit ``other`` bucket holding each side's
    residual tail mass, so p (window) and q (reference) are true
    distributions and both metrics treat tail mass identically;
    absent tokens keep their exact q-side mass via the windows ×
    top_n support grid (two broadcast-sized frames).

    ``counts`` is consumed TWICE here (window totals + the token
    join); if it is the lazy output of an expensive upstream (and
    especially if ``ref`` derives from the same frame), ``persist()``
    it first — Spark does not reuse the exchanges across branches.

    Output: ``(*window_cols, n_tokens, js_divergence, hellinger)``,
    6dp.
    """
    window_cols = window_cols or ["window_start"]
    top = ref.orderBy(
        F.col("ref_n").desc(), F.col("token").asc()
    ).limit(int(top_n))
    rt = ref.agg(F.sum("ref_n").alias("_rt")).collect()[0]["_rt"]
    rt = float(rt or 0)
    wt = counts.groupBy(*window_cols).agg(
        F.sum("n").cast("bigint").alias("n_tokens")
    )
    full = wt.crossJoin(F.broadcast(top)).join(
        counts.select(*window_cols, "token", "n"),
        on=[*window_cols, "token"],
        how="left",
    )
    nn = F.coalesce(F.col("n"), F.lit(0))
    p = nn.cast("double") / F.col("n_tokens").cast("double")
    q = F.col("ref_n").cast("double") / F.lit(rt)
    m = (p + q) / 2.0
    js_term = (
        F.when(nn > 0, 0.5 * p * F.log(p / m)).otherwise(0.0)
        + 0.5 * q * F.log(q / m)
    )
    sums = full.groupBy(*window_cols, "n_tokens").agg(
        F.sum(js_term).alias("_js_sup"),
        F.sum(F.sqrt(p * q)).alias("_bc_sup"),
        F.sum(p).alias("_p_sup"),
        F.sum(q).alias("_q_sup"),
    )
    p_o = F.greatest(F.lit(0.0), 1.0 - F.col("_p_sup"))
    q_o = F.greatest(F.lit(0.0), 1.0 - F.col("_q_sup"))
    m_o = (p_o + q_o) / 2.0
    js_o = (
        F.when(p_o > 0, 0.5 * p_o * F.log(p_o / m_o)).otherwise(0.0)
        + F.when(q_o > 0, 0.5 * q_o * F.log(q_o / m_o)).otherwise(
            0.0
        )
    )
    return sums.select(
        *window_cols,
        "n_tokens",
        F.round(F.col("_js_sup") + js_o, 6).alias("js_divergence"),
        F.round(
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    1.0 - (F.col("_bc_sup") + F.sqrt(p_o * q_o)),
                )
            ),
            6,
        ).alias("hellinger"),
    )


def windowed_confusion(
    df: DataFrame,
    ts_col: Column,
    pred_col: Column,
    label_col: Column,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window binary confusion battery — the streaming
    face of :func:`padua_spark.extensions.quality.confusion_stats`
    ("is the filter's precision drifting, per hour, per source?"):
    ONE stateful aggregation to four exact integers per (window,
    group) — O(1) state per key — then the shared closed-form
    finalizer, so it runs unchanged on a stream (watermark bounds
    state) or a batch frame and late shards merge by adding counts.

    Output: ``(window_start, window_end, *group_cols, tp, fp, fn,
    tn, accuracy, precision, recall, f1, mcc)``, 6dp, ratio metrics
    NULL where their denominator is 0.
    """
    from padua_spark.extensions.quality import (
        confusion_count_aggs,
        confusion_metrics_from_counts,
    )

    group_cols = group_cols or []
    p = pred_col.cast("int")
    y = label_col.cast("int")
    withts = df.where(p.isNotNull() & y.isNotNull()).select(
        ts_col.alias("_event_time"),
        *group_cols,
        p.alias("_p"),
        y.alias("_y"),
    )
    agg = _window_keyed(
        withts, window_duration, watermark, *group_cols
    ).agg(*confusion_count_aggs(F.col("_p"), F.col("_y")))
    flat = agg.select(
        *_window_bounds(),
        *group_cols,
        "tp", "fp", "fn", "tn",
    )
    return confusion_metrics_from_counts(
        flat, ["window_start", "window_end", *group_cols]
    )


def windowed_ece(
    df: DataFrame,
    ts_col: Column,
    prob_col: Column,
    label_col: Column,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
    n_bins: int = 10,
) -> DataFrame:
    """Per-tumbling-window expected / maximum calibration error — the
    streaming face of :func:`padua_spark.extensions.features.
    ece_calibration` ("is the classifier drifting out of calibration,
    per hour, per segment?").

    Scale/streaming shape: the equal-width forecast bins are
    COMPILE-TIME constants, so each bin's ``(n_k, Σp_k, Σy_k)`` is a
    conditional-sum column in ONE stateful aggregation — 3·n_bins
    bounded partials per (window, group) key, no second aggregation
    and no window function (streams allow exactly one stateful agg in
    this shape); ECE/MCE assemble from the partial columns as plain
    expressions, with ECE in its division-free numerator form
    ``ECE = Σ_k |Σp_k − Σy_k| / N`` (algebraically identical to
    ``Σ (n_k/N)·|p̄_k − ȳ_k|`` but ONE final division — no per-bin
    divide-then-multiply round-trip) and ``MCE = max_k |p̄_k − ȳ_k|``.
    Late shards merge by adding counts; a watermark bounds state.
    Runs unchanged on a batch frame and matches the batch operator's
    summary pair (same bin law ``min(n_bins−1, floor(p·n_bins))``,
    rows with p outside [0, 1] or NULL dropped). Rounding is the
    portable HALF_UP ``floor(x·1e6 + 0.5)/1e6`` so monitoring
    pipelines diffing against another engine's replica of this
    formula never flap on exact 6dp midpoints.

    Output: ``(window_start, window_end, *group_cols, n, ece, mce)``,
    6dp; ece/mce NULL for empty windows (cannot occur — a window row
    exists only with data).
    """
    group_cols = group_cols or []
    k = int(n_bins)
    p = prob_col.cast("double")
    y = label_col.cast("int").cast("double")
    withts = df.where(
        p.isNotNull() & y.isNotNull() & (p >= 0) & (p <= 1)
    ).select(
        ts_col.alias("_event_time"),
        *group_cols,
        p.alias("_p"),
        y.alias("_y"),
    )
    agg = _binned_window_agg(
        withts, "_p", k, window_duration, watermark, group_cols,
        _bin_count("_n"), _bin_sum("_sp", "_p"), _bin_sum("_sy", "_y"),
    )
    n_tot = _expr_sum_chain("_n{i}", k)
    gap_sql = [
        f"CASE WHEN _n{i} > 0 THEN abs(_sp{i} - _sy{i}) "
        f"/ CAST(_n{i} AS DOUBLE) END"
        for i in range(k)
    ]
    ece_num = _expr_sum_chain("abs(_sp{i} - _sy{i})", k)
    ece = F.when(n_tot > 0, ece_num / n_tot.cast("double"))
    mce = (
        F.expr("greatest(" + ",".join(gap_sql) + ")")
        if k > 1
        else F.expr(gap_sql[0])
    )

    def _r6(c):
        return (
            F.floor(c * F.lit(1e6) + F.lit(0.5)).cast("double")
            / F.lit(1e6)
        )

    return agg.select(
        *_window_bounds(),
        *group_cols,
        n_tot.alias("n"),
        _r6(ece).alias("ece"),
        _r6(mce).alias("mce"),
    )


def windowed_binned_auc(
    df: DataFrame,
    ts_col: Column,
    score_col: Column,
    label_col: Column,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
    n_bins: int = 64,
) -> DataFrame:
    """Per-tumbling-window BINNED ROC-AUC — streaming AUC monitoring
    ("is ranking quality decaying, per hour, per segment?") with the
    standard fixed-quantization contract: scores in [0, 1] are
    bucketed into ``n_bins`` equal-width bins and the AUC is the
    EXACT midrank (tie-aware) AUC of the quantized scores,

    ``AUC = Σ_k pos_k·(neg_below_k + neg_k/2) / (P·N)``

    — within 1/n_bins of the unquantized AUC, and exactly equal when
    distinct scores don't straddle bin edges. The exact batch
    counterpart is ``extensions.features.group_auc``; this is the
    bounded-state face: one stateful aggregation to 2·n_bins count
    partials per (window, group) key (:func:`_scored_bin_counts`; no
    rank/sort — unstreamable),
    the cumulative-negatives fold over the n_bins-element array is a
    per-ROW expression. Late shards merge by adding counts.

    Output: ``(window_start, window_end, *group_cols, n_pos, n_neg,
    auc)``, 6dp; auc NULL when either class is absent.
    """
    group_cols = group_cols or []
    k = int(n_bins)
    agg = _scored_bin_counts(
        df, ts_col, score_col, label_col, group_cols, window_duration,
        watermark, k,
    )
    # fold the per-bin counts low→high carrying (neg_below, num):
    # num += pos_k·(neg_below + neg_k/2); neg_below += neg_k.
    acc0 = F.struct(
        F.lit(0.0).alias("nb"), F.lit(0.0).alias("num")
    )
    folded = F.aggregate(
        _pos_neg_cells(range(k)),
        acc0,
        lambda a, c: F.struct(
            (a["nb"] + c["g"].cast("double")).alias("nb"),
            (
                a["num"]
                + c["p"].cast("double")
                * (a["nb"] + c["g"].cast("double") / 2.0)
            ).alias("num"),
        ),
    )
    auc = F.when(
        (F.col("_np") > 0) & (F.col("_ng") > 0),
        F.col("_acc.num")
        / (
            F.col("_np").cast("double") * F.col("_ng").cast("double")
        ),
    )
    return _pos_neg_summary(
        agg, folded, k, group_cols, F.round(auc, 6).alias("auc")
    )


def windowed_average_precision(
    df: DataFrame,
    ts_col: Column,
    score_col: Column,
    label_col: Column,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
    n_bins: int = 64,
) -> DataFrame:
    """Per-tumbling-window BINNED average precision — streaming AP
    monitoring (the precision-recall twin of
    :func:`windowed_binned_auc`; AP is the metric that moves when the
    POSITIVE class is rare, where AUC barely flinches). Scores in
    [0, 1] are bucketed into ``n_bins`` equal-width bins and AP is
    the exact step-interpolated average precision of the QUANTIZED
    scores — the sklearn convention ``Σ (R_k − R_{k−1})·P_k`` over
    descending score thresholds, with a whole bin admitted per step
    (ties share their bin's cumulative precision):

    ``AP = Σ_k pos_k · (TP_k / (TP_k + FP_k)) / P`` scanning bins
    high→low with cumulative TP/FP INCLUDING bin k.

    The exact batch counterpart is
    ``extensions.features.average_precision`` (stepped, rank-exact);
    this is the bounded-state face: one stateful aggregation to
    2·n_bins count partials per (window, group) key
    (:func:`_scored_bin_counts`) — no rank/sort,
    so it runs unchanged on a stream; late shards merge by adding
    counts. The high→low fold over the n_bins-element array is a
    per-ROW expression (O(n_bins) per window·group, not per event).

    Output: ``(window_start, window_end, *group_cols, n_pos, n_neg,
    average_precision)``, 6dp; NULL when no positives.
    """
    group_cols = group_cols or []
    k = int(n_bins)
    agg = _scored_bin_counts(
        df, ts_col, score_col, label_col, group_cols, window_duration,
        watermark, k,
    )
    # fold the per-bin counts HIGH→LOW carrying (tp, fp, num):
    # tp += pos_k; fp += neg_k; num += pos_k·tp/(tp+fp)
    acc0 = F.struct(
        F.lit(0.0).alias("tp"),
        F.lit(0.0).alias("fp"),
        F.lit(0.0).alias("num"),
    )
    folded = F.aggregate(
        _pos_neg_cells(range(k - 1, -1, -1)),
        acc0,
        lambda a, c: F.struct(
            (a["tp"] + c["p"].cast("double")).alias("tp"),
            (a["fp"] + c["g"].cast("double")).alias("fp"),
            (
                a["num"]
                + F.when(
                    c["p"] > 0,
                    c["p"].cast("double")
                    * (a["tp"] + c["p"].cast("double"))
                    / (
                        a["tp"] + c["p"].cast("double")
                        + a["fp"] + c["g"].cast("double")
                    ),
                ).otherwise(F.lit(0.0))
            ).alias("num"),
        ),
    )
    ap = F.when(
        F.col("_np") > 0,
        F.col("_acc.num") / F.col("_np").cast("double"),
    )
    return _pos_neg_summary(
        agg, folded, k, group_cols,
        F.round(ap, 6).alias("average_precision"),
    )


def windowed_quality_screen(
    df: DataFrame,
    ts_col: Column,
    text_col: str,
    window_duration: str = "1 hour",
    watermark: str | None = None,
    **rule_kwargs,
) -> DataFrame:
    """Per-tumbling-window Gopher-rule pass/fail counts — the
    streaming face of :func:`padua_spark.extensions.quality.
    gopher_rules` ("did this hour's crawl batch suddenly go low
    quality, and WHICH rule is tripping?"):

    the per-document rule battery is pure scan-level projection (one
    tokenization per row — the batch operator verbatim), so the only
    stateful piece is ONE aggregation to nine exact integers per
    window (n_docs, n_pass, one fail counter per rule) — O(1) state
    per window, mergeable across late shards by adding counts; runs
    unchanged on a stream (watermark bounds state) or a batch frame.
    ``rule_kwargs`` pass through to ``gopher_rules`` (thresholds,
    stopword list).

    Output per window: ``(window_start, window_end, n_docs, n_pass,
    pass_rate, fail_word_count, fail_mean_word_len,
    fail_symbol_ratio, fail_bullet, fail_ellipsis, fail_alpha,
    fail_stopwords)``, pass_rate 6dp.
    """
    from padua_spark.extensions.quality import gopher_rules

    withts = df.where(F.col(text_col).isNotNull()).select(
        ts_col.alias("_event_time"), text_col
    )
    flagged = gopher_rules(withts, text_col, **rule_kwargs)
    rule_names = [
        "rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
        "rule_bullet", "rule_ellipsis", "rule_alpha",
        "rule_stopwords",
    ]
    fail_aggs = [
        F.sum(
            (~F.coalesce(F.col(r), F.lit(False))).cast("int")
        ).cast("bigint").alias(r.replace("rule_", "fail_"))
        for r in rule_names
    ]
    agg = _window_keyed(flagged, window_duration, watermark).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("quality_pass").cast("int")).cast("bigint")
        .alias("n_pass"),
        *fail_aggs,
    )
    return agg.select(
        *_window_bounds(),
        "n_docs", "n_pass",
        F.round(
            F.col("n_pass").cast("double")
            / F.col("n_docs").cast("double"),
            6,
        ).alias("pass_rate"),
        *[r.replace("rule_", "fail_") for r in rule_names],
    )


def windowed_novelty(
    df: DataFrame,
    ts_col: Column,
    text_col: str,
    ref_df: DataFrame,
    n_tokens: int = 13,
    window_duration: str = "1 hour",
    watermark: str | None = None,
    broadcast_ref: bool = True,
) -> DataFrame:
    """Per-tumbling-window n-gram novelty against a STATIC reference
    corpus — the streaming face of
    :func:`padua_spark.extensions.dedup.ngram_novelty` ("is this
    hour's crawl new material, or a rehash of the existing corpus?"):

    each document's distinct token-hash windows are computed
    scan-side (``array_distinct`` in-row — the per-doc dedup needs no
    state), exploded, and LEFT-joined against the distinct reference
    window set — a STREAM-STATIC join, stateless by construction —
    then ONE stateful aggregation to two exact integers per window
    (doc-gram pairs seen / novel). O(1) state per window; late shards
    merge by adding counts. Documents shorter than ``n_tokens`` emit
    nothing (the strict :func:`~padua_spark.extensions.dedup.
    decontaminate_ngrams` convention).

    Output per window: ``(window_start, window_end, n_ngrams,
    n_novel, novelty_rate)``, rate 6dp.
    """
    from padua_spark.extensions.dedup import (
        _shingles_from_token_hashes,
        token_hashes,
    )

    withts = df.where(F.col(text_col).isNotNull()).select(
        ts_col.alias("_event_time"),
        token_hashes(F.col(text_col)).alias("_th"),
    ).where(F.size("_th") >= n_tokens).select(
        "_event_time",
        F.array_distinct(
            _shingles_from_token_hashes(F.col("_th"), n_tokens)
        ).alias("_grams"),
    )
    exploded = withts.select(
        "_event_time", F.explode("_grams").alias("_sh")
    )
    ref = (
        ref_df.where(F.col(text_col).isNotNull())
        .select(token_hashes(F.col(text_col)).alias("_th"))
        .where(F.size("_th") >= n_tokens)
        .select(
            F.explode(
                F.array_distinct(
                    _shingles_from_token_hashes(
                        F.col("_th"), n_tokens
                    )
                )
            ).alias("_sh")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_ref:
        ref = F.broadcast(ref)
    joined = exploded.join(ref, on="_sh", how="left")
    agg = _window_keyed(joined, window_duration, watermark).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
        F.sum(F.col("_hit").isNull().cast("int")).cast("bigint")
        .alias("n_novel"),
    )
    return agg.select(
        *_window_bounds(),
        "n_ngrams", "n_novel",
        F.round(
            F.col("n_novel").cast("double")
            / F.col("n_ngrams").cast("double"),
            6,
        ).alias("novelty_rate"),
    )


def windowed_circular_stats(
    df: DataFrame,
    ts_col: Column,
    angle_col: Column,
    window_duration: str = "1 day",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window circular statistics + Rayleigh test — the
    streaming face of :func:`padua_spark.operators.temporal.
    rayleigh_uniformity` ("did today's traffic lose its usual peak
    hour?"): ONE stateful aggregation to three exact quantities per
    window (n, Σcosθ, Σsinθ) — O(1) state, late shards merge by
    adding sums — then Zar's closed-form finalizer (mean direction,
    resultant length, circular variance, Rayleigh z, finite-n p):
    the batch operator's own ``temporal._rayleigh_sums`` and
    ``temporal._rayleigh_summary`` under the window key.

    Output per window: ``(window_start, window_end, n,
    mean_direction, r_bar, circ_variance, rayleigh_z, p_value)``,
    6dp.
    """
    from padua_spark.operators.temporal import (
        _rayleigh_sums,
        _rayleigh_summary,
    )

    withts = df.select(
        ts_col.alias("_event_time"),
        angle_col.cast("double").alias("_th"),
    ).where(F.col("_th").isNotNull())
    agg = _window_keyed(withts, window_duration, watermark).agg(
        *_rayleigh_sums(F.col("_th"))
    )
    return agg.select(*_window_bounds(), *_rayleigh_summary())


def windowed_pinball_loss(
    df: DataFrame,
    ts_col: Column,
    actual_col: Column,
    forecast_cols: dict[float, Column],
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window pinball loss + coverage per declared
    quantile — streaming quantile-forecast monitoring (the bounded-
    state face of :func:`~padua_spark.operators.temporal.
    pinball_loss`: "is the P90 forecast still covering 90%, per
    hour?"). ``forecast_cols`` maps level → forecast Column
    (compile-time bounded).

    ONE stateful aggregation computes every level's loss sums,
    coverage counts and per-level row counts per (window, group) key
    — 3·k bounded partials, late shards merge by adding. The
    per-level output rows come from a compile-time k-branch union
    over the aggregated frame (bounded: windows × groups rows). Both
    halves are the batch operator's ``temporal._pinball_aggs`` and
    ``temporal._pinball_rows`` under the window key.
    Rows where the actual or that level's forecast is NULL are
    excluded per level. Output per (window, group, level):
    ``(window_start, window_end, groups..., quantile, n, pinball,
    coverage)``, 6dp.
    """
    from padua_spark.operators.temporal import _pinball_aggs, _pinball_rows

    group_cols = group_cols or []
    a = actual_col.cast("double")
    levels = sorted(forecast_cols.items())
    sel = [ts_col.alias("_event_time"), *group_cols, a.alias("_a")]
    for i, (_q, col) in enumerate(levels):
        sel.append(col.cast("double").alias(f"_f{i}"))
    withts = df.select(*sel)
    agg = _window_keyed(
        withts, window_duration, watermark, *group_cols
    ).agg(
        *_pinball_aggs(
            F.col("_a"),
            [(q, F.col(f"_f{i}")) for i, (q, _col) in enumerate(levels)],
        )
    )
    return _pinball_rows(agg, [*_window_bounds(), *group_cols], levels)


def windowed_control_check(
    df: DataFrame,
    ts_col: Column,
    value_col: Column,
    center: float,
    ucl: float,
    lcl: float,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window SPC monitor against PRE-TRAINED control
    limits — the streaming face of :func:`~padua_spark.operators.
    stats.control_chart_limits` (train the center/UCL/LCL on a
    stable batch period there, then watch production windows here;
    limits must be parameters because cross-window re-centering is a
    second aggregation level no stream can do):

    per window: n, mean, min/max, the out-of-limit counts (values
    above UCL / below LCL), and two standard Shewhart signals —
    ``mean_out`` (the window mean itself breaches a limit) and
    ``frac_out`` (share of individual values outside).

    ONE stateful aggregation, bounded per-key state, late shards
    merge by adding. Output per (window, group):
    ``(window_start, window_end, groups..., n, mean, min_value,
    max_value, n_above_ucl, n_below_lcl, frac_out, mean_out)``,
    6dp.
    """
    group_cols = group_cols or []
    v = value_col.cast("double")
    withts = df.where(v.isNotNull()).select(
        ts_col.alias("_event_time"), *group_cols, v.alias("_v")
    )
    agg = _window_keyed(
        withts, window_duration, watermark, *group_cols
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_v").alias("_s"),
        F.min("_v").alias("min_value"),
        F.max("_v").alias("max_value"),
        F.sum((F.col("_v") > float(ucl)).cast("int"))
        .cast("bigint").alias("n_above_ucl"),
        F.sum((F.col("_v") < float(lcl)).cast("int"))
        .cast("bigint").alias("n_below_lcl"),
    )
    mean = F.col("_s") / F.col("n").cast("double")
    return agg.select(
        *_window_bounds(),
        *group_cols,
        "n",
        F.round(mean, 6).alias("mean"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
        "n_above_ucl", "n_below_lcl",
        F.round(
            (F.col("n_above_ucl") + F.col("n_below_lcl"))
            .cast("double") / F.col("n").cast("double"),
            6,
        ).alias("frac_out"),
        ((mean > float(ucl)) | (mean < float(lcl)))
        .alias("mean_out"),
    )


def windowed_fairness_check(
    df: DataFrame,
    ts_col: Column,
    group_col: Column,
    groups: list,
    label_col: Column,
    pred_col: Column,
    reference_group,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window group-fairness monitor — the streaming
    face of :func:`~padua_spark.extensions.features.fairness_report`
    ("is the disparity stable in production, per hour?"). The
    protected ``groups`` are DECLARED (compile-time bounded), so each
    group's confusion counts become conditional-sum columns in ONE
    stateful aggregation per window — no second aggregation level,
    no join, streamable with bounded state; late shards merge by
    adding counts.

    Output one row per (window, group): ``(window_start, window_end,
    group, n, ppr, tpr, fpr, dp_gap, tpr_gap, fpr_gap)`` — gaps vs
    ``reference_group`` computed per ROW from the same aggregated
    record (every group's counts live on the one window row before
    the k-branch pivot union). Rates NULL where a denominator is 0,
    and gaps NULL when either side is NULL.
    """
    from functools import reduce

    if reference_group not in groups:
        raise ValueError(
            "windowed_fairness_check: reference_group must be in "
            "groups"
        )
    g = group_col
    y = label_col.cast("int")
    p = pred_col.cast("int")
    withts = df.where(
        g.isNotNull() & y.isNotNull() & p.isNotNull()
        & g.isin(list(groups))
    ).select(
        ts_col.alias("_event_time"),
        g.alias("_g"),
        y.alias("_y"),
        p.alias("_p"),
    )
    aggs = []
    for i, gv in enumerate(groups):
        hit = F.col("_g") == F.lit(gv)
        aggs += [
            F.sum(hit.cast("int")).cast("bigint").alias(f"_n{i}"),
            F.sum(F.when(hit, F.col("_y")).otherwise(0))
            .cast("bigint").alias(f"_pos{i}"),
            F.sum(F.when(hit, F.col("_p")).otherwise(0))
            .cast("bigint").alias(f"_pp{i}"),
            F.sum(F.when(hit, F.col("_y") * F.col("_p")).otherwise(0))
            .cast("bigint").alias(f"_tp{i}"),
            F.sum(
                F.when(hit, (1 - F.col("_y")) * F.col("_p"))
                .otherwise(0)
            ).cast("bigint").alias(f"_fp{i}"),
        ]
    agg = _window_keyed(withts, window_duration, watermark).agg(*aggs)
    ri = list(groups).index(reference_group)

    def _rates(i):
        n = F.col(f"_n{i}").cast("double")
        pos = F.col(f"_pos{i}").cast("double")
        neg = n - pos
        ppr = F.when(n > 0, F.col(f"_pp{i}").cast("double") / n)
        tpr = F.when(pos > 0, F.col(f"_tp{i}").cast("double") / pos)
        fpr = F.when(neg > 0, F.col(f"_fp{i}").cast("double") / neg)
        return ppr, tpr, fpr

    rppr, rtpr, rfpr = _rates(ri)
    branches = []
    for i, gv in enumerate(groups):
        ppr, tpr, fpr = _rates(i)
        branches.append(
            agg.select(
                *_window_bounds(),
                F.lit(gv).alias("group"),
                F.col(f"_n{i}").alias("n"),
                F.round(ppr, 6).alias("ppr"),
                F.round(tpr, 6).alias("tpr"),
                F.round(fpr, 6).alias("fpr"),
                F.round(ppr - rppr, 6).alias("dp_gap"),
                F.round(tpr - rtpr, 6).alias("tpr_gap"),
                F.round(fpr - rfpr, 6).alias("fpr_gap"),
            )
        )
    return reduce(lambda a, b: a.unionAll(b), branches)


def windowed_gains_table(
    df: DataFrame,
    ts_col: Column,
    score_col: Column,
    label_col: Column,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
    n_bins: int = 64,
    n_buckets: int = 10,
) -> DataFrame:
    """Per-tumbling-window BINNED gains/lift table — streaming decile
    capture monitoring ("if we act on this hour's top 10% by score,
    what fraction of the hour's positives do we get?"), the last
    monitoring-shaped batch operator's streaming twin (the batch
    counterpart is ``extensions.features.gains_table``; exact
    ``group_auc`` stays documented as binned-only-in-streaming).

    Exact quantile buckets need a rank/sort — unstreamable — so this
    is the fixed-quantization contract of :func:`_scored_bin_counts`
    (shared with :func:`windowed_binned_auc`): scores in [0, 1]
    quantize into ``n_bins`` equal-width bins held as 2·n_bins bounded
    count partials per (window, group) key in ONE stateful
    aggregation (late shards merge by adding counts), and the
    gains table is the EXACT gains table of the QUANTIZED scores under
    the batch boundary law (ascending buckets split at
    ``min{v : F(v) ≥ ⌈q·n⌉}``, boundary values take the lower bucket,
    buckets inverted so 1 = top): a bin lands in ascending bucket
    ``1 + #{q : F_prev(bin) ≥ ⌈q·n⌉}`` where F_prev is the cumulative
    count strictly below the bin — identical to the batch rule on any
    data where distinct scores don't straddle bin edges (the
    stream==batch parity fixture), within one bucket otherwise.

    The low→high fold building the ``n_buckets`` (n, pos) partials is
    a per-ROW array expression (O(n_bins·n_buckets) per window·group,
    not per event); the per-bucket rows come from ONE posexplode of
    the cumulative-enriched bucket array (a single stateless generate
    after the stateful agg — NOT the fairness-check branch union,
    whose n_buckets copies of the 2·n_bins-column aggregation made
    plan compilation the dominant cost). Output per NON-EMPTY bucket
    (1 = top scores):
    ``(window_start, window_end, *group_cols, bucket, n, n_pos,
    pos_rate, lift, cum_capture, cum_lift)``, 6dp — the batch
    ``gains_table`` columns plus the window; lift NULL when the
    window has no positives.
    """
    group_cols = group_cols or []
    k = int(n_bins)
    nb = int(n_buckets)
    agg = _scored_bin_counts(
        df, ts_col, score_col, label_col, group_cols, window_duration,
        watermark, k,
    )
    n_tot = _expr_sum_chain("(_p{i} + _g{i})", k)
    p_tot = _expr_sum_chain("_p{i}", k)
    # low→high fold: carry (F_prev, bucket partials); each bin's
    # ascending bucket is 1 + #{q : F_prev ≥ ⌈q·n⌉}, inverted so the
    # 0-based partial index is n_buckets − asc. ONE narrow projection
    # off the 2k-column agg (withColumn chains on wide frames dominate
    # the BUILD time — the windowed_binned_gini lesson).
    cells = F.expr(
        "array("
        + ",".join(
            f"struct(CAST(_p{i} + _g{i} AS DOUBLE) AS c, "
            f"CAST(_p{i} AS DOUBLE) AS p)"
            for i in range(k)
        )
        + ")"
    )
    staged = agg.select(
        "_w", *group_cols,
        n_tot.alias("_nt"), p_tot.alias("_pt"),
        cells.alias("_cells"),
    )
    nt_d = F.col("_nt").cast("double")
    acc0 = F.struct(
        F.lit(0.0).alias("fp"),
        F.array_repeat(
            F.struct(F.lit(0.0).alias("n"), F.lit(0.0).alias("p")),
            nb,
        ).alias("bs"),
    )

    def _step(a, c):
        asc = F.lit(1)
        for j in range(1, nb):
            asc = asc + (
                a["fp"] >= F.ceil(F.lit(j / nb) * nt_d).cast("double")
            ).cast("int")
        idx0 = F.lit(nb) - asc
        bs2 = F.transform(
            a["bs"],
            lambda x, i: F.when(
                i == idx0,
                F.struct(
                    (x["n"] + c["c"]).alias("n"),
                    (x["p"] + c["p"]).alias("p"),
                ),
            ).otherwise(x),
        )
        return F.struct(
            (a["fp"] + c["c"]).alias("fp"), bs2.alias("bs")
        )

    staged = staged.select(
        "_w", *group_cols, "_nt", "_pt",
        F.aggregate(F.col("_cells"), acc0, _step)["bs"].alias("_bs"),
    )
    # enrich each bucket with its running (cum_n, cum_pos) in a second
    # O(n_buckets) fold, then ONE posexplode — a stateless generate
    # after the stateful agg, fine in every streaming output mode
    eacc0 = F.struct(
        F.lit(0.0).alias("cn"),
        F.lit(0.0).alias("cp"),
        F.array().cast(
            "array<struct<n:double,p:double,cn:double,cp:double>>"
        ).alias("out"),
    )
    enriched = F.aggregate(
        F.col("_bs"),
        eacc0,
        lambda a, x: F.struct(
            (a["cn"] + x["n"]).alias("cn"),
            (a["cp"] + x["p"]).alias("cp"),
            F.concat(
                a["out"],
                F.array(
                    F.struct(
                        x["n"].alias("n"),
                        x["p"].alias("p"),
                        (a["cn"] + x["n"]).alias("cn"),
                        (a["cp"] + x["p"]).alias("cp"),
                    )
                ),
            ).alias("out"),
        ),
    )["out"]
    exploded = staged.select(
        *_window_bounds(),
        *group_cols,
        "_nt",
        "_pt",
        F.posexplode(enriched).alias("_j", "_b"),
    ).where(F.col("_b.n") > 0)
    ptd = F.col("_pt").cast("double")
    rate_all = ptd / F.col("_nt").cast("double")
    pos_rate = F.col("_b.p") / F.col("_b.n")
    return exploded.select(
        "window_start",
        "window_end",
        *group_cols,
        (F.col("_j") + 1).alias("bucket"),
        F.col("_b.n").cast("bigint").alias("n"),
        F.col("_b.p").cast("bigint").alias("n_pos"),
        F.round(pos_rate, 6).alias("pos_rate"),
        F.round(
            F.when(rate_all > 0, pos_rate / rate_all), 6
        ).alias("lift"),
        F.round(
            F.when(F.col("_pt") > 0, F.col("_b.cp") / ptd), 6
        ).alias("cum_capture"),
        F.round(
            F.when(
                rate_all > 0,
                (F.col("_b.cp") / F.col("_b.cn")) / rate_all,
            ),
            6,
        ).alias("cum_lift"),
    )


def windowed_srm(
    df: DataFrame,
    ts_col: Column,
    arm_col: Column,
    arms: list,
    expected_ratios: list[float] | None = None,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window sample-ratio-mismatch monitor — the
    streaming face of :func:`~padua_spark.extensions.features.
    srm_check` ("did the allocation drift THIS hour?" — assignment
    bugs usually start at a deploy, so the per-window view localizes
    them where the all-time chi-square dilutes). Declared ``arms``
    become conditional-sum columns in ONE stateful aggregation per
    (window, group) key; χ² against the declared ratios and the
    closed-form bounded-df chi-square SF are per-ROW expressions on
    the window row. Counts and finalizer are the batch operator's own
    ``features._declared_counts`` and ``features._srm_summary`` under
    the window key. Late shards merge by adding counts.

    Output one row per (window, group): ``(window_start, window_end,
    *group_cols, n, n_arm_0.., chi2, df, p_value, srm_flag_1pct)``,
    6dp; ``srm_flag_1pct`` is ``p_value < 0.01`` on the rounded p.
    """
    from padua_spark.extensions.features import (
        _declared_counts,
        _srm_ratios,
        _srm_summary,
    )

    group_cols = group_cols or []
    ratios = _srm_ratios("windowed_srm", arms, expected_ratios)
    withts = df.where(arm_col.isin(list(arms))).select(
        ts_col.alias("_event_time"), *group_cols, arm_col.alias("_a")
    )
    staged = _declared_counts(
        _window_keyed(withts, window_duration, watermark, *group_cols),
        "_a", arms, [f"n_arm_{i}" for i in range(len(arms))],
    )
    return _srm_summary(staged, ratios, [*_window_bounds(), *group_cols])


def windowed_binned_gini(
    df: DataFrame,
    ts_col: Column,
    value_col: Column,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
    n_bins: int = 64,
) -> DataFrame:
    """Per-tumbling-window BINNED Gini concentration — streaming
    inequality monitoring ("did this hour's spend concentrate into a
    few whales?"), the bounded-state face of the exact batch Gini
    (exact Gini needs a per-window value sort — unstreamable):

    non-negative values scaled into [0, 1] by the CALLER quantize
    into ``n_bins`` equal-width bins whose per-bin counts AND sums
    (:func:`_binned_window_agg`) are the 2·n_bins state per (window,
    group) key; the statistic is the exact
    grouped-data (Lorenz-trapezoid) Gini of the quantized
    distribution:

    ``G = 1 − Σ_i p_i·(L_{i−1} + L_i)`` with ``p_i = c_i/n`` and
    ``L_i`` the cumulative value share — a LOWER bound of the exact
    Gini, within one bin's within-spread. The low→high fold over the
    n_bins array is a per-ROW expression; late shards merge by
    adding counts/sums. Output: ``(window_start, window_end,
    *group_cols, n, total, gini_binned)``, 6dp; NULL when the
    window total is 0.
    """
    group_cols = group_cols or []
    k = int(n_bins)
    v = value_col.cast("double")
    withts = df.where(v.isNotNull() & (v >= 0) & (v <= 1)).select(
        ts_col.alias("_event_time"), *group_cols, v.alias("_v")
    )
    agg = _binned_window_agg(
        withts, "_v", k, window_duration, watermark, group_cols,
        _bin_count("_c"), _bin_sum("_s", "_v"),
    )
    n_tot = _expr_sum_chain("_c{i}", k)
    s_tot = _expr_sum_chain("_s{i}", k)
    cells = F.expr(
        "array("
        + ",".join(
            f"struct(CAST(_c{i} AS DOUBLE) AS c, _s{i} AS s)"
            for i in range(k)
        )
        + ")"
    )
    # ONE narrow projection off the 2k-column agg: withColumn chains
    # on wide frames re-analyze all columns per call and dominated the
    # BUILD time (measured ~3 s/build at k=64)
    staged = agg.select(
        "_w", *group_cols,
        n_tot.alias("_n"), s_tot.alias("_st"), cells.alias("_cells"),
    )
    nd = F.col("_n").cast("double")
    st = F.col("_st")
    acc0 = F.struct(
        F.lit(0.0).alias("cum_s"), F.lit(0.0).alias("acc")
    )
    folded = F.aggregate(
        F.col("_cells"),
        acc0,
        lambda a, c: F.struct(
            (a["cum_s"] + c["s"]).alias("cum_s"),
            (
                a["acc"]
                + (c["c"] / nd)
                * (
                    a["cum_s"] / st
                    + (a["cum_s"] + c["s"]) / st
                )
            ).alias("acc"),
        ),
    )
    gini = F.when(
        (F.col("_n") > 0) & (st > 0), 1.0 - folded["acc"]
    )
    return staged.select(
        *_window_bounds(),
        *group_cols,
        F.col("_n").alias("n"),
        F.round(st, 6).alias("total"),
        F.round(gini, 6).alias("gini_binned"),
    )


def windowed_embedding_drift(
    df: DataFrame,
    ts_col: Column,
    vec_col: Column,
    reference_mean: list[float],
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window embedding-centroid drift vs a declared
    reference mean vector — streaming semantic drift monitoring
    ("did this hour's traffic move in embedding space?"): the
    mean-map idea behind :func:`~padua_spark.extensions.similarity.
    embedding_mmd` reduced to its streamable core — the window's
    MEAN VECTOR is d bounded sums, so the state per (window, group)
    key is d+1 numbers regardless of traffic (d is the compile-time
    length of ``reference_mean``; vectors of any other length are
    filtered out, documented).

    Reported per window: L2 distance ‖μ_w − μ_ref‖, cosine
    similarity of the two means, and the window mean's L2 norm. Late
    shards merge by adding sums. Output: ``(window_start,
    window_end, *group_cols, n, l2_distance, cosine_sim,
    mean_norm)``, 6dp; NULLs when a norm degenerates.
    """
    group_cols = group_cols or []
    ref = [float(x) for x in reference_mean]
    d = len(ref)
    if d == 0:
        raise ValueError(
            "windowed_embedding_drift: reference_mean is empty"
        )
    # the reference components are interpolated into parsed SQL via
    # repr(); inf/nan would parse as unresolved identifiers and fail
    # with an opaque AnalysisException — reject them up front
    if not all(math.isfinite(x) for x in ref):
        raise ValueError(
            "windowed_embedding_drift: reference_mean must be finite"
        )
    withts = df.where(
        vec_col.isNotNull() & (F.size(vec_col) == d)
    ).select(
        ts_col.alias("_event_time"), *group_cols, vec_col.alias("_v")
    )
    # parsed-SQL builders (identical ASTs, one py4j call per
    # aggregate / per reduction — _expr_sum_chain rationale); the
    # reference components are embedded as CAST(<repr> AS DOUBLE) —
    # repr round-trips the exact double value
    aggs = [F.count(F.lit(1)).cast("bigint").alias("_n")] + [
        F.expr(f"sum(CAST(_v[{i}] AS DOUBLE)) AS _s{i}")
        for i in range(d)
    ]
    agg = _window_keyed(
        withts, window_duration, watermark, *group_cols
    ).agg(*aggs)
    refnorm2 = sum(x * x for x in ref)

    def _mu(i):
        return f"(_s{i} / CAST(_n AS DOUBLE))"

    def _ref(i):
        return f"CAST({ref[i]!r} AS DOUBLE)"

    l2 = F.expr(" + ".join(
        f"({_mu(i)} - {_ref(i)}) * ({_mu(i)} - {_ref(i)})"
        for i in range(d)
    ))
    dot = F.expr(" + ".join(
        f"{_mu(i)} * {_ref(i)}" for i in range(d)
    ))
    norm2 = F.expr(" + ".join(
        f"{_mu(i)} * {_mu(i)}" for i in range(d)
    ))
    cos = F.when(
        (norm2 > 0) & (F.lit(refnorm2) > 0),
        dot / (F.sqrt(norm2) * F.lit(refnorm2 ** 0.5)),
    )
    return agg.select(
        *_window_bounds(),
        *group_cols,
        F.col("_n").alias("n"),
        F.round(F.sqrt(l2), 6).alias("l2_distance"),
        F.round(cos, 6).alias("cosine_sim"),
        F.round(F.sqrt(norm2), 6).alias("mean_norm"),
    )


# Benford first-digit probabilities log10(1 + 1/d), pinned so both
# engines and the tests share one source of truth.
_BENFORD_P = [
    0.30102999566398114, 0.17609125905568124, 0.12493873660829985,
    0.09691001300805639, 0.07918124604762478, 0.06694678963061318,
    0.05799194697768673, 0.05115252244738127, 0.04575749056067514,
]


def windowed_benford(
    df: DataFrame,
    ts_col: Column,
    int_value_col: Column,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window Benford first-digit audit — the streaming
    face of the batch Benford screens (E47/E210): "did THIS hour's
    amounts stop looking organic?" (fraud bursts and instrumentation
    bugs hit a deploy window first; the all-time audit dilutes
    them).

    The input column must be an INTEGER magnitude (callers scale —
    e.g. exact cents; documented): the first significant digit is
    taken from the integer's decimal string head, which is exact and
    engine-portable (``log10``+``floor`` misclassifies exact powers
    of ten on platforms whose libm returns 2.9999999999999996).
    Nine conditional sums in ONE stateful aggregation per (window,
    group); χ² vs the pinned Benford probabilities with the
    closed-form df=8 survival, plus Nigrini's mean absolute
    deviation with the 0.015 nonconformity threshold. Late shards
    merge by adding counts.

    Output one row per (window, group): ``(window_start, window_end,
    *group_cols, n, n_d1..n_d9, chi2, p_value, mad,
    nonconforming_mad)``, 6dp.
    """
    from padua_spark.extensions.features import _declared_counts
    from padua_spark.operators.stats import _chi2_sf_closed

    group_cols = group_cols or []
    v = int_value_col.cast("bigint")
    first = F.substring(F.abs(v).cast("string"), 1, 1).cast("int")
    withts = df.where(
        v.isNotNull() & (v != 0)
    ).select(
        ts_col.alias("_event_time"), *group_cols,
        first.alias("_d"),
    )
    staged = _declared_counts(
        _window_keyed(withts, window_duration, watermark, *group_cols),
        "_d", range(1, 10), [f"n_d{d}" for d in range(1, 10)],
    )
    nd = F.col("_n").cast("double")
    chi2, mad = None, None
    for d in range(1, 10):
        e = F.lit(_BENFORD_P[d - 1]) * nd
        o = F.col(f"n_d{d}").cast("double")
        term = (o - e) * (o - e) / e
        dev = F.abs(o / nd - F.lit(_BENFORD_P[d - 1]))
        chi2 = term if chi2 is None else chi2 + term
        mad = dev if mad is None else mad + dev
    staged = staged.withColumn(
        "_chi2", F.when(F.col("_n") > 0, chi2)
    ).withColumn(
        "_mad", F.when(F.col("_n") > 0, mad / 9.0)
    )
    p = _chi2_sf_closed(F.col("_chi2"), F.lit(8), max_df=8)
    return staged.select(
        *_window_bounds(),
        *group_cols,
        F.col("_n").alias("n"),
        *[F.col(f"n_d{d}") for d in range(1, 10)],
        F.round("_chi2", 6).alias("chi2"),
        F.round(p, 6).alias("p_value"),
        F.round("_mad", 6).alias("mad"),
        F.when(
            F.col("_mad").isNotNull(), F.col("_mad") > 0.015
        ).alias("nonconforming_mad"),
    )


def _declared_key_counts(
    name, df, ts_col, key_col, keys, group_cols, window_duration,
    watermark,
) -> DataFrame:
    """Counts of the DECLARED ``keys`` per (window, group) —
    ``n_key_{i}``, the undeclared ``n_other`` and the declared total
    ``_n`` (:func:`~padua_spark.extensions.features._declared_counts`
    under the window key) — shared by the declared-key monitors;
    errors name the public operator ``name``."""
    from padua_spark.extensions.features import _declared_counts

    if len(keys) < 2:
        raise ValueError(f"{name}: need >= 2 keys")
    withts = df.select(
        ts_col.alias("_event_time"), *group_cols,
        key_col.alias("_k"),
    )
    return _declared_counts(
        _window_keyed(withts, window_duration, watermark, *group_cols),
        "_k", keys, [f"n_key_{i}" for i in range(len(keys))],
        other="n_other",
    )


def windowed_concentration(
    df: DataFrame,
    ts_col: Column,
    key_col: Column,
    keys: list,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window concentration monitor over a DECLARED key
    set — Herfindahl–Hirschman index, effective member count and top
    share per window (the streaming face of E211): "did one source /
    supplier / shard take over THIS hour?" — mix collapses are
    deploy-localized, and the all-time HHI hides them.

    Declared ``keys`` become conditional sums in ONE stateful
    aggregation per (window, group) (:func:`_declared_key_counts`
    — a data-dependent key set would need a second stateful
    aggregation, which append-mode streaming forbids; undeclared
    keys fall into an ``n_other`` column EXCLUDED from the shares,
    documented). ``HHI = Σ s_i²``, ``effective_n = 1/HHI``,
    ``top_share = max s_i``. Late shards merge by adding counts.

    Output one row per (window, group): ``(window_start, window_end,
    *group_cols, n, n_other, hhi, effective_n, top_share)``, 6dp.
    """
    group_cols = group_cols or []
    staged = _declared_key_counts(
        "windowed_concentration", df, ts_col, key_col, keys, group_cols,
        window_duration, watermark,
    )
    nd = F.col("_n").cast("double")
    hhi, top = None, None
    for i in range(len(keys)):
        s = F.col(f"n_key_{i}").cast("double") / nd
        hhi = s * s if hhi is None else hhi + s * s
        top = s if top is None else F.greatest(top, s)
    staged = staged.withColumn(
        "_hhi", F.when(F.col("_n") > 0, hhi)
    ).withColumn("_top", F.when(F.col("_n") > 0, top))
    return staged.select(
        *_window_bounds(),
        *group_cols,
        F.col("_n").alias("n"),
        "n_other",
        F.round("_hhi", 6).alias("hhi"),
        F.round(
            F.when(F.col("_hhi") > 0, 1.0 / F.col("_hhi")), 6
        ).alias("effective_n"),
        F.round("_top", 6).alias("top_share"),
    )


def windowed_binned_ks(
    df: DataFrame,
    ts_col: Column,
    value_col: Column,
    bin_edges: list[float],
    reference_cdf: list[float],
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window BINNED Kolmogorov–Smirnov drift monitor
    against a declared reference CDF — the sup-norm companion to
    :func:`windowed_psi` (PSI is a likelihood-ratio mass measure and
    saturates on empty bins; the KS gap at the declared edges reads
    directly as "worst CDF displacement", with the classic
    1.36/√n 5% band). Binned KS is CONSERVATIVE vs exact KS
    (documented — the sup is only probed at the edges).

    ``reference_cdf[i]`` = reference P(X ≤ bin_edges[i]); realized
    CDF at each edge comes from compile-time conditional sums in ONE
    stateful aggregation per (window, group); the max gap is a
    per-row expression over the bounded edge list. Late shards merge
    by adding counts.

    Output one row per (window, group): ``(window_start, window_end,
    *group_cols, n, ks_stat, critical_5pct, drift_flag_5pct)``, 6dp.
    """
    group_cols = group_cols or []
    if len(bin_edges) != len(reference_cdf) or len(bin_edges) < 2:
        raise ValueError(
            "windowed_binned_ks: bin_edges and reference_cdf must "
            "match and have >= 2 entries"
        )
    if sorted(bin_edges) != list(bin_edges):
        raise ValueError("windowed_binned_ks: edges must ascend")
    v = value_col.cast("double")
    withts = df.where(v.isNotNull()).select(
        ts_col.alias("_event_time"), *group_cols, v.alias("_v")
    )
    aggs = [
        F.sum((F.col("_v") <= e).cast("int"))
        .cast("bigint").alias(f"n_le_{i}")
        for i, e in enumerate(bin_edges)
    ] + [F.count(F.lit(1)).cast("bigint").alias("_n")]
    agg = _window_keyed(
        withts, window_duration, watermark, *group_cols
    ).agg(*aggs)
    nd = F.col("_n").cast("double")
    gap = None
    for i, ref in enumerate(reference_cdf):
        g = F.abs(
            F.col(f"n_le_{i}").cast("double") / nd - F.lit(float(ref))
        )
        gap = g if gap is None else F.greatest(gap, g)
    staged = agg.withColumn(
        "_ks", F.when(F.col("_n") > 0, gap)
    ).withColumn(
        "_crit",
        F.when(F.col("_n") > 0, F.lit(1.36) / F.sqrt(nd)),
    )
    return staged.select(
        *_window_bounds(),
        *group_cols,
        F.col("_n").alias("n"),
        F.round("_ks", 6).alias("ks_stat"),
        F.round("_crit", 6).alias("critical_5pct"),
        F.when(
            F.col("_ks").isNotNull(), F.col("_ks") > F.col("_crit")
        ).alias("drift_flag_5pct"),
    )


def windowed_extremes(
    df: DataFrame,
    ts_col: Column,
    value_col: Column,
    threshold: float,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window extremes + peaks-over-threshold monitor —
    the streaming face of :func:`padua_spark.operators.stats.
    pot_gpd_fit`: per window the max/min, the count of exceedances
    over a DECLARED threshold, their mean excess, and the largest
    excess — "did THIS hour's tail fatten?", which the all-time fit
    dilutes exactly like every other windowed monitor here.

    All six outputs are plain conditional aggregates in ONE stateful
    aggregation per (window, group); late shards merge by max/min/
    sum. Output one row per (window, group): ``(window_start,
    window_end, *group_cols, n, v_max, v_min, n_exceed, mean_excess,
    max_excess)``, 6dp; NULL excess columns when no exceedance.
    """
    group_cols = group_cols or []
    v = value_col.cast("double")
    u = float(threshold)
    withts = df.where(v.isNotNull()).select(
        ts_col.alias("_event_time"), *group_cols, v.alias("_v")
    )
    exc = F.when(F.col("_v") > u, F.col("_v") - u)
    agg = _window_keyed(
        withts, window_duration, watermark, *group_cols
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.max("_v").alias("_vmax"),
        F.min("_v").alias("_vmin"),
        F.count(exc).cast("bigint").alias("_nexc"),
        F.sum(exc).alias("_sexc"),
        F.max(exc).alias("_mexc"),
    )
    return agg.select(
        *_window_bounds(),
        *group_cols,
        F.col("_n").alias("n"),
        F.round("_vmax", 6).alias("v_max"),
        F.round("_vmin", 6).alias("v_min"),
        F.col("_nexc").alias("n_exceed"),
        F.round(
            F.when(
                F.col("_nexc") > 0,
                F.col("_sexc") / F.col("_nexc").cast("double"),
            ),
            6,
        ).alias("mean_excess"),
        F.round("_mexc", 6).alias("max_excess"),
    )


def windowed_entropy(
    df: DataFrame,
    ts_col: Column,
    key_col: Column,
    keys: list,
    group_cols: list[str] | None = None,
    window_duration: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Per-tumbling-window Shannon entropy over a DECLARED key set —
    the diversity companion to :func:`windowed_concentration` (HHI
    reads "did one key take over"; entropy reads "did the mix narrow
    ANYWHERE", which catches several keys fading at once):
    ``H = −Σ s_i·ln s_i`` (nats), normalized ``H/ln(k)`` in [0, 1],
    and the effective alphabet ``e^H``.

    Declared keys become conditional sums in ONE stateful aggregation
    per (window, group) (:func:`_declared_key_counts`);
    undeclared keys count into ``n_other``, EXCLUDED from the shares
    (documented). Zero-count keys contribute 0 (the 0·ln 0 limit).
    Late shards merge by adding counts. Output one row per (window,
    group): ``(window_start, window_end, *group_cols, n, n_other,
    entropy_nats, entropy_norm, effective_alphabet)``, 6dp.
    """
    group_cols = group_cols or []
    staged = _declared_key_counts(
        "windowed_entropy", df, ts_col, key_col, keys, group_cols,
        window_duration, watermark,
    )
    nd = F.col("_n").cast("double")
    ent = None
    for i in range(len(keys)):
        s = F.col(f"n_key_{i}").cast("double") / nd
        term = F.when(F.col(f"n_key_{i}") > 0, -s * F.log(s)).otherwise(
            F.lit(0.0)
        )
        ent = term if ent is None else ent + term
    staged = staged.withColumn(
        "_h", F.when(F.col("_n") > 0, ent)
    )
    return staged.select(
        *_window_bounds(),
        *group_cols,
        F.col("_n").alias("n"),
        "n_other",
        F.round("_h", 6).alias("entropy_nats"),
        F.round(
            F.col("_h") / F.lit(math.log(len(keys))), 6
        ).alias("entropy_norm"),
        F.round(F.exp("_h"), 6).alias("effective_alphabet"),
    )
