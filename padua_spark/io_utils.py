"""Storage-layout helpers for co-located joins at scale, plus the one
way the engine turns driver-side rows into a frame (:func:`local_frame`).

Bucketing pre-shuffles a table ONCE at write time; subsequent joins and
aggregations on the bucket key read co-located data and skip the
exchange entirely — the right layout for the measurements fact table
keyed by ``feature_id`` when many per-feature statistics run against
it (every §2.6 stat operator shuffles on that key otherwise).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark, rows: Iterable[tuple], schema: StructType | str
) -> DataFrame:
    """Driver-side rows (tuples or Rows, positional) as a JVM
    ``LocalRelation``, typed exactly by ``schema`` (a StructType or a
    DDL string such as ``"n bigint, p double"``).

    The rows become one ``pyarrow.Table`` cast to the schema's Arrow
    types, handed to ``createDataFrame``. A plain-list
    ``createDataFrame`` instead builds a ``LogicalRDD`` over a
    PythonRDD: its first use starts a second Python daemon plus one
    worker per core, beside the Arrow worker pool the UDFs already
    use, and its size estimate is effectively unbounded. The
    LocalRelation starts no Python worker, runs no job to collect,
    carries exact size stats, and needs no Arrow session conf.

    Python ints may fill double columns; numpy scalars and ``None``
    are accepted in any column. Every engine-side driver frame goes
    through here (tests/test_units.py lints for stray
    ``createDataFrame`` calls).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    columns = (
        list(zip(*rows, strict=True)) if rows else [()] * len(schema)
    )
    arrays = [
        pa.array(col, type=f.type)
        for col, f in zip(columns, arrow_schema, strict=True)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def spread_narrow_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan that arrived with fewer partitions
    than the session's parallelism — but ONLY then.

    Parquet splits at row-group boundaries, so a small table written as
    one row group scans as ONE task no matter how many cores exist;
    when that scan feeds a compute-bound per-row stage (text hashing,
    vector math), the whole first stage runs single-threaded. At real
    scale the input arrives pre-split across many files/row groups and
    this guard is a no-op — an *unconditional* repartition there would
    be a full shuffle of the table, which is exactly wrong. Filters and
    column pruning still reach the scan: Catalyst pushes both through
    a round-robin Repartition, so the exchange only carries the pruned,
    pre-filtered rows (asserted in tests/test_plans.py).

    Measured on the sf0.1 bench (single-row-group tables, local[32]):
    4-5x on the text/embedding operators, e.g. language_id 2.0s->0.4s,
    embedding_near_dup 3.7s->0.8s.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    # .rdd analyzes the plan (no job); cheap, and callers memoize.
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def track_cached(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Record lazily-``persist()``-ed intermediates on a result frame.

    Operators that cache a shared stage (LSH signatures, exploded
    shingles) return a LAZY result — they cannot unpersist what the
    caller's action has not yet materialized. The caller owns the
    lifecycle: consume the result, then call
    :func:`unpersist_intermediates` to free the recorded blocks
    (long-lived sessions accumulate MEMORY_AND_DISK blocks otherwise;
    ``spark.catalog.clearCache()`` is the blunt whole-session sweep).

    The record lives as a Python attribute on THIS DataFrame object:
    any transformation (``select``, ``where``, …) returns a NEW
    DataFrame without it. Always call ``track_cached`` on the final
    frame handed to the caller, after the last transformation.
    """
    existing = list(getattr(result, "_padua_cached", ()))
    result._padua_cached = existing + list(cached)
    return result


def unpersist_intermediates(df: DataFrame, blocking: bool = False) -> int:
    """Unpersist every intermediate recorded by :func:`track_cached`
    on ``df``; returns how many were released. Safe to call twice."""
    n = 0
    for cached in getattr(df, "_padua_cached", ()):
        try:
            cached.unpersist(blocking)
            n += 1
        except Exception:  # already freed / session gone — best effort
            pass
    df._padua_cached = []
    return n


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Joins/aggregations between tables bucketed identically on the join
    key execute WITHOUT a shuffle (verify: no ``Exchange`` in the
    plan — tested in tests/test_bucketing.py).
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_parquet(
    spark,
    src_dir: str,
    dst_dir: str,
    target_mb: int = 512,
) -> int:
    """Small-files compaction: rewrite a parquet directory into files
    of ~``target_mb`` each (the lake-maintenance OPTIMIZE step).

    Ingest jobs — especially streaming foreachBatch sinks — accrete
    many small files; at 100 TB that means scan tasks dominated by
    open/footer overhead and NameNode/listing pressure. Sizing from the
    actual on-disk byte count (not row counts) keeps the result stable
    across schema/encoding changes. Uses round-robin ``repartition(n)``
    — not ``coalesce`` — so output files are even-sized (coalesce
    merges adjacent partitions and inherits their skew).

    Returns the number of output files requested. Write-then-swap is
    the caller's concern (write to a new directory, then atomically
    repoint the table location / catalog entry) — this function never
    overwrites ``src_dir`` in place.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = path.getFileSystem(conf)
    # Canonicalize before comparing: string equality alone misses
    # trailing slashes, relative-vs-absolute forms, and symlink
    # aliases — and mode("overwrite") on the source directory would
    # truncate the data being lazily read. makeQualified normalizes
    # scheme/authority/relative paths; os.path.realpath catches
    # symlinked local directories that qualification cannot see.
    dst_path = jvm.org.apache.hadoop.fs.Path(dst_dir)
    src_q = fs.makeQualified(path).toString()
    dst_q = dst_path.getFileSystem(conf).makeQualified(dst_path).toString()
    same = src_q == dst_q
    if not same:
        import os

        def _local(p):
            # Hadoop renders local URIs as file:/x or file:///x
            if p.startswith("file:"):
                p = p[len("file:"):]
                while p.startswith("//"):
                    p = p[1:]
            return p

        if src_q.startswith(("file:", "/")) and dst_q.startswith(("file:", "/")):
            same = os.path.realpath(_local(src_q)) == os.path.realpath(
                _local(dst_q)
            )
    if same:
        raise ValueError(
            "compact_parquet writes to a NEW directory (write-then-"
            "swap); in-place overwrite would destroy the source on "
            "task failure"
        )
    total_bytes = fs.getContentSummary(path).getLength()
    n = max(1, int(total_bytes // (target_mb * 1024 * 1024)) + 1)
    (
        spark.read.parquet(src_dir)
        .repartition(n)
        .write.mode("overwrite")
        .parquet(dst_dir)
    )
    return n


def zorder_key(
    x, y, bits: int = 16
):
    """Morton (Z-order) interleave of two non-negative integer bucket
    columns into one clustering key: bit ``b`` of ``x`` lands at
    position ``2b``, of ``y`` at ``2b+1``.

    Pure integer shift/mask arithmetic (disjoint bit positions summed,
    which equals OR), unrolled to ``bits`` terms per column — runs in
    whole-stage codegen and is expressible 1:1 in any SQL engine for
    oracle checks. Inputs are masked to ``bits`` bits; callers bucket
    raw values first (e.g. days-since-epoch, price/unit) so adjacent
    buckets are spatially adjacent.
    """
    from pyspark.sql import functions as F

    xm = F.col(x) if isinstance(x, str) else x
    ym = F.col(y) if isinstance(y, str) else y
    xm = xm.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    ym = ym.cast("bigint").bitwiseAND(F.lit((1 << bits) - 1))
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        z = z + F.shiftleft(
            F.shiftright(xm, b).bitwiseAND(F.lit(1)), 2 * b
        )
        z = z + F.shiftleft(
            F.shiftright(ym, b).bitwiseAND(F.lit(1)), 2 * b + 1
        )
    return z


def zorder_key_sql(x: str, y: str, bits: int = 16) -> str:
    """The DuckDB/ANSI twin of :func:`zorder_key` — same unrolled
    shift/mask terms, so the two expressions are bit-identical."""
    mask = (1 << bits) - 1
    # each term fully parenthesized: SQL '<<' binds LOOSER than '+',
    # so 'a << 2 + b << 3' would parse as 'a << (2 + b) << 3'
    terms = []
    for b in range(bits):
        terms.append(f"(((({x} & {mask}) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((({y} & {mask}) >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


def write_zordered(
    df,
    path: str,
    x,
    y,
    bits: int = 16,
    n_files: int = 16,
):
    """Write ``df`` as parquet clustered on the Z-order of two bucket
    columns: ``repartitionByRange(n_files, z)`` + an intra-partition
    sort on ``z``, so each output file covers a compact Z-range —
    i.e. a small bounding BOX in (x, y) space.

    Why this matters at 100 TB: a layout sorted on ONE column gives
    tight per-file min/max parquet stats for that column only; a
    selective filter on the other column still opens every file.
    Z-order clustering keeps BOTH columns' per-file ranges narrow, so
    footer-stats file/row-group skipping works for filters on either
    dimension (the same trick Delta/Iceberg OPTIMIZE ZORDER applies).
    ``tests`` assert this directly by reading the written footers: the
    fraction of files whose (min, max) box can match a selective 2-D
    predicate must be small on BOTH dimensions.

    The range partitioner samples the z column (one extra pass over a
    two-column projection); the data itself moves through ONE shuffle.
    Returns the written path.
    """
    from pyspark.sql import functions as F

    staged = df.withColumn("_z", zorder_key(x, y, bits))
    (
        staged.repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def with_hilbert_key(
    df,
    x,
    y,
    bits: int = 16,
    out_col: str = "hilbert_key",
):
    """Add a Hilbert-curve clustering key over two non-negative
    integer bucket columns — the locality-better alternative to
    :func:`zorder_key` (Z-order's bit interleave has long diagonal
    jumps; the Hilbert curve is continuous, so consecutive key ranges
    are ~2× tighter bounding boxes — the layout Delta/Iceberg expose
    as OPTIMIZE ... HILBERT).

    Standard xy→d transform (Hamilton's algorithm), one level per
    bit from the top: at scale ``s = 2^b`` the quadrant
    ``(3·rx) XOR ry`` contributes ``s²·quadrant`` to the key and the
    remaining coordinates are rotated/reflected into the quadrant's
    frame. The rotation is SEQUENTIAL state, so each level is staged
    as its own projection (x, y, d referenced multiple times per
    level — inlining across levels would grow the expression tree
    exponentially; Catalyst's CollapseProject keeps multiply-
    referenced non-trivial aliases staged). Pure integer arithmetic
    — engine-exact, whole-stage codegen, expressible 1:1 in SQL via
    :func:`hilbert_cte_sql`.

    Returns ``df`` with ``out_col`` added; inputs masked to ``bits``
    bits (callers bucket raw values first, the zorder_key contract).
    """
    from pyspark.sql import functions as F

    xm = F.col(x) if isinstance(x, str) else x
    ym = F.col(y) if isinstance(y, str) else y
    mask = (1 << bits) - 1
    cur = df.withColumn(
        "_hx", xm.cast("bigint").bitwiseAND(F.lit(mask))
    ).withColumn(
        "_hy", ym.cast("bigint").bitwiseAND(F.lit(mask))
    ).withColumn("_hd", F.lit(0).cast("bigint"))
    others = [c for c in df.columns]
    for b in range(bits - 1, -1, -1):
        s = 1 << b
        hx, hy, hd = F.col("_hx"), F.col("_hy"), F.col("_hd")
        rx = F.when(hx.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        ry = F.when(hy.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(
            F.lit(0)
        )
        quad = (3 * rx).bitwiseXOR(ry).cast("bigint")
        nd = hd + F.lit(s).cast("bigint") * F.lit(s) * quad
        # rotate/reflect into the quadrant frame (ry == 0 branch)
        refl_x = F.when(rx == 1, F.lit(s - 1) - hx).otherwise(hx)
        refl_y = F.when(rx == 1, F.lit(s - 1) - hy).otherwise(hy)
        nx = F.when(ry == 0, refl_y).otherwise(hx)
        ny = F.when(ry == 0, refl_x).otherwise(hy)
        cur = cur.select(
            *others,
            nx.alias("_hx"),
            ny.alias("_hy"),
            nd.alias("_hd"),
        )
    return cur.select(*others, F.col("_hd").alias(out_col))


def hilbert_cte_sql(
    input_cte: str,
    x: str,
    y: str,
    bits: int = 16,
    out: str = "hilbert_key",
    passthrough: str = "",
) -> str:
    """The DuckDB/ANSI twin of :func:`with_hilbert_key`: a chained-CTE
    ladder (one level per bit — the sequential rotation state cannot
    be a single expression without exponential duplication). Returns
    the CTE chain text; the final CTE is ``hlvl0`` with columns
    ``{passthrough,} hx, hy, {out}``."""
    mask = (1 << bits) - 1
    pt = f"{passthrough}, " if passthrough else ""
    parts = [
        f"hlvl{bits} AS (\n"
        f"  SELECT {pt}CAST(({x} & {mask}) AS BIGINT) AS hx,\n"
        f"    CAST(({y} & {mask}) AS BIGINT) AS hy,\n"
        f"    CAST(0 AS BIGINT) AS {out}\n"
        f"  FROM {input_cte}\n)"
    ]
    for b in range(bits - 1, -1, -1):
        s = 1 << b
        prev = f"hlvl{b + 1}"
        parts.append(
            f"hlvl{b} AS (\n"
            f"  SELECT {pt}\n"
            f"    CASE WHEN (hy & {s}) = 0 THEN\n"
            f"      CASE WHEN (hx & {s}) > 0 THEN {s - 1} - hy"
            f" ELSE hy END\n"
            f"    ELSE hx END AS hx,\n"
            f"    CASE WHEN (hy & {s}) = 0 THEN\n"
            f"      CASE WHEN (hx & {s}) > 0 THEN {s - 1} - hx"
            f" ELSE hx END\n"
            f"    ELSE hy END AS hy,\n"
            f"    {out} + CAST({s} AS BIGINT) * {s} *\n"
            f"      CAST(xor(3 * (CASE WHEN (hx & {s}) > 0"
            f" THEN 1 ELSE 0 END),\n"
            f"        (CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END))"
            f" AS BIGINT) AS {out}\n"
            f"  FROM {prev}\n)"
        )
    return ",\n".join(parts)


def write_hilbert(
    df,
    path: str,
    x,
    y,
    bits: int = 16,
    n_files: int = 16,
):
    """Write ``df`` as parquet clustered on the Hilbert key of two
    bucket columns — :func:`write_zordered` with the
    continuous-curve key: repartitionByRange + intra-partition sort,
    ONE data shuffle; every output file covers a compact Hilbert
    range, i.e. a tight 2-D bounding box for footer-stats skipping
    on either dimension."""
    from pyspark.sql import functions as F

    staged = with_hilbert_key(df, x, y, bits, out_col="_h")
    (
        staged.repartitionByRange(n_files, F.col("_h"))
        .sortWithinPartitions("_h")
        .drop("_h")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path
