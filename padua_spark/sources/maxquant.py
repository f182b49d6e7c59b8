"""MaxQuant table reader + wide→long ingest.

Reference: ``padua/io.py:6-18`` (``read_maxquant``: tab-separated, header
row, ``id`` index column) and the expression-column grammar scattered
across ``padua/filters.py:177-211`` / ``padua/process.py:249-256``:

    [LFQ ]Intensity <label>[___k]
    Ratio <X>/<Y>[ normalized][ <label>][___k]

The reference keeps the wide matrix and selects columns by regex at
every step. Here the grammar is applied ONCE at ingest to produce the
long fact table ``measurements(feature_id, kind, sample_label,
multiplicity, value)`` — after that, every padua regex-projection is a
plain predicate on the ``kind``/``sample_label`` columns and Spark can
partition/prune on them. Multiplicity expansion (Perseus "expand side
table", process.py:221-277) happens for free: ``___k`` suffixes parse
into the ``multiplicity`` key.
"""

from __future__ import annotations

import re
import weakref

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from padua_spark.functions.scalar import nan_and_inf_to_null

# Grammar for expression-bearing columns. Order matters: LFQ before
# plain Intensity; 'normalized' ratio before plain ratio.
_EXPR_PATTERNS: list[tuple[str, re.Pattern]] = [
    ("LFQ intensity", re.compile(r"^LFQ [Ii]ntensity(?: (.+?))?(___\d)?$")),
    ("Intensity", re.compile(r"^Intensity(?: (.+?))?(___\d)?$")),
    (
        "Ratio {x}/{y} normalized",
        re.compile(r"^Ratio ([HML])/([HML]) normalized(?: (.+?))?(___\d)?$"),
    ),
    (
        "Ratio {x}/{y}",
        re.compile(r"^Ratio ([HML])/([HML])(?: (.+?))?(___\d)?$"),
    ),
]


# Reader options of every MaxQuant scan; part of the schema memo key.
_READ_OPTIONS = (("sep", "\t"), ("header", "true"))

# session -> {(qualified path, length, modificationTime, options): schema}.
# Weak-keyed like ``__spark_entry__._T_CACHE``: a stopped session's
# entries are reclaimed with it.
_SCHEMA_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def _file_version(spark: SparkSession, path: str) -> tuple | None:
    """``(qualified path, length, modificationTime)`` of ``path`` through
    the Hadoop FileSystem API (any file system), or None when it is not
    a single existing file (a directory, a glob, a missing path)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    try:
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        status = fs.getFileStatus(hpath)
    except Py4JJavaError:
        return None
    if not status.isFile():
        return None
    return (
        status.getPath().toString(),
        status.getLen(),
        status.getModificationTime(),
    )


def read_maxquant(
    spark: SparkSession,
    path: str,
    index_col: str = "id",
) -> DataFrame:
    """Scan a MaxQuant output table (proteinGroups.txt,
    Phospho (STY)Sites.txt, evidence.txt, …).

    Reference: ``io.read_maxquant`` (io.py:6-18) — ``pd.read_csv(f,
    delimiter='\\t', header=0, index_col='id')``. Spark: a CSV scan with
    schema inference, run ONCE per file version per session: the
    inferred schema is memoized under the file's Hadoop ``FileStatus``
    (qualified path, length, modification time) and the reader
    options, and a repeat read of an unchanged single file declares it
    (``.schema``), so it fires no header or inference job. A rewritten
    file has a new length or modification time and is inferred again;
    a directory or glob is inferred on every read. At scale, convert
    once to Parquet and read that (schema declared → column pruning +
    predicate pushdown reach the scan).
    """
    version = _file_version(spark, path)
    memo = _SCHEMA_MEMO.setdefault(spark, {})
    key = None if version is None else (*version, _READ_OPTIONS)
    schema = memo.get(key)
    if schema is None:
        df = (
            spark.read.options(**dict(_READ_OPTIONS))
            .option("inferSchema", True)
            .csv(path)
        )
        if key is not None:
            memo[key] = df.schema
        return df
    return spark.read.options(**dict(_READ_OPTIONS)).schema(schema).csv(path)


def parse_expression_columns(
    columns: list[str],
) -> list[dict]:
    """Classify column names by the MaxQuant expression grammar.

    Returns one dict per expression column:
    ``{"column", "kind", "sample_label", "multiplicity"}``.
    Non-matching columns (feature metadata) are omitted. A bare kind
    column (e.g. the total ``Intensity``) gets ``sample_label=None``.
    """
    out = []
    for c in columns:
        for kind_tpl, rx in _EXPR_PATTERNS:
            m = rx.match(c)
            if not m:
                continue
            groups = m.groups()
            if "{x}" in kind_tpl:
                x, y = groups[0], groups[1]
                label, mult = groups[2], groups[3]
                kind = kind_tpl.format(x=x, y=y)
            else:
                label, mult = groups[0], groups[1]
                kind = kind_tpl
            out.append(
                {
                    "column": c,
                    "kind": kind,
                    "sample_label": label,
                    "multiplicity": int(mult[3:]) if mult else None,
                }
            )
            break
    return out


def maxquant_long(
    df: DataFrame,
    index_col: str = "id",
    zeros_to_null: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Split a wide MaxQuant table into the long-model pair
    ``(measurements, features)``.

    - ``measurements(feature_id, kind, sample_label, multiplicity,
      value)`` — one row per (feature, expression column); built with a
      single ``stack`` (row fan-out inside the scan stage, no shuffle).
    - ``features(feature_id, …metadata columns…)`` — everything the
      grammar didn't claim.

    ``zeros_to_null`` applies the 0→missing convention used by
    intensity consumers (reference analysis.py:280, visualize.py:1641).
    ±inf/NaN are always normalized to NULL (process.py:325).
    """
    parsed = parse_expression_columns(df.columns)
    if not parsed:
        raise ValueError("no expression columns matched the MaxQuant grammar")
    expr_cols = {p["column"] for p in parsed}
    meta_cols = [c for c in df.columns if c not in expr_cols]
    if index_col not in meta_cols:
        raise ValueError(f"index column {index_col!r} not present")

    n = len(parsed)
    cells = []
    for p in parsed:
        kind = "'" + p["kind"].replace("'", "''") + "'"
        label = (
            "'" + p["sample_label"].replace("'", "''") + "'"
            if p["sample_label"] is not None
            else "CAST(NULL AS STRING)"
        )
        mult = (
            str(p["multiplicity"])
            if p["multiplicity"] is not None
            else "CAST(NULL AS INT)"
        )
        cells.append(
            f"{kind}, {label}, {mult}, CAST(`{p['column']}` AS DOUBLE)"
        )
    stack_expr = (
        f"stack({n}, {', '.join(cells)}) as "
        "(kind, sample_label, multiplicity, value)"
    )
    measurements = df.selectExpr(
        f"`{index_col}` as feature_id", stack_expr
    )
    v = nan_and_inf_to_null(F.col("value"))
    if zeros_to_null:
        v = F.when(v != 0, v)
    measurements = measurements.withColumn("value", v)
    features = df.select(
        F.col(index_col).alias("feature_id"),
        *[F.col(c) for c in meta_cols if c != index_col],
    )
    return measurements, features
