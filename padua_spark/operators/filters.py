"""Row filters and column projections (reference: ``padua/filters.py``).

All filters are single ``Filter`` nodes — Catalyst pushes them into the
parquet/CSV scan (check with ``df.explain``: they appear under
``PushedFilters``), so at 100 TB they prune row groups before any I/O.

Null semantics: pandas ``nan != '+'`` evaluates True, so padua's
equality filters *keep* rows with missing flags (filters.py:17).
SQL ``NULL != '+'`` is NULL (row dropped) — we replicate pandas by
adding an explicit ``IS NULL`` escape. This is the
"non-standard null filter semantics" watch item of SURVEY.md §7.4.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def remove_rows_matching(df: DataFrame, column: str, match) -> DataFrame:
    """Drop rows where ``column == match``; NULLs are kept
    (reference: ``padua/filters.py:4-18``)."""
    c = F.col(column)
    return df.filter((c != F.lit(match)) | c.isNull())


def remove_rows_containing(df: DataFrame, column: str, match: str) -> DataFrame:
    """Drop rows where ``column`` contains ``match`` as a substring;
    NULLs are kept (reference: ``padua/filters.py:21-35``)."""
    c = F.col(column).cast("string")
    return df.filter(~c.contains(match) | c.isNull())


def remove_reverse(df: DataFrame, column: str = "Reverse") -> DataFrame:
    """Drop MaxQuant decoy hits flagged ``'+'``
    (reference: ``padua/filters.py:37-47``)."""
    return remove_rows_containing(df, column, "+")


def _resolve_column(df: DataFrame, candidates: list[str]) -> str | None:
    for c in candidates:
        if c in df.columns:
            return c
    return None


def remove_contaminants(df: DataFrame) -> DataFrame:
    """Drop contaminant rows; resolves ``Contaminant`` vs
    ``Potential contaminant`` by presence (reference:
    ``padua/filters.py:49-61``)."""
    col = _resolve_column(df, ["Contaminant", "Potential contaminant"])
    if col is None:
        return df
    return remove_rows_containing(df, col, "+")


def remove_only_identified_by_site(df: DataFrame) -> DataFrame:
    """Reference: ``padua/filters.py:64-74``."""
    col = _resolve_column(df, ["Only identified by site"])
    return df if col is None else remove_rows_containing(df, col, "+")


def filter_localization_probability(
    df: DataFrame, threshold: float = 0.75, column: str = "Localization prob"
) -> DataFrame:
    """Keep Class-I sites: ``Localization prob >= threshold``
    (reference: ``padua/filters.py:77-90``)."""
    return df.filter(F.col(column) >= F.lit(threshold))


def search(df: DataFrame, match: str, columns: list[str]) -> DataFrame:
    """Keep rows where ``match`` appears in ANY of ``columns``.

    Reference: ``padua/filters.py:132-152``. NB the reference ignores its
    ``columns`` argument (hardcoded list, filters.py:147) — we implement
    the documented intent and honor the argument (SURVEY.md §5
    known-broken list).
    """
    preds = [
        F.col(c).cast("string").contains(match) & F.col(c).isNotNull()
        for c in columns
    ]
    return df.filter(reduce(or_, preds))


def minimum_valid_values_in_any_group(
    df: DataFrame,
    feature_cols: list[str],
    group_cols: list[str],
    value_col: str,
    n: int = 1,
) -> DataFrame:
    """Keep features having ≥ ``n`` non-null values in at least one group.

    Reference: ``padua/filters.py:93-129`` (indicator →
    ``sum(axis=1, level=...)`` → ``max(axis=1) >= n``). Long-model plan,
    two windows over ONE feature-keyed partitioning:

        count(value) OVER (PARTITION BY feature ORDER BY group
                           RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
        → max(count) OVER (PARTITION BY feature) >= n

    Rows with a NULL in any feature column are dropped, and the feature
    columns come first, as in the USING semi-join this replaces. The
    plan has one scan, one Exchange and one Sort on the feature key,
    and no join, so the input's upstream (a CSV scan → ``stack`` melt → design join in the
    pipelines) runs once, and a downstream per-feature aggregate
    (``ttest_1samp``) reuses the partitioning. The former aggregate →
    LEFT SEMI JOIN plan scanned the input twice.

    Trade: every input row is shuffled and sorted, where the semi-join
    shuffled only partial counts. When the input is a cheap columnar
    scan, a second scan costs less than that sort: F7 over the sf0.1
    lineitem parquet (600k rows, 4 vCPUs) went from 0.80 to 1.12 s
    warm. When it is a parsed and reshaped text table, one pass wins by
    far: the sf0.1 SILAC-ratio and phospho-LFQ pipelines (a 60k-feature
    TSV) went from 2.21 to 1.12 s and from 4.00 to 1.97 s with the
    other one-parse changes.
    """
    by_feature = Window.partitionBy(*feature_cols)
    per_group = by_feature.orderBy(*group_cols).rangeBetween(
        Window.currentRow, Window.currentRow
    )
    keyed = reduce(and_, [F.col(c).isNotNull() for c in feature_cols])
    rest = [c for c in df.columns if c not in feature_cols]
    return (
        df.filter(keyed)
        .withColumn(
            "__padua_valid", F.count(F.col(value_col)).over(per_group)
        )
        .withColumn(
            "__padua_max_valid", F.max("__padua_valid").over(by_feature)
        )
        .filter(F.col("__padua_max_valid") >= F.lit(n))
        .select(*[F.col(f"`{c}`") for c in feature_cols + rest])
    )


def filter_exclude(df: DataFrame, match: str) -> DataFrame:
    """Drop columns whose NAME contains ``match`` (wide-model projection;
    reference: ``padua/filters.py:154-161``). Driver-side name match —
    Catalyst then prunes the dropped columns out of the scan."""
    keep = [c for c in df.columns if match not in c]
    return df.select(*keep)


def filter_select_columns(
    df: DataFrame, pattern: str, keep_also: list[str] | None = None
) -> DataFrame:
    """Keep columns matching a regex plus named metadata columns
    (generalizes ``filter_select_columns_intensity`` / ``_ratio``,
    reference: ``padua/filters.py:163-174``)."""
    import re

    rx = re.compile(pattern)
    keep_also = [c for c in (keep_also or []) if c in df.columns]
    matched = [c for c in df.columns if rx.search(c) and c not in keep_also]
    return df.select(*(keep_also + matched))


def filter_kind_label(
    df: DataFrame,
    kind: str,
    label_contains: str | None = None,
    kind_col: str = "kind",
    label_col: str = "sample_label",
) -> DataFrame:
    """Long-model equivalent of ``filter_intensity`` /
    ``filter_intensity_lfq`` / ``filter_ratio`` (reference:
    ``padua/filters.py:177-211``): predicate on the measurement-kind and
    sample-label dimensions instead of regexes over column names."""
    out = df.filter(F.col(kind_col) == F.lit(kind))
    if label_contains is not None:
        out = out.filter(F.col(label_col).contains(label_contains))
    return out


def filter_intensity_columns(
    df: DataFrame,
    label: str = "",
    with_multiplicity: bool = False,
    prefix: str = "Intensity",
) -> DataFrame:
    """Wide-model twin of :func:`filter_kind_label` (reference:
    ``filters.filter_intensity`` / ``_lfq`` / ``_ratio``,
    filters.py:177-211): keep non-expression columns plus the
    ``{prefix} <label>[___k]`` expression columns. Prefer the long
    model at scale; this exists for wide-matrix interop."""
    import re

    from padua_spark.sources.maxquant import parse_expression_columns

    parsed = parse_expression_columns(df.columns)
    expr_cols = {p["column"] for p in parsed}
    meta = [c for c in df.columns if c not in expr_cols]
    suffix = r"___\d" if with_multiplicity else ""
    rx = re.compile(
        rf"^{re.escape(prefix)} .*{re.escape(label)}.*{suffix}$"
    )
    keep = [c for c in df.columns if c in expr_cols and rx.match(c)]
    return df.select(*(meta + keep))
