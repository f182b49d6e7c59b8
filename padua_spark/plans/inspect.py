"""Pull facts out of a DataFrame's physical plan for assertions."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def generated_code(df: DataFrame) -> str:
    """The Java source whole-stage codegen emits for ``df``'s plan."""
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    return "\n".join(seq.apply(i)._2() for i in range(seq.size()))


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far
    (``CodegenMetrics``); a hit in the generated-class cache adds none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def has_partial_aggregate(df: DataFrame) -> bool:
    """True when the plan contains a map-side partial aggregation
    (HashAggregate appears both before and after the exchange)."""
    plan = explain_str(df)
    return len(re.findall(r"HashAggregate", plan)) >= 2


def pushed_filters(df: DataFrame) -> list[str]:
    """The filters that reached the (parquet) scan."""
    plan = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(
                f.strip() for f in m.group(1).split(",") if f.strip()
            )
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names in the scan's ReadSchema — what actually gets read
    off disk (column-pruning check)."""
    plan = explain_str(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def count_exchanges(df: DataFrame, simple: bool = True) -> int:
    """Number of shuffle Exchange operators in the physical plan
    (BroadcastExchange excluded — broadcasts are the cheap kind)."""
    plan = explain_str(df, "simple" if simple else "formatted")
    return len(re.findall(r"(?<!Broadcast)Exchange", plan))
