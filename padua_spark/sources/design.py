"""Experimental-design table reader.

Reference: ``process.build_index_from_design`` consumes a small CSV
keyed by sample ``Label`` with level columns (Group/Timepoint/
Replicate/Technical), coercing listed levels to int
(``padua/process.py:23-111``, types at :61-64). The design table is a
broadcast dimension in the long model (see operators.process.join_design).
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_INT_LEVELS = ("Timepoint", "Replicate", "Technical")


def _csv_names(line: str, sep: str) -> list[str]:
    """The column names Spark's CSV reader takes from a header ``line``:
    a leading byte-order mark dropped, the rest split by ``sep`` with
    ``"`` quoting and ``\\`` escapes; like Spark, an empty name becomes
    ``_c<i>`` and a name repeated (case-insensitively) gets its position
    appended."""
    (names,) = csv.reader(
        [line.removeprefix("\ufeff")], delimiter=sep, quotechar='"',
        escapechar="\\",
    )
    folded = [n.lower() for n in names]
    return [
        f"_c{i}" if not n
        else f"{n}{i}" if folded.count(n.lower()) > 1
        else n
        for i, n in enumerate(names)
    ]


def _header_line(spark: SparkSession, path: str) -> str:
    """The first non-blank line of ``path``, read on the driver through
    the Hadoop FileSystem API (any file system)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(hpath)
    try:
        lines = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        line = lines.readLine()
        while line is not None and not line.strip():
            line = lines.readLine()
    finally:
        stream.close()
    if line is None:
        raise ValueError(f"{path!r} has no header line")
    return line


def _string_schema(names: list[str]) -> T.StructType:
    return T.StructType([T.StructField(n, T.StringType()) for n in names])


def read_design(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    int_levels: tuple[str, ...] = DEFAULT_INT_LEVELS,
) -> DataFrame:
    """Read a design CSV with a header row: every column a string, then
    the listed ``int_levels`` cast to int. The header is read on the
    driver and the all-string schema declared, so the scan fires no
    header job."""
    schema = _string_schema(_csv_names(_header_line(spark, path), sep))
    df = (
        spark.read.option("sep", sep)
        .option("header", True)
        .schema(schema)
        .csv(path)
    )
    for lvl in int_levels:
        if lvl in df.columns:
            df = df.withColumn(lvl, F.col(lvl).cast("int"))
    return df
