"""Perseus annotated-TSV source/sink.

Reference: ``padua/io.py:21-30`` (``read_perseus``: TSV whose first rows
carry label + ``#!{Type}`` annotations) and ``io.py:33-82``
(``write_perseus``: emits a type row tagging each column
C(ategorical)/N(umeric)/T(ext)/E(xpression), field-type map at
io.py:44-65).

Perseus files are small exports (the GUI tool's own format), so the
sink coalesces to a single file and the header is assembled
driver-side; the data scan/write itself is a normal Spark CSV job.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from padua_spark.sources.design import _csv_names, _string_schema

# Reference field→type map (io.py:44-65), extended by dtype fallback.
_KNOWN_TYPES = {
    "Amino acid": "C",
    "Charge": "C",
    "Reverse": "C",
    "Potential contaminant": "C",
    "Contaminant": "C",
    "Only identified by site": "C",
    "Multiplicity": "C",
    "Localization prob": "N",
    "PEP": "N",
    "Score": "N",
    "Delta score": "N",
    "Score for localization": "N",
    "Position": "N",
    "Positions within proteins": "T",
    "Proteins": "T",
    "Protein names": "T",
    "Gene names": "T",
    "Sequence window": "T",
    "id": "N",
}
_EXPRESSION_PREFIXES = ("Intensity", "LFQ intensity", "Ratio ")


def perseus_type(name: str, dtype: T.DataType) -> str:
    if name in _KNOWN_TYPES:
        return _KNOWN_TYPES[name]
    if name.startswith(_EXPRESSION_PREFIXES):
        return "E"
    if isinstance(dtype, (T.DoubleType, T.FloatType, T.IntegerType,
                          T.LongType, T.DecimalType)):
        return "N"
    return "T"


def write_perseus(df: DataFrame, path: str) -> None:
    """Single-file TSV with a ``#!{Type}`` annotation row after the
    header (reference: ``io.write_perseus``, io.py:33-82)."""
    types = [perseus_type(f.name, f.dataType) for f in df.schema.fields]
    tmp = tempfile.mkdtemp(prefix="perseus_")
    try:
        out_dir = os.path.join(tmp, "data")
        df.coalesce(1).write.option("sep", "\t").option(
            "header", True
        ).mode("overwrite").csv(out_dir)
        part = glob.glob(os.path.join(out_dir, "part-*.csv"))[0]
        with open(path, "w") as out, open(part) as data:
            header = data.readline()
            out.write(header)
            first = "#!{Type}" + types[0]
            out.write("\t".join([first] + types[1:]) + "\n")
            shutil.copyfileobj(data, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def read_perseus(spark: SparkSession, path: str) -> DataFrame:
    """Read a Perseus TSV, dropping annotation rows (``#!…`` markers)
    and applying the type row's casts (reference: ``io.read_perseus``,
    io.py:21-30 collapses the multi-row header). The header line read
    here gives the all-string schema the scan declares, so it fires no
    header job.
    """
    with open(path) as f:
        header = _csv_names(f.readline().rstrip("\n"), "\t")
        type_rows = []
        line = f.readline()
        while line.startswith("#!"):
            type_rows.append(line.rstrip("\n").split("\t"))
            line = f.readline()
    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .schema(_string_schema(header))
        .csv(path)
        .filter(~F.col(header[0]).startswith("#!"))
    )
    if type_rows:
        tags = [c.replace("#!{Type}", "") for c in type_rows[0]]
        for name, tag in zip(header, tags):
            if tag in ("N", "E"):
                df = df.withColumn(name, F.col(name).cast("double"))
    return df
