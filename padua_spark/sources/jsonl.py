"""JSONL corpus source/sink — the de-facto interchange format for
web-scale text corpora (one JSON document per line).

The 100 TB concern is not parsing — Spark's JSON reader is fine — but
**corrupt lines**: a crawl shard with a few truncated records must not
fail the job OR silently drop data. This source reads PERMISSIVE with
an explicit corrupt-record column and splits the result into a clean
lane and a quarantine lane carrying the raw offending line, so ingest
jobs can load clean data and audit/replay the rest.

No padua equivalent (the reference reads MaxQuant TSVs); this is
infrastructure for the training-data extension surface (documents
table shape: ``doc_id, text, lang, source, …``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Default documents schema, matching the testdata `documents` table.
DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string"

CORRUPT_COL = "_corrupt_record"


def read_jsonl_docs(
    spark: SparkSession,
    path: str,
    schema: str = DOCS_SCHEMA,
    corrupt_col: str = CORRUPT_COL,
) -> DataFrame:
    """Read a JSONL directory/file with an EXPLICIT schema (schema
    inference at 100 TB is a full extra pass — never infer in
    production) in PERMISSIVE mode: malformed lines yield a row whose
    data columns are NULL and whose ``corrupt_col`` holds the raw
    line. Split lanes with :func:`split_corrupt`.
    """
    full_schema = f"{schema}, {corrupt_col} string"
    return (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def split_corrupt(
    df: DataFrame, corrupt_col: str = CORRUPT_COL
) -> tuple[DataFrame, DataFrame]:
    """Split a :func:`read_jsonl_docs` frame into ``(clean, bad)``.

    ``clean`` drops the corrupt column; ``bad`` is
    ``(raw_record string)`` — the quarantine lane for audit/replay.
    Spark refuses queries that reference ONLY the corrupt column over
    a raw JSON scan (the pruned scan couldn't know what was corrupt),
    so the frame is cached before the lanes split; callers that have
    already materialized (e.g. wrote clean to parquet) can unpersist.

    **Scale note**: the cache is a whole-corpus MEMORY_AND_DISK
    persist — fine up to the spill budget, wrong at 100 TB. For large
    inputs use :func:`split_corrupt_via_sink`, which writes the clean
    parquet lane first and derives the quarantine lane by anti-join —
    two streaming passes, nothing persisted.
    """
    cached = df.cache()
    is_bad = F.col(corrupt_col).isNotNull()
    clean = cached.where(~is_bad).drop(corrupt_col)
    bad = cached.where(is_bad).select(
        F.col(corrupt_col).alias("raw_record")
    )
    from padua_spark.io_utils import track_cached

    return track_cached(clean, cached), track_cached(bad, cached)


def split_corrupt_via_sink(
    spark: SparkSession,
    src_path: str,
    clean_dir: str,
    schema: str = DOCS_SCHEMA,
    corrupt_col: str = CORRUPT_COL,
) -> tuple[DataFrame, DataFrame]:
    """The AT-SCALE quarantine split: write the clean lane to parquet
    FIRST, then derive the quarantine lane by re-parsing raw lines —
    no full-corpus persist anywhere.

    :func:`split_corrupt` caches the raw PERMISSIVE scan so both lanes
    read it once; correct, but at 100 TB that is a whole-corpus
    MEMORY_AND_DISK spill. This variant is two streaming passes over
    the source instead:

    1. pass 1 — PERMISSIVE read, keep rows with ``corrupt_col`` NULL,
       write ``clean_dir`` (columnar, compressed: the lane every
       downstream job consumes);
    2. pass 2 — read the source as raw ``text`` lines and apply the
       SAME permissive parse per line via ``from_json`` with the same
       schema + corrupt-record column; lines whose corrupt field is
       set are exactly the ones pass 1 excluded. No join, no id
       extraction — the two passes share one parse definition, so the
       lanes partition the input by construction.

    Returns ``(clean, bad)``: ``clean`` re-read from ``clean_dir``
    (parquet-backed — cheap to consume many times), ``bad`` the lazy
    raw-line quarantine lane ``(raw_record string)``.
    """
    raw = read_jsonl_docs(spark, src_path, schema=schema,
                          corrupt_col=corrupt_col)
    clean_cols = [c for c in raw.columns if c != corrupt_col]
    written = raw.where(F.col(corrupt_col).isNull()).select(*clean_cols)
    written.write.mode("overwrite").parquet(clean_dir)
    clean = spark.read.schema(written.schema).parquet(clean_dir)
    lines = spark.read.schema("value string").text(src_path)
    parsed = F.from_json(
        F.col("value"),
        f"{schema}, {corrupt_col} string",
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
    )
    # spark.read.json silently SKIPS blank/whitespace-only lines (they
    # produce no row in either lane of pass 1), but spark.read.text
    # yields them and from_json would flag them corrupt — phantom
    # quarantine records the PERMISSIVE reader never saw. Mirror the
    # JSON reader's blank-line skipping so the lanes partition the
    # input by construction.
    bad = lines.where(
        (F.length(F.trim(F.col("value"))) > 0)
        & parsed.getField(corrupt_col).isNotNull()
    ).select(F.col("value").alias("raw_record"))
    return clean, bad


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str = "gzip",
    mode: str = "error",
) -> None:
    """Write a frame as compressed JSONL (one JSON object per line) —
    the interchange export for downstream tokenizer/training jobs."""
    df.write.mode(mode).option("compression", compression).json(path)
