"""SparkSession factory with scale-appropriate defaults.

Test/bench runs use ``local[N]``; on a real cluster the same settings
(AQE on, sensible shuffle partitioning, Arrow for the few pandas UDFs)
are the ones you want at 100 TB: AQE coalesces/re-splits shuffle
partitions at runtime and handles skew joins, so a static
``shuffle.partitions`` only needs to be a reasonable upper bound.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "padua_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions, skew-join
        # splitting, and dynamic join-strategy switching. Essential at
        # scale, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        # Arrow transfer for the few pandas-UDF operators (p-value CDFs,
        # PLS); batches amortize the Python boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # The synthetic events table stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp type — read them as raw int64 nanos.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Non-ANSI evaluation: degenerate aggregates (zero-variance
        # corr, n=1 var_samp) and x/0 yield NULL — matching both the
        # reference's NaN-is-missing semantics and DuckDB — instead of
        # throwing (Spark 4 ANSI default).
        .config("spark.sql.ansi.enabled", "false")
        # InferFiltersFromGenerate + predicate pushdown inline the
        # generator-input expression into a synthesized size()>0 filter.
        # For explode over computed arrays (shingle hashing) that
        # re-evaluates an O(len) expression per element — a ~25×
        # regression. The rule only prunes empty-array rows; exclude it.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Spark 4 routes lower()/upper() through ICU by default. The first
        # call in a JVM runs CollationAwareUTF8String's static initializer
        # (a title-case table over the code-point range) even when every
        # string is ASCII, which both paths map with the same
        # toLowerCaseAscii(). Measured on 4 vCPUs, JDK 17: the first
        # lower() on 8 ASCII rows took 2.1-2.3 s wall / 4.7-5.0 s process
        # CPU with ICU, 0.24-0.31 s / 0.75-0.81 s without. The JVM path
        # (String.toLowerCase, Unicode 13 tables) also agrees with DuckDB
        # on the Unicode 14-16 letters (README "Known divergences").
        # Runtime conf; __spark_entry__._t sets it on foreign sessions.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # Generated-class cache (static conf, JVM-wide). protein_groups_ratio
        # plus phospho_lfq compile ~130 classes; at Spark's default of 100
        # entries a repeat of the two re-compiled 112 of them, at 1024 none
        # (tests/test_session_levers.py).
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # PySpark 4 wraps every Column/function call with DataFrame
        # debugging (call-site capture for error context). Each wrapped
        # call costs ~4 extra py4j round trips (conf.get + origin
        # set/clear), which multiplies DataFrame-construction time ~3-5x
        # driver-side. Static conf, so it must be set here. Purely an
        # error-message-metadata feature — no query result depends on it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # an earlier session in this process may have set the memo already
    disable_dataframe_debugging()
    return spark


def disable_dataframe_debugging() -> None:
    """Force PySpark 4's process-wide DataFrame-debugging memo off.

    The wrapper costs ~4 py4j round trips per Column/function call
    (~3-5x driver-side construction time) for error-message metadata
    only. Its conf is static, so a running session — ours or a foreign
    driver's — is switched only through this private memo. Poke it only
    if it still exists: after a PySpark rename a blind assignment would
    silently restore the tax, so warn instead (tests/test_units.py pins
    the attribute)."""
    try:  # pragma: no cover - defensive against PySpark internals moving
        import pyspark.errors.utils as _eu
    except ImportError:
        return
    if hasattr(_eu, "_enable_debugging_cache"):
        _eu._enable_debugging_cache = False
    else:
        import warnings

        warnings.warn(
            "pyspark.errors.utils._enable_debugging_cache is gone; "
            "the dataFrameDebugging fast path no longer applies "
            "(construction-perf regression)",
            RuntimeWarning,
            stacklevel=2,
        )
