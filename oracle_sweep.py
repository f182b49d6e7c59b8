"""Full-breadth correctness artifact: run EVERY ``queries()`` entry on
Spark at sf0.01 against its DuckDB ``oracle_sql()`` twin and write
``CORRECTNESS_LOCAL.json`` in the driver's per-query shape
(rows_match / schema_match / hash_match / row counts / err).

The external driver samples a fixed subset of queries for its
``CORRECTNESS_r{N}.json``; this sweep is the visible green record for
the entries that sample never reaches. Compare semantics mirror
``tests/test_oracle_parity.py`` (columns sorted by name, rows sorted by
stringified values, NaN/-0.0 normalized) — a full value comparison,
strictly stronger than the driver's value hash.

Run: ``python oracle_sweep.py`` (optional env ``SPARK_GRAFT_SF_DIR``).
"""

from __future__ import annotations

import json
import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_SPARK_FAMILY = {
    "bigint": "int", "int": "int", "smallint": "int", "tinyint": "int",
    "double": "float", "float": "float",
    "string": "str", "boolean": "bool", "timestamp": "ts",
}
_DUCK_FAMILY = {
    "BIGINT": "int", "INTEGER": "int", "SMALLINT": "int", "TINYINT": "int",
    "HUGEINT": "int", "UBIGINT": "int",
    "DOUBLE": "float", "FLOAT": "float", "DECIMAL": "float",
    "VARCHAR": "str", "BOOLEAN": "bool", "TIMESTAMP": "ts",
}


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                elif v == 0.0:
                    v = 0.0
            if isinstance(v, bool):
                v = bool(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [sorted(c for c in cols)] + out


def main() -> None:
    import duckdb

    from padua_spark.session import get_spark

    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    # Log-cleanliness gate (round-12 verdict #6): the kuiper codegen
    # blowout shipped silently because Spark logs ERROR-level codegen
    # failures to stderr while the sweep still exits 0. Capture fd 2
    # (the JVM inherits it at launch) to a file, count
    # "ERROR CodeGenerator" / "ERROR Executor" lines at the end, and
    # FAIL the sweep when nonzero — an interpreted-fallback plan is a
    # perf bug even when the values stay green.
    stderr_log = "/tmp/padua_sweep_stderr.log"
    saved_fd2 = os.dup(2)
    log_fh = open(stderr_log, "wb", buffering=0)
    os.dup2(log_fh.fileno(), 2)
    spark = get_spark(app_name="padua_spark_oracle_sweep")
    spark.sparkContext.setLogLevel("ERROR")
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # the pipeline oracles in oracle_sql() read the sf0.01 fixtures
    oracles.update(entrymod._pipeline_oracles(sf_dir))
    only = {
        n for n in os.environ.get(
            "SPARK_GRAFT_SWEEP_ONLY", ""
        ).split(",") if n
    }
    if only:
        queries = {n: q for n, q in queries.items() if n in only}
    results: dict[str, dict] = {}
    for name in sorted(queries):
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        results[name] = rec
        try:
            sdf = queries[name](spark, sf_dir)
            spark_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(spark_rows)
            if name not in oracles:
                rec["err"] = "no_oracle"
                continue
            res = duck.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = [tuple(r) for r in res.fetchall()]
            rec["oracle_rows"] = len(duck_rows)
            rec["rows_match"] = len(spark_rows) == len(duck_rows)
            duck_types = {
                r[0]: _DUCK_FAMILY.get(str(r[1]).split("(")[0], str(r[1]))
                for r in duck.execute(
                    f"DESCRIBE {oracles[name]}"
                ).fetchall()
            }
            schema_ok = sorted(sdf.columns) == sorted(duck_cols)
            for col, dtype in sdf.dtypes:
                fam = duck_types.get(col)
                if fam in ("int", "float", "str", "bool"):
                    schema_ok = schema_ok and (
                        _SPARK_FAMILY.get(dtype.split("(")[0], dtype)
                        == fam
                    )
            rec["schema_match"] = schema_ok
            a = _normalize(spark_rows, sdf.columns)
            b = _normalize(duck_rows, duck_cols)
            rec["hash_match"] = a == b
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
            traceback.print_exc(limit=2, file=sys.stderr)
    # Restore stderr and tally JVM ERROR lines before writing artifacts.
    sys.stderr.flush()
    os.dup2(saved_fd2, 2)
    os.close(saved_fd2)
    log_fh.close()
    log_errors = {"codegen": 0, "executor": 0}
    try:
        with open(stderr_log, "rb") as fh:
            for raw in fh:
                if b"ERROR CodeGenerator" in raw:
                    log_errors["codegen"] += 1
                elif b"ERROR Executor" in raw:
                    log_errors["executor"] += 1
    except OSError:
        pass
    results["__sweep_log_errors__"] = dict(
        log_errors, stderr_log=stderr_log
    )
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        # a filtered run is a dev spot-check — never clobber the full
        # sweep artifact with a subset
        "CORRECTNESS_SUBSET.json" if only else "CORRECTNESS_LOCAL.json",
    )
    with open(path, "w") as fh:
        json.dump(results, fh, indent=1)
        fh.write("\n")
    qrecs = {k: r for k, r in results.items() if not k.startswith("__")}
    n = len(qrecs)
    green = sum(
        1 for r in qrecs.values()
        if r["hash_match"] and r["rows_match"] and r["schema_match"]
    )
    rows_only = sum(1 for r in qrecs.values() if r["err"] == "no_oracle")
    failed = {
        k: r for k, r in qrecs.items()
        if r["err"] not in (None, "no_oracle")
        or r["hash_match"] is False
        or r["rows_match"] is False
        or r["schema_match"] is False
    }
    print(
        json.dumps(
            {
                "sweep": "oracle_full", "sf_dir": sf_dir, "queries": n,
                "green": green, "rows_only": rows_only,
                "failed": sorted(failed),
                "log_errors": log_errors,
            },
            separators=(",", ":"),
        )
    )
    if failed or any(log_errors.values()):
        if any(log_errors.values()):
            print(
                "SWEEP LOG GATE: nonzero JVM ERROR lines "
                f"({log_errors}); see {stderr_log}",
                file=sys.stderr,
            )
        sys.exit(1)


if __name__ == "__main__":
    main()
