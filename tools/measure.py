"""Optimization-round measurement harness (guide §1).

For each named query: capture ``.explain("formatted")`` into
``plans/<round>/<query>_<tag>.txt`` and time the noop-sink execution
(guide §1.4) ``reps`` times with the job labelled
(``setJobDescription``, guide §1.5).  Prints one JSON line per query:
``{"name":..., "times":[...], "median":..., "cpu_s":[...],
"compiles":[...], "shuffle_exchanges":N, ...}`` so the before/after
evidence in the round's OPTIMIZATION_<round>.md is reproducible.
``cpu_s`` is the per-rep CPU of the whole process tree (this Python
process, the JVM, its Python workers) and ``compiles`` the generated classes Janino compiled
in that rep: a first-use cost shows as rep 0 far above the rest, a
thrashing generated-class cache as ``compiles > 0`` on later reps.

Run: ``python tools/measure.py <round> <tag> <query1,query2,...> [reps]``
(e.g. round ``r14``; env ``SPARK_GRAFT_SF_DIR`` selects the scale,
default sf0.1).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import __spark_entry__ as entrymod
from padua_spark.plans.inspect import codegen_compiles, explain_str
from padua_spark.session import get_spark
from perfbench import procstat


def main() -> None:
    rnd, tag = sys.argv[1], sys.argv[2]
    names = [n for n in sys.argv[3].split(",") if n]
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", rnd,
    )
    os.makedirs(plans_dir, exist_ok=True)
    # no console progress bar: it would glue itself to the JSON lines
    spark = get_spark(
        app_name=f"{rnd}_measure_{tag}",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    # same warm-up as bench.py so rep medians are comparable
    spark.range(1000).selectExpr("sum(id)").collect()
    warm = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    warm.write.format("noop").mode("overwrite").save()
    try:
        from padua_spark.benchdata import (
            ensure_maxquant_fixture,
            ensure_msp_fixture,
        )

        ensure_maxquant_fixture(sf_dir)
        ensure_msp_fixture(sf_dir)
    except Exception:
        pass
    for name in names:
        if name not in queries:
            print(json.dumps({"name": name, "err": "unknown"}))
            continue
        try:
            df = queries[name](spark, sf_dir)
            plan = explain_str(df, "formatted")
            pfile = os.path.join(plans_dir, f"{name}_{tag}.txt")
            with open(pfile, "w") as fh:
                fh.write(plan)
            n_exch = len(
                re.findall(r"\bExchange\b", plan)
            )
            n_bcast = len(re.findall(r"BroadcastExchange", plan))
            times, cpu_s, compiles = [], [], []
            for _ in range(reps):
                # bench.py's timed region: construction (which for the
                # iterative/persisting operators does real work via
                # internal count()/collect() actions) PLUS the noop
                # sink — timing only the sink would miss most of an
                # iterative query's wall.
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(f"{rnd}:{name}")
                c0, cpu0 = codegen_compiles(spark), procstat.cpu_seconds()
                t0 = time.perf_counter()
                df = queries[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                times.append(round(time.perf_counter() - t0, 3))
                cpu_s.append(round(procstat.cpu_seconds() - cpu0, 2))
                compiles.append(codegen_compiles(spark) - c0)
                spark.sparkContext.setJobDescription(None)
                spark.catalog.clearCache()
            s = sorted(times)
            med = (
                s[len(s) // 2]
                if len(s) % 2
                else (s[len(s) // 2 - 1] + s[len(s) // 2]) / 2.0
            )
            print(
                json.dumps(
                    {
                        "name": name,
                        "times": times,
                        "median": round(med, 3),
                        "cpu_s": cpu_s,
                        "compiles": compiles,
                        "shuffle_exchanges": n_exch - n_bcast,
                        "broadcast_exchanges": n_bcast,
                        "plan_file": os.path.relpath(
                            pfile,
                            os.path.dirname(
                                os.path.dirname(os.path.abspath(__file__))
                            ),
                        ),
                    },
                    separators=(",", ":"),
                ),
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001 — record and continue
            print(
                json.dumps(
                    {"name": name, "err": f"{type(exc).__name__}: {exc}"[:200]}
                ),
                flush=True,
            )


if __name__ == "__main__":
    main()
