"""Round-14 jobs-per-round dissection of the iterative graph family
(VERDICT r13 item 4): run each query once and report total Spark jobs
plus wall, then the same with k_iters varied for the pagerank pair so
the per-round job increment is measurable. Receipts for the floor note
in OPTIMIZATION_r14.md §5.

Run: python tools/r14_graph_jobs.py  (env SPARK_GRAFT_SF_DIR)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import __spark_entry__ as entrymod
from padua_spark.session import get_spark


def jobs_and_wall(spark, fn, group):
    """Build + noop-sink ``fn()`` under the job group ``group`` and
    return (that group's job count, wall). A probe-owned group counts
    exactly the probe's jobs: the default group misses jobs run under
    any other group, and a session-wide count is capped by
    ``spark.ui.retainedJobs``."""
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        df = fn()
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
    finally:
        sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    spark.catalog.clearCache()
    return jobs, round(wall, 3)


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="r14_graph_jobs")
    spark.sparkContext.setLogLevel("ERROR")
    q = entrymod.queries()
    spark.range(1000).selectExpr("sum(id)").collect()
    for name in ("pagerank_trade", "personalized_pagerank",
                 "hits_scores", "katz_centrality", "label_propagation",
                 "dedup_clusters", "kcore_parts"):
        runs = [jobs_and_wall(spark, lambda: q[name](spark, sf_dir),
                              f"{name}#{rep}")
                for rep in range(2)]
        print(json.dumps({"name": name, "jobs": runs[0][0],
                          "walls": [r[1] for r in runs]},
                         separators=(",", ":")), flush=True)

    # per-round increment: rebuild the pagerank_trade edge shape with
    # k_iters varied (the declared query pins k=5; this probe only
    # measures the job-count DERIVATIVE, it does not replace the query)
    from pyspark.sql import functions as F

    from padua_spark.extensions.graph import pagerank

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    okeys = F.broadcast(o.select("o_orderkey", "o_custkey"))
    edges = (
        li.select("l_orderkey", "l_suppkey")
        .join(okeys, li["l_orderkey"] == okeys["o_orderkey"])
        .select(
            F.col("l_suppkey").cast("long").alias("src"),
            F.col("o_custkey").cast("long").alias("dst"),
        )
    )
    for k in (1, 3, 5, 8):
        jobs, wall = jobs_and_wall(
            spark, lambda: pagerank(edges, k_iters=k), f"pagerank_k{k}"
        )
        print(json.dumps({"probe": "pagerank_k", "k": k, "jobs": jobs,
                          "wall": wall}, separators=(",", ":")),
              flush=True)


if __name__ == "__main__":
    main()
