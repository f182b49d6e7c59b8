"""padua_spark benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload registry --seed 1 \
        --seconds 20 --trace 0

Runs from the root of a source checkout and touches nothing outside it:
inputs, Spark scratch space, exports and the event log live in
``.perfbench_work/`` and are removed at exit. The engine runs on one
driver process at ``local[<usable cores>]``.

Order of a run: make the seeded inputs; import the engine; create the
session and warm it up ``SETUP_CYCLES`` times; then one timed pass over
the workload's fixed op mix. That pass collects each output (exports
go to their files), and after it ends the outputs are checked against
the DuckDB twins. A run always times that one pass, so two commits
under comparison time the same work; the mixes are sized so that it
takes about BENCHMARK.json's ``run_seconds`` on a 4-vCPU host, and
``--seconds`` does not change it. ``--trace 0`` reports the end-to-end
metrics. ``--trace 1`` adds three noop-sink passes, plain, traced and
plain, and reports the per-layer metrics, including the tracing
overhead: the traced pass's wall time minus the mean of the plain
passes around it, which the JIT's warming does not favour.
Human-readable lines go first; the last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, procstat, summary  # noqa: E402
from perfbench import tracer as tr  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx, Op, Workload, _rows  # noqa: E402

SETUP_CYCLES = 3
WORK = ".perfbench_work"

# (name, unit, gated): BENCHMARK.json bounds the gated ones. Wall times
# are printed only: on a shared 4-vCPU host the hypervisor took 12-18%
# of the CPU while a run was busy, and across ten seeds the timed pass's
# wall time spread by 0.27-0.48 of its median, against 0.04-0.19 for its
# process-tree CPU time; the largest bound allowed to gate on is 0.25.
END_TO_END = [
    ("setup_s", "s", True), ("wall_s", "s", False),
    ("op_p50_s", "s", False), ("op_tail_s", "s", False),
    ("cpu_s", "s", True), ("peak_rss_mb", "MB", True),
]
# phospho_lfq (pipelines) runs the first five, registry entries the rest
_OPERATORS = [
    f"operators.{m}" for m in (
        "filters", "process", "normalization", "aggregates", "stats",
        "imputation", "ml")
]
_ON_PIPELINES = {f"operators.{m}" for m in (
    "filters", "process", "normalization", "aggregates", "stats")}
_EXTENSIONS = [
    f"extensions.{m}" for m in ("similarity", "dedup", "graph", "text")]
_SETUP = "setup_s on every workload"
_PHASES = "wall_s, op_p50_s on registry"
_READS = "wall_s, cpu_s on pipelines (flat on registry)"
_WRITES = "wall_s on pipelines (its write_* ops)"
_ENGINE = "cpu_s, wall_s on pipelines and registry"
# (name, unit, better, the end-to-end metric and workload it should move)
PER_LAYER = [
    ("session.get_spark_s", "s", "lower", _SETUP),
    ("session.warmup_s", "s", "lower", _SETUP),
    ("session.launch_s", "s", "lower",
     "none: the first set-up cycle, JVM launch included, which the "
     "median in setup_s leaves out"),
    ("session.conf_changes", "count", "lower", _SETUP),
    ("sources.calls", "count", "lower", _READS),
    ("sources.self_s", "s", "lower", _READS),
    ("sources.eager_jobs", "count", "lower", _READS),
    ("sources.rescan_ratio", "ratio", "lower", _READS),
    ("sources.write_s", "s", "lower", _WRITES),
    ("sources.write_tasks", "count", "lower", _WRITES),
    *[
        (f"{layer}.{m}", unit, "lower",
         "wall_s, op_p50_s on "
         + ("pipelines" if layer in _ON_PIPELINES else "registry"))
        for layer in _OPERATORS
        for m, unit in (("calls", "count"), ("self_s", "s"),
                        ("eager_jobs", "count"))
    ],
    *[
        (f"{layer}.{m}", unit, "lower",
         "wall_s, op_tail_s on registry")
        for layer in _EXTENSIONS
        for m, unit in (("calls", "count"), ("self_s", "s"),
                        ("eager_jobs", "count"))
    ],
    ("pipelines.self_s", "s", "lower", "wall_s, op_p50_s on pipelines"),
    ("op.build_s", "s", "lower", _PHASES),
    ("op.plan_s", "s", "lower", _PHASES),
    ("op.exec_s", "s", "lower", _PHASES),
    ("spark.jobs", "count", "lower", _ENGINE),
    ("spark.stages", "count", "lower", _ENGINE),
    ("spark.tasks", "count", "lower", _ENGINE),
    ("spark.executor_run_s", "s", "lower", _ENGINE),
    ("spark.executor_cpu_s", "s", "lower", _ENGINE),
    ("spark.jvm_gc_s", "s", "lower", _ENGINE),
    ("spark.shuffle_read_mb", "MB", "lower", _ENGINE),
    ("spark.shuffle_write_mb", "MB", "lower", _ENGINE),
    ("spark.spill_mb", "MB", "lower", _ENGINE),
    ("spark.input_mb", "MB", "lower", _READS),
    ("spark.output_mb", "MB", "lower", _WRITES),
    ("spark.cpu_util", "ratio", "higher", _ENGINE),
    ("spark.jvm_error_lines", "count", "lower", _ENGINE),
    ("cache.leaked_rdds", "count", "lower",
     "peak_rss_mb on registry"),
    ("trace.overhead_s", "s", "lower",
     "none: the tracer's own cost, traced minus plain pass wall time"),
]
_JVM_ERRORS = (b"ERROR CodeGenerator", b"ERROR Executor")


@dataclass
class OpRecord:
    name: str
    ok: bool = True
    error: str = ""
    build_s: float = 0.0
    plan_s: float = 0.0
    exec_s: float = 0.0
    leaked_rdds: int = 0
    conf_changes: int = 0
    got: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class PassRecord:
    index: int
    traced: bool
    ops: list[OpRecord] = field(default_factory=list)
    wall_s: float = 0.0
    cpu_s: float = 0.0
    peak_rss: int = 0
    span_range: tuple[int, int] = (0, 0)


# ---------------------------------------------------------------------------
# engine set-up


def import_engine(inputs: dict[str, str], work: str):
    """Import the engine through its public modules. The pipeline
    oracles are built at import from ``benchdata``'s fixture paths, so
    those point at this run's generated inputs first."""
    import padua_spark.benchdata as bd

    def path(role: str) -> str:
        return inputs.get(role, os.path.join(work, "absent", role))

    bd.ensure_maxquant_fixture = lambda sf_dir: (
        path("sites"), path("design"), path("ratio_design"))
    bd.ensure_msp_fixture = lambda sf_dir: (path("msp"), path("design"))
    import __spark_entry__ as entry
    from padua_spark import pipelines, session  # noqa: F401
    from padua_spark.sources import perseus, phosphopath  # noqa: F401

    return entry, session


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1 only: the JIT settles within the warm-up pass. With C2 the
        # JVM keeps compiling through the timed passes, which then drift
        # by pass and spend more CPU on the compiler than on the tasks.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData -XX:TieredStopAtLevel=1"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def _hold(batches):
    time.sleep(0.3)
    yield from batches


def warm_up(spark, inputs: dict[str, str]) -> None:
    """Fixed, data-independent warm-up: one job, a scan of the smallest
    input with the reader the workload uses, and one Arrow Python worker
    per core. The engine's pandas UDFs reuse those workers; without them
    a pass started one to four of them, depending on task timing, and
    peak_rss_mb moved by a worker's size from run to run."""
    spark.range(1000).selectExpr("sum(id)").collect()
    small = min(inputs.values(), key=os.path.getsize)
    reader = spark.read.option("header", True)
    df = (reader.parquet(small) if small.endswith(".parquet")
          else reader.csv(small))
    df.write.format("noop").mode("overwrite").save()
    n = spark.sparkContext.defaultParallelism
    (spark.range(n, numPartitions=n).mapInPandas(_hold, "id long")
     .write.format("noop").mode("overwrite").save())


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait until it and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    started = [p for p in procstat.tree_pids() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001 - best effort on teardown
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(procstat.alive(p) for p in started):
        if time.monotonic() > deadline:
            for p in filter(procstat.alive, started):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 30
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# ops and passes


def _persistent_rdds(sc) -> set[int]:
    ids = sc._jsc.getPersistentRDDs().keySet().toString().strip("[]")
    return {int(i) for i in ids.split(",") if i.strip()}


def _conf_text(spark) -> str:
    return spark._jsparkSession.conf().getAll().toString()


def _sink(ctx: Ctx, op: Op, frames: dict, collect: bool, rec: OpRecord) -> None:
    for name, frame in frames.items():
        if op.write is not None:
            op.write(ctx, name, frame)
        elif collect:
            rec.got[name] = _rows(frame)
        else:
            frame.write.format("noop").mode("overwrite").save()


def _restore_conf(spark, before: dict[str, str]) -> int:
    """Put back session confs an op changed; returns how many it changed."""
    after = dict(spark.conf.getAll)
    changed = {k for k in before.keys() | after.keys()
               if before.get(k) != after.get(k)}
    for k in changed:
        try:
            if k in before:
                spark.conf.set(k, before[k])
            else:
                spark.conf.unset(k)
        except Exception:  # noqa: BLE001 - static confs stay as set
            pass
    return len(changed)


def run_op(ctx: Ctx, op: Op, group: str, tracer: tr.Tracer | None,
           collect: bool = False) -> OpRecord:
    spark, sc = ctx.spark, ctx.spark.sparkContext
    rec = OpRecord(op.name)
    conf0_text = _conf_text(spark)
    if conf0_text not in ctx.conf_snapshots:
        ctx.conf_snapshots[conf0_text] = dict(spark.conf.getAll)
    rdd0 = _persistent_rdds(sc)

    def phase(name: str):
        sc.setJobGroup(f"{group}:{op.name}:{name}", op.name)
        return tracer.open("op", name) if tracer else None

    def done(span):
        if span is not None:
            tracer.close(span)

    try:
        span = phase("build")
        t0 = time.perf_counter()
        try:
            frames = op.build(ctx)
        finally:
            t1 = time.perf_counter()
            done(span)
        rec.build_s = t1 - t0
        if tracer:
            span = phase("plan")
            t0 = time.perf_counter()
            for frame in frames.values():
                frame._jdf.queryExecution().executedPlan()
            rec.plan_s = time.perf_counter() - t0
            done(span)
        span = phase("sink")
        t0 = time.perf_counter()
        try:
            _sink(ctx, op, frames, collect, rec)
        finally:
            rec.exec_s = time.perf_counter() - t0
            done(span)
    except Exception as exc:  # noqa: BLE001 - an op failure is a result
        rec.ok = False
        rec.error = f"{type(exc).__name__}: {exc}"[:300]
        traceback.print_exc(limit=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # session hygiene, outside the op's latency: count, then reset
        rdds = _persistent_rdds(sc)
        rec.leaked_rdds = len(rdds - rdd0)
        if _conf_text(spark) != conf0_text:
            rec.conf_changes = _restore_conf(
                spark, ctx.conf_snapshots[conf0_text])
        spark.catalog.clearCache()
        if rdds:
            for rdd in dict(sc._jsc.getPersistentRDDs()).values():
                rdd.unpersist(False)
    return rec


def run_pass(ctx: Ctx, wl: Workload, seed: int, index: int,
             tracer: tr.Tracer | None, rss: procstat.RssSampler,
             collect: bool = False) -> PassRecord:
    rec = PassRecord(index, tracer is not None)
    span0 = len(tracer.spans) if tracer else 0
    if tracer:
        tracer.enabled = True
    rss.reset()
    cpu0 = procstat.cpu_seconds()
    t0 = time.perf_counter()
    for op in wl.pass_ops(seed, index):
        rec.ops.append(run_op(ctx, op, f"p{index}", tracer, collect))
    rec.wall_s = time.perf_counter() - t0
    rec.cpu_s = procstat.cpu_seconds() - cpu0
    rec.peak_rss = rss.peak
    if tracer:
        tracer.enabled = False
        rec.span_range = (span0, len(tracer.spans))
    return rec


def check_pass(ctx: Ctx, wl: Workload, rec: PassRecord) -> list[str]:
    """Compare what a collecting pass collected (or wrote) with the
    oracles, outside its timed region; a mismatch fails the op."""
    checks = {op.name: op.check for op in wl.ops}
    problems = []
    ctx.spark.sparkContext.setJobGroup("check", "check")
    for o in rec.ops:
        if not o.ok:
            continue
        t0 = time.perf_counter()
        try:
            found = checks[o.name](ctx, o.got)
        except Exception as exc:  # noqa: BLE001
            found = [f"check raised {type(exc).__name__}: {exc}"[:300]]
        ctx.check_s += time.perf_counter() - t0
        if found:
            o.ok = False
            problems.extend(f"{o.name}: {p}" for p in found)
        o.got = {}
    return problems


# ---------------------------------------------------------------------------
# metrics


def end_to_end(setup_s: float, passes: list[PassRecord]) -> dict[str, tuple]:
    lat = [o.latency_s for p in passes for o in p.ops if o.ok]
    tail, pct, n = summary.tail(lat)
    return {
        "setup_s": (setup_s, 1),
        "wall_s": (summary.median([p.wall_s for p in passes]), len(passes)),
        "op_p50_s": (summary.median(lat), len(lat)),
        "op_tail_s": (tail, n, pct),
        "cpu_s": (summary.median([p.cpu_s for p in passes]), len(passes)),
        "peak_rss_mb": (max(p.peak_rss for p in passes) / 2**20, len(passes)),
    }


def layer_metrics(passes: list[PassRecord], plain: list[PassRecord],
                  tracer: tr.Tracer, jobs: list[eventlog.Job],
                  setup: dict, input_bytes: int, cores: int,
                  jvm_errors: int) -> dict[str, float]:
    spans = tracer.spans
    selfs = tr.self_times(spans)
    per_pass: list[dict[str, float]] = []
    for p in passes:
        lo, hi = p.span_range
        m: dict[str, float] = {k: 0.0 for k, *_ in PER_LAYER}
        for i in range(lo, hi):
            s = spans[i]
            outer = s.parent < 0 or spans[s.parent].layer != s.layer
            if outer:
                m[f"{s.layer}.calls"] = m.get(f"{s.layer}.calls", 0) + 1
                if s.layer == "sources" and s.name.startswith("write_"):
                    m["sources.write_s"] += s.end - s.start
            m[f"{s.layer}.self_s"] = m.get(f"{s.layer}.self_s", 0) + selfs[i]
        pj = [j for j in jobs if j.group.startswith(f"p{p.index}:")]
        pass_spans = spans[lo:hi]
        for j in pj:
            k = tr.innermost(pass_spans, j.submit_s)
            if k < 0 or pass_spans[k].layer == "op":
                continue
            s = pass_spans[k]
            if s.layer == "sources" and s.name.startswith("write_"):
                m["sources.write_tasks"] += j.tasks
            else:
                m[f"{s.layer}.eager_jobs"] = m.get(f"{s.layer}.eager_jobs", 0) + 1
        t = eventlog.totals(pj)
        m.update({
            "spark.jobs": t["jobs"], "spark.stages": t["stages"],
            "spark.tasks": t["tasks"], "spark.executor_run_s": t["run_s"],
            "spark.executor_cpu_s": t["cpu_s"], "spark.jvm_gc_s": t["gc_s"],
            "spark.shuffle_read_mb": t["shuffle_read_mb"],
            "spark.shuffle_write_mb": t["shuffle_write_mb"],
            "spark.spill_mb": t["spill_mb"], "spark.input_mb": t["input_mb"],
            "spark.output_mb": t["output_mb"],
            "spark.cpu_util": t["cpu_s"] / (
                sum(o.exec_s for o in p.ops) * cores),
            "sources.rescan_ratio": t["input_mb"] * eventlog.MB / input_bytes,
            "cache.leaked_rdds": sum(o.leaked_rdds for o in p.ops),
            "session.conf_changes": sum(o.conf_changes for o in p.ops),
        })
        per_pass.append(m)
    out = {k: summary.median([m.get(k, 0.0) for m in per_pass])
           for k, *_ in PER_LAYER}
    ops = [o for p in passes for o in p.ops if o.ok]
    out["op.build_s"] = summary.median([o.build_s for o in ops])
    out["op.plan_s"] = summary.median([o.plan_s for o in ops])
    out["op.exec_s"] = summary.median([o.exec_s for o in ops])
    out.update(setup)
    out["spark.jvm_error_lines"] = jvm_errors
    out["trace.overhead_s"] = (
        summary.median([p.wall_s for p in passes])
        - summary.median([p.wall_s for p in plain])
    )
    return out


# ---------------------------------------------------------------------------
# driver


def benchmark(args, work: str) -> dict:
    wl = WORKLOADS[args.workload]
    t0 = time.perf_counter()
    inputs = wl.inputs(os.path.join(work, "inputs"), args.seed)
    inputs_s = time.perf_counter() - t0
    input_bytes = sum(os.path.getsize(p) for p in inputs.values())
    tracer = tr.Tracer()
    if args.trace:
        tracer.install()

    t0 = time.perf_counter()
    entry, session = import_engine(inputs, work)
    import_s = time.perf_counter() - t0

    conf = spark_conf(work, args.trace)
    ctx = Ctx(None, entry, os.path.dirname(next(iter(inputs.values()))),
              work, inputs)
    oracles = ctx.prefetch([n for op in wl.ops for n in op.oracles])
    cycles, get_spark_s, warm_s = [], [], []
    for cycle in range(SETUP_CYCLES):
        if ctx.spark is not None:
            ctx.spark.stop()
        t0 = time.perf_counter()
        ctx.spark = session.get_spark(app_name="perfbench", extra_conf=conf)
        ctx.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        warm_up(ctx.spark, inputs)
        t2 = time.perf_counter()
        get_spark_s.append(t1 - t0)
        warm_s.append(t2 - t1)
        cycles.append(t2 - t0)
        if cycle == 0:
            # the oracles overlap the JVM launch, which the median of
            # the cycles leaves out; the wait itself is not timed
            oracles.join()
    spark = ctx.spark
    cores = spark.sparkContext.defaultParallelism
    setup_s = import_s + summary.median(cycles)
    rss = procstat.RssSampler().start()
    try:
        # the exports are checked before a later pass overwrites them
        passes = [run_pass(ctx, wl, args.seed, 1, None, rss, collect=True)]
        problems = check_pass(ctx, wl, passes[0])
        if args.trace:
            for i in (2, 3, 4):
                passes.append(run_pass(ctx, wl, args.seed, i,
                                       tracer if i == 3 else None, rss))
    finally:
        rss.stop()
        app_id = spark.sparkContext.applicationId
        t0 = time.perf_counter()
        stop_engine(spark)
        stop_s = time.perf_counter() - t0

    timed_ops = [o for p in passes for o in p.ops]
    problems += [f"{o.name}: {o.error}" for o in timed_ops if o.error]
    return {
        "workload": wl.name, "inputs_s": inputs_s, "stop_s": stop_s,
        "check_s": ctx.check_s, "import_s": import_s, "cycles": cycles,
        "get_spark_s": get_spark_s, "warm_s": warm_s,
        "setup_s": setup_s, "passes": passes, "problems": problems,
        "attempted": len(timed_ops),
        "failed": sum(not o.ok for o in timed_ops),
        "tracer": tracer, "app_id": app_id, "cores": cores,
        "input_bytes": input_bytes,
    }


def report(args, res: dict, work: str, jvm_errors: int) -> dict:
    passes = res["passes"]
    lines = [
        f"# workload={res['workload']} seed={args.seed} "
        f"cores={res['cores']} passes={len(passes)} "
        f"attempted={res['attempted']} failed={res['failed']} "
        f"failed_frac={res['failed'] / res['attempted']:.4f} "
        f"jvm_error_lines={jvm_errors}",
    ]
    lines.append(
        "# setup: import={:.3f}s cycles={}s; untimed: "
        "inputs={:.3f}s checks={:.3f}s stop={:.3f}s".format(
            res["import_s"], "/".join(f"{c:.3f}" for c in res["cycles"]),
            res["inputs_s"], res["check_s"], res["stop_s"]))
    lines += [f"# problem: {p}" for p in res["problems"][:20]]
    for p in passes:
        lines.append(
            f"# pass {p.index}{' traced' if p.traced else ''}: "
            f"wall={p.wall_s:.3f}s cpu={p.cpu_s:.2f}s " + " ".join(
                f"{o.name}={o.build_s:.2f}+{o.exec_s:.2f}" for o in p.ops))
    e2e = end_to_end(res["setup_s"], passes[:1])
    for name, unit, _ in END_TO_END:
        value, n, *pct = e2e[name]
        extra = f" p{pct[0]:g}" if pct else ""
        lines.append(f"{name} = {value:.6g} {unit} (n={n}{extra})")
    lines.append(f"failed_frac = {res['failed'] / res['attempted']:.6g} "
                 f"ratio (n={res['attempted']})")
    if args.trace:
        traced = [p for p in passes if p.traced]
        jobs = eventlog.read_jobs_file(
            os.path.join(work, "eventlog", res["app_id"]))
        setup = {
            "session.get_spark_s": summary.median(res["get_spark_s"]),
            "session.warmup_s": summary.median(res["warm_s"]),
            "session.launch_s": res["cycles"][0],
        }
        plain = [p for p in passes[1:] if not p.traced]
        values = layer_metrics(traced, plain, res["tracer"], jobs, setup,
                               res["input_bytes"], res["cores"], jvm_errors)
        for name, unit, _, moves in PER_LAYER:
            lines.append(f"{name} = {values[name]:.6g} {unit} "
                         f"(n={len(traced)}; moves {moves})")
        metrics = {name: {"value": values[name], "unit": unit}
                   for name, unit, *_ in PER_LAYER}
    else:
        metrics = {name: {"value": e2e[name][0], "unit": unit}
                   for name, unit, gated in END_TO_END if gated}
    print("\n".join(lines))
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }


def _count_jvm_errors(path: str) -> int:
    n = 0
    with open(path, "rb") as fh:
        for line in fh:
            n += any(tag in line for tag in _JVM_ERRORS)
    return n


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "inputs", "eventlog", "spark-local", "export"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a heap the JVM fills early: G1 otherwise grows it by a different
    # amount each run, and peak_rss_mb would follow
    os.environ["SPARK_DRIVER_MEM"] = "1g"

    # the JVM inherits fd 2: keep its log out of the report, count ERRORs
    log_path = os.path.join(work, "stderr.log")
    saved = os.dup(2)
    with open(log_path, "wb", buffering=0) as log:
        os.dup2(log.fileno(), 2)
    res, err = None, None
    try:
        res = benchmark(args, work)
    except BaseException as exc:  # re-raised below once stderr is back
        err = exc
    finally:
        sys.stderr.flush()
        os.dup2(saved, 2)
        os.close(saved)
    try:
        if err is not None:
            with open(log_path, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            raise err
        out = report(args, res, work, _count_jvm_errors(log_path))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may share it
            os.rmdir(os.path.dirname(work))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
