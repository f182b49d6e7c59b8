"""The benchmark's workloads: what one pass runs and how its outputs
are checked.

An op is one unit of closed-loop work: ``build`` constructs the lazy
frames through the engine's public API (eager jobs the engine fires
while building count here), ``sink`` forces them. The timed pass of a
run collects each output, or for exports calls the engine's file
writers, and ``check`` compares what it collected (or the files it
wrote) with the DuckDB twin of the op. The extra passes of a traced run
sink to Spark's ``noop`` format.
"""

from __future__ import annotations

import glob
import math
import os
import random
import threading
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Callable

from perfbench import fixtures

# ``__spark_entry__.queries()`` entries of the registry workload: the
# padua statistics surface the pipelines leave out (operators.imputation
# and ml; phospho_lfq covers filters, process, normalization, aggregates
# and stats), then one entry per extension module: dedup, graph,
# similarity, text
STATS_BATTERY = ["impute_gaussian", "pca_scores"]
SIMILARITY_GRAPH = [
    "minhash_lsh_candidates", "label_propagation", "ann_cosine_topk",
    "token_quality",
]
REGISTRY_SF = 0.002
PIPELINE_FEATURES = 1000
GROUPS = ("Control", "PGE2")


@dataclass
class Ctx:
    spark: object
    entry: object  # the imported __spark_entry__ module
    data_dir: str  # the generated inputs
    work_dir: str  # scratch space for checkpoints and exports
    inputs: dict[str, str]
    state: dict = field(default_factory=dict)
    # session conf text -> the confs it lists, to undo an op's changes
    conf_snapshots: dict = field(default_factory=dict)
    check_s: float = 0.0
    _duck: object = None
    _oracles: dict = field(default_factory=dict)

    def duck(self):
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            for name in fixtures.TABLES:
                if name in self.inputs:
                    self._duck.execute(
                        f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{self.inputs[name]}')"
                    )
        return self._duck

    def oracle(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._oracles:
            res = self.duck().execute(self.entry.oracle_sql()[name])
            self._oracles[name] = (
                [d[0] for d in res.description], res.fetchall())
        return self._oracles[name]

    def prefetch(self, names: list[str]) -> threading.Thread:
        """Run the oracles in the background (DuckDB releases the GIL);
        join the thread before the first ``oracle`` call."""
        def work():
            for name in dict.fromkeys(names):
                try:
                    self.oracle(name)
                except Exception:  # noqa: BLE001 - ``oracle`` re-raises
                    pass

        thread = threading.Thread(target=work, daemon=True)
        thread.start()
        return thread


@dataclass
class Op:
    name: str
    build: Callable[[Ctx], dict]
    check: Callable[[Ctx, dict], list[str]]
    oracles: tuple[str, ...]  # the oracle_sql() entries ``check`` reads
    # file sink: (ctx, frame name, frame) -> None; None means noop sink
    write: Callable | None = None


@dataclass
class Workload:
    name: str
    inputs: Callable[[str, int], dict[str, str]]
    ops: list[Op]
    shuffle: bool  # the seed orders each pass's ops

    def pass_ops(self, seed: int, pass_no: int) -> list[Op]:
        ops = list(self.ops)
        if self.shuffle:
            random.Random(seed * 1000 + pass_no).shuffle(ops)
        return ops


# ---------------------------------------------------------------------------
# output comparison


def _num(v):
    if isinstance(v, bool):
        return None
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    return None


def _same(a, b, tol: float) -> bool:
    fa, fb = _num(a), _num(b)
    if fa is None or fb is None:
        return a == b
    if math.isnan(fa) or math.isnan(fb):
        return math.isnan(fa) and math.isnan(fb)
    return abs(fa - fb) <= tol * max(1.0, abs(fa), abs(fb))


def _sort_key(row: tuple) -> tuple:
    exact, approx = [], []
    for v in row:
        f = _num(v)
        if f is None:
            exact.append((v is None, str(v)))
        elif isinstance(v, float) and not math.isnan(v):
            approx.append(round(v, 3))
        else:
            exact.append((False, repr(f)))
    return tuple(exact) + tuple(approx)


def compare(cols: list[str], rows: list, want_cols: list[str],
            want_rows: list[tuple], tol: float = 2e-6) -> list[str]:
    """Rows of ``cols`` against the oracle's, matched as multisets;
    numbers agree within ``tol`` (relative above 1), since the two
    engines may round an exact 6-decimal midpoint differently."""
    missing = [c for c in want_cols if c not in cols]
    if missing:
        return [f"columns missing: {missing}"]
    idx = [cols.index(c) for c in want_cols]
    got = sorted((tuple(r[i] for i in idx) for r in rows), key=_sort_key)
    want = sorted((tuple(r) for r in want_rows), key=_sort_key)
    if len(got) != len(want):
        return [f"rows {len(got)} != oracle {len(want)}"]
    for g, w in zip(got, want):
        if not all(_same(a, b, tol) for a, b in zip(g, w)):
            return [f"row {g} != oracle {w}"]
    return []


def _rows(frame) -> tuple[list[str], list[tuple]]:
    return frame.columns, [tuple(r) for r in frame.collect()]


def _check_oracle(oracle_name: str):
    def check(ctx: Ctx, got: dict) -> list[str]:
        cols, rows = got["out"]
        return compare(cols, rows, *ctx.oracle(oracle_name))

    return check


# ---------------------------------------------------------------------------
# registry workloads


def _registry_op(name: str) -> Op:
    def build(ctx: Ctx) -> dict:
        return {"out": ctx.entry.queries()[name](ctx.spark, ctx.data_dir)}

    def check(ctx: Ctx, got: dict) -> list[str]:
        cols, rows = got["out"]
        want_cols, want_rows = ctx.oracle(name)
        if sorted(cols) != sorted(want_cols):
            return [f"columns {sorted(cols)} != oracle {sorted(want_cols)}"]
        return compare(cols, rows, want_cols, want_rows)

    return Op(name, build, check, (name,))


def _tables(sf: float):
    def make(out_dir: str, seed: int) -> dict[str, str]:
        return fixtures.write_tables(out_dir, seed, sf)

    return make


# ---------------------------------------------------------------------------
# pipeline workloads


_PHOSPHO = "pipeline_phospho_lfq"
_SILAC = "pipeline_silac_ratio"
_MSP = "pipeline_msp_enrichment"


def _maxquant(out_dir: str, seed: int) -> dict[str, str]:
    return fixtures.write_maxquant(out_dir, seed, PIPELINE_FEATURES)


def _pipelines():
    from padua_spark import pipelines

    return pipelines


def _ingest_ops() -> list[Op]:
    # phospho_lfq reads the sites TSV in the export ops below, which check
    # its volcano table against the oracle
    def silac(ctx: Ctx) -> dict:
        out = _pipelines().protein_groups_ratio(
            ctx.spark, ctx.inputs["sites"], ctx.inputs["ratio_design"],
            min_valid_per_group=2,
        )
        return {"out": out["onesample_ttest"]}

    def msp(ctx: Ctx) -> dict:
        return {"out": _pipelines().msp_enrichment(
            ctx.spark, ctx.inputs["msp"], design_path=ctx.inputs["design"]
        )}

    return [
        Op("protein_groups_ratio", silac, _check_oracle(_SILAC), (_SILAC,)),
        Op("msp_enrichment", msp, _check_oracle(_MSP), (_MSP,)),
    ]


def _out_path(ctx: Ctx, name: str) -> str:
    return os.path.join(ctx.work_dir, "export", name)


def _write_perseus(ctx: Ctx, name: str, frame) -> None:
    from padua_spark.sources.perseus import write_perseus

    os.makedirs(os.path.dirname(_out_path(ctx, name)), exist_ok=True)
    write_perseus(frame, _out_path(ctx, name) + ".txt")


def _write_phosphopath(ctx: Ctx, name: str, frame) -> None:
    from padua_spark.sources.phosphopath import write_phosphopath

    write_phosphopath(frame, _out_path(ctx, name))


def _read_perseus(path: str) -> tuple[list[str], list[str], list[list[str]]]:
    with open(path) as fh:
        header = fh.readline().rstrip("\n").split("\t")
        types = fh.readline().rstrip("\n").split("\t")
        body = [line.rstrip("\n").split("\t") for line in fh]
    return header, types, body


def _parse(cell: str):
    if cell == "":
        return None
    if cell in ("true", "false"):
        return cell == "true"
    for cast in (int, float):
        try:
            return cast(cell)
        except ValueError:
            pass
    return cell


def _check_perseus_volcano(ctx: Ctx, got: dict) -> list[str]:
    header, types, body = _read_perseus(_out_path(ctx, "volcano") + ".txt")
    if not types or not types[0].startswith("#!{Type}"):
        return ["volcano.txt: no Perseus type row"]
    rows = [tuple(_parse(c) for c in r) for r in body]
    return compare(header, rows, *ctx.oracle(_PHOSPHO))


def _check_perseus_collapsed(ctx: Ctx, got: dict) -> list[str]:
    header, types, body = _read_perseus(_out_path(ctx, "collapsed") + ".txt")
    want = ctx.state["phospho_lfq"]["collapsed"].count()
    problems = []
    if len(types) != len(header) or not types[0].startswith("#!{Type}"):
        problems.append("collapsed.txt: bad Perseus type row")
    if len(body) != want:
        problems.append(f"collapsed.txt: {len(body)} rows, want {want}")
    key = [header.index(c) for c in ("feature_id", "Group", "Replicate")]
    keys = {tuple(r[i] for i in key) for r in body}
    if len(keys) != len(body):
        problems.append("collapsed.txt: duplicate (feature, Group, Replicate)")
    want_cols, want_rows = ctx.oracle(_PHOSPHO)
    fid = want_cols.index("feature_id")
    if {k[0] for k in keys} != {str(r[fid]) for r in want_rows}:
        problems.append("collapsed.txt: feature set differs from volcano")
    return problems


def _check_phosphopath(ctx: Ctx, got: dict) -> list[str]:
    lines = []
    for part in sorted(glob.glob(_out_path(ctx, "phosphopath") + "/part-*")):
        with open(part) as fh:
            lines.extend(line.rstrip("\n").split("\t") for line in fh)
    want = ctx.state["phospho_lfq"]["features"].count()
    if len(lines) != want:
        return [f"phosphopath: {len(lines)} rows, want {want}"]
    bad = [r for r in lines if len(r) != 4 or not r[3].startswith("x")]
    return [f"phosphopath: malformed row {bad[0]}"] if bad else []


def _check_checkpoint(ctx: Ctx, got: dict) -> list[str]:
    parts = glob.glob(
        os.path.join(ctx.work_dir, "checkpoint", "normalized_long", "part-*"))
    return [] if parts else ["checkpoint: no parquet part written"]


def _export_ops() -> list[Op]:
    # the checkpoint is written while building; the writes below force
    # the tables it feeds, and their checks read the files back
    def lfq(ctx: Ctx) -> dict:
        ctx.state["phospho_lfq"] = _pipelines().phospho_lfq(
            ctx.spark, ctx.inputs["sites"], ctx.inputs["design"], *GROUPS,
            checkpoint_dir=os.path.join(ctx.work_dir, "checkpoint"))
        return {}

    def frame(key: str, out: str):
        return lambda ctx: {out: ctx.state["phospho_lfq"][key]}

    return [
        Op("phospho_lfq_checkpoint", lfq, _check_checkpoint, ()),
        Op("write_perseus_volcano", frame("volcano", "volcano"),
           _check_perseus_volcano, (_PHOSPHO,), _write_perseus),
        Op("write_perseus_collapsed", frame("collapsed", "collapsed"),
           _check_perseus_collapsed, (_PHOSPHO,), _write_perseus),
        Op("write_phosphopath", frame("features", "phosphopath"),
           _check_phosphopath, (), _write_phosphopath),
    ]


# Two workloads, not four: every run pays a ~20 s JVM launch and first
# job, so the read and write paths share one MaxQuant fixture, and the
# stats and similarity/graph entries share one set of tables. The layers
# each exercises still show apart in the traced run.
WORKLOADS = {
    "pipelines": Workload(
        "pipelines", _maxquant, _ingest_ops() + _export_ops(), shuffle=False),
    "registry": Workload(
        "registry", _tables(REGISTRY_SF),
        [_registry_op(n) for n in STATS_BATTERY + SIMILARITY_GRAPH],
        shuffle=True),
}
