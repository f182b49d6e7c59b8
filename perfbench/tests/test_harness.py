"""Unit tests for the benchmark harness itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import types

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from pyspark import cloudpickle  # noqa: E402

from perfbench import eventlog, fixtures, summary  # noqa: E402
from perfbench import tracer as tr  # noqa: E402
from perfbench.workloads import compare  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


# --- op_tail_s: percentile choice and sample count --------------------------


def test_tail_picks_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(1, 101)]  # 100 samples
    value, pct, n = summary.tail(values)
    # p95 leaves 5 samples above its rank, p90 leaves 10
    assert (pct, n) == (90.0, 100)
    assert value == 90.0
    assert sum(v > value for v in values) == 10


def test_tail_ladder_boundaries():
    assert summary.tail([1.0] * 1000)[1] == 99.0
    assert summary.tail([1.0] * 200)[1] == 95.0
    assert summary.tail([1.0] * 40)[1] == 75.0
    # 39 samples: p75's rank leaves only 9 above it
    assert summary.tail([1.0] * 39)[1] == 100.0


def test_tail_falls_back_to_max_for_few_samples():
    value, pct, n = summary.tail([3.0, 1.0, 2.0])
    assert (value, pct, n) == (3.0, 100.0, 3)


def test_median():
    assert summary.median([3.0, 1.0, 2.0]) == 2.0
    assert summary.median([]) == 0.0


# --- span self time ------------------------------------------------------------


def test_self_time_subtracts_children():
    spans = [
        tr.Span("op", "build", 0.0, 10.0),
        tr.Span("pipelines", "phospho_lfq", 1.0, 9.0, parent=0),
        tr.Span("sources", "read_maxquant", 2.0, 4.0, parent=1),
        tr.Span("operators.stats", "volcano_stats", 5.0, 8.0, parent=1),
        tr.Span("operators.stats", "ttest", 6.0, 7.0, parent=3),
    ]
    assert tr.self_times(spans) == [2.0, 3.0, 2.0, 2.0, 1.0]


def test_covered_merges_overlaps_and_clips():
    # overlapping children count once; parts outside the parent not at all
    assert tr.covered(0.0, 10.0, [(1.0, 4.0), (3.0, 5.0), (9.0, 12.0)]) == 5.0
    assert tr.covered(0.0, 10.0, []) == 0.0


def test_innermost_span():
    spans = [
        tr.Span("op", "build", 0.0, 10.0),
        tr.Span("sources", "read_maxquant", 2.0, 4.0, parent=0),
    ]
    assert tr.innermost(spans, 3.0) == 1
    assert tr.innermost(spans, 5.0) == 0
    assert tr.innermost(spans, 11.0) == -1


def test_instrument_records_spans_and_pickles_as_original():
    mod = types.ModuleType("fake_layer")
    exec(
        "def outer(x):\n    return inner(x) + 1\n"
        "def inner(x):\n    return x * 2\n"
        "def _private(x):\n    return x\n",
        mod.__dict__,
    )
    for fn in ("outer", "inner", "_private"):
        mod.__dict__[fn].__module__ = "fake_layer"
    sys.modules["fake_layer"] = mod
    try:
        t = tr.Tracer()
        assert t.instrument(mod, "fake") == 2
        assert mod.outer(3) == 7  # disabled: no spans
        assert t.spans == []
        t.enabled = True
        assert mod.outer(3) == 7
        assert [(s.name, s.parent) for s in t.spans] == [
            ("outer", -1), ("inner", 0)]
        # Spark ships functions with cloudpickle: a UDF that references a
        # wrapped function gets the engine's function, not the tracer
        clone = cloudpickle.loads(cloudpickle.dumps(mod.outer))
        assert not isinstance(clone, tr._Traced) and clone(3) == 7
        assert len(t.spans) == 2
    finally:
        del sys.modules["fake_layer"]


# --- event-log aggregation -------------------------------------------------------


def test_eventlog_aggregates_tiny_recorded_log():
    jobs = eventlog.read_jobs_file(os.path.join(HERE, "eventlog_tiny.jsonl"))
    assert [(j.job_id, j.group) for j in jobs] == [
        (0, "p1:opA:build"), (1, "p1:opA:sink"), (2, "")]
    build, sink, other = jobs
    assert build.submit_s == 1700000000.5
    assert (build.stages, build.tasks) == (1, 2)
    assert abs(build.run_s - 0.3) < 1e-12 and abs(build.gc_s - 0.025) < 1e-12
    assert abs(build.cpu_s - 0.15) < 1e-12
    assert build.input_mb == 2.0
    assert build.shuffle_write_mb == 1.5
    # job 1 lists the stage job 0 already ran; only its new stage counts
    assert (sink.stages, sink.tasks) == (1, 1)
    assert sink.shuffle_read_mb == 1.5 and sink.spill_mb == 0.5
    assert sink.output_mb == 1.0
    assert other.tasks == 0
    t = eventlog.totals(jobs)
    assert (t["jobs"], t["stages"], t["tasks"]) == (3, 2, 3)


# --- fixtures ---------------------------------------------------------------------


def _digest(paths: dict[str, str]) -> dict[str, str]:
    out = {}
    for role, path in sorted(paths.items()):
        with open(path, "rb") as fh:
            out[role] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_same_fixture_bytes(tmp_path):
    a = _digest(fixtures.write_maxquant(str(tmp_path / "a"), 7, 300))
    b = _digest(fixtures.write_maxquant(str(tmp_path / "b"), 7, 300))
    c = _digest(fixtures.write_maxquant(str(tmp_path / "c"), 8, 300))
    assert a == b
    assert a["sites"] != c["sites"]
    ta = _digest(fixtures.write_tables(str(tmp_path / "ta"), 7, 0.0005))
    tb = _digest(fixtures.write_tables(str(tmp_path / "tb"), 7, 0.0005))
    tc = _digest(fixtures.write_tables(str(tmp_path / "tc"), 8, 0.0005))
    assert ta == tb
    assert set(ta) == set(fixtures.TABLES)
    assert ta["lineitem"] != tc["lineitem"]


# --- output comparison and the benchmark definition -----------------------------------


def test_compare_tolerates_last_digit_rounding_only():
    cols = ["k", "v"]
    assert compare(cols, [(1, 0.1234565), (2, 3.0)], ["v", "k"],
                   [(3.0, 2), (0.123457, 1)]) == []
    assert compare(cols, [(1, 0.12)], ["k", "v"], [(1, 0.13)])
    assert compare(cols, [(1, 0.1)], ["k", "v"], [(1, 0.1), (2, 0.2)])


def test_benchmark_json_matches_harness():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == [
        n for n, _, gated in run.END_TO_END if gated]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        x[:3] for x in run.PER_LAYER]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
