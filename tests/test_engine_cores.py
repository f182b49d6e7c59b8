"""The engine's shared statistic cores: one definition each, the same
degenerate-input contract through every caller, and the window key's
watermark driving append-mode output.

A batch statistic and its windowed monitor (or a family of twin
operators) call one private helper for the aggregation and the
finalizer, so a fix lands in every caller at once. The lint keeps a
pasted copy from growing back; the degenerate cases run every caller of
a core on inputs where the statistic is undefined; the append-mode
runs check that the window key's watermark closes windows with the
batch values.
"""

import ast
import datetime
import pathlib

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from padua_spark.io_utils import local_frame
from padua_spark.streaming import read_event_stream
from padua_spark.streaming.windows import event_time_col
from tests.conftest import SF_SMALL
from tests.test_oracle_parity import _normalize

PKG = pathlib.Path(em.__file__).parent / "padua_spark"

# signature expression -> (file under padua_spark/, the helper owning it)
CORE_MARKERS = {
    'F.window("_event_time"': ("streaming/windows.py", "_window_keyed"),
    '.withWatermark("_event_time"': (
        "streaming/windows.py", "_window_keyed",
    ),
    '.start").alias(': ("streaming/windows.py", "_window_bounds"),
    "AND _y = 1": ("streaming/windows.py", "_POS_NEG_BINS"),
    "AS p, _g": ("streaming/windows.py", "_pos_neg_cells"),
    'select("*", _expr_bin_col(': (
        "streaming/windows.py", "_binned_window_agg",
    ),
    "288.0": ("operators/temporal.py", "_rayleigh_summary"),
    "(1.0 - float(q))": ("operators/temporal.py", "_pinball_aggs"),
    'F.col("_c") - F.col("_t") * mean': (
        "operators/temporal.py", "_prefix_deviations",
    ),
    "1.0 / k + 1.0 /": ("operators/temporal.py", "snht_test"),
    "left_before = (": ("operators/stats.py", "_risk_table"),
    'alias("_sdeg2")': ("operators/stats.py", "_spatial_edge_stats"),
    "F.least(F.col(src_col), F.col(dst_col))": (
        "extensions/graph.py", "_undirected_edges",
    ),
    "n = c if n is None else n + c": (
        "extensions/features.py", "_declared_counts",
    ),
    "p_value < 0.01)": ("extensions/features.py", "_srm_summary"),
    '2 * (F.col(f"{count_col}_run")': (
        "operators/stats.py", "_doubled_midrank",
    ),
    "F.count(F.when(F.col(group_col) == g, 1))": (
        "operators/stats.py", "_pooled_group_counts",
    ),
    'two_rbar).alias(f"_2r{i}")': ("operators/stats.py", "_pooled_rank_sums"),
    'count_distinct("_t")': ("operators/stats.py", "_complete_blocks"),
    '(tie_n.cast("double") - 1.0)': (
        "operators/stats.py", "_within_block_midranks",
    ),
    "& (out == ": ("operators/stats.py", "_two_by_two_cells"),
    'groupBy(a.alias("_a"), b.alias("_b"))': (
        "operators/stats.py", "_contingency_margins",
    ),
    "F.broadcast(fit), on=group_cols": (
        "operators/stats.py", "_ols_fit_joined",
    ),
    "> int(max_series_length)": ("operators/temporal.py", "_sorted_series"),
    'F.col("_lx") * F.col("_lx")).alias("_sxx")': (
        "operators/temporal.py", "_scaling_exponent",
    ),
}


def _top_level_spans(src):
    spans = {}
    for node in ast.parse(src).body:
        names = []
        if isinstance(node, ast.FunctionDef):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        for name in names:
            spans[name] = (node.lineno, node.end_lineno)
    return spans


def test_engine_cores_defined_once():
    """Lint: each shared core's signature expression appears exactly
    once under ``padua_spark/``, inside its helper. A re-pasted copy of
    a window key, a finalizer or an aggregation fails here; call the
    helper instead."""
    sources = {
        str(p.relative_to(PKG)): p.read_text()
        for p in sorted(PKG.rglob("*.py"))
    }
    problems = []
    for marker, (rel, helper) in CORE_MARKERS.items():
        hits = []
        for path, src in sources.items():
            start = src.find(marker)
            while start >= 0:
                hits.append((path, src.count("\n", 0, start) + 1))
                start = src.find(marker, start + 1)
        lo, hi = _top_level_spans(sources[rel])[helper]
        if len(hits) != 1 or hits[0][0] != rel or not lo <= hits[0][1] <= hi:
            problems.append(
                f"{marker!r} at {hits}, want once in {rel}:{helper} "
                f"(lines {lo}-{hi})"
            )
    assert not problems, "\n".join(problems)


# --- degenerate inputs, every caller of each core ---------------------------


def _table_dir(tmp_path, name, template, rows, columns):
    """``{tmp}/{name}.parquet`` with the fixture table's exact schema
    holding ``rows`` (values for ``columns``, the rest NULL)."""
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE {name} AS SELECT * FROM "
        f"read_parquet('{SF_SMALL}/{template}.parquet') LIMIT 0"
    )
    cols = ", ".join(columns)
    marks = ", ".join("?" for _ in columns)
    if rows:
        con.executemany(
            f"INSERT INTO {name} ({cols}) VALUES ({marks})", rows
        )
    con.execute(
        f"COPY {name} TO '{tmp_path}/{name}.parquet' (FORMAT PARQUET)"
    )
    con.close()
    return str(tmp_path)


def _engine_vs_oracle(spark, name, sf_dir, tables):
    """Run ``queries()[name]`` on ``sf_dir`` and its oracle SQL on DuckDB
    over the same files; assert equal rows and return them as dicts."""
    sdf = em.queries()[name](spark, sf_dir)
    cols = sdf.columns
    got = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    res = con.execute(em.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    want = [tuple(r) for r in res.fetchall()]
    con.close()
    assert _normalize(got, cols) == _normalize(want, ocols), name
    return [dict(zip(cols, r)) for r in got]


_UNRELATED = [
    "alpha beta gamma delta epsilon zeta eta theta",
    "red orange yellow green blue indigo violet black",
    "one two three four five six seven eight nine",
]
_TWIN = "spark batch window stream merge join table scan"
_SPATIAL_CASES = {
    # duplicate texts make candidate edges, but no node has a value
    "no_valued_nodes": [
        (1, _TWIN, None), (2, _TWIN, None),
        (3, _UNRELATED[0], None), (4, _UNRELATED[0], None),
    ],
    "one_valued_node": [
        (1, _TWIN, 40), (2, _TWIN, None),
        (3, _UNRELATED[0], None), (4, _UNRELATED[0], None),
    ],
    "no_edges": [(i + 1, t, 10 * (i + 1)) for i, t in enumerate(_UNRELATED)],
}
# documented output per case: (n_nodes, n_edges) and every other column
# NULL except the expectation, which needs n >= 2 (Moran) or a defined
# n(n-1) (Getis-Ord)
_SPATIAL_EXPECT = {
    "no_valued_nodes": ((0, 0), {}),
    "one_valued_node": ((1, 0), {}),
    "no_edges": ((3, 0), {"expected_i": -0.5, "expected_g": 0.0}),
}


@pytest.mark.parametrize("case", sorted(_SPATIAL_CASES))
@pytest.mark.parametrize("name", ["morans_i", "geary_c", "getis_ord_g"])
def test_spatial_core_degenerate(spark, tmp_path, name, case):
    """``_spatial_edge_stats`` callers on graphs where the statistic is
    undefined: one row, every statistic NULL, equal to the oracle."""
    d = _table_dir(
        tmp_path, "documents", "documents", _SPATIAL_CASES[case],
        ["doc_id", "text", "n_chars"],
    )
    (row,) = _engine_vs_oracle(spark, name, d, ["documents"])
    (n_nodes, n_edges), defined = _SPATIAL_EXPECT[case]
    assert (row["n_nodes"], row["n_edges"]) == (n_nodes, n_edges)
    for col, v in row.items():
        if col not in ("n_nodes", "n_edges"):
            assert v == defined.get(col), (col, v)


def _event_rows(errors_in_cohort_1):
    """Four users, three events each an hour apart; cohort = user % 2.
    Cohort 0 never errors (all censored); with ``errors_in_cohort_1``
    user 1 errors after one hour and user 3 after two."""
    rows, eid = [], 0
    t0 = datetime.datetime(2024, 1, 1)
    for user in range(4):
        for h in range(3):
            err = errors_in_cohort_1 and user % 2 == 1 and h == user // 2 + 1
            rows.append((
                eid, t0 + datetime.timedelta(hours=h + user), user,
                "error" if err else "view",
            ))
            eid += 1
    return rows


@pytest.mark.parametrize("errors_in_cohort_1", [True, False])
@pytest.mark.parametrize("name", ["kaplan_meier", "nelson_aalen"])
def test_survival_core_all_censored(
    spark, tmp_path, name, errors_in_cohort_1
):
    """``_risk_table`` callers with an all-censored cohort (and with no
    events at all): curve rows only at event times, so an all-censored
    cohort has none, equal to the oracle."""
    d = _table_dir(
        tmp_path, "events", "events", _event_rows(errors_in_cohort_1),
        ["event_id", "ts", "user_id", "event_type"],
    )
    rows = _engine_vs_oracle(spark, name, d, ["events"])
    assert all(r["cohort"] == 1 and r["n_events"] > 0 for r in rows)
    assert len(rows) == (2 if errors_in_cohort_1 else 0)


def _series_rows():
    """Return flag A: n = 1; N: a constant series; C: a constant
    series of 0.1, whose moment formula leaves a variance of ~1e-18;
    R: a real break."""
    day = datetime.datetime(2024, 1, 1)
    rows = [(1, 1, 7.0, "A", day)]
    rows += [(2, i, 5.0, "N", day + datetime.timedelta(days=i))
             for i in range(1, 5)]
    rows += [(4, i, 0.1, "C", day + datetime.timedelta(days=i))
             for i in range(1, 6)]
    rows += [
        (3, i, q, "R", day + datetime.timedelta(days=i))
        for i, q in enumerate([1.0, 2.0, 1.0, 9.0, 8.0, 9.0], 1)
    ]
    return rows


@pytest.mark.parametrize("name", ["snht_test", "buishand_range"])
def test_changepoint_core_degenerate(spark, tmp_path, name):
    """``_prefix_deviations`` callers: one row per group; a group with
    n = 1 or a constant series carries NULL statistics and a NULL
    change_index, equal to the oracle."""
    d = _table_dir(
        tmp_path, "lineitem", "lineitem", _series_rows(),
        ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
         "l_shipdate"],
    )
    rows = {r["l_returnflag"]: r for r in _engine_vs_oracle(
        spark, name, d, ["lineitem"]
    )}
    assert sorted(rows) == ["A", "C", "N", "R"]
    for flag, n in (("A", 1), ("C", 5), ("N", 4)):
        r = rows[flag]
        assert r["n"] == n
        assert all(
            v is None for c, v in r.items() if c not in ("l_returnflag", "n")
        ), r
    assert rows["R"]["change_index"] == 3


_LINE_COLS = ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"]
_RANK_CASES = {
    # group N is listed but has no rows
    "empty_group": [(1, 1, 1.0, "A"), (1, 2, 2.0, "A"), (1, 3, 3.0, "A"),
                    (2, 1, 2.0, "R"), (2, 2, 4.0, "R"), (2, 3, 5.0, "R")],
    "all_tied": [(1, i, 5.0, f) for i, f in enumerate("AANRR", 1)],
}


@pytest.mark.parametrize("name, case", [
    (name, case)
    for name in ["kruskal_wallis", "dunn_posthoc", "anderson_darling_ksamp",
                 "cuzick_trend", "van_der_waerden", "fligner_killeen"]
    for case in sorted(_RANK_CASES)
])
def test_rank_core_degenerate(spark, tmp_path, name, case):
    """``_pooled_group_counts`` callers over groups A, N, R when one
    listed group is empty or every value ties: equal to the oracle."""
    d = _table_dir(
        tmp_path, "lineitem", "lineitem", _RANK_CASES[case], _LINE_COLS
    )
    assert _engine_vs_oracle(spark, name, d, ["lineitem"])


def _block_rows(per_user):
    return [
        (10 * u + i, u, t, v)
        for u, cells in per_user.items()
        for i, (t, v) in enumerate(cells)
    ]


_BLOCK_CASES = {
    # three treatments overall, no user carries all of them
    "no_complete_block": {1: [("view", 1.0), ("click", 2.0)],
                          2: [("purchase", 3.0)]},
    "one_block": {1: [("view", 1.0), ("click", 2.0), ("purchase", 3.0)],
                  2: [("view", 4.0)]},
}


@pytest.mark.parametrize("case", sorted(_BLOCK_CASES))
@pytest.mark.parametrize("name", [
    "friedman_counts", "page_trend_test", "quade_test", "rm_anova_1way",
])
def test_block_core_degenerate(spark, tmp_path, name, case):
    """``_complete_blocks`` callers with no complete block and with
    exactly one: one row, ``n_blocks`` 0 or 1, equal to the oracle."""
    d = _table_dir(
        tmp_path, "events", "events", _block_rows(_BLOCK_CASES[case]),
        ["event_id", "user_id", "event_type", "value"],
    )
    (row,) = _engine_vs_oracle(spark, name, d, ["events"])
    assert row["n_blocks"] == (case == "one_block")


_CELL_CASES = {
    # nobody errors: the exposed cells are 0 (Haldane's +0.5 path)
    "zero_cell": {1: ["view", "purchase"], 2: ["purchase"], 3: ["view"],
                  4: ["view"]},
    # strata user_id % 4 = 0 and 3 have no users
    "empty_stratum": {1: ["error", "purchase"], 5: ["view"],
                      2: ["error"], 6: ["purchase"]},
}


@pytest.mark.parametrize("name, case", [
    ("odds_ratio", "zero_cell"), ("fisher_exact", "zero_cell"),
    ("mh_odds_ratio", "zero_cell"), ("breslow_day", "zero_cell"),
    ("mh_odds_ratio", "empty_stratum"), ("breslow_day", "empty_stratum"),
])
def test_two_by_two_core_degenerate(spark, tmp_path, name, case):
    """``_two_by_two_cells`` callers with a zero cell and, stratified,
    with strata that have no rows: one row, equal to the oracle."""
    if name == "fisher_exact":
        rows = [(1, "BUILDING", 100.0), (2, "BUILDING", 200.0),
                (3, "AUTOMOBILE", 9500.0), (4, "AUTOMOBILE", 50.0)]
        d = _table_dir(tmp_path, "customer", "customer", rows,
                       ["c_custkey", "c_mktsegment", "c_acctbal"])
        table = "customer"
    else:
        per_user = {u: [(t, 1.0) for t in ts]
                    for u, ts in _CELL_CASES[case].items()}
        d = _table_dir(
            tmp_path, "events", "events", _block_rows(per_user),
            ["event_id", "user_id", "event_type", "value"],
        )
        table = "events"
    (row,) = _engine_vs_oracle(spark, name, d, [table])
    # Breslow-Day counts only strata with a defined common odds ratio
    want = {("mh_odds_ratio", "zero_cell"): 4,
            ("breslow_day", "zero_cell"): 0}.get((name, case), 2)
    assert row.get("k_strata", want) == want


@pytest.mark.parametrize("name", ["cramers_v", "theils_u", "g_test"])
def test_contingency_core_single_level(spark, tmp_path, name):
    """``_contingency_margins`` callers when one side has a single
    level: the association is undefined, equal to the oracle."""
    rows = [(1, "F", "1-URGENT"), (2, "F", "2-HIGH"), (3, "F", "2-HIGH")]
    d = _table_dir(tmp_path, "orders", "orders", rows,
                   ["o_orderkey", "o_orderstatus", "o_orderpriority"])
    (row,) = _engine_vs_oracle(spark, name, d, ["orders"])
    assert row["n_total"] == 3


@pytest.mark.parametrize(
    "name", ["holt_forecast", "holt_winters", "croston_forecast"]
)
def test_series_core_short(spark, tmp_path, name):
    """``_sorted_series`` callers on series shorter than the operator
    needs (Holt 2 points, Holt-Winters two seasons of 4) and with no
    demand (Croston): equal to the oracle."""
    t0 = datetime.datetime(2024, 1, 1)
    events = [(1, "view", 3.0), (2, "purchase", 2.0), (2, "view", 1.0),
              (2, "purchase", 5.0)]
    rows = [(i, t0 + datetime.timedelta(hours=i), u, t, v)
            for i, (u, t, v) in enumerate(events)]
    d = _table_dir(tmp_path, "events", "events", rows,
                   ["event_id", "ts", "user_id", "event_type", "value"])
    got = {r["user_id"]: r for r in _engine_vs_oracle(
        spark, name, d, ["events"]
    )}
    assert sorted(got) == ([] if name == "holt_winters" else [1, 2])


@pytest.mark.parametrize("name", ["hurst_rs", "dfa_hurst"])
def test_scaling_core_short(spark, tmp_path, name):
    """``_scaling_exponent`` callers on a series shorter than the
    smallest block: no valid scale, a NULL exponent."""
    rows = [(1, i, float(i % 3), "A") for i in range(1, 6)]
    d = _table_dir(tmp_path, "lineitem", "lineitem", rows, _LINE_COLS)
    (row,) = _engine_vs_oracle(spark, name, d, ["lineitem"])
    assert (row["n"], row["n_scales"]) == (5, 0)
    assert row["hurst" if name == "hurst_rs" else "dfa_alpha"] is None


def _declared_call(name, df, ts):
    from padua_spark.extensions.features import srm_check
    from padua_spark.streaming import windowed_srm
    from padua_spark.streaming.windows import (
        windowed_benford,
        windowed_concentration,
        windowed_entropy,
    )

    key = F.col("k")
    if name == "srm_check":
        return srm_check(df, ["g"], "k", ["x", "y"])
    if name == "windowed_srm":
        return windowed_srm(df, ts, key, ["x", "y"], group_cols=["g"])
    if name == "windowed_benford":
        # 0 has no leading digit: every row is outside the nine digits
        return windowed_benford(df, ts, F.lit(0), group_cols=["g"])
    fn = {"windowed_concentration": windowed_concentration,
          "windowed_entropy": windowed_entropy}[name]
    return fn(df, ts, key, ["x", "y"], group_cols=["g"])


# documented output when every row's key is undeclared: the count-only
# monitors drop those rows; the share monitors keep the window with
# n = 0, the rows in n_other and every share NULL
_DECLARED_EXPECT = {
    "srm_check": [],
    "windowed_srm": [],
    "windowed_benford": [],
    "windowed_concentration": [
        {"g": "a", "n": 0, "n_other": 3, "hhi": None,
         "effective_n": None, "top_share": None},
    ],
    "windowed_entropy": [
        {"g": "a", "n": 0, "n_other": 3, "entropy_nats": None,
         "entropy_norm": None, "effective_alphabet": None},
    ],
}


@pytest.mark.parametrize("name", sorted(_DECLARED_EXPECT))
def test_declared_counts_undeclared_only(spark, name):
    """``_declared_counts`` callers when no row carries a declared
    key."""
    df = local_frame(
        spark,
        [("a", "z", datetime.datetime(2024, 1, 1, 0, m)) for m in (1, 2, 3)],
        "g string, k string, ts timestamp",
    )
    want = _DECLARED_EXPECT[name]
    cols = want[0] if want else {}
    out = _declared_call(name, df, F.col("ts")).collect()
    assert [{c: r[c] for c in cols} for r in out] == want


# --- append mode: the window key's watermark closes windows -----------------


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_append")
    (d / "events.parquet").symlink_to(f"{SF_SMALL}/events.parquet")
    return str(d)


def _monitor(name, df):
    from padua_spark.streaming import (
        windowed_binned_auc,
        windowed_circular_stats,
        windowed_pinball_loss,
        windowed_srm,
    )
    from padua_spark.streaming.windows import windowed_concentration

    ts = event_time_col(df)
    wm = {"window_duration": "1 hour", "watermark": "2 hours"}
    if name == "srm":
        base = df.where(F.col("user_id").isNotNull())
        return windowed_srm(
            base, event_time_col(base), F.col("user_id") % 2, [0, 1], **wm
        )
    if name == "binned_auc":
        return windowed_binned_auc(
            df, ts,
            F.least(
                F.lit(1.0), F.greatest(F.lit(0.0), F.col("value") / 200.0)
            ),
            F.col("event_type").isin("click", "view").cast("int"),
            n_bins=16, **wm,
        )
    if name == "concentration":
        return windowed_concentration(
            df, ts, F.col("event_type"), ["click", "purchase", "view"], **wm
        )
    if name == "pinball":
        cents = F.round(F.col("value") * 100).cast("double")
        base = df.where(F.col("value").isNotNull())
        return windowed_pinball_loss(
            base, event_time_col(base), cents,
            {0.5: cents * 0.5, 0.75: cents * 1.5}, **wm,
        )
    theta = F.col("value") / 100.0
    return windowed_circular_stats(df, ts, theta, **wm)


@pytest.mark.parametrize(
    "name", ["srm", "binned_auc", "concentration", "pinball", "circular"]
)
def test_append_mode_closed_windows_equal_batch(spark, events_dir, name):
    """One monitor per shared core as an ``availableNow`` stream in
    ``append`` mode: a window is emitted once the watermark (max event
    time − 2 h) passes its end, and the emitted rows are exactly the
    batch rows of those closed windows."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(events_dir)
    stream = read_event_stream(spark, events_dir, schema=batch.schema)
    table = f"t_append_{name}"
    q = (
        _monitor(name, stream)
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = sorted(
        tuple(r) for r in spark.sql(f"SELECT * FROM {table}").collect()
    )
    max_ts = batch.select(F.max(event_time_col(batch))).collect()[0][0]
    watermark = max_ts - datetime.timedelta(hours=2)
    closed = _monitor(name, batch).where(F.col("window_end") <= watermark)
    want = sorted(tuple(r) for r in closed.collect())
    assert got == want and len(got) > 0
    open_ = _monitor(name, batch).where(F.col("window_end") > watermark)
    assert open_.count() > 0  # the last windows stay open: append held them
