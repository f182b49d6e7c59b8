"""The shared oracle SQL fragments in ``__spark_entry__`` against their
engine twins, and a lint that keeps each fragment defined once.

The fragments are the DuckDB halves of engine expressions: the A&S
erfc (``stats._normal_sf_2sided``), the codepoint fold hash
(``dedup.token_hashes`` / ``text.fingerprint``) and the incomplete
beta chain (``functions.distributions.betainc``). A copy pasted into
one oracle drifts from the others unseen, so every oracle calls the
helper and the markers below may appear only inside it.
"""

import ast
import math
import pathlib
import struct

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from padua_spark.extensions import dedup, text
from padua_spark.functions.distributions import betainc
from padua_spark.io_utils import local_frame
from padua_spark.operators import stats as st

Z_GRID = [0.0, 1e-300, 0.5, 1.96, -1.96, 3.3, 8.0, 26.5, 40.0, None]

TEXTS = [
    "",
    "a",
    "ab  cd   e",
    " lead and trail ",
    "Grüße aus Köln",
    "naïve café déjà vu",
    "漢字 かな カナ",
    "ok 😀 go",
    "x" * 200,
]


def _bits(v):
    return None if v is None else struct.pack("<d", v).hex()


def test_erfc_sql_bit_equal_to_normal_sf_2sided(spark):
    """Same terms in the same order, so the arithmetic is bit-equal;
    only ``exp`` comes from each engine's own libm (the JVM and DuckDB
    differ by an ulp at some arguments, z = 26.5 here). Where the two
    ``exp(-x*x)`` agree the p-values must be bit-equal, elsewhere they
    may differ by that one ulp."""
    x = F.abs(F.col("z")) / F.lit(2.0 ** 0.5)
    df = local_frame(
        spark, [(i, z) for i, z in enumerate(Z_GRID)], "i int, z double"
    )
    got = {
        r["i"]: (r["p"], r["e"])
        for r in df.select(
            "i",
            st._normal_sf_2sided(F.col("z")).alias("p"),
            F.exp(-x * x).alias("e"),
        ).collect()
    }
    xs = "abs(z) / sqrt(2.0)"
    rows = duckdb.connect().execute(
        f"SELECT i, {em._erfc_sql(xs)} AS p, exp(-({xs}) * ({xs})) AS e "
        "FROM (SELECT unnest(range(?)) AS i, unnest(?::DOUBLE[]) AS z)",
        [len(Z_GRID), Z_GRID],
    ).fetchall()
    assert len(rows) == len(Z_GRID)
    n_equal_exp = 0
    for i, p, e in rows:
        sp, se = got[i]
        if _bits(e) == _bits(se):
            n_equal_exp += 1
            assert _bits(p) == _bits(sp), (Z_GRID[i], p, sp)
        else:
            assert abs(p - sp) <= math.ulp(sp), (Z_GRID[i], p, sp)
    assert n_equal_exp >= len(Z_GRID) - 2
    assert got[Z_GRID.index(None)] == (None, None)
    assert got[0][0] == pytest.approx(1.0, abs=2e-7)
    assert got[3][0] == pytest.approx(0.05, abs=1e-4)
    assert got[Z_GRID.index(40.0)][0] == 0.0


def test_fold_hash_sql_equals_token_hashes_and_fingerprint(spark):
    df = local_frame(
        spark, [(i, t) for i, t in enumerate(TEXTS)], "i int, text string"
    )
    spark_rows = {
        r["i"]: (list(r["th"]), r["fp"])
        for r in df.select(
            "i",
            dedup.token_hashes(F.col("text")).alias("th"),
            text.fingerprint(F.col("text")).alias("fp"),
        ).collect()
    }
    con = duckdb.connect()
    duck_rows = con.execute(
        f"SELECT i, {em._TOKEN_HASH_LIST_SQL} AS th, {em._FP_SQL} AS fp "
        "FROM (SELECT unnest(range(?)) AS i, unnest(?::VARCHAR[]) AS text)",
        [len(TEXTS), TEXTS],
    ).fetchall()
    assert len(duck_rows) == len(TEXTS)
    for i, th, fp in duck_rows:
        assert (th, fp) == spark_rows[i], TEXTS[i]
    # seed 0 over the empty text, seed 7 over each empty token
    assert spark_rows[0] == ([7], 0)
    assert spark_rows[1] == ([(7 * 131 + ord("a")) % 2147483647],
                             ord("a"))


def test_betainc_chain_sql_matches_numpy_betainc():
    cases = [
        (0.3, 0.5, 0.5), (0.9, 2.5, 0.5), (0.99, 10.0, 0.5),
        (0.5, 1.0, 1.0), (0.1, 50.0, 3.0), (0.7, 4.0, 0.5),
        (1e-6, 2.0, 0.5), (0.999999, 0.5, 7.0), (0.0, 3.0, 0.5),
        (1.0, 3.0, 0.5),
    ]
    values = ", ".join(
        f"({k}, CAST({x!r} AS DOUBLE), CAST({a!r} AS DOUBLE),"
        f" CAST({b!r} AS DOUBLE))"
        for k, (x, a, b) in enumerate(cases)
    )
    sql = (
        f"WITH RECURSIVE inp(key, x, a, b) AS (VALUES {values}),"
        f"{em._betainc_chain_sql()} SELECT key, p FROM pv"
    )
    got = dict(duckdb.connect().execute(sql).fetchall())
    assert sorted(got) == list(range(len(cases)))
    for k, (x, a, b) in enumerate(cases):
        want = float(betainc(a, b, x))
        assert math.isfinite(got[k])
        assert abs(got[k] - want) <= 1e-12, (x, a, b, got[k], want)


# marker -> the one helper it may appear in
FRAGMENT_MARKERS = {
    "0.3275911": "_erfc_sql",
    "0.254829592": "_erfc_sql",
    "* 131 + c) % 2147483647": "_fold_hash_sql",
    "cf AS (": "_betainc_chain_sql",
    "ELSE 1.0 / (1.0 + aa1 * d) END": "_betainc_chain_sql",
    "SELECT user_id % 2 AS cohort,\n    CASE WHEN t_err IS NOT NULL":
        "_SURVIVAL_COHORT_SQL",
}


def test_oracle_fragments_defined_once():
    """Lint: each oracle building block lives in one helper. An inline
    copy of the erfc polynomial, the fold hash, the Lentz chain or the
    survival cohort CTE fails here; call the helper instead."""
    path = pathlib.Path(em.__file__)
    src = path.read_text()
    spans = {}
    for node in ast.parse(src, str(path)).body:
        names = []
        if isinstance(node, ast.FunctionDef):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        for name in names:
            spans[name] = (node.lineno, node.end_lineno)
    problems = []
    for marker, helper in FRAGMENT_MARKERS.items():
        lines, start = [], src.find(marker)
        while start >= 0:
            lines.append(src.count("\n", 0, start) + 1)
            start = src.find(marker, start + 1)
        lo, hi = spans[helper]
        if len(lines) != 1 or not lo <= lines[0] <= hi:
            problems.append(f"{marker!r} at lines {lines}, want once in "
                            f"{helper} (lines {lo}-{hi})")
    assert not problems, "\n".join(problems)



# query -> (flag column, threshold on the reported p_value)
P_FLAGS = {
    "srm_check": ("srm_flag_1pct", 0.01),
    "windowed_srm": ("srm_flag_1pct", 0.01),
    "arch_lm": ("arch_flag_5pct", 0.05),
}


@pytest.mark.parametrize("name", sorted(P_FLAGS))
def test_flags_threshold_the_reported_p_value(spark, duck, name):
    """The two engines' ``exp`` can differ by an ulp, so a flag computed
    from the unrounded p could disagree with the 6dp ``p_value`` printed
    next to it (and flip between the engine and its oracle). Both sides
    threshold the reported p."""
    from tests.conftest import SF_ORACLE

    flag, threshold = P_FLAGS[name]
    eng = em.queries()[name](spark, SF_ORACLE).collect()
    rel = duck.sql(em.oracle_sql()[name])
    cols = rel.columns
    ora = [dict(zip(cols, r)) for r in rel.fetchall()]
    assert eng and len(eng) == len(ora)
    for side, rows in (("engine", eng), ("oracle", ora)):
        for r in rows:
            p = r["p_value"]
            want = None if p is None else p < threshold
            assert r[flag] == want, (side, name, p, r[flag])


def test_srm_flags_follow_the_rounded_p_at_the_threshold(spark):
    """60/40 arm counts against an allocation ratio solved so that p
    lies in [0.0099995, 0.01): below 0.01 unrounded, reported as 0.01.
    The flag must follow the reported p and stay off."""
    from padua_spark.extensions.features import srm_check
    from padua_spark.streaming import windowed_srm

    def p_of(r):
        chi2 = ((60 - 100 * r) ** 2 / (100 * r)
                + (40 - 100 * (1 - r)) ** 2 / (100 * (1 - r)))
        return math.erfc(math.sqrt(chi2 / 2))

    lo, hi = 0.3, 0.5  # p rises from ~1e-10 to 0.05 over this range
    for _ in range(100):
        mid = (lo + hi) / 2
        lo, hi = (mid, hi) if p_of(mid) < 0.00999975 else (lo, mid)
    ratios = [lo, 1 - lo]
    df = spark.range(100).select(
        F.lit("g").alias("g"),
        (F.col("id") >= 60).cast("int").alias("arm"),
        F.timestamp_seconds(F.lit(0)).alias("ts"),
    )
    rows = [
        srm_check(df, ["g"], "arm", [0, 1], ratios).collect()[0],
        windowed_srm(df, F.col("ts"), F.col("arm"), [0, 1],
                     ratios).collect()[0],
    ]
    for r in rows:
        assert r["n_arm_0"] == 60 and r["p_value"] == 0.01
        assert r["srm_flag_1pct"] is False
