"""Unit tests: distribution CDFs vs precomputed scipy values, MaxQuant
column grammar, scalar functions, deterministic imputation, q-value
properties."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from padua_spark.functions.distributions import betainc, f_sf, student_t_sf
from padua_spark.functions.scalar import (
    deterministic_gaussian,
    protein_id,
    protein_ids,
    safe_log2,
)
from padua_spark.operators import imputation as imp
from padua_spark.operators import stats as st
from padua_spark.sources.maxquant import parse_expression_columns

# Exact closed forms: df=1 is Cauchy (2·sf = 1 − 2·atan(t)/π); df=2 has
# 2·sf = 1 − t/sqrt(t²+2); F(f; 2, d) has sf = (1 + 2f/d)^(−d/2);
# F(1;1,1) = P(|T₁|>1) = 1/2. Large-df t → normal.
EXACT_T = [
    (1.0, 1, 0.5),
    (2.0, 1, 1.0 - 2.0 * math.atan(2.0) / math.pi),
    (2.0, 2, 1.0 - 2.0 / math.sqrt(6.0)),
    (0.5, 2, 1.0 - 0.5 / math.sqrt(0.25 + 2.0)),
    (0.0, 5, 1.0),
]


def test_student_t_sf_exact_closed_forms():
    for t, df, expected in EXACT_T:
        got = float(student_t_sf(t, df))
        assert got == pytest.approx(expected, rel=1e-10), (t, df)
    # symmetry in t
    assert float(student_t_sf(-3.2, 25)) == pytest.approx(
        float(student_t_sf(3.2, 25)), rel=1e-12
    )
    # normal limit: 2·Φ(−1.959964) ≈ 0.05
    assert float(student_t_sf(1.959964, 1e6)) == pytest.approx(
        0.05, abs=1e-4
    )


def test_f_sf_exact_closed_forms():
    assert float(f_sf(1.0, 1.0, 1.0)) == pytest.approx(0.5, rel=1e-9)
    for f, d in [(3.0, 10), (0.7, 4), (12.0, 6)]:
        expected = (1.0 + 2.0 * f / d) ** (-d / 2.0)
        assert float(f_sf(f, 2.0, d)) == pytest.approx(expected, rel=1e-10)


def test_betainc_symmetry():
    # I_x(a,b) = 1 - I_{1-x}(b,a)
    for a, b, x in [(2.0, 3.0, 0.4), (0.5, 0.5, 0.1), (5, 1, 0.99)]:
        assert float(betainc(a, b, x)) == pytest.approx(
            1.0 - float(betainc(b, a, 1.0 - x)), abs=1e-12
        )


def test_parse_expression_columns():
    cols = [
        "id",
        "Protein IDs",
        "Intensity",
        "Intensity OR8_5min_A1",
        "Intensity OR8_5min_A1___2",
        "LFQ intensity S1",
        "Ratio H/L normalized E1",
        "Ratio M/L E2",
        "Reverse",
    ]
    parsed = {p["column"]: p for p in parse_expression_columns(cols)}
    assert set(parsed) == {
        "Intensity",
        "Intensity OR8_5min_A1",
        "Intensity OR8_5min_A1___2",
        "LFQ intensity S1",
        "Ratio H/L normalized E1",
        "Ratio M/L E2",
    }
    assert parsed["Intensity"]["sample_label"] is None
    assert parsed["Intensity OR8_5min_A1___2"]["multiplicity"] == 2
    assert parsed["Intensity OR8_5min_A1___2"]["sample_label"] == "OR8_5min_A1"
    assert parsed["LFQ intensity S1"]["kind"] == "LFQ intensity"
    assert parsed["Ratio H/L normalized E1"]["kind"] == "Ratio H/L normalized"
    assert parsed["Ratio M/L E2"]["kind"] == "Ratio M/L"


def test_scalar_functions(spark):
    df = spark.createDataFrame(
        [("P07830;P63267_HUMAN Q54A44", 4.0), ("Q9Y6K9", 0.0)],
        ["proteins", "v"],
    )
    row = df.select(
        protein_id("proteins").alias("pid"),
        protein_ids("proteins").alias("pids"),
        safe_log2("v").alias("lg"),
    ).collect()
    assert row[0]["pid"] == "P07830"
    assert row[0]["pids"] == ["P07830", "P63267"]
    assert row[0]["lg"] == 2.0
    assert row[1]["lg"] is None  # log2(0) → NULL, not -inf


def test_deterministic_gaussian_properties(spark):
    df = spark.range(20000).select(
        deterministic_gaussian(F.col("id")).alias("g")
    )
    stats = df.agg(
        F.avg("g").alias("m"), F.stddev_samp("g").alias("s")
    ).collect()[0]
    assert abs(stats["m"]) < 0.02
    assert abs(stats["s"] - 1.0) < 0.02


def test_imputation_partitioning_invariant(spark):
    """Imputed values must not depend on physical partitioning — the
    determinism contract the reference lacks (imputation.py:58)."""
    data = [(i, "g1" if i % 2 else "g2",
             float(i) if i % 5 else None) for i in range(1000)]
    df = spark.createDataFrame(data, ["k", "grp", "v"])
    out1 = imp.impute_gaussian(df.repartition(1), ["grp"], "v", "k")
    out2 = imp.impute_gaussian(df.repartition(17), ["grp"], "v", "k")
    r1 = {r["k"]: r["v"] for r in out1.collect()}
    r2 = {r["k"]: r["v"] for r in out2.collect()}
    # The noise stream is bit-exact; group mean/sd carry the usual
    # distributed-fp summation-order jitter (~1e-15 relative).
    assert set(r1) == set(r2)
    for k in r1:
        assert r1[k] == pytest.approx(r2[k], rel=1e-12)
    n_imputed = sum(
        1 for r in out1.collect() if r["imputed"]
    )
    assert n_imputed == 200


def test_qvalues_monotone_and_bounded(spark):
    import random

    random.seed(7)
    data = [(i, random.random() ** 2) for i in range(500)]
    df = spark.createDataFrame(data, ["k", "p_value"])
    out = st.qvalues(df, "p_value", pi0=1.0).collect()
    rows = sorted(out, key=lambda r: r["p_value"])
    qs = [r["q_value"] for r in rows]
    assert all(0 <= q <= 1 for q in qs)
    assert all(a <= b + 1e-12 for a, b in zip(qs, qs[1:])), (
        "q-values must be monotone in p"
    )
    # BH guarantee: q >= p for pi0=1
    assert all(r["q_value"] >= r["p_value"] - 1e-12 for r in rows)


def test_qvalues_storey_pi0(spark):
    """pi0='storey' reproduces the reference estimator's closed form
    (utils.py:50-68 with splrep's s=0 interpolating default):
    pi0 = count(p>0.89)/(m*0.11) clipped at 1, and the reference's
    m<100 rule forces pi0=1 (== plain BH) on small inputs."""
    # small m: storey == BH exactly
    small = spark.createDataFrame(
        [(i, (i + 1) / 60.0) for i in range(50)], ["k", "p_value"]
    )
    sq = {r["k"]: r["q_value"]
          for r in st.qvalues(small, "p_value", pi0="storey").collect()}
    bq = {r["k"]: r["q_value"]
          for r in st.qvalues(small, "p_value", pi0=1.0).collect()}
    assert sq == bq
    # large m, uniform-ish p: pi0 = (#p>0.89)/(m*0.11); q == pi0-scaled
    # BH with the backward running min
    m = 400
    ps = [((i * 37) % m + 0.5) / m for i in range(m)]
    df = spark.createDataFrame(list(enumerate(ps)), ["k", "p_value"])
    n_above = sum(1 for p in ps if p > 0.89)
    pi0 = min(1.0, n_above / (m * (1.0 - 0.89)))
    got = {r["k"]: r["q_value"]
           for r in st.qvalues(df, "p_value", pi0="storey").collect()}
    ref = {r["k"]: r["q_value"]
           for r in st.qvalues(df, "p_value", pi0=pi0).collect()}
    for k in got:
        assert abs(got[k] - ref[k]) < 1e-12


def test_ttest_symmetry(spark):
    """t(a,b) == -t(b,a) (property test from SURVEY.md §5)."""
    data = [
        (i % 10, "a" if i % 2 else "b", float((i * 7) % 13)) for i in range(200)
    ]
    df = spark.createDataFrame(data, ["f", "grp", "v"])
    ab = {r["f"]: r["t_stat"] for r in st.ttest_ind_stats(
        df, ["f"], "grp", "v", "a", "b").collect()}
    ba = {r["f"]: r["t_stat"] for r in st.ttest_ind_stats(
        df, ["f"], "grp", "v", "b", "a").collect()}
    for k in ab:
        if ab[k] is None:
            assert ba[k] is None
        else:
            assert ab[k] == pytest.approx(-ba[k], rel=1e-12)


def test_expand_side_table(spark):
    """R1: ___1/2/3 multiplicity columns unpivot to 3x rows
    (reference process.py:221-277)."""
    from padua_spark.operators.process import expand_side_table

    df = spark.createDataFrame(
        [(0, "P1", 10.0, 20.0, 30.0), (1, "P2", 1.0, 2.0, 3.0)],
        ["id", "Proteins", "Intensity A___1", "Intensity A___2",
         "Intensity A___3"],
    )
    out = expand_side_table(
        df,
        ["id", "Proteins"],
        {"Intensity A": ["Intensity A___1", "Intensity A___2",
                         "Intensity A___3"]},
    )
    rows = out.collect()
    assert len(rows) == 6  # 3x base rows
    d = {(r["id"], r["multiplicity"]): r["Intensity A"] for r in rows}
    assert d[(0, 1)] == 10.0 and d[(0, 3)] == 30.0 and d[(1, 2)] == 2.0


def test_chunks_ntile(spark):
    from padua_spark.functions.scalar import chunks_ntile

    df = spark.range(10).select(F.col("id"))
    out = df.select("id", chunks_ntile("id", 3).alias("chunk")).collect()
    sizes = {}
    for r in out:
        sizes[r["chunk"]] = sizes.get(r["chunk"], 0) + 1
    assert sorted(sizes.values()) == [3, 3, 4]


def test_wide_ingest_many_columns(spark, tmp_path):
    """maxquant_long must hold up with hundreds of expression columns
    (the stack expression scales linearly, no per-column Python loop at
    execution time)."""
    import pandas as pd

    n_samples, n_rows = 300, 40
    df = pd.DataFrame({"id": range(n_rows), "Proteins": "P1"})
    for s in range(n_samples):
        df[f"Intensity S{s:03d}"] = float(s)
    path = str(tmp_path / "wide.txt")
    df.to_csv(path, sep="\t", index=False)
    from padua_spark.sources import maxquant_long, read_maxquant

    wide = read_maxquant(spark, path)
    meas, feats = maxquant_long(wide)
    assert meas.count() == n_rows * n_samples
    one = meas.filter(
        (F.col("feature_id") == 0)
        & (F.col("sample_label") == "S007")
    ).collect()
    assert len(one) == 1 and one[0]["value"] == 7.0


def test_asof_join_tolerance(spark):
    from padua_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 200), (3, "u", 1000)],
        "id int, k string, t long",
    )
    right = spark.createDataFrame(
        [("u", 90, 9.0), ("u", 150, 15.0)], "k string, t long, v double"
    )
    out = {r["id"]: r for r in asof_join(
        left, right, on="t", by=["k"], right_value_cols=["v"],
        tolerance=100,
    ).collect()}
    assert out[1]["v"] == 9.0 and out[1]["asof_ts"] == 90
    assert out[2]["v"] == 15.0
    assert out[3]["v"] is None  # last right row is 850 units stale


def test_range_join_with_key(spark):
    from padua_spark.operators.temporal import range_join

    pts = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 15), (3, "b", 5)],
        "id int, k string, p long",
    )
    iv = spark.createDataFrame(
        [("a", 0, 10, "low"), ("a", 10, 20, "high"), ("b", 0, 10, "blow")],
        "k string, s long, e long, label string",
    )
    out = {r["id"]: r["label"] for r in range_join(
        pts, iv, "p", "s", "e", by=["k"]
    ).collect()}
    assert out == {1: "low", 2: "high", 3: "blow"}


def test_format_label_and_hierarchical_match(spark):
    from padua_spark.functions.scalar import format_label, hierarchical_match

    df = spark.createDataFrame([("PGE2", 5, 1)], ["g", "t", "r"])
    row = df.select(
        format_label(["g", "t", "r"]).alias("lbl"),
        format_label(["g", "t"], fmt="%s @ t%s").alias("fmtd"),
    ).collect()[0]
    assert row["lbl"] == "PGE2 5 1"
    assert row["fmtd"] == "PGE2 @ t5"
    styles = {("PGE2", 5): "red", ("PGE2",): "pink", (): "grey"}
    assert hierarchical_match(styles, ("PGE2", 5, 1)) == "red"
    assert hierarchical_match(styles, ("PGE2", 0)) == "pink"
    assert hierarchical_match(styles, ("Control", 5)) == "grey"


def test_filter_intensity_columns(spark):
    from padua_spark.operators.filters import filter_intensity_columns

    df = spark.createDataFrame(
        [(0, "P", 1.0, 2.0, 3.0, 4.0)],
        ["id", "Proteins", "Intensity A", "Intensity B___1",
         "LFQ intensity A", "Ratio H/L normalized E1"],
    )
    out = filter_intensity_columns(df, label="A")
    assert out.columns == ["id", "Proteins", "Intensity A"]
    out2 = filter_intensity_columns(df, label="B", with_multiplicity=True)
    assert out2.columns == ["id", "Proteins", "Intensity B___1"]
    out3 = filter_intensity_columns(df, prefix="LFQ intensity")
    assert out3.columns == ["id", "Proteins", "LFQ intensity A"]


def test_asof_join_right_column_collision(spark):
    """Right value columns sharing a name with a left column must not
    clobber the left values (ADVICE r1): they come back with an ``_r``
    suffix."""
    from padua_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100, 111.0), (2, "u", 200, 222.0)],
        "id int, k string, t long, value double",
    )
    right = spark.createDataFrame(
        [("u", 90, 9.0), ("u", 150, 15.0)], "k string, t long, value double"
    )
    out = {r["id"]: r for r in asof_join(
        left, right, on="t", by=["k"]
    ).collect()}
    assert out[1]["value"] == 111.0 and out[1]["value_r"] == 9.0
    assert out[2]["value"] == 222.0 and out[2]["value_r"] == 15.0


def test_exact_dedup_tiebreaker(spark):
    """With a tied keep_col, exact_dedup keeps all tied rows unless a
    row-unique id_col tiebreaker is given (ADVICE r1)."""
    from padua_spark.extensions.dedup import exact_dedup

    df = spark.createDataFrame(
        [("k1", 5, 101), ("k1", 5, 102), ("k1", 7, 103), ("k2", 1, 104)],
        "key string, keep int, rid int",
    )
    tied = exact_dedup(df, ["key"], "keep")
    assert tied.count() == 3  # both keep=5 rows survive
    strict = exact_dedup(df, ["key"], "keep", id_col="rid")
    rows = {r["key"]: r["rid"] for r in strict.collect()}
    assert rows == {"k1": 101, "k2": 104}


def test_shingle_hash_no_overflow_large_k(spark):
    """k_shingle >= 4 must not wrap int64 (ADVICE r1): the mod-reduced
    combine matches exact big-int arithmetic computed in Python."""
    from padua_spark.extensions.dedup import MOD, exploded_shingles

    text = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame([(1, text)], "doc_id int, text string")
    k = 5
    got = sorted(
        r["shingle"]
        for r in exploded_shingles(df, "doc_id", "text", k).collect()
    )

    def tok_hash(t):
        acc = 7
        for ch in t:
            acc = (acc * 131 + ord(ch)) % MOD
        return acc

    toks = [tok_hash(t) for t in text.split(" ")]
    expect = sorted({
        sum(
            toks[i + j] * ((1000000007**j) % MOD) for j in range(k)
        ) % MOD
        for i in range(len(toks) - k + 1)
    })
    assert got == expect


def test_ivf_lloyd_and_recall(spark):
    """IVF: Lloyd refinement moves centroids toward cluster means, and
    probing all cells recovers the exact brute-force top-k."""
    import numpy as np

    from padua_spark.extensions.similarity import (
        brute_force_topk,
        ivf_centroids,
        ivf_topk,
    )

    rng = np.random.RandomState(3)
    centers = np.array([[5.0, 0.0, 0.0], [0.0, 5.0, 0.0], [0.0, 0.0, 5.0]])
    rows = []
    for i in range(90):
        c = centers[i % 3]
        rows.append((i, (c + rng.normal(0, 0.3, 3)).tolist()))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")

    cents = ivf_centroids(df, "vec_id", "embedding", n_cells=3, n_iter=2)
    got = np.array(
        sorted(
            [r["_c"] for r in cents.collect()],
            key=lambda v: int(np.argmax(v)),
        )
    )
    # after 2 Lloyd steps each centroid is near one of the true centers
    for k in range(3):
        assert np.linalg.norm(got[k] - centers[k]) < 1.0, got

    query = [5.0, 0.1, 0.0]
    exact = [r["vec_id"] for r in brute_force_topk(
        df, "embedding", "vec_id", query, k=5
    ).collect()]
    approx_all = [r["vec_id"] for r in ivf_topk(
        df, "embedding", "vec_id", query, k=5, n_cells=3, nprobe=3, n_iter=2
    ).collect()]
    assert approx_all == exact
    # nprobe=1 restricts to the query's own cluster — still finds them
    approx_1 = [r["vec_id"] for r in ivf_topk(
        df, "embedding", "vec_id", query, k=5, n_cells=3, nprobe=1, n_iter=2
    ).collect()]
    assert approx_1 == exact


def test_bpe_token_count_edges(spark):
    from padua_spark.extensions.text import bpe_token_count

    df = spark.createDataFrame(
        [
            (1, "Hello world"),       # [Hello][ world] = 2
            (2, "it's 42 tokens!"),   # [it]['s][ 42][ tokens][!] = 5
            (3, ""),                  # 0
            (4, "a"),                 # 1
        ],
        "id int, text string",
    )
    got = {r["id"]: r["n"] for r in df.select(
        "id", bpe_token_count(F.col("text")).alias("n")
    ).collect()}
    assert got == {1: 2, 2: 5, 3: 0, 4: 1}


def test_ivf_probe_pruning_at_scale(spark):
    """Scale probe: at 8x the embeddings corpus, nprobe/n_cells bounds
    the fraction of the corpus the query scans — the candidate set
    stays a strict subset instead of degrading to a full scan."""
    from pyspark.sql import functions as F

    from padua_spark.extensions.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_topk,
    )

    base = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    big = base
    for i in range(1, 8):
        big = big.unionByName(
            base.select(
                (F.col("vec_id") + F.lit(i * 100000)).alias("vec_id"),
                "embedding",
                *[c for c in base.columns if c not in ("vec_id", "embedding")],
            ).select(base.columns)
        )
    big = big.cache()
    n = big.count()
    qrow = base.filter(F.col("vec_id") == 0).select("embedding").collect()
    query = [float(x) for x in qrow[0][0]]

    cents = ivf_centroids(big, "vec_id", "embedding", n_cells=16)
    sizes = {
        r["cell"]: r["c"]
        for r in ivf_assign(big, "vec_id", "embedding", cents)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert sum(sizes.values()) == n
    # any 4 cells cover well under the full corpus (cells are non-empty
    # and data spreads over all 16)
    assert len(sizes) == 16
    top4 = sum(sorted(sizes.values(), reverse=True)[:4])
    assert top4 < n

    out = ivf_topk(
        big, "embedding", "vec_id", query, k=5, n_cells=16, nprobe=4
    ).collect()
    ids = [r["vec_id"] for r in out]
    # the 8 planted exact copies of vec 0 are each other's nearest
    # neighbors; all probes land in one cell, so all 8 are found
    expect = {0} | {i * 100000 for i in range(1, 8)}
    assert set(ids[:5]) <= expect
    assert abs(out[0]["cosine_sim"] - 1.0) < 1e-9


def test_collapse_median_keeps_all_null_groups(spark):
    """A key group whose values are all NULL must survive as
    (key, NULL) — same key set as stat='mean' (code-review r2)."""
    from padua_spark.operators.aggregates import (
        collapse_technical_replicates,
    )

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", None), ("b", None)],
        "k string, v double",
    )
    med = {r["k"]: r["v"] for r in collapse_technical_replicates(
        df, ["k"], "v", stat="median"
    ).collect()}
    mean = {r["k"]: r["v"] for r in collapse_technical_replicates(
        df, ["k"], "v", stat="mean"
    ).collect()}
    assert set(med) == set(mean) == {"a", "b"}
    assert med["a"] == 2.0 and med["b"] is None


def test_kegg_null_ratio_uncolored(spark):
    """Undefined log2 ratio (missing group / non-positive mean) must
    yield a NULL color bin, not the max-up-regulation bin."""
    from padua_spark.operators.external import kegg_color_table

    df = spark.createDataFrame(
        [(1, "A", 4.0), (1, "B", 1.0), (2, "A", 4.0), (3, "A", -1.0),
         (3, "B", 2.0)],
        "f int, g string, v double",
    )
    out = {r["f"]: r for r in kegg_color_table(
        df, ["f"], "g", "v", "A", "B"
    ).collect()}
    assert out[1]["log2_ratio"] == 2.0 and out[1]["color_bin"] == 6
    assert out[2]["log2_ratio"] is None and out[2]["color_bin"] is None
    assert out[3]["log2_ratio"] is None and out[3]["color_bin"] is None


def test_asof_join_rename_residual_collision_raises(spark):
    from padua_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100, 1.0, 2.0)],
        "id int, k string, t long, value double, value_r double",
    )
    right = spark.createDataFrame(
        [("u", 90, 9.0)], "k string, t long, value double"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already taken"):
        asof_join(left, right, on="t", by=["k"])


def test_exact_dedup_null_keep_never_chosen(spark):
    from padua_spark.extensions.dedup import exact_dedup

    df = spark.createDataFrame(
        [("k", None, 1), ("k", 5, 2), ("all_null", None, 3)],
        "key string, keep int, rid int",
    )
    got = {(r["key"], r["rid"]) for r in exact_dedup(
        df, ["key"], "keep", id_col="rid"
    ).collect()}
    assert got == {("k", 2)}  # null keep skipped; all-null group dropped
    got2 = {(r["key"], r["rid"]) for r in exact_dedup(
        df, ["key"], "keep"
    ).collect()}
    assert got2 == {("k", 2)}


def test_dedup_stream_batch_schema_clean(spark):
    from pyspark.sql import functions as F

    from padua_spark.streaming import dedup_stream

    df = spark.createDataFrame(
        [(1, "a", 100), (1, "a", 200)], "uid int, et string, t long"
    )
    out = dedup_stream(
        df, ["uid", "et"], event_time=F.timestamp_micros(F.col("t"))
    )
    assert out.columns == ["uid", "et", "t"]
    assert out.count() == 1


def test_curate_corpus_pipeline(spark):
    """Planted short docs, exact dups, and near-dups each fall to their
    stage; clean documents survive."""
    from padua_spark.extensions.curation import curate_corpus

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, base),
        (2, base),                                  # exact dup of 1
        (3, base + " tail"),                        # near dup of 1
        (4, "too short"),                           # quality-gated
        (5, "a completely different document about spark query engines"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    kept = sorted(
        r["doc_id"]
        for r in curate_corpus(
            df, "doc_id", "text", min_tokens=5, jaccard_threshold=0.4
        ).collect()
    )
    assert kept == [1, 5]


def test_partitioning_invariance(spark):
    """Operator results must not depend on the physical partitioning of
    the input — the core distributed-correctness property (task retries
    and AQE re-splits change layout at will)."""
    from padua_spark.extensions.dedup import minhash_lsh_candidates
    from padua_spark.operators.imputation import impute_gaussian
    from padua_spark.operators.normalization import group_medians

    li = spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).withColumn(
        "val", F.when(F.col("l_discount") > 0.05, F.col("l_quantity"))
    )
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    base_med = base_imp = base_mh = None
    for n in (1, 7, 32):
        med = rows(
            group_medians(li.repartition(n), ["l_returnflag"], "val", "m")
        )
        imp_out = impute_gaussian(
            li.repartition(n), ["l_returnflag"], "val", "l_orderkey"
        ).select("l_orderkey", "l_linenumber", F.round("val", 9))
        imp = rows(imp_out)
        mh = rows(
            minhash_lsh_candidates(docs.repartition(n), "doc_id", "text")
        )
        if base_med is None:
            base_med, base_imp, base_mh = med, imp, mh
        else:
            assert med == base_med
            assert imp == base_imp
            assert mh == base_mh


def test_language_id_classifies_real_text(spark):
    """Constructed multilingual snippets classify correctly, including
    CJK via the codepoint-class score (the synthetic corpus uses
    English-ish text under every lang label, so this is the real
    classifier check)."""
    from padua_spark.extensions.text import language_id

    docs = [
        (1, "the cat is in the house and of course happy"),
        (2, "der hund ist von der stadt und ein freund"),
        (3, "le chat est de la maison et un ami"),
        (4, "el perro es de la casa y un amigo"),
        (5, "这 是 一个 中文 文档 的 示例 文本"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r["doc_id"]: r["predicted_lang"] for r in language_id(
        df, "text", ["doc_id"]
    ).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "zh"}


def test_language_id_custom_profile_with_cjk_key(spark):
    """A custom profile that already contains the cjk_lang key composes
    (stopword + codepoint scores add) instead of raising an
    ambiguous-column AnalysisException (ADVICE r2)."""
    from padua_spark.extensions.text import language_id

    df = spark.createDataFrame(
        [(1, "的 的 the the the")], "doc_id long, text string"
    )
    out = language_id(
        df, "text", ["doc_id"],
        profiles={"en": ["the"], "zh": ["的"]}, cjk_lang="zh",
    )
    assert out.columns.count("score_zh") == 1
    row = out.collect()[0]
    assert row["score_zh"] == 4  # 2 stopword hits + 2 codepoint hits
    assert row["score_en"] == 3
    assert row["predicted_lang"] == "zh"


def test_dedup_stream_batch_keeps_first_arrival_payload(spark):
    """Batch twin keeps the min-event-time row, so non-key payload
    columns match streaming first-arrival semantics (ADVICE r2)."""
    from pyspark.sql import functions as F

    from padua_spark.streaming import dedup_stream

    df = spark.createDataFrame(
        [(1, 200, "late"), (1, 100, "first"), (2, 50, "only")],
        "uid int, t long, payload string",
    )
    out = {
        r["uid"]: r["payload"]
        for r in dedup_stream(
            df, ["uid"], event_time=F.timestamp_micros(F.col("t")),
            tiebreak_col="payload",
        ).collect()
    }
    assert out == {1: "first", 2: "only"}


def test_ivf_centroids_empty_cell_keeps_previous(spark):
    """A Lloyd step that empties a cell keeps the cell with its previous
    centroid — the table always has exactly n_cells cells with stable
    ids (ADVICE r2)."""
    from padua_spark.extensions.similarity import ivf_centroids

    # ids 1 and 2 share a vector; every point ties on cosine and the
    # lowest-cell tie rule sends all rows to cell 1, emptying cell 2
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = ivf_centroids(df, "vec_id", "embedding", n_cells=2, n_iter=1)
    rows = {r["cell"]: list(r["_c"]) for r in cents.collect()}
    assert sorted(rows) == [1, 2]
    assert rows[2] == [1.0, 0.0]  # kept its seed centroid


def test_curate_corpus_preserves_user_fp_column(spark):
    """An input that already has a _fp column passes through untouched —
    internal names are made collision-proof (ADVICE r2)."""
    from padua_spark.extensions.curation import curate_corpus

    df = spark.createDataFrame(
        [
            (1, "one fine document with several words", "user"),
            (2, "a totally different second document text", "data"),
        ],
        "doc_id long, text string, _fp string",
    )
    out = curate_corpus(
        df, "doc_id", "text", min_tokens=3, jaccard_threshold=0.9
    )
    assert "_fp" in out.columns
    assert {r["_fp"] for r in out.collect()} == {"user", "data"}


def test_table_cache_weak_keyed(spark):
    """Reader memoization is keyed by the live session object (weakref),
    not id(spark) — no stale-session identity reuse (ADVICE r2)."""
    import weakref

    import __spark_entry__ as e

    assert isinstance(e._T_CACHE, weakref.WeakKeyDictionary)
    d1 = e._t(spark, "/root/testdata/sf0.001", "region")
    d2 = e._t(spark, "/root/testdata/sf0.001", "region")
    assert d1 is d2


def test_connected_components_chain_and_clusters(spark):
    """Pairs-to-clusters: a transitive chain collapses to one component
    labeled by its minimum id; disjoint clusters stay apart; nodes not
    in any pair become singletons via cluster_assignments."""
    from padua_spark.extensions.graph import (
        cluster_assignments,
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)],
        "src long, dst long",
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 4, 10, 11, 12, 99]],
        "doc_id long, text string",
    )
    pairs = edges.select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in cluster_assignments(docs, "doc_id", pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_sampling_deterministic_and_partitioning_invariant(spark):
    """Sample membership is a pure function of the key: identical
    across partitionings, and a row's fate is stable when the corpus
    grows (incremental re-run safety)."""
    from padua_spark.extensions.sampling import (
        sample_k_per_stratum,
        split_assign,
        stratified_sample,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    frac = {"en": 0.3, "de": 0.6}

    def ids(df):
        return sorted(
            r["doc_id"]
            for r in stratified_sample(
                df, "doc_id", "lang", frac, default=0.2, salt=1
            ).collect()
        )

    assert ids(d.repartition(13)) == ids(d.coalesce(1)) == ids(d)

    # growing the corpus never flips an existing row's split
    half = d.where(F.col("doc_id") < 100)
    s_half = {
        r["doc_id"]: r["split"]
        for r in split_assign(
            half, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    s_full = {
        r["doc_id"]: r["split"]
        for r in split_assign(
            d, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert all(s_full[k] == v for k, v in s_half.items())
    assert set(s_full.values()) == {"train", "val", "test"}

    # exact-k: every stratum yields min(k, stratum size) rows
    got = (
        sample_k_per_stratum(d, "doc_id", "lang", k=7)
        .groupBy("lang")
        .count()
        .collect()
    )
    sizes = {r["lang"]: r["count"] for r in d.groupBy("lang").count().collect()}
    assert {r["lang"]: r["count"] for r in got} == {
        lang: min(7, n) for lang, n in sizes.items()
    }


def test_scrub_pii_patterns(spark):
    """Each PII class redacts to its typed placeholder; pattern order
    keeps URLs (which contain @, digits, dots) intact as one <URL>."""
    from padua_spark.extensions.text import scrub_pii

    cases = [
        ("mail bob.smith+x@corp.example.org now", "mail <EMAIL> now"),
        ("see https://a.b/c?d=1&u=x@y.z ok", "see <URL> ok"),
        ("host 192.168.0.1 up", "host <IP> up"),
        ("call +1 (555) 123-4567 now", "call <PHONE> now"),
        ("id 12345678", "id <PHONE>"),  # long digit runs are phone-like
        ("v1.2 stays", "v1.2 stays"),
        ("short 1234 stays", "short 1234 stays"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i int, s string"
    )
    got = {
        r["i"]: r["out"]
        for r in df.select(
            "i", scrub_pii(F.col("s")).alias("out")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


def test_knn_join_matches_numpy(spark):
    """knn_join's neighbor sets and ordering match a numpy brute force."""
    import numpy as np

    from padua_spark.extensions.similarity import knn_join

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 8).astype("float64")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_join(
        df.where(F.col("vec_id") >= 4), "vec_id", "embedding",
        df.where(F.col("vec_id") < 4), "vec_id", "embedding", k=3,
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append(r["vec_id"])
    norms = np.linalg.norm(vecs, axis=1)
    for q in range(4):
        sims = vecs[4:] @ vecs[q] / (norms[4:] * norms[q])
        order = sorted(range(36), key=lambda i: (-sims[i], i + 4))[:3]
        assert got[q] == [i + 4 for i in order], q


def test_chunk_documents_coverage_and_overlap(spark):
    """Chunking invariants: chunks tile the token stream with the exact
    stride, every token appears, the last chunk is never empty, and a
    short doc yields exactly one chunk."""
    from padua_spark.extensions.text import chunk_documents

    text = " ".join(f"t{i}" for i in range(23))
    df = spark.createDataFrame(
        [(1, text), (2, "a b c")], "doc_id long, text string"
    )
    rows = sorted(
        (r["doc_id"], r["chunk_idx"], r["chunk"], r["n_chunk_tokens"])
        for r in chunk_documents(
            df, "doc_id", "text", max_tokens=10, overlap=2
        ).collect()
    )
    doc1 = [r for r in rows if r[0] == 1]
    # stride 8: chunks start at tokens 0, 8, 16
    assert [r[1] for r in doc1] == [0, 1, 2]
    assert doc1[0][2].split(" ") == [f"t{i}" for i in range(10)]
    assert doc1[1][2].split(" ") == [f"t{i}" for i in range(8, 18)]
    assert doc1[2][2].split(" ") == [f"t{i}" for i in range(16, 23)]
    assert doc1[2][3] == 7  # last chunk short but non-empty
    doc2 = [r for r in rows if r[0] == 2]
    assert doc2 == [(2, 0, "a b c", 3)]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", max_tokens=5, overlap=5)


def test_write_corpus_partition_pruning(spark, tmp_path):
    """A lang predicate over a lang-partitioned corpus must prune at the
    partition level (PartitionFilters on the scan), not row-filter."""
    from padua_spark.extensions.curation import read_corpus, write_corpus
    from padua_spark.plans import explain_str

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "corpus")
    write_corpus(d, path, partition_cols=("lang",))
    back = read_corpus(spark, path).where(F.col("lang") == "en")
    plan = explain_str(back)
    seg = plan.split("PartitionFilters: [", 1)
    assert len(seg) == 2 and "lang" in seg[1].split("]")[0], plan[:3000]
    # no row-level filter on lang (pruning happened at listing time)
    assert back.count() == d.where(F.col("lang") == "en").count()


def test_connected_components_long_chain(spark):
    """A 300-node path graph converges within the default round budget
    on the DISTRIBUTED path (small_graph_threshold=0 forces it) — the
    pointer-jump step makes rounds O(log diameter), where plain
    propagation would need ~300 rounds and silently under-converge."""
    from padua_spark.extensions.graph import connected_components

    n = 300
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], "src long, dst long"
    )
    comp = connected_components(edges, small_graph_threshold=0)
    got = {r["component"] for r in comp.collect()}
    assert got == {1}
    assert comp.count() == n


def test_connected_components_shortcut_matches_distributed(spark):
    """The small-graph union-find shortcut and the distributed
    pointer-jump path produce IDENTICAL (node, component) labels —
    min-reachable-id is path-independent. Random-ish multi-component
    graph with chains, a cycle, and singleton-free isolated pairs."""
    from padua_spark.extensions.graph import connected_components

    pairs = (
        [(i, i + 1) for i in range(1, 40)]          # chain 1..40
        + [(100 + i, 100 + (i + 1) % 10) for i in range(10)]  # cycle
        + [(200, 201), (300, 301), (301, 302)]
        + [(41, 7)]                                  # ties chain back
    )
    edges = spark.createDataFrame(pairs, "src long, dst long")
    fast = sorted(
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    )
    dist = sorted(
        (r["node"], r["component"])
        for r in connected_components(
            edges, small_graph_threshold=0
        ).collect()
    )
    assert fast == dist
    # string node ids work on the shortcut path too (schema derived
    # from the edge column type)
    sedges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(sedges).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_duplicate_spans_known_case(spark):
    """Hand-checkable corpus: doc 1 and 2 share an exact 5-token run;
    doc 3 shares nothing. Every window of the shared run (and only
    those) is flagged in both docs; dup_fraction is exact."""
    from padua_spark.extensions.dedup import duplicate_spans

    shared = "alpha beta gamma delta epsilon"
    d = spark.createDataFrame(
        [
            (1, shared + " one two three four five"),
            (2, "zero " + shared + " six seven eight nine"),
            (3, "p q r s t u v w x y"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in duplicate_spans(d, "doc_id", "text", k=5).collect()
    }
    # 10 tokens -> 6 windows each; exactly one shared window per doc
    # (the run itself; its shifted windows differ across docs)
    assert out[1]["n_windows"] == 6 and out[2]["n_windows"] == 6
    assert out[1]["n_dup_windows"] == 1 and out[2]["n_dup_windows"] == 1
    assert out[3]["n_dup_windows"] == 0
    # a doc shorter than k has no windows and is omitted
    short = spark.createDataFrame(
        [(9, "a b c")], "doc_id long, text string"
    )
    assert duplicate_spans(short, "doc_id", "text", k=5).count() == 0


def test_repetition_signals_lines(spark):
    """Line-level stats (the synthetic corpus has no newlines, so the
    oracle query exercises only the degenerate one-line case — this
    covers real multi-line documents)."""
    from padua_spark.extensions.text import repetition_signals

    text = "aa\nbb\naa\ncc\naa"  # 5 lines, 'aa' x3
    d = spark.createDataFrame(
        [(1, text)], "doc_id long, text string"
    )
    r = repetition_signals(d, "doc_id", "text").collect()[0]
    assert r["n_lines"] == 5
    assert abs(r["dup_line_fraction"] - (1 - 3 / 5)) < 1e-12
    # chars in duplicated lines: 3*2 of total 5*2
    assert abs(r["dup_line_char_fraction"] - 6 / 10) < 1e-12
    # bigrams of the token sequence [aa,bb,aa,cc,aa] (lines are not
    # token boundaries for the bigram signal — split is on \s+): all 4
    # bigrams distinct -> top fraction 1/4
    assert abs(r["top_bigram_fraction"] - 0.25) < 1e-12


def test_pack_sequences_partitioning_invariant(spark):
    """Offsets are a pure function of the id order: identical under
    different range-partition counts, and windows tile the corpus."""
    from padua_spark.extensions.text import pack_sequences

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = pack_sequences(d, "doc_id", "text", budget=128, num_buckets=3)
    b = pack_sequences(d, "doc_id", "text", budget=128, num_buckets=17)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb and len(ra) > 0
    # offsets are contiguous: each doc starts where the previous ended
    prev_end = 0
    for _, n, off, first, last in ra:
        assert off == prev_end
        assert first == off // 128 and last == (off + n - 1) // 128
        prev_end = off + n


def test_mix_corpus_weights(spark):
    """floor(w) guaranteed repeats per row; fractional part realized as
    a key-derived Bernoulli (0 or 1 extra); weight 0 drops the domain;
    epoch indices are 1..n."""
    from padua_spark.extensions.sampling import mix_corpus

    d = spark.createDataFrame(
        [(i, "en" if i % 2 else "fr") for i in range(200)],
        "doc_id long, lang string",
    )
    out = mix_corpus(
        d, "doc_id", "lang", {"en": 2.5, "fr": 0.0}, salt=1
    )
    rows = out.groupBy("doc_id").count().collect()
    per = {r["doc_id"]: r["count"] for r in rows}
    assert all(k % 2 == 1 for k in per)  # fr (weight 0) fully dropped
    assert all(c in (2, 3) for c in per.values())
    n3 = sum(1 for c in per.values() if c == 3)
    assert 10 <= n3 <= 90  # ~half of 100 en docs draw the extra epoch
    epochs = {
        (r["doc_id"], r["epoch"]) for r in out.collect()
    }
    for k, c in per.items():
        assert {(k, e) for e in range(1, c + 1)} <= epochs


def test_quantized_topk_recall_vs_exact(spark):
    """int8-quantized cosine top-k recovers the exact float top-k on
    well-separated clusters (quantization error << cluster separation),
    and the integer dots are exact."""
    import numpy as np

    from padua_spark.extensions.similarity import (
        brute_force_topk,
        quantize_int8,
        quantized_topk,
    )

    rng = np.random.RandomState(7)
    centers = np.array([[5.0, 0.0, 0.0], [0.0, 5.0, 0.0]])
    rows = [(0, [5.0, 0.2, 0.0])]
    for i in range(1, 60):
        c = centers[i % 2]
        rows.append((i, (c + rng.normal(0, 0.3, 3)).tolist()))
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    exact = [
        r.vec_id
        for r in brute_force_topk(
            df, "embedding", "vec_id", [5.0, 0.2, 0.0], k=10
        ).collect()
    ]
    qz = quantize_int8(df, "vec_id", "embedding")
    approx = quantized_topk(qz, "vec_id", query_id=0, k=10).collect()
    got = [r.vec_id for r in approx]
    assert len(set(got) & set(exact)) >= 9
    # integer dot of query with itself = sum of squares of its q
    qrow = {r.vec_id: r for r in qz.collect()}[0]
    self_dot = [r.int_dot for r in approx if r.vec_id == 0][0]
    assert self_dot == sum(v * v for v in qrow.q)


def test_semdedup_invariants_at_scale(spark):
    """Scale probe: at 8x the embeddings corpus (with planted exact
    duplicates), semdedup keeps exactly one exemplar per cell, prunes
    precisely the rows whose rounded exemplar cosine crosses the
    threshold — duplicates of the exemplar always among them — and the
    kept count is monotone in the threshold."""
    from pyspark.sql import functions as F

    from padua_spark.extensions.dedup import semdedup_prune

    base = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    big = base
    for i in range(1, 8):  # 7 shifted copies = planted exact dups
        big = big.unionByName(
            base.select(
                (F.col("vec_id") + F.lit(i * 100000)).alias("vec_id"),
                *[c for c in base.columns if c != "vec_id"],
            ).select(base.columns)
        )
    big = big.cache()
    n = big.count()

    out = semdedup_prune(
        big, "vec_id", "embedding", n_cells=16, threshold=0.999
    ).cache()
    assert out.count() == n
    # exactly one kept exemplar per cell (cos_exemplar == 1 for the
    # exemplar itself; its 7 planted clones also hit 1.0 and must be
    # pruned at threshold 0.999)
    per_cell = out.groupBy("cell").agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
        F.count(F.lit(1)).alias("members"),
    ).collect()
    assert len(per_cell) == 16
    clones_pruned = out.where(
        (~F.col("keep")) & (F.col("cos_exemplar") >= 0.999999)
    ).count()
    assert clones_pruned >= 7 * 16  # every cell's exemplar clones die
    # prune rule is exactly the documented predicate
    bad = out.where(
        (~F.col("keep")) & (F.col("cos_exemplar") < 0.999)
    ).count()
    assert bad == 0
    # monotone: a looser threshold never keeps fewer rows
    kept_tight = out.where("keep").count()
    kept_loose = (
        semdedup_prune(big, "vec_id", "embedding", 16, threshold=1.01)
        .where("keep")
        .count()
    )
    assert kept_loose >= kept_tight
    big.unpersist(); out.unpersist()


def test_upsert_merge_semantics(spark):
    from padua_spark.operators.setops import upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, name string, v double",
    )
    updates = spark.createDataFrame(
        [(2, "B2", 99.0), (4, "d", 40.0)],  # one matched, one new
        "k int, name string, v double",
    )
    got = {r["k"]: (r["name"], r["v"])
           for r in upsert(target, updates, ["k"]).collect()}
    assert got == {
        1: ("a", 10.0),    # untouched survivor
        2: ("B2", 99.0),   # update wins
        3: ("c", 30.0),    # untouched survivor
        4: ("d", 40.0),    # insert (not-matched source row)
    }
    # empty updates: identity
    empty = updates.limit(0)
    assert sorted(r["k"] for r in upsert(target, empty, ["k"]).collect()) \
        == [1, 2, 3]


def test_ks_mannwhitney_continuous_domain_at_scale(spark):
    """Scale probe: KS and Mann-Whitney on a CONTINUOUS value column —
    every value distinct, |domain| == n, the regime where the old
    partitionless global-order window would single-task the whole
    dataset — match a numpy brute-force reference exactly at 1x and
    8x (480k all-distinct doubles)."""
    import numpy as np

    from padua_spark.operators.stats import (
        ks_2samp_stat,
        mannwhitney_u_stat,
    )

    for n in (60_000, 480_000):
        # deterministic pseudo-random doubles, pure function of id
        # (unlike F.rand, partitioning/retry cannot change them);
        # fractional parts of id*phi are all distinct for id < 2^26
        v = F.col("id") * F.lit(0.6180339887498949)
        frac = v - F.floor(v)
        df = spark.range(n).select(
            F.when(F.col("id") % 3 == 0, F.lit("a"))
            .otherwise(F.lit("b"))
            .alias("g"),
            frac.alias("v"),
        )
        rows = df.collect()
        a = np.sort([r["v"] for r in rows if r["g"] == "a"])
        b = np.sort([r["v"] for r in rows if r["g"] == "b"])
        assert len(np.unique(np.concatenate([a, b]))) == n  # truly continuous
        xs = np.concatenate([a, b])
        d_exp = np.max(
            np.abs(
                np.searchsorted(a, xs, side="right") / len(a)
                - np.searchsorted(b, xs, side="right") / len(b)
            )
        )
        ks = ks_2samp_stat(df, "g", "v", "a", "b").collect()[0]
        assert ks["d_stat"] == pytest.approx(d_exp, abs=1e-12)
        assert (ks["n_a"], ks["n_b"]) == (len(a), len(b))

        allv = np.sort(xs)
        two_rbar = (
            np.searchsorted(allv, a, side="left")
            + 1
            + np.searchsorted(allv, a, side="right")
        )
        u2a_exp = int(two_rbar.sum()) - len(a) * (len(a) + 1)
        mw = mannwhitney_u_stat(df, "g", "v", "a", "b").collect()[0]
        assert mw["u2_a"] == u2a_exp
        assert mw["u2_a"] + mw["u2_b"] == 2 * len(a) * len(b)


def test_group_percentiles_match_builtin_at_scale(spark):
    """Scale probe: at 8x lineitem (~480k rows at sf0.01) the
    relational sort-path percentiles equal Spark's builtin
    F.percentile (object-buffering reference implementation) to
    1e-9 on every group and quantile."""
    from pyspark.sql import functions as F

    from padua_spark.operators.normalization import group_percentiles

    base = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    big = base
    for _ in range(7):
        big = big.unionByName(base)
    mine = {
        r["l_returnflag"]: (r["q25"], r["q75"])
        for r in group_percentiles(
            big, ["l_returnflag"], "l_quantity",
            {"q25": 0.25, "q75": 0.75},
        ).collect()
    }
    ref = {
        r["l_returnflag"]: (r["q25"], r["q75"])
        for r in big.groupBy("l_returnflag").agg(
            F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
            F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
        ).collect()
    }
    assert set(mine) == set(ref)
    for g in ref:
        assert abs(mine[g][0] - ref[g][0]) < 1e-9
        assert abs(mine[g][1] - ref[g][1]) < 1e-9


def test_pagerank_matches_numpy(spark):
    """pagerank == the documented recurrence run densely in numpy on a
    toy graph (cycle + dangling spur: a dangles mass out via d, and d
    has out-edges back), including the dropped-dangling semantics; the
    persisted contribution table is recorded for release."""
    import numpy as np

    from padua_spark.extensions.graph import pagerank
    from padua_spark.io_utils import unpersist_intermediates

    E = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("e", "a")]
    # e is dangling-IN only as a source; c->a cycle; e never receives
    edges = spark.createDataFrame(E, ["src", "dst"])
    out = pagerank(edges, "src", "dst", k_iters=4, damping=0.85)
    got = {r["node"]: r["rank"] for r in out.collect()}
    nodes = sorted({x for e in E for x in e})
    idx = {n: i for i, n in enumerate(nodes)}
    outdeg = {n: sum(1 for s, _ in E if s == n) for n in nodes}
    N, d = len(nodes), 0.85
    r = np.full(N, 1.0 / N)
    for _ in range(4):
        nr = np.full(N, (1 - d) / N)
        for s, t in E:
            nr[idx[t]] += d * r[idx[s]] / outdeg[s]
        r = nr
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-12, (n, got[n], r[idx[n]])
    # d received mass but has no out-edges in one direction: dropped
    # mass means ranks need not sum to 1
    assert abs(sum(got.values()) - 1.0) > 1e-6
    # contrib + nodes + the deduped edge frame (persisted since the
    # round-10 multi-consumer fix; textrank's edges_distinct path
    # skips it and releases 3 of its own)
    assert unpersist_intermediates(out) == 3


def test_dedup_spans_c4_semantics(spark):
    """Duplicate spans survive only at their first (doc, pos)
    occurrence; unique spans untouched; fully-duplicate docs come back
    empty; short docs (< span) dedup as one whole-doc span."""
    from padua_spark.extensions.dedup import dedup_spans

    A = "a b c"          # span1 (whole doc, <k)
    B = "d e f g h i"    # spans: "d e f" (pos0), "g h i" (pos1) at k=3
    rows = [
        (1, B),                      # first occurrence of both spans
        (2, A + " " + B),            # "a b c" unique; B's spans dup
        (3, B),                      # fully duplicate -> empty
        (4, ""),                     # empty doc
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in
           dedup_spans(df, "doc_id", "text", span_tokens=3).collect()}
    assert out[1]["text_dedup"] == B and out[1]["n_kept"] == 2
    assert out[2]["text_dedup"] == "a b c"
    assert (out[2]["n_kept"], out[2]["n_spans"]) == (1, 3)
    assert out[3]["text_dedup"] == "" and out[3]["n_kept"] == 0
    assert out[3]["n_spans"] == 2
    assert out[4]["text_dedup"] == "" and out[4]["n_spans"] == 0


def test_psi_drift_matches_reference(spark):
    """PSI per-bin contributions match the smoothed formula computed
    densely in numpy, detect a planted shift, and clamp out-of-range
    values into the edge bins."""
    import numpy as np

    from padua_spark.extensions.quality import psi_drift

    rows = []
    for i in range(2000):
        rows.append(("a", float(i % 100)))            # uniform 0..99
        rows.append(("b", float((i % 100) * 0.5)))    # shifted low
    rows += [("a", -50.0), ("b", 1e9)]                # clamp cases
    df = spark.createDataFrame(rows, ["g", "v"])
    out = psi_drift(df, "g", "a", "b", "v", lo=0.0, hi=100.0, n_bins=5)
    got = {r["bin"]: r for r in out.collect()}
    B, lo, width = 5, 0.0, 20.0
    na = np.zeros(B, dtype=int)
    nb = np.zeros(B, dtype=int)
    for g, v in rows:
        b = int(min(B - 1, max(0, math.floor((v - lo) / width))))
        (na if g == "a" else nb)[b] += 1
    pa = (na + 0.5) / (na.sum() + 0.5 * B)
    pb = (nb + 0.5) / (nb.sum() + 0.5 * B)
    psi_ref = float(((pa - pb) * np.log(pa / pb)).sum())
    for b in range(B):
        assert (got[b]["n_a"], got[b]["n_b"]) == (na[b], nb[b])
        assert got[b]["contrib"] == pytest.approx(
            float((pa[b] - pb[b]) * np.log(pa[b] / pb[b])), abs=1e-12
        )
    psi = sum(r["contrib"] for r in got.values())
    assert psi == pytest.approx(psi_ref, abs=1e-12)
    assert psi > 0.25  # the planted shift is a major drift


def test_char_entropy_closed_forms(spark):
    """Entropy closed forms: single repeated char -> 0; uniform
    alphabet of k chars -> ln k; empty/NULL -> (0, NULL)."""
    from padua_spark.extensions.text import char_entropy

    rows = [
        (1, "aaaaaaaa"),
        (2, "abcd" * 25),
        (3, ""),
        (4, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           char_entropy(df, ["doc_id"], "text").collect()}
    assert got[1]["char_entropy"] == pytest.approx(0.0, abs=1e-12)
    assert got[2]["char_entropy"] == pytest.approx(
        math.log(4), abs=1e-12
    )
    assert got[2]["n_chars"] == 100
    for k in (3, 4):
        assert got[k]["n_chars"] == 0
        assert got[k]["char_entropy"] is None


def test_robust_zscore_and_trimmed_mean(spark):
    """Robust z matches the hand-computed median/MAD on a group with a
    gross outlier (which a mean/sd z would drag); zero-MAD groups give
    NULL; trimmed mean drops the outlier the plain mean absorbs."""
    from padua_spark.operators.normalization import (
        robust_zscore,
        trimmed_mean,
    )

    vals = [10.0, 11.0, 12.0, 13.0, 14.0, 1000.0]
    rows = [("g", v) for v in vals] + [("const", 5.0)] * 4
    df = spark.createDataFrame(rows, ["grp", "v"])
    out = robust_zscore(df, ["grp"], "v")
    got = {(r["grp"], r["v"]): r["robust_z"] for r in out.collect()}
    med = 12.5                      # median of vals
    mad = 1.5                       # median of |v - 12.5|
    factor = 1.4826022185056018
    assert got[("g", 1000.0)] == pytest.approx(
        (1000.0 - med) / (mad * factor), rel=1e-12
    )
    assert got[("g", 12.0)] == pytest.approx(
        (12.0 - med) / (mad * factor), rel=1e-12
    )
    for v in [5.0]:
        assert got[("const", v)] is None  # MAD = 0
    tm = {r["grp"]: r for r in
          trimmed_mean(df, ["grp"], "v", trim=0.2).collect()}
    # bounds at p20/p80 of 6 values: pos=1.0 -> 11.0, pos=4.0 -> 14.0;
    # kept = 11..14
    assert tm["g"]["trimmed_mean"] == pytest.approx(12.5)
    assert tm["g"]["n_kept"] == 4 and tm["g"]["n_total"] == 6
    assert tm["const"]["trimmed_mean"] == pytest.approx(5.0)
    assert tm["const"]["n_kept"] == 4  # all tied at both bounds: kept


def test_dedup_spans_and_cms_at_scale(spark):
    """Scale probe: at 8x the documents corpus (4000 docs with planted
    whole-doc duplicates from the 8x union) dedup_spans keeps exactly
    one copy of every duplicated span (total kept spans == distinct
    spans) and the CMS sketch's shuffle stays capped: the grid has at
    most depth*width rows regardless of corpus size."""
    from padua_spark.extensions.dedup import dedup_spans
    from padua_spark.extensions.sketches import cms_token_sketch

    base = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    big = base
    for i in range(7):
        big = big.unionByName(
            base.withColumn(
                "doc_id", F.col("doc_id") + F.lit((i + 1) * 1_000_000)
            )
        )
    out = dedup_spans(big, "doc_id", "text", span_tokens=10)
    agg = out.agg(
        F.sum("n_kept").alias("kept"), F.sum("n_spans").alias("total")
    ).collect()[0]
    # every span occurs >= 8 times (the 8x union plants whole-doc
    # dups), so at most 1/8 of occurrences survive
    assert agg["kept"] * 8 <= agg["total"]
    n_docs = out.count()
    assert n_docs == 8 * base.count()
    sketch = cms_token_sketch(big, "text", depth=4, width=256)
    assert sketch.count() <= 4 * 256


def test_anova_2way_and_levene_reference(spark):
    """Two-way ANOVA SS decomposition and F stats match a dense numpy
    computation on a balanced 2x3 design with a planted main effect
    and interaction; Levene's W matches a direct one-way-on-deviations
    computation and flags the planted variance difference."""
    import numpy as np

    rows = []
    rng = np.random.default_rng(3)
    for f in range(5):
        for ai, a in enumerate(["a1", "a2"]):
            for bi, b in enumerate(["b1", "b2", "b3"]):
                for r in range(4):
                    v = (
                        10.0 + 2.0 * ai + 1.0 * bi
                        + (3.0 if (ai == 1 and bi == 2) else 0.0)
                        + float(rng.integers(0, 3))
                    )
                    rows.append((f, a, b, v))
    df = spark.createDataFrame(rows, ["f", "fa", "fb", "v"])
    out = {r["f"]: r for r in st.anova_2way_stats(
        df, ["f"], "fa", "fb", "v").collect()}
    import itertools

    for f in range(5):
        data = {
            (a, b): [v for (ff, aa, bb, v) in rows
                     if ff == f and aa == a and bb == b]
            for a, b in itertools.product(
                ["a1", "a2"], ["b1", "b2", "b3"])
        }
        allv = np.array([v for vs in data.values() for v in vs])
        N, gm = len(allv), allv.mean()
        ss_a = sum(
            len([v for (aa, _), vs in data.items() if aa == a
                 for v in vs])
            * (np.mean([v for (aa, _), vs in data.items() if aa == a
                        for v in vs]) - gm) ** 2
            for a in ["a1", "a2"]
        )
        ss_b = sum(
            len([v for (_, bb), vs in data.items() if bb == b
                 for v in vs])
            * (np.mean([v for (_, bb), vs in data.items() if bb == b
                        for v in vs]) - gm) ** 2
            for b in ["b1", "b2", "b3"]
        )
        ss_cells = sum(
            len(vs) * (np.mean(vs) - gm) ** 2 for vs in data.values()
        )
        ss_w = sum(
            ((np.array(vs) - np.mean(vs)) ** 2).sum()
            for vs in data.values()
        )
        r = out[f]
        assert r["ss_a"] == pytest.approx(ss_a, abs=1e-8)
        assert r["ss_b"] == pytest.approx(ss_b, abs=1e-8)
        assert r["ss_ab"] == pytest.approx(
            ss_cells - ss_a - ss_b, abs=1e-8
        )
        assert r["ss_within"] == pytest.approx(ss_w, abs=1e-8)
        assert (r["dfn_a"], r["dfn_b"], r["dfn_ab"]) == (1.0, 2.0, 2.0)
        assert r["df_within"] == N - 6
        if ss_w > 0:
            assert r["f_ab"] == pytest.approx(
                ((ss_cells - ss_a - ss_b) / 2) / (ss_w / (N - 6)),
                rel=1e-9,
            )
    # Levene: one group with much larger spread
    lrows = [(0, "g1", float(v)) for v in [10, 11, 10, 11, 10, 11]] + [
        (0, "g2", float(v)) for v in [0, 20, 0, 20, 0, 20]
    ]
    ldf = spark.createDataFrame(lrows, ["f", "g", "v"])
    lev = st.levene_stats(ldf, ["f"], "g", "v").collect()[0]
    # deviations from medians: g1 -> 0.5 each, g2 -> 10 each; ANOVA on
    # z with zero within-group variance in each group -> ssw == 0 ->
    # NULL F (degenerate), so perturb one value instead
    lrows[0] = (0, "g1", 12.0)
    ldf = spark.createDataFrame(lrows, ["f", "g", "v"])
    lev = st.levene_stats(ldf, ["f"], "g", "v").collect()[0]
    assert lev["f_stat"] is not None and lev["f_stat"] > 10


def test_paired_ttest_and_correlation_significance(spark):
    """Paired t on constructed pairs matches the closed form of the
    one-sample t over differences; correlation significance matches
    t = r*sqrt(n-2)/sqrt(1-r^2) and guards degenerate |r|=1 pairs."""
    import numpy as np

    rows = []
    rng = np.random.default_rng(9)
    diffs = []
    for pair in range(30):
        base = float(rng.integers(10, 20))
        d = float(rng.integers(0, 5))
        rows.append((0, pair, "a", base + d))
        rows.append((0, pair, "b", base))
        diffs.append(d)
    df = spark.createDataFrame(rows, ["f", "pair", "cond", "v"])
    out = st.ttest_paired_stats(
        df, ["f"], ["pair"], "cond", "v", "a", "b"
    ).collect()[0]
    d = np.array(diffs)
    t_exp = d.mean() / (d.std(ddof=1) / np.sqrt(len(d)))
    assert out["n"] == 30
    assert out["t_stat"] == pytest.approx(t_exp, rel=1e-10)
    assert out["df"] == 29

    from padua_spark.operators.aggregates import correlation_significance

    crows = [
        (f, s, float(f * (1 if s == "s1" else 2) + (f % 3)))
        for f in range(40) for s in ["s1", "s2"]
    ]
    cdf = spark.createDataFrame(crows, ["fid", "sample", "v"])
    got = {(r["sample_x"], r["sample_y"]): r
           for r in correlation_significance(
               cdf, "sample", ["fid"], "v").collect()}
    r12 = got[("s1", "s2")]
    x = np.array([v for f, s, v in crows if s == "s1"])
    y = np.array([v for f, s, v in crows if s == "s2"])
    r_exp = np.corrcoef(x, y)[0, 1]
    n = 40
    t_exp = r_exp * np.sqrt(n - 2) / np.sqrt(1 - r_exp**2)
    assert r12["pearson_r"] == pytest.approx(r_exp, rel=1e-10)
    assert r12["t_stat"] == pytest.approx(t_exp, rel=1e-8)
    assert 0.0 <= r12["p_value"] <= 1.0
    # self-pair: r == 1 -> guarded NULL t/p
    assert got[("s1", "s1")]["t_stat"] is None
    assert got[("s1", "s1")]["p_value"] is None


def test_filter_funnel_sequential_audit(spark):
    """Funnel report chains: n_in of stage k == n_out of stage k-1;
    kept == rows passing every rule; NULL rule values fail (gopher
    conjunction semantics)."""
    from padua_spark.extensions.curation import filter_funnel

    rows = [
        (1, 10, "en"), (2, 300, "en"), (3, 300, "fr"),
        (4, 300, None), (5, 500, "en"),
    ]
    df = spark.createDataFrame(rows, ["id", "n", "lang"])
    kept, report = filter_funnel(
        df,
        {"big": F.col("n") >= 200, "english": F.col("lang") == "en"},
    )
    rep = {r["rule"]: r for r in report.collect()}
    assert (rep["big"]["n_in"], rep["big"]["n_out"]) == (5, 4)
    assert (rep["english"]["n_in"], rep["english"]["n_out"]) == (4, 2)
    assert rep["english"]["n_dropped"] == 2  # fr + NULL both fail
    assert sorted(r["id"] for r in kept.collect()) == [2, 5]


def test_wilcoxon_exact_p_bruteforce():
    """wilcoxon_exact_p (small-n exact mode, untied ranks) agrees with
    direct enumeration of all 2^n sign assignments."""
    import itertools

    from padua_spark.operators.stats import wilcoxon_exact_p

    for n in (1, 4, 7, 10):
        total = n * (n + 1) // 2
        for wp in range(total + 1):
            lo = min(wp, total - wp)
            cnt = sum(
                1
                for signs in itertools.product([0, 1], repeat=n)
                if sum(k for k, b in zip(range(1, n + 1), signs) if b)
                <= lo
            )
            expect = min(1.0, 2.0 * cnt / 2 ** n)
            assert abs(wilcoxon_exact_p(wp, n) - expect) < 1e-12


def test_dedup_spans_overflow_guard(spark):
    """A document with >= max_spans_per_doc spans fails LOUDLY instead
    of silently electing wrong winners in the next doc's key space."""
    import pytest as _pytest

    from padua_spark.extensions.dedup import dedup_spans

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d")], ["doc_id", "text"]
    )
    assert dedup_spans(df, "doc_id", "text", span_tokens=2).count() == 2
    with _pytest.raises(Exception, match="max_spans_per_doc"):
        dedup_spans(
            df, "doc_id", "text", span_tokens=2, max_spans_per_doc=2
        ).collect()


def test_bm25_topk_hand_computed(spark):
    """BM25 against a hand-computable 3-doc corpus: scoring favors the
    doc with more query-term mass, normalized by length."""
    import math

    from padua_spark.extensions.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark join"),          # tf(spark)=2, dl=3
            (2, "join filter scan other"),    # no 'spark'
            (3, "spark is nice and long doc here"),  # tf=1, dl=7
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in bm25_topk(
        docs, "doc_id", "text", "spark", k=3
    ).collect()}
    assert set(out) == {1, 3}  # doc 2 never matches
    # closed form: N=3, df=2, idf=ln(1+(3-2+0.5)/2.5); avgdl=14/3
    idf = math.log(1 + 1.5 / 2.5)
    avgdl = 14 / 3

    def score(tf, dl):
        return idf * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))

    assert abs(out[1]["score"] - score(2, 3)) < 1e-9
    assert abs(out[3]["score"] - score(1, 7)) < 1e-9
    assert out[1]["score"] > out[3]["score"]
    assert out[1]["n_hits"] == 1


def test_bm25_topk_empty_query(spark):
    import pytest as _pytest

    from padua_spark.extensions.text import bm25_topk

    docs = spark.createDataFrame([(1, "a")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        bm25_topk(docs, "doc_id", "text", "   ")


def test_repeated_ngram_stats_bruteforce(spark):
    """repeated_ngram_stats agrees with a direct Python computation,
    including short docs (no grams) and heavy repetition."""
    from collections import Counter

    from padua_spark.extensions.quality import repeated_ngram_stats

    texts = {
        1: "a b a b a b a b",        # heavy bigram loop
        2: "one two",                # shorter than n
        3: "x y z x y z x y z",      # repeated trigram
        4: "all distinct tokens here now",
    }
    df = spark.createDataFrame(
        list(texts.items()), ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in repeated_ngram_stats(
        df, "doc_id", "text", n=3
    ).collect()}
    for did, text in texts.items():
        toks = text.split()
        grams = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        c = Counter(grams)
        r = got[did]
        assert r["n_grams"] == len(grams)
        assert r["n_distinct"] == len(c)
        top = max(c.values()) if c else 0
        assert r["top_gram_count"] == top
        if grams:
            assert abs(
                r["dup_fraction"] - (len(grams) - len(c)) / len(grams)
            ) < 1e-12
        else:
            assert r["dup_fraction"] == 0.0
        assert abs(
            r["top_gram_frac"]
            - (top * 3 / len(toks) if toks else 0.0)
        ) < 1e-12


def test_split_leakage_audit_group_key_eliminates_leakage(spark):
    """Row-hashed splits leak near-duplicate pairs across splits; a
    split keyed on the duplicate-cluster/group column cannot (both
    pair ends share the group, hence the split) — the audit measures
    exactly that."""
    from padua_spark.extensions.curation import split_leakage_audit
    from padua_spark.extensions.sampling import split_assign

    # 40 docs in 20 near-dup groups of 2 (pair = the two group members)
    docs = spark.createDataFrame(
        [(i, i // 2) for i in range(40)], ["doc_id", "grp"]
    )
    pairs = spark.createDataFrame(
        [(2 * g, 2 * g + 1) for g in range(20)], ["id_a", "id_b"]
    )
    frac = {"train": 0.5, "val": 0.25, "test": 0.25}
    by_row = split_assign(docs, "doc_id", frac)
    audit_row = split_leakage_audit(
        by_row, "doc_id", "split", pairs
    ).collect()
    assert sum(r["n_pairs"] for r in audit_row) == 20
    assert any(r["leaked"] for r in audit_row)  # row hashing leaks
    by_grp = split_assign(docs, "grp", frac)
    audit_grp = split_leakage_audit(
        by_grp, "doc_id", "split", pairs
    ).collect()
    assert sum(r["n_pairs"] for r in audit_grp) == 20
    assert not any(r["leaked"] for r in audit_grp)  # group key: zero


def test_kmeans_quantized_planted_clusters(spark):
    """kmeans_quantized recovers planted clusters, and its output is
    invariant under input repartitioning (the bit-reproducibility
    claim: integer centroid sums are order-free, distances fold
    sequentially)."""
    from padua_spark.extensions.similarity import kmeans_quantized

    # two tight planted groups far apart; seeds = ids 0 and 1, one in
    # each group so Lloyd converges immediately
    rows = []
    for i in range(20):
        base = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [base + 0.01 * (i % 5), base, base + 0.02]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_quantized(
            df, "vec_id", "embedding", k=2, n_iter=2
        ).collect()
    }
    evens = {out[i] for i in range(0, 20, 2)}
    odds = {out[i] for i in range(1, 20, 2)}
    assert len(evens) == 1 and len(odds) == 1 and evens != odds
    # partitioning invariance: identical rows, different layout
    shuffled = df.repartition(7, "vec_id")
    out2 = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_quantized(
            shuffled, "vec_id", "embedding", k=2, n_iter=2
        ).collect()
    }
    for i in range(20):
        assert out2[i][0] == out[i]


def test_kmeans_quantized_broadcast_path_matches_literal(spark, monkeypatch):
    """Above ``KMEANS_LITERAL_CENTROIDS`` (k·dims) scoring switches from
    a per-row literal centroid array to a broadcast join against a k-row
    centroid frame. Assignments AND distances must be bit-identical
    between paths (same driver-side means, same left-fold distance,
    same struct-lexicographic tie rule), and at IVF-scale k the plan
    must show the broadcast join with no k·dims literal tree."""
    import padua_spark.extensions.similarity as sim
    from padua_spark.extensions.similarity import kmeans_quantized

    rows = []
    for i in range(40):
        base = float(i % 4) * 7.0
        rows.append(
            (i, [base + 0.01 * (i % 3), base, base + 0.02, base - 0.01])
        )
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    lit_out = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_quantized(
            df, "vec_id", "embedding", k=4, n_iter=2
        ).collect()
    }
    with monkeypatch.context() as mp:
        mp.setattr(sim, "KMEANS_LITERAL_CENTROIDS", 1)
        bc_out = {
            r["vec_id"]: (r["cluster"], r["dist"])
            for r in kmeans_quantized(
                df, "vec_id", "embedding", k=4, n_iter=2
            ).collect()
        }
    assert bc_out == lit_out  # bit-identical, distances included

    # Plan shape at k=256, dims=32 (k·dims = 8192 > default 4096):
    # broadcast join present, literal centroid array absent.
    big = spark.createDataFrame(
        [
            (i, [float((i * 7 + d) % 13) for d in range(32)])
            for i in range(300)
        ],
        ["vec_id", "embedding"],
    )
    out = kmeans_quantized(big, "vec_id", "embedding", k=256, n_iter=0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    # The literal path embeds k·dims Literal nodes (~8192 numbers);
    # the broadcast plan stays compact. 20 kB is far above any honest
    # broadcast plan and far below a 8192-literal tree.
    assert len(plan) < 20_000


def test_ivf_at_rest_partition_pruning(spark, tmp_path):
    """write_ivf_partitioned + ivf_topk_at_rest: the probe's literal
    cell predicate becomes PARTITION pruning — the scan's partition
    filters appear in the plan, only nprobe cell subdirectories are
    read, and the result equals the in-memory ivf_topk on the same
    corpus/centroids."""
    import os

    from padua_spark.extensions.similarity import (
        ivf_topk,
        ivf_topk_at_rest,
        write_ivf_partitioned,
    )

    from tests.conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    path = str(tmp_path / "ivf_corpus")
    cents = write_ivf_partitioned(
        emb, "vec_id", "embedding", path, n_cells=8
    )
    # one subdirectory per non-empty cell
    cell_dirs = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert 1 < len(cell_dirs) <= 8
    query = [float((i * 7) % 13) / 13.0 for i in range(64)]
    at_rest = ivf_topk_at_rest(
        spark, path, cents, "vec_id", "embedding", query,
        k=5, nprobe=2,
    )
    got = [(r["vec_id"], round(r["cosine_sim"], 9))
           for r in at_rest.collect()]
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan

    def _scan_metrics(df):
        scan = (
            df._jdf.queryExecution().executedPlan()
            .collectLeaves().apply(0)
        )
        it = scan.metrics().iterator()
        vals = {}
        while it.hasNext():
            kv = it.next()
            vals[str(kv._1())] = kv._2().value()
        return vals

    # the reader opened files from at most nprobe of the cell dirs
    # (inputFiles() lists the unpruned relation — use scan metrics)
    pruned = _scan_metrics(at_rest)
    full = spark.read.parquet(path)
    full.collect()
    assert pruned["numPartitions"] <= 2 < _scan_metrics(full)[
        "numPartitions"
    ]
    exp_df = ivf_topk(
        emb, "embedding", "vec_id", query, k=5, n_cells=8, nprobe=2
    )
    exp = [(r["vec_id"], round(r["cosine_sim"], 9))
           for r in exp_df.collect()]
    assert got == exp


def test_ivf_at_rest_recall_gate(spark, tmp_path):
    """Recall@k acceptance gate for the AT-REST IVF layout: the
    partition-pruned probe's top-k is scored by ann_recall_at_k
    against exact brute-force search over the SAME written layout.
    The pruning claim is only usable if the pruned result still finds
    the true neighbors — this pins (on the near-uniform synthetic
    embeddings, where Voronoi cells separate weakly and recall is
    governed by nprobe): recall monotone nondecreasing in nprobe,
    ≥ 0.8 at nprobe=6 of 8 with Lloyd-refined centroids, and exactly
    1.0 at nprobe=n_cells — probing every cell IS the exact search,
    so anything below 1.0 there means the layout or probe is broken,
    not the approximation."""
    from padua_spark.extensions.similarity import (
        ann_recall_at_k,
        brute_force_topk,
        ivf_topk_at_rest,
        write_ivf_partitioned,
    )

    from tests.conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    path = str(tmp_path / "ivf_recall_corpus")
    cents = write_ivf_partitioned(
        emb, "vec_id", "embedding", path, n_cells=8, n_iter=2
    )
    query = [float((i * 7) % 13) / 13.0 for i in range(64)]
    corpus = spark.read.parquet(path)
    exact = brute_force_topk(corpus, "embedding", "vec_id", query, k=10)

    def _recall(nprobe):
        approx = ivf_topk_at_rest(
            spark, path, cents, "vec_id", "embedding", query,
            k=10, nprobe=nprobe,
        )
        return ann_recall_at_k(
            approx, exact, "vec_id", k=10
        ).collect()[0]["recall"]

    recalls = [_recall(np_) for np_ in (2, 4, 6, 8)]
    assert recalls == sorted(recalls), recalls  # monotone in nprobe
    assert recalls[2] >= 0.8, recalls
    # probing all cells == exact search on the written layout
    assert recalls[3] == 1.0, recalls


def test_bm25_and_repetition_scale_probe(spark):
    """Scale probe at 8x the documents corpus (synthesized): a planted
    query-term-stuffed doc ranks first under BM25, and a planted
    looping doc is flagged by the repetition signal while clean docs
    are not — behavior holds when the corpus grows."""
    from padua_spark.extensions.quality import repeated_ngram_stats
    from padua_spark.extensions.text import bm25_topk

    n = 4000  # ~8x the sf0.01 documents table
    base = spark.range(n).selectExpr(
        "id AS doc_id",
        "concat('filler words number ', id, ' more padding text "
        "about row batch scan sort') AS text",
    )
    planted = spark.createDataFrame(
        [
            (n, "hash join hash join hash join filter scan hash"),
            (n + 1, " ".join(["loop the loop"] * 30)),
        ],
        ["doc_id", "text"],
    )
    docs = base.unionByName(planted)
    top = bm25_topk(docs, "doc_id", "text", "hash join", k=3).collect()
    assert top[0]["doc_id"] == n  # stuffed doc wins
    rep = {
        r["doc_id"]: r["dup_fraction"]
        for r in repeated_ngram_stats(docs, "doc_id", "text", n=3)
        .where(F.col("doc_id").isin([0, 1, n + 1]))
        .collect()
    }
    assert rep[n + 1] > 0.9  # the loop is nearly all repeats
    assert rep[0] == 0.0 and rep[1] == 0.0


def test_calibration_and_kappa_closed_form(spark):
    """calibration_bins and cohens_kappa against hand-computed values
    on a tiny frame (perfect and degenerate agreement included)."""
    from padua_spark.extensions.quality import (
        calibration_bins,
        cohens_kappa,
    )

    rows = [
        (0.05, 0), (0.15, 0), (0.18, 1), (0.95, 1), (0.85, 1),
        (1.0, 1),  # prob 1.0 clamps into the top bin
    ]
    df = spark.createDataFrame(rows, ["prob", "y"])
    bins = {r["bin"]: r for r in calibration_bins(
        df, "prob", "y", n_bins=10
    ).collect()}
    assert bins[0]["n"] == 1 and bins[0]["observed_rate"] == 0.0
    assert bins[1]["n"] == 2 and abs(
        bins[1]["observed_rate"] - 0.5
    ) < 1e-12
    assert bins[9]["n"] == 2  # 0.95 and the clamped 1.0
    assert bins[8]["n"] == 1
    assert abs(bins[1]["mean_predicted"] - 0.165) < 1e-9
    # kappa: perfect agreement = 1; checker-board = computed value
    agree = spark.createDataFrame(
        [(1, 1)] * 3 + [(0, 0)] * 3, ["a", "b"]
    )
    r = cohens_kappa(agree, "a", "b").collect()[0]
    assert r["kappa"] == 1.0 and r["p_observed"] == 1.0
    mixed = spark.createDataFrame(
        [(1, 1), (1, 0), (0, 1), (0, 0)], ["a", "b"]
    )
    r2 = cohens_kappa(mixed, "a", "b").collect()[0]
    assert abs(r2["kappa"] - 0.0) < 1e-12  # independence -> 0
    # degenerate: both raters constant -> pe = 1, kappa NULL
    const = spark.createDataFrame([(1, 1)] * 4, ["a", "b"])
    r3 = cohens_kappa(const, "a", "b").collect()[0]
    assert r3["kappa"] is None


def test_kruskal_wallis_matches_reference(spark, monkeypatch):
    """kruskal_wallis_stats equals a numpy midrank replica (tied data,
    3 groups), is invariant under repartitioning, and the forced
    distributed cumsum path (SMALL_ECDF_DOMAIN=0) agrees with
    the small-domain shortcut."""
    import numpy as np

    import padua_spark.operators.stats as st
    from padua_spark.operators.stats import kruskal_wallis_stats

    rows = []
    for i in range(90):
        g = ["a", "b", "c"][i % 3]
        v = float((i * 7) % 10)  # heavy ties
        rows.append((g, v))
    df = spark.createDataFrame(rows, ["g", "v"])

    vals = np.array([v for _, v in rows])
    svals = np.sort(vals)
    n = len(vals)

    def midrank2(x):
        return (
            np.searchsorted(svals, x, side="left")
            + 1
            + np.searchsorted(svals, x, side="right")
        )

    r2 = {g: midrank2(np.array([v for gg, v in rows if gg == g]))
          for g in ("a", "b", "c")}
    rsq = sum(
        (r2[g].sum() / 2.0) ** 2 / len(r2[g]) for g in ("a", "b", "c")
    )
    h_exp = 12.0 / (n * (n + 1.0)) * rsq - 3.0 * (n + 1.0)
    _, counts = np.unique(vals, return_counts=True)
    tie = int((counts.astype(np.int64) ** 3 - counts).sum())
    hc_exp = h_exp / (1.0 - tie / float(n**3 - n))

    default = st.SMALL_ECDF_DOMAIN
    for frame in (df, df.repartition(7)):
        for thr in (default, 0):
            monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", thr)
            row = kruskal_wallis_stats(
                frame, "g", "v", ["a", "b", "c"]
            ).collect()[0]
            assert row["n_total"] == n
            assert row["k_groups"] == 3
            assert row["tie_term"] == tie
            assert row["h_stat"] == pytest.approx(h_exp, abs=1e-10)
            assert row["h_stat_corrected"] == pytest.approx(
                hc_exp, abs=1e-10
            )


def test_spearman_rho_matches_reference(spark, monkeypatch):
    """spearman_rho equals the numpy midrank Pearson on tied data,
    is exactly +1 on a monotone pair and -1 on an antitone pair, and
    both cumsum paths agree."""
    import numpy as np

    import padua_spark.operators.stats as st
    from padua_spark.operators.stats import spearman_rho

    xs = [float((i * 3) % 7) for i in range(60)]        # ties in x
    ys = [float((i * 5) % 9) + 0.5 * (i % 2) for i in range(60)]
    df = spark.createDataFrame(list(zip(xs, ys)), ["x", "y"])

    def midranks(a):
        s = np.sort(a)
        return (
            np.searchsorted(s, a, side="left")
            + 1
            + np.searchsorted(s, a, side="right")
        ) / 2.0

    rx, ry = midranks(np.array(xs)), midranks(np.array(ys))
    rho_exp = np.corrcoef(rx, ry)[0, 1]
    for thr in (st.SMALL_ECDF_DOMAIN, 0):
        monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", thr)
        row = spearman_rho(df, "x", "y").collect()[0]
        assert row["n"] == 60
        assert row["rho"] == pytest.approx(rho_exp, abs=1e-10)
    monkeypatch.undo()

    mono = spark.createDataFrame(
        [(float(i), float(i * i)) for i in range(30)], ["x", "y"]
    )
    assert spearman_rho(mono, "x", "y").collect()[0]["rho"] == 1.0
    anti = spark.createDataFrame(
        [(float(i), float(-i)) for i in range(30)], ["x", "y"]
    )
    assert spearman_rho(anti, "x", "y").collect()[0]["rho"] == -1.0


def test_qvalues_by_matches_reference(spark):
    """qvalues_by equals the pure-Python Benjamini-Yekutieli replica
    (harmonic-inflated BH with backward running min), dominates BH
    q-values pointwise, and passes NULL p rows through."""
    from padua_spark.operators.stats import qvalues, qvalues_by

    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205,
          0.212, 0.216, 0.222, 0.251, 0.269, 0.275, 0.34, 0.341,
          0.384, 0.569, 0.594, 0.696, 0.762, 0.94, 0.942, 0.975]
    m = len(ps)
    c_m = sum(1.0 / k for k in range(1, m + 1))
    q_raw = [min(c_m * m * p / (i + 1), 1.0)
             for i, p in enumerate(sorted(ps))]
    exp = q_raw[:]
    for i in range(m - 2, -1, -1):
        exp[i] = min(exp[i], exp[i + 1])
    expect = dict(zip(sorted(ps), exp))

    df = spark.createDataFrame(
        [(p,) for p in ps] + [(None,)], "p_value double"
    )
    got = {
        r["p_value"]: r["q_value"]
        for r in qvalues_by(df, "p_value").collect()
    }
    assert got[None] is None
    for p in ps:
        assert got[p] == pytest.approx(expect[p], abs=1e-12)
    bh = {
        r["p_value"]: r["q_value"]
        for r in qvalues(df, "p_value", pi0=1.0).collect()
    }
    for p in ps:
        assert got[p] >= bh[p] - 1e-12  # BY is more conservative


def test_zipf_slope_matches_reference(spark):
    """zipf_slope equals a numpy OLS on a corpus with planted token
    frequencies, and a perfect power law fits with r2 == 1."""
    import math

    import numpy as np

    from padua_spark.extensions.text import zipf_slope

    # planted frequencies: token t_i appears 2^(10-i) times
    docs = []
    for i in range(8):
        docs.extend([(f"t{i}",)] * (2 ** (10 - i)))
    df = spark.createDataFrame(docs, ["text"])
    row = zipf_slope(df, "text", top_n=8).collect()[0]
    x = np.log(np.arange(1, 9, dtype=float))
    y = np.log(np.array([2.0 ** (10 - i) for i in range(8)]))
    n = 8.0
    cov = n * (x * y).sum() - x.sum() * y.sum()
    varx = n * (x * x).sum() - x.sum() ** 2
    vary = n * (y * y).sum() - y.sum() ** 2
    assert row["n_terms"] == 8
    assert row["slope"] == pytest.approx(cov / varx, abs=1e-9)
    assert row["r2"] == pytest.approx(cov * cov / (varx * vary), abs=1e-9)

    # exact power law freq = 1000 * rank^-1 -> slope -1, r2 1
    power = []
    for r in range(1, 6):
        power.extend([(f"w{r}",)] * round(1000 / r))
    pdf = spark.createDataFrame(power, ["text"])
    prow = zipf_slope(pdf, "text", top_n=5).collect()[0]
    assert prow["slope"] == pytest.approx(-1.0, abs=0.01)
    assert prow["r2"] == pytest.approx(1.0, abs=0.001)


def test_hapax_stats_known_corpus(spark):
    """hapax_stats on a hand-checkable two-group corpus: exact counts
    and ratios."""
    from padua_spark.extensions.text import hapax_stats

    df = spark.createDataFrame(
        [
            ("en", "the cat sat on the mat"),
            ("en", "the dog"),
            ("fr", "le chat le chien"),
        ],
        ["lang", "text"],
    )
    rows = {
        r["lang"]: r for r in hapax_stats(df, ["lang"], "text").collect()
    }
    en = rows["en"]
    # en tokens: the x3, cat, sat, on, mat, dog -> 8 tokens, 6 types,
    # 5 hapax
    assert en["n_tokens"] == 8
    assert en["vocab_size"] == 6
    assert en["hapax_count"] == 5
    assert en["type_token_ratio"] == pytest.approx(6 / 8)
    assert en["hapax_ratio"] == pytest.approx(5 / 6)
    fr = rows["fr"]
    # fr: le x2, chat, chien -> 4 tokens, 3 types, 2 hapax
    assert fr["n_tokens"] == 4
    assert fr["vocab_size"] == 3
    assert fr["hapax_count"] == 2


def test_pq_encode_and_adc_topk(spark):
    """Product quantization: vectors built exactly from codeword
    combinations encode to those codes, ADC distance is then EXACT
    (equals true squared L2), and pq_topk ranks a planted
    near-query vector first."""
    from padua_spark.extensions.similarity import (
        pq_codebooks,
        pq_encode,
        pq_topk,
    )

    # ids 0..3 define a 2-subspace x 4-code codebook over 4 dims
    base = [
        (0, [0.0, 0.0, 10.0, 10.0]),
        (1, [1.0, 1.0, 20.0, 20.0]),
        (2, [2.0, 2.0, 30.0, 30.0]),
        (3, [3.0, 3.0, 40.0, 40.0]),
    ]
    # extra vectors mixing subspaces of different seeds
    extra = [
        (10, [0.0, 0.0, 40.0, 40.0]),   # code (0, 3)
        (11, [3.0, 3.0, 10.0, 10.0]),   # code (3, 0)
        (12, [1.0, 1.0, 30.0, 30.0]),   # code (1, 2)
    ]
    df = spark.createDataFrame(base + extra, ["vec_id", "embedding"])
    cbs = pq_codebooks(df, "vec_id", "embedding", m_subspaces=2,
                       k_codes=4)
    assert len(cbs) == 2 and len(cbs[0]) == 4 and len(cbs[0][0]) == 2
    enc = pq_encode(df, "vec_id", "embedding", cbs)
    got = {r["vec_id"]: (r["code_0"], r["code_1"])
           for r in enc.collect()}
    assert got[10] == (0, 3)
    assert got[11] == (3, 0)
    assert got[12] == (1, 2)
    for i in range(4):
        assert got[i] == (i, i)

    # ADC with a non-codeword query: distances are exact because every
    # stored vector IS a codeword combination
    query = [0.5, 0.5, 12.0, 12.0]
    top = pq_topk(enc, "vec_id", cbs, query, k=3).collect()
    def true_d(v):
        return sum((a - b) ** 2 for a, b in zip(query, v))
    exact = sorted(
        (true_d(v), i) for i, v in base + extra
    )
    assert [r["vec_id"] for r in top] == [i for _, i in exact[:3]]
    assert top[0]["adc_dist"] == pytest.approx(exact[0][0], abs=1e-12)


def test_pq_errors(spark):
    from padua_spark.extensions.similarity import (
        pq_codebooks,
        pq_topk,
    )
    import pytest as _pytest

    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0])], ["vec_id", "embedding"]
    )
    with _pytest.raises(ValueError, match="not divisible"):
        pq_codebooks(df, "vec_id", "embedding", m_subspaces=2, k_codes=1)
    cbs = pq_codebooks(df, "vec_id", "embedding", m_subspaces=3,
                       k_codes=1)
    with _pytest.raises(ValueError, match="query dims"):
        pq_topk(df.select("vec_id"), "vec_id", cbs, [1.0], k=1)


def test_gini_concentration_known_cases(spark, monkeypatch):
    """Gini: 0 for a uniform distribution, (n-1)/n for total
    concentration, numpy reference on a tied mixed case, and the
    forced distributed-cumsum path agrees."""
    import numpy as np

    import padua_spark.operators.stats as st
    from padua_spark.extensions.quality import gini_concentration

    even = spark.createDataFrame([(5,)] * 10, "v long")
    assert gini_concentration(even, "v").collect()[0]["gini"] == (
        pytest.approx(0.0, abs=1e-12)
    )
    conc = spark.createDataFrame([(0,)] * 9 + [(100,)], "v long")
    row = gini_concentration(conc, "v").collect()[0]
    assert row["gini"] == pytest.approx(0.9, abs=1e-12)
    assert (row["n"], row["total"]) == (10, 100)

    vals = [3, 7, 7, 1, 0, 12, 7, 3, 9, 9, 2, 5]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    x = np.sort(np.array(vals, dtype=float))
    n = len(x)
    g_exp = (2 * ((np.arange(1, n + 1)) * x).sum()) / (n * x.sum()) - (
        n + 1
    ) / n
    for thr in (st.SMALL_ECDF_DOMAIN, 0):
        monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", thr)
        got = gini_concentration(df, "v").collect()[0]["gini"]
        assert got == pytest.approx(g_exp, abs=1e-12)
    monkeypatch.undo()

    # fractional values: exact=True RAISES in-plan (the decimal cast
    # would silently truncate and return a plausible wrong number);
    # exact=False computes the identity in double and matches numpy;
    # pre-scaling to integer micro-units matches on the exact path
    fvals = [0.31, 2.47, 2.47, 0.05, 1.9, 0.66, 3.08, 0.05]
    fdf = spark.createDataFrame([(v,) for v in fvals], "v double")
    with pytest.raises(Exception, match="requires integer values"):
        gini_concentration(fdf, "v").collect()
    fx = np.sort(np.array(fvals))
    fn = len(fx)
    fg = (2 * ((np.arange(1, fn + 1)) * fx).sum()) / (
        fn * fx.sum()
    ) - (fn + 1) / fn
    frow = gini_concentration(fdf, "v", exact=False).collect()[0]
    assert frow["gini"] == pytest.approx(fg, abs=1e-9)
    assert frow["total"] is None  # fractional sum: no silent long cast
    sdf = spark.createDataFrame(
        [(int(round(v * 100)),) for v in fvals], "v long"
    )
    srow = gini_concentration(sdf, "v").collect()[0]
    assert srow["gini"] == pytest.approx(fg, abs=1e-9)


def test_benford_first_digit(spark):
    """Benford audit: digit extraction from integer strings, zero
    rows for unobserved digits, probabilities sum to 1 on both
    sides."""
    import math

    from padua_spark.extensions.quality import benford_first_digit

    df = spark.createDataFrame(
        [(100,), (123,), (19,), (2000,), (2,), (999,), (0,), (None,)],
        "cents long",
    )
    rows = {r["digit"]: r for r in benford_first_digit(df, "cents").collect()}
    assert set(rows) == set(range(1, 10))
    assert rows[1]["n_obs"] == 3   # 100, 123, 19
    assert rows[2]["n_obs"] == 2   # 2000, 2
    assert rows[9]["n_obs"] == 1   # 999
    assert rows[5]["n_obs"] == 0
    assert sum(r["p_observed"] for r in rows.values()) == pytest.approx(1.0)
    assert sum(r["p_benford"] for r in rows.values()) == pytest.approx(1.0)
    assert rows[1]["p_benford"] == pytest.approx(math.log10(2.0))


def test_chi2_gof(spark):
    """Goodness-of-fit: exact chi2 against uniform and against a
    given distribution; missing expected category fails loudly."""
    from padua_spark.extensions.quality import chi2_gof

    df = spark.createDataFrame(
        [("a",)] * 30 + [("b",)] * 50 + [("c",)] * 20, "cat string"
    )
    row = chi2_gof(df, "cat").collect()[0]
    # uniform expected = 100/3 per cat
    e = 100 / 3
    exp = sum((o - e) ** 2 / e for o in (30, 50, 20))
    assert row["chi2"] == pytest.approx(exp, abs=1e-9)
    assert (row["n_total"], row["k_categories"], row["dfree"]) == (100, 3, 2)

    row2 = chi2_gof(
        df, "cat", expected={"a": 0.3, "b": 0.5, "c": 0.2}
    ).collect()[0]
    assert row2["chi2"] == pytest.approx(0.0, abs=1e-9)

    import pytest as _pytest
    with _pytest.raises(Exception, match="missing from expected"):
        chi2_gof(df, "cat", expected={"a": 0.5, "b": 0.5}).collect()

    # expected category with ZERO observations still contributes its
    # (0-E)^2/E = n*p term and counts toward k/dfree
    row3 = chi2_gof(
        df, "cat", expected={"a": 0.3, "b": 0.5, "c": 0.1, "d": 0.1}
    ).collect()[0]
    exp3 = sum(
        (o - 100 * p) ** 2 / (100 * p)
        for o, p in [(30, 0.3), (50, 0.5), (20, 0.1), (0, 0.1)]
    )
    assert row3["chi2"] == pytest.approx(exp3, abs=1e-9)
    assert (row3["n_total"], row3["k_categories"], row3["dfree"]) == (
        100, 4, 3,
    )


def test_decontaminate_ngrams(spark):
    """Exact n-gram decontamination: a train doc sharing an exact
    5-token window with the eval set is flagged with the right shared
    count; short docs (< n tokens) never fabricate matches via the
    shingle fallback."""
    from padua_spark.extensions.dedup import decontaminate_ngrams

    leak = "alpha beta gamma delta epsilon"
    train = spark.createDataFrame(
        [
            (1, f"intro words {leak} trailing text here"),
            (2, "totally clean document with other content words"),
            (3, "alpha beta"),      # shorter than n -> no windows
        ],
        ["doc_id", "text"],
    )
    evals = spark.createDataFrame(
        [(100, f"{leak} and some eval continuation"),
         (101, "alpha beta")],      # short eval doc -> no windows
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["n_shared_ngrams"]
        for r in decontaminate_ngrams(
            train, evals, "doc_id", "text", n_tokens=5
        ).collect()
    }
    assert 1 in out and out[1] >= 1
    assert 2 not in out
    assert 3 not in out  # the 1-token fallback must NOT fire


def test_anderson_darling_ksamp_matches_reference(spark, monkeypatch):
    """anderson_darling_ksamp equals a pure-Python midrank replica of
    the Scholz-Stephens A2akN on tied 3-group data, agrees between the
    small-domain and forced distributed paths, and behaves sanely:
    near-identical groups score far lower than shifted groups."""
    import padua_spark.operators.stats as st
    from padua_spark.operators.stats import anderson_darling_ksamp

    rows = []
    for i in range(120):
        grp = ["a", "b", "c"][i % 3]
        v = float((i * 7) % 11)
        if grp == "c":
            v += 3.0  # shift one group
        rows.append((grp, v))
    df = spark.createDataFrame(rows, ["g", "v"])

    def replica(samples):
        import itertools

        pooled = sorted(itertools.chain.from_iterable(samples))
        zstar = sorted(set(pooled))
        n = len(pooled)
        a2 = 0.0
        for sample in samples:
            ni = len(sample)
            fi, cum_i, cum = {}, 0, 0
            s_i = 0.0
            from collections import Counter

            ci = Counter(sample)
            cp = Counter(pooled)
            for z in zstar:
                f = ci.get(z, 0)
                h = cp[z]
                cum_i += f
                cum += h
                d = 2 * cum - h
                x = n * (2 * cum_i - f) - ni * d
                den = d * (2 * n - d) - n * h
                if den > 0:
                    s_i += h * (x * x) / den
            a2 += s_i / ni
            # reset pooled cumulative for next sample
            cum = 0
        return (n - 1) / n * a2 / n

    samples = [
        [v for g_, v in rows if g_ == grp] for grp in ("a", "b", "c")
    ]
    exp = replica(samples)
    for thr in (st.SMALL_ECDF_DOMAIN, 0):
        monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", thr)
        row = anderson_darling_ksamp(
            df, "g", "v", ["a", "b", "c"]
        ).collect()[0]
        assert row["n_total"] == 120
        assert row["k_groups"] == 3
        assert row["a2_akn"] == pytest.approx(exp, rel=1e-12)
    monkeypatch.undo()

    # identical groups -> much smaller statistic than the shifted case
    same = spark.createDataFrame(
        [(["a", "b", "c"][i % 3], float(i % 10)) for i in range(120)],
        ["g", "v"],
    )
    low = anderson_darling_ksamp(
        same, "g", "v", ["a", "b", "c"]
    ).collect()[0]["a2_akn"]
    row = anderson_darling_ksamp(df, "g", "v", ["a", "b", "c"]).collect()[0]
    assert low < row["a2_akn"]

    # degenerate single-value domain -> NULL
    degen = spark.createDataFrame(
        [("a", 1.0), ("b", 1.0), ("c", 1.0)], ["g", "v"]
    )
    assert (
        anderson_darling_ksamp(degen, "g", "v", ["a", "b", "c"])
        .collect()[0]["a2_akn"]
        is None
    )


def test_anderson_darling_ksamp_scholz_stephens_table(spark):
    """Non-circular golden check: the four paper-smoothness samples from
    Scholz & Stephens (1987, Table 7 — the same example scipy's
    anderson_ksamp test suite uses) give midrank A2akN = 8.3926, i.e.
    normalized T = (A2 - (k-1)) / sigma_N = 4.480 with sigma_N = 1.2038
    (scipy's midrank=True Tk; the continuous variant is 8.3559 / 4.449)."""
    from padua_spark.operators.stats import anderson_darling_ksamp

    samples = {
        "t1": [38.7, 41.5, 43.8, 44.5, 45.5, 46.0, 47.7, 58.0],
        "t2": [39.2, 39.3, 39.7, 41.4, 41.8, 42.9, 43.3, 45.8],
        "t3": [34.0, 35.0, 39.0, 40.0, 43.0, 43.0, 44.0, 45.0],
        "t4": [34.0, 34.8, 34.8, 35.4, 37.2, 37.8, 41.2, 42.8],
    }
    rows = [(g, v) for g, vs in samples.items() for v in vs]
    df = spark.createDataFrame(rows, ["g", "v"])
    row = anderson_darling_ksamp(
        df, "g", "v", ["t1", "t2", "t3", "t4"]
    ).collect()[0]
    assert row["n_total"] == 32
    assert row["k_groups"] == 4
    assert row["a2_akn"] == pytest.approx(8.3926, abs=5e-4)


def test_skew_profile_and_join_cardinality(spark):
    """skew_profile ranks hot keys with exact share/ratio;
    join_cardinality predicts the exact join output size (verified
    against the actual join count), with the hot key's share."""
    from padua_spark.operators.skew import join_cardinality, skew_profile

    rows = [("hot",)] * 60 + [("warm",)] * 30 + [("cold",)] * 10
    df = spark.createDataFrame(rows, ["k"])
    prof = skew_profile(df, ["k"], top_k=2).collect()
    assert [r["k"] for r in prof] == ["hot", "warm"]
    assert prof[0]["n_rows"] == 60
    assert prof[0]["share"] == pytest.approx(0.6)
    # mean key size = 100/3; ratio = 60/(100/3) = 1.8
    assert prof[0]["skew_ratio"] == pytest.approx(1.8)

    left = spark.createDataFrame(
        [(1,)] * 3 + [(2,)] * 2 + [(9,)], ["k"]
    )
    right = spark.createDataFrame(
        [(1,)] * 4 + [(2,)] * 5 + [(7,)], ["k"]
    )
    card = join_cardinality(left, "k", right, "k").collect()[0]
    actual = left.join(right, on="k").count()
    assert card["join_rows"] == actual == 3 * 4 + 2 * 5
    assert card["matched_keys"] == 2
    assert card["max_key_pairs"] == 12
    assert card["top_key_share"] == pytest.approx(12 / 22)


def test_two_proportion_ztest(spark):
    """Hand-checkable A/B counts; z/p match the closed form; empty
    group yields NULL z."""
    import math

    from padua_spark.operators.stats import two_proportion_ztest

    rows = (
        [("a", 1)] * 30 + [("a", 0)] * 70
        + [("b", 1)] * 45 + [("b", 0)] * 55
    )
    df = spark.createDataFrame(rows, ["g", "ok"])
    r = two_proportion_ztest(
        df, "g", F.col("ok") == 1, "a", "b"
    ).collect()[0]
    assert (r["n_a"], r["x_a"], r["n_b"], r["x_b"]) == (100, 30, 100, 45)
    pooled = 75 / 200
    se = math.sqrt(pooled * (1 - pooled) * (2 / 100))
    assert r["z"] == pytest.approx((0.30 - 0.45) / se, abs=1e-12)
    assert 0 < r["p_value"] < 0.05  # 15pt difference is significant
    r2 = two_proportion_ztest(
        df, "g", F.col("ok") == 1, "a", "missing"
    ).collect()[0]
    assert r2["z"] is None


def test_welch_anova_matches_replica(spark):
    """welch_anova_stats equals a pure-Python Welch replica on
    3 groups with unequal variances; n<2 and zero-variance groups are
    excluded."""
    from padua_spark.operators.stats import welch_anova_stats

    data = {
        "a": [1.0, 2.0, 3.0, 4.0, 5.0],
        "b": [2.0, 2.5, 3.0, 3.5],
        "c": [10.0, 20.0, 30.0],
        "solo": [7.0],            # n=1 -> excluded
        "flat": [5.0, 5.0, 5.0],  # var=0 -> excluded
    }
    rows = [("f", g, v) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, ["f", "g", "v"])

    groups = [vs for g, vs in data.items() if g in ("a", "b", "c")]
    means = [sum(v) / len(v) for v in groups]
    vars_ = [
        sum((x - m) ** 2 for x in v) / (len(v) - 1)
        for v, m in zip(groups, means)
    ]
    w = [len(v) / s for v, s in zip(groups, vars_)]
    bigw = sum(w)
    mhat = sum(wi * mi for wi, mi in zip(w, means)) / bigw
    k = 3
    num = sum(wi * (mi - mhat) ** 2 for wi, mi in zip(w, means)) / (k - 1)
    s = sum(
        (1 - wi / bigw) ** 2 / (len(v) - 1) for wi, v in zip(w, groups)
    )
    den = 1 + 2 * (k - 2) / (k * k - 1) * s
    f_exp = num / den
    dfd_exp = (k * k - 1) / (3 * s)

    row = welch_anova_stats(df, ["f"], "g", "v").collect()[0]
    assert row["k_groups"] == 3
    assert row["n_total"] == 12
    assert row["f_stat"] == pytest.approx(f_exp, rel=1e-12)
    assert row["dfn"] == 2.0
    assert row["dfd"] == pytest.approx(dfd_exp, rel=1e-12)


def test_mutual_information(spark):
    """MI is 0 for factorized (independent) counts, equals the
    marginal entropy for identical columns, and matches a direct
    computation on a dependent table."""
    import math

    from padua_spark.operators.stats import mutual_information

    indep = spark.createDataFrame(
        [(a, b) for a in "xy" for b in "uv" for _ in range(10)],
        ["a", "b"],
    )
    r = mutual_information(indep, "a", "b").collect()[0]
    assert r["mi_nats"] == pytest.approx(0.0, abs=1e-12)
    assert (r["n_total"], r["k_a"], r["k_b"]) == (40, 2, 2)

    ident = spark.createDataFrame(
        [("x", "x")] * 30 + [("y", "y")] * 10, ["a", "b"]
    )
    r2 = mutual_information(ident, "a", "b").collect()[0]
    h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert r2["mi_nats"] == pytest.approx(h, abs=1e-12)

    dep_rows = (
        [("x", "u")] * 30 + [("x", "v")] * 10
        + [("y", "u")] * 5 + [("y", "v")] * 25
    )
    dep = spark.createDataFrame(dep_rows, ["a", "b"])
    n = 70
    counts = {("x", "u"): 30, ("x", "v"): 10, ("y", "u"): 5, ("y", "v"): 25}
    na = {"x": 40, "y": 30}
    nb = {"u": 35, "v": 35}
    mi = sum(
        c / n * math.log(n * c / (na[a] * nb[b]))
        for (a, b), c in counts.items()
    )
    r3 = mutual_information(dep, "a", "b").collect()[0]
    assert r3["mi_nats"] == pytest.approx(mi, abs=1e-12)


def test_ivfpq_composition(spark):
    """IVF-PQ end to end: residual-exact data (vectors = centroid +
    codeword combination) makes ADC distances exact, the planted
    near-query vector ranks first, and full-probe IVF-PQ recall vs
    brute force is high on the synthetic embeddings."""
    from padua_spark.extensions.similarity import (
        ann_recall_at_k,
        brute_force_topk,
        ivfpq_build,
        ivfpq_topk,
    )

    from tests.conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    query = [float((i * 7) % 13) / 13.0 for i in range(64)]
    # exact L2 reference (IVF-PQ is an L2 index)
    from pyspark.sql import functions as F_

    v = F_.transform(F_.col("embedding"), lambda x: x.cast("double"))
    q = F_.array(*[F_.lit(float(x)) for x in query])
    d2 = F_.aggregate(
        F_.zip_with(v, q, lambda a, b: (a - b) * (a - b)),
        F_.lit(0.0), lambda acc, e: acc + e,
    )
    exact = (
        emb.select("vec_id", d2.alias("d2"))
        .orderBy(F_.col("d2").asc(), F_.col("vec_id").asc())
        .limit(10)
    )

    def _recall(m_subspaces, k_codes):
        enc, cents, cbs = ivfpq_build(
            emb, "vec_id", "embedding", n_cells=8,
            m_subspaces=m_subspaces, k_codes=k_codes,
        )
        if k_codes == 16:
            assert set(enc.columns) == {
                "vec_id", "cell", "code_0", "code_1", "code_2",
                "code_3",
            }
            assert enc.count() == emb.count()
        approx = ivfpq_topk(
            enc, "vec_id", cents, cbs, query, k=10, nprobe=8
        )
        return ann_recall_at_k(
            approx, exact, "vec_id", k=10
        ).collect()[0]["recall"]

    # Near-uniform random embeddings are PQ's worst case (untrained
    # seed codewords ~ arbitrary points), so the honest property is
    # that recall SCALES with codebook resolution — measured 0.1 at
    # 16 codewords/subspace vs 0.3 at 64 on this corpus — not an
    # absolute bar the data can't support.
    low, high = _recall(4, 16), _recall(4, 64)
    assert high > low, (low, high)
    assert high >= 0.2, (low, high)

    # exactness: corpus whose residuals ARE codeword combinations
    base = [(i, [float(i % 4), float(i % 4), 10.0 * (i % 3), 10.0 * (i % 3)])
            for i in range(20)]
    df = spark.createDataFrame(base, ["vec_id", "embedding"])
    enc2, cents2, cbs2 = ivfpq_build(
        df, "vec_id", "embedding", n_cells=2, m_subspaces=2,
        k_codes=8,
    )
    q2 = [1.1, 1.1, 20.2, 20.2]
    top = ivfpq_topk(
        enc2, "vec_id", cents2, cbs2, q2, k=3, nprobe=2
    ).collect()
    assert len(top) == 3
    assert top[0]["adc_dist"] <= top[1]["adc_dist"] <= top[2]["adc_dist"]


def test_rank_statistics_monotone_invariance(spark):
    """The rank battery (Kruskal-Wallis, Spearman, Anderson-Darling)
    is EXACTLY invariant under strictly increasing transforms of the
    values — the defining property of rank statistics, and a strong
    end-to-end check that midranks (not values) drive every formula.
    exp() is strictly increasing and changes every float, so any
    value leakage into the statistics would flip them."""
    from padua_spark.operators.stats import (
        anderson_darling_ksamp,
        kruskal_wallis_stats,
        spearman_rho,
    )

    rows = [
        (["a", "b", "c"][i % 3], float((i * 7) % 11) / 3.0,
         float((i * 5) % 13))
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, ["g", "v", "y"])
    tdf = df.select(
        "g", F.exp("v").alias("v"), F.exp("y").alias("y")
    )

    kw1 = kruskal_wallis_stats(df, "g", "v", ["a", "b", "c"]).collect()[0]
    kw2 = kruskal_wallis_stats(tdf, "g", "v", ["a", "b", "c"]).collect()[0]
    assert kw1["h_stat"] == kw2["h_stat"]
    assert kw1["tie_term"] == kw2["tie_term"]

    ad1 = anderson_darling_ksamp(df, "g", "v", ["a", "b", "c"]).collect()[0]
    ad2 = anderson_darling_ksamp(tdf, "g", "v", ["a", "b", "c"]).collect()[0]
    assert ad1["a2_akn"] == ad2["a2_akn"]

    sp1 = spearman_rho(df, "v", "y").collect()[0]
    sp2 = spearman_rho(tdf, "v", "y").collect()[0]
    assert sp1["rho"] == sp2["rho"]
    assert sp1["n"] == sp2["n"]


def test_theil_sen_by_group(spark):
    """Theil-Sen: exact slope on clean linear data, robustness to a
    single spiked point (median slope unmoved while OLS shifts), tied
    x excluded, numpy pairwise-median replica agreement."""
    import numpy as np

    from padua_spark.operators.stats import linregress, theil_sen_by_group

    clean = [("g1", float(i), 2.0 * i + 1.0) for i in range(6)]
    spiked = [("g2", float(i), 2.0 * i + 1.0) for i in range(6)]
    spiked[3] = ("g2", 3.0, 500.0)  # one outlier
    tied = [("g3", 1.0, 5.0), ("g3", 1.0, 9.0), ("g3", 2.0, 7.0)]
    df = spark.createDataFrame(
        clean + spiked + tied, ["g", "x", "y"]
    )
    rows = {r["g"]: r for r in theil_sen_by_group(
        df, ["g"], "x", "y"
    ).collect()}
    assert rows["g1"]["slope"] == pytest.approx(2.0, abs=1e-12)
    assert rows["g1"]["intercept"] == pytest.approx(1.0, abs=1e-12)
    assert rows["g1"]["n_pairs"] == 15
    # robustness: slope stays near 2 despite the spike...
    assert rows["g2"]["slope"] == pytest.approx(2.0, abs=1.0)
    # ...while OLS is dragged an order of magnitude away
    ols = {r["g"]: r["slope"] for r in linregress(
        df, "x", "y", ["g"]
    ).collect()}
    assert abs(ols["g2"] - 2.0) > 5
    # tied-x pair excluded: only the two (x=1 -> x=2) pairs remain
    assert rows["g3"]["n_pairs"] == 2

    # replica check on irregular data
    pts = [(float(x), float(y)) for x, y in
           [(0, 3), (1, 5), (2, 4), (4, 11), (5, 10), (7, 16)]]
    df2 = spark.createDataFrame(
        [("z", x, y) for x, y in pts], ["g", "x", "y"]
    )
    slopes = sorted(
        (y2 - y1) / (x2 - x1)
        for i, (x1, y1) in enumerate(pts)
        for (x2, y2) in pts[i + 1:]
        if x2 != x1
    )
    med = float(np.median(slopes))
    resid = sorted(y - med * x for x, y in pts)
    icpt = float(np.median(resid))
    got = theil_sen_by_group(df2, ["g"], "x", "y").collect()[0]
    assert got["slope"] == pytest.approx(med, abs=1e-12)
    assert got["intercept"] == pytest.approx(icpt, abs=1e-12)


def test_logrank_test_freireich_trial(spark, monkeypatch):
    """logrank_test reproduces the published chi2 of the classic
    Freireich 6-MP leukemia trial (chi2 = 16.79, p ~ 4.2e-5 — the
    canonical textbook log-rank example), is symmetric under group
    swap, returns chi2 = 0 for identical groups, and agrees between
    the small-domain and forced-distributed stepped-cumsum paths."""
    import padua_spark.operators.stats as st
    from padua_spark.operators.stats import logrank_test

    mp_ev = [6, 6, 6, 7, 10, 13, 16, 22, 23]
    mp_cen = [6, 9, 10, 11, 17, 19, 20, 25, 32, 32, 34, 35]
    plac = [1, 1, 2, 2, 3, 4, 4, 5, 5, 8, 8, 8, 8, 11, 11, 12, 12,
            15, 17, 22, 23]
    rows = (
        [("mp", float(t), 1) for t in mp_ev]
        + [("mp", float(t), 0) for t in mp_cen]
        + [("plac", float(t), 1) for t in plac]
    )
    df = spark.createDataFrame(rows, "g string, dur double, ev int")

    # default small-domain path + forced distributed
    for thr in (st.SMALL_ECDF_DOMAIN, 0):
        monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", thr)
        r = logrank_test(df, "g", "dur", "ev", "mp", "plac").collect()[0]
        assert (r["n_a"], r["n_b"]) == (21, 21)
        assert (r["observed_a"], r["observed_b"]) == (9, 21)
        assert r["expected_a"] == pytest.approx(19.2505, abs=5e-4)
        assert r["chi2"] == pytest.approx(16.7929, abs=5e-4)
        assert r["p_value"] == pytest.approx(4.17e-5, rel=5e-2)
    monkeypatch.undo()

    # group swap: same chi2, O/E columns mirrored
    rs = logrank_test(df, "g", "dur", "ev", "plac", "mp").collect()[0]
    r0 = logrank_test(df, "g", "dur", "ev", "mp", "plac").collect()[0]
    assert rs["chi2"] == pytest.approx(r0["chi2"], abs=1e-9)
    assert rs["observed_a"] == r0["observed_b"]
    assert rs["expected_a"] == pytest.approx(r0["expected_b"], abs=1e-9)

    # identical groups -> O = E exactly -> chi2 = 0
    same = spark.createDataFrame(
        [(g, float(t), e) for g in ("x", "y")
         for t, e in [(1, 1), (2, 1), (3, 0), (4, 1)]],
        "g string, dur double, ev int",
    )
    ri = logrank_test(same, "g", "dur", "ev", "x", "y").collect()[0]
    assert ri["chi2"] == pytest.approx(0.0, abs=1e-12)


def test_quadratic_pair_operators_enforce_group_bound(spark):
    """theil_sen_by_group and mann_kendall kill the job (in-plan
    raise_error riding the pair join's own shuffle — no separate
    preflight action) when a group exceeds max_group_size, naming the
    offending key; max_group_size=None opts out; bounded groups pass
    untouched — the enforced version of the documented scale contract."""
    from padua_spark.operators.stats import mann_kendall, theil_sen_by_group

    rows = [("hot", float(i), float(i)) for i in range(8)] + [
        ("cold", float(i), float(2 * i)) for i in range(3)
    ]
    df = spark.createDataFrame(rows, ["g", "x", "y"])

    for op in (theil_sen_by_group, mann_kendall):
        with pytest.raises(Exception, match=r"hot.*8 rows"):
            op(df, ["g"], "x", "y", max_group_size=5).collect()
        # opt-out still computes
        out = op(df, ["g"], "x", "y", max_group_size=None).collect()
        assert {r["g"] for r in out} == {"hot", "cold"}
        # bound above the hottest group -> untouched
        out2 = op(df, ["g"], "x", "y", max_group_size=8).collect()
        assert {r["g"] for r in out2} == {"hot", "cold"}


def test_ewma_bounded_matches_pandas_semantics(spark):
    """ewma_bounded equals a pure-Python replica of bounded
    adjust=True EWM per key (partial normalization while the window
    fills, bounded tail after), and a constant series smooths to
    itself."""
    from padua_spark.operators.temporal import ewma_bounded

    vals = [3.0, 7.0, 1.0, 9.0, 4.0, 6.0, 2.0]
    df = spark.createDataFrame(
        [("u", i, v) for i, v in enumerate(vals)]
        + [("c", i, 5.0) for i in range(5)],
        ["k", "i", "v"],
    )
    alpha, W = 0.3, 3
    out = {
        (r["k"], r["i"]): r["ewma"]
        for r in ewma_bounded(
            df, ["k"], ["i"], "v", alpha=alpha, window=W
        ).collect()
    }

    decay = 1.0 - alpha
    for i in range(len(vals)):
        lo = max(0, i - W + 1)
        win = vals[lo:i + 1]
        n = len(win)
        num = sum(
            win[j] * decay ** (n - 1 - j) for j in range(n)
        )
        den = sum(decay ** (n - 1 - j) for j in range(n))
        assert out[("u", i)] == pytest.approx(num / den, abs=1e-12)
    for i in range(5):
        assert out[("c", i)] == pytest.approx(5.0, abs=1e-12)


def test_ppjoin_matches_bruteforce(spark):
    """ppjoin_pairs (prefix-filtered exact similarity join) must return
    EXACTLY the pairs a brute-force all-pairs Jaccard >= t scan finds —
    completeness of the prefix filter + exactness of verification —
    across duplicate, near-dup, disjoint, and short-doc shapes."""
    import itertools

    from padua_spark.extensions.dedup import exploded_shingles, ppjoin_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = [
        (1, base),
        (2, base),  # exact duplicate
        (3, base + " today"),  # near-dup, one extra token
        (4, "the quick brown fox jumps over the lazy dog near a canal"),
        (5, "completely different text about spark shuffle partitions"),
        (6, "completely different text about spark shuffle stages"),
        (7, "one two"),  # shorter than the shingle width
        (8, "one two"),
        (9, "alpha beta gamma delta " * 3),
        (10, "alpha beta gamma delta epsilon " * 3),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    for t in (0.5, 0.75):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ppjoin_pairs(
                df, "doc_id", "text", threshold=t
            ).collect()
        }
        sets = {}
        for r in exploded_shingles(df, "doc_id", "text", 3).collect():
            sets.setdefault(r["doc_id"], set()).add(r["shingle"])
        expect = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if jac >= t:
                expect[(a, b)] = jac
        assert set(got) == set(expect), (t, got, expect)
        for k in got:
            assert abs(got[k] - expect[k]) < 1e-12


def test_containment_matches_bruteforce(spark):
    """containment_pairs must equal the brute-force ordered-pair scan:
    the one-sided prefix probe is complete and verification exact,
    including the short-doc-inside-long-doc case Jaccard misses."""
    import itertools

    from padua_spark.extensions.dedup import (
        containment_pairs,
        exploded_shingles,
    )

    long_doc = " ".join(f"w{i}" for i in range(60))
    docs = [
        (1, long_doc),
        (2, " ".join(f"w{i}" for i in range(10, 22))),  # embedded slice
        (3, " ".join(f"w{i}" for i in range(100, 112))),  # disjoint
        (4, long_doc + " extra trailing words here"),
        (5, "w10 w11 w12 w13 zzz"),  # partial overlap
        (6, "a b"),  # sub-shingle-width doc
        (7, "a b"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    for t in (0.75, 0.5):
        got = {
            (r["id_a"], r["id_b"]): (r["containment"], r["jaccard"])
            for r in containment_pairs(
                df, "doc_id", "text", threshold=t
            ).collect()
        }
        sets = {}
        for r in exploded_shingles(df, "doc_id", "text", 3).collect():
            sets.setdefault(r["doc_id"], set()).add(r["shingle"])
        expect = {}
        for a, b in itertools.permutations(sorted(sets), 2):
            inter = len(sets[a] & sets[b])
            if inter and inter / len(sets[a]) >= t:
                expect[(a, b)] = (
                    inter / len(sets[a]),
                    inter / (len(sets[a]) + len(sets[b]) - inter),
                )
        assert set(got) == set(expect), (t, sorted(got), sorted(expect))
        for k in got:
            assert abs(got[k][0] - expect[k][0]) < 1e-12
            assert abs(got[k][1] - expect[k][1]) < 1e-12
    # the embedded slice is found with high containment, low jaccard
    got_75 = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs(
            df, "doc_id", "text", threshold=0.75
        ).collect()
    }
    assert (2, 1) in got_75 and (1, 2) not in got_75


def test_token_pmi_hand_computed(spark):
    """token_pmi against hand-computed document-presence PMI, including
    df-band pruning and the npmi NULL guard for pairs present in every
    document."""
    import math

    from padua_spark.extensions.text import token_pmi

    docs = [
        (1, "a b common"),
        (2, "a b common"),
        (3, "a c common"),
        (4, "d c common"),
        (5, "rare d common e e"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {
        (r["token_a"], r["token_b"]): r
        for r in token_pmi(
            df, "doc_id", "text", min_count=2, min_pair_count=2,
            max_df_frac=1.0,
        ).collect()
    }
    # 'rare' (df=1) pruned by min_count; 'e' dedups to df=1, pruned
    assert not any("rare" in k or "e" in k for k in out)
    n = 5.0
    r = out[("a", "b")]
    assert (r["pair_count"], r["count_a"], r["count_b"]) == (2, 3, 2)
    assert abs(r["pmi"] - math.log((2 / n) / ((3 / n) * (2 / n)))) < 1e-12
    assert abs(
        r["npmi"] - r["pmi"] / -math.log(2 / n)
    ) < 1e-12
    # 'common' is in every doc: pmi('a','common') = ln(1/P(common)) -
    # wait, P(a,common)=P(a) so pmi=-ln(P(common))=0 since P=1
    rc = out[("a", "common")]
    assert abs(rc["pmi"] - 0.0) < 1e-12
    # max_df_frac prunes the all-docs stopword before pairing
    pruned = {
        (r["token_a"], r["token_b"])
        for r in token_pmi(
            df, "doc_id", "text", min_count=2, min_pair_count=2,
            max_df_frac=0.9,
        ).collect()
    }
    assert pruned and not any("common" in k for k in pruned)
    # npmi NULL guard: make (x, y) co-occur in every doc
    df2 = spark.createDataFrame(
        [(i, "x y") for i in range(1, 4)], "doc_id int, text string"
    )
    r2 = token_pmi(
        df2, "doc_id", "text", min_count=2, min_pair_count=2
    ).collect()
    assert len(r2) == 1 and r2[0]["npmi"] is None


def test_edit_distance_verify(spark):
    """edit_distance_verify: exact Levenshtein on candidate pairs,
    truncation cap honored, and the order-sensitivity property —
    same-vocabulary reshuffled docs score high Jaccard but low edit
    similarity."""
    from padua_spark.extensions.dedup import (
        edit_distance_verify,
        ppjoin_pairs,
    )

    docs = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta iota"),
        (3, "theta eta zeta epsilon delta gamma beta alpha"),  # reversed
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 4)], "id_a int, id_b int"
    )
    got = {
        (r["id_a"], r["id_b"]): r
        for r in edit_distance_verify(
            df, "doc_id", "text", cand
        ).collect()
    }
    import difflib  # noqa: F401  (stdlib check only)

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(
                    prev[j] + 1, cur[j - 1] + 1,
                    prev[j - 1] + (ca != cb),
                ))
            prev = cur
        return prev[-1]

    texts = dict(docs)
    for (a, b), r in got.items():
        expect = lev(texts[a], texts[b])
        assert r["edit_distance"] == expect, (a, b)
        denom = max(len(texts[a]), len(texts[b]))
        sim = 1.0 - expect / denom if denom else 1.0
        assert abs(r["edit_similarity"] - sim) < 1e-12
    # order sensitivity: (1,3) has near-total shingle disjointness in
    # edit space despite identical vocabulary
    assert got[(1, 2)]["edit_similarity"] > got[(1, 3)]["edit_similarity"]
    # truncation cap: distances computed on the capped prefix only
    df2 = spark.createDataFrame(
        [(1, "x" * 100 + "a" * 100), (2, "x" * 100 + "b" * 100)],
        "doc_id int, text string",
    )
    capped = edit_distance_verify(
        df2, "doc_id", "text",
        spark.createDataFrame([(1, 2)], "id_a int, id_b int"),
        max_chars=100,
    ).collect()[0]
    assert capped["edit_distance"] == 0 and capped["edit_similarity"] == 1.0


def test_target_encode_loo_and_woe_iv(spark):
    """features: LOO target encoding excludes the own row's label,
    singleton categories encode to the global mean, and WOE/IV match a
    hand computation with smoothing."""
    import math

    from padua_spark.extensions.features import target_encode_loo, woe_iv

    df = spark.createDataFrame(
        [
            (1, "a", 10.0, 1),
            (2, "a", 20.0, 1),
            (3, "a", 30.0, 0),
            (4, "b", 100.0, 0),
            (5, "b", 200.0, 1),
            (6, "c", 50.0, 0),  # singleton
            (7, None, 5.0, 1),
            (8, "a", None, None),
        ],
        "id int, cat string, y double, lab int",
    )
    m = 2.0
    gm = (10 + 20 + 30 + 100 + 200 + 50) / 6.0
    got = {
        r["id"]: r["te_loo"]
        for r in target_encode_loo(df, "cat", "y", smoothing=m).collect()
    }
    assert abs(got[1] - (50 + m * gm) / (2 + m)) < 1e-12
    assert abs(got[4] - (200 + m * gm) / (1 + m)) < 1e-12
    assert abs(got[6] - gm) < 1e-12  # singleton -> global mean
    assert got[7] is None and got[8] is None
    rows = {
        r["cat"]: r
        for r in woe_iv(df, "cat", "lab", smoothing=0.5).collect()
    }
    # valid rows: a:(2 pos,1 neg) b:(1,1) c:(0,1); row 7 has NULL cat,
    # row 8 NULL label
    tp, tn, k = 3, 3, 3
    exp = {}
    iv = 0.0
    for cat, (np_, nn) in {"a": (2, 1), "b": (1, 1), "c": (0, 1)}.items():
        pp = (np_ + 0.5) / (tp + 0.5 * k)
        pn = (nn + 0.5) / (tn + 0.5 * k)
        exp[cat] = math.log(pp / pn)
        iv += (pp - pn) * exp[cat]
    for cat in exp:
        assert abs(rows[cat]["woe"] - exp[cat]) < 1e-12
        assert abs(rows[cat]["iv"] - iv) < 1e-12
    assert (rows["a"]["n_pos"], rows["a"]["n_neg"]) == (2, 1)


def test_cusum_changepoint_reflection_identity(spark):
    """cusum_changepoint equals the textbook sequential recursion
    max(0, S + z) on hand-built series with a level shift, and the
    detected position lands at the shift."""
    from padua_spark.operators.temporal import cusum_changepoint

    # key 'a': flat 10s then a +5 level shift; key 'b': pure noise-free
    # constant (S stays 0 everywhere -> cp at first position)
    series = {"a": [10, 10, 10, 10, 15, 15, 15, 15], "b": [3, 3, 3]}
    rows = [
        (k, i + 1, float(v))
        for k, vs in series.items()
        for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "key string, t int, v double")
    got = {
        r["key"]: r
        for r in cusum_changepoint(df, ["key"], ["t"], "v").collect()
    }
    for k, vs in series.items():
        mu = sum(vs) / len(vs)
        sp = sn = 0.0
        sps, sns = [], []
        for v in vs:
            sp = max(0.0, sp + (v - mu))
            sn = max(0.0, sn - (v - mu))
            sps.append(sp)
            sns.append(sn)
        r = got[k]
        assert abs(r["cusum_pos_max"] - max(sps)) < 1e-9, k
        assert abs(r["cusum_neg_max"] - max(sns)) < 1e-9, k
        assert r["cp_pos"] == sps.index(max(sps)) + 1, k
        assert r["cp_neg"] == sns.index(max(sns)) + 1, k
        assert r["n_obs"] == len(vs)
    # the downward drift before the shift peaks exactly at the shift
    assert got["a"]["cp_neg"] == 4

    # drift > 0: the allowance k must DAMP both sides —
    # S+ = max(0, S + z - k), S- = max(0, S - z - k)
    k_allow = 0.75
    got_d = {
        r["key"]: r
        for r in cusum_changepoint(
            df, ["key"], ["t"], "v", drift=k_allow
        ).collect()
    }
    for k, vs in series.items():
        mu = sum(vs) / len(vs)
        sp = sn = 0.0
        sps, sns = [], []
        for v in vs:
            sp = max(0.0, sp + (v - mu) - k_allow)
            sn = max(0.0, sn - (v - mu) - k_allow)
            sps.append(sp)
            sns.append(sn)
        r = got_d[k]
        assert abs(r["cusum_pos_max"] - max(sps)) < 1e-9, k
        assert abs(r["cusum_neg_max"] - max(sns)) < 1e-9, k
        assert r["cp_pos"] == sps.index(max(sps)) + 1, k
        assert r["cp_neg"] == sns.index(max(sns)) + 1, k
        # damping, not amplifying: both maxima shrink vs drift=0
        assert max(sps) <= got[k]["cusum_pos_max"] + 1e-9, k
        assert max(sns) <= got[k]["cusum_neg_max"] + 1e-9, k


def test_group_auc_rank_sum(spark):
    """group_auc against sklearn-free hand AUC: perfect separation,
    random-ish mix with ties (midranks), and the single-class NULL
    guard."""
    from padua_spark.extensions.quality import group_auc

    rows = (
        # g1: perfect separation -> auc 1.0
        [("g1", float(s), 0) for s in (1, 2, 3)]
        + [("g1", float(s), 1) for s in (4, 5)]
        # g2: mixed with a tie spanning classes
        + [("g2", 1.0, 0), ("g2", 2.0, 1), ("g2", 2.0, 0),
           ("g2", 3.0, 1), ("g2", 0.5, 0)]
        # g3: single class -> NULL
        + [("g3", 1.0, 1), ("g3", 2.0, 1)]
    )
    df = spark.createDataFrame(rows, "g string, s double, lab int")
    got = {r["g"]: r for r in group_auc(df, ["g"], "s", "lab").collect()}
    assert got["g1"]["auc"] == 1.0
    # hand AUC for g2 via pairwise comparison with 0.5 for score ties
    pos = [2.0, 3.0]
    neg = [1.0, 2.0, 0.5]
    wins = sum(
        1.0 if p > n else (0.5 if p == n else 0.0)
        for p in pos for n in neg
    )
    assert abs(got["g2"]["auc"] - wins / (len(pos) * len(neg))) < 1e-12
    assert (got["g2"]["n_pos"], got["g2"]["n_neg"]) == (2, 3)
    assert got["g3"]["auc"] is None


def test_rrf_fuse(spark):
    """rrf_fuse: hand-computed reciprocal-rank scores, weights, items
    present in only one list, and deterministic fused ordering."""
    from padua_spark.extensions.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "item int, r int"
    )
    b = spark.createDataFrame(
        [(20, 1), (10, 2), (40, 3)], "item int, r int"
    )
    out = {
        r["item"]: r
        for r in rrf_fuse([a, b], "item", "r", k=60.0).collect()
    }
    assert abs(out[10]["rrf_score"] - (1 / 61 + 1 / 62)) < 1e-12
    assert abs(out[20]["rrf_score"] - (1 / 62 + 1 / 61)) < 1e-12
    assert abs(out[30]["rrf_score"] - 1 / 63) < 1e-12
    assert out[40]["n_lists"] == 1 and out[10]["n_lists"] == 2
    # 10 and 20 tie exactly -> item tiebreak; singles ranked after
    assert out[10]["fused_rank"] == 1 and out[20]["fused_rank"] == 2
    assert {out[30]["fused_rank"], out[40]["fused_rank"]} == {3, 4}
    # weights scale contributions
    w = {
        r["item"]: r["rrf_score"]
        for r in rrf_fuse(
            [a, b], "item", "r", k=60.0, weights=[2.0, 0.0]
        ).collect()
    }
    assert abs(w[10] - 2 / 61) < 1e-12 and abs(w[40] - 0.0) < 1e-12
    import pytest as _p

    with _p.raises(ValueError):
        rrf_fuse([a, b], "item", "r", weights=[1.0])


def test_keyness_llr_hand_computed(spark):
    """keyness_llr equals the hand-computed 2x2 G2 with sign, honors
    min_total, and zero-count cells contribute zero."""
    import math

    from padua_spark.extensions.text import keyness_llr

    a = spark.createDataFrame(
        [(1, "x x x y z"), (2, "x y y z")], "id int, text string"
    )
    b = spark.createDataFrame(
        [(3, "y y z z z"), (4, "z z w w w")], "id int, text string"
    )
    got = {
        r["token"]: r
        for r in keyness_llr(a, b, "text", min_total=2).collect()
    }
    # counts: A: x4 y3 z2 ; B: y2 z5 w3
    ca = {"x": 4, "y": 3, "z": 2, "w": 0}
    cb = {"x": 0, "y": 2, "z": 5, "w": 3}
    na, nb = 9, 10

    def g2(t):
        av, bv = ca[t], cb[t]
        cv, dv = na - av, nb - bv
        n = na + nb
        tot = 0.0
        for o, e in [
            (av, na * (av + bv) / n),
            (bv, nb * (av + bv) / n),
            (cv, na * (cv + dv) / n),
            (dv, nb * (cv + dv) / n),
        ]:
            if o > 0:
                tot += o * math.log(o / e)
        val = 2.0 * tot
        return val if av / na >= bv / nb else -val

    for t in ("x", "y", "z", "w"):
        assert abs(got[t]["llr"] - g2(t)) < 1e-10, t
    assert got["x"]["llr"] > 0 and got["z"]["llr"] < 0
    assert (got["x"]["count_a"], got["x"]["count_b"]) == (4, 0)
    # min_total prunes
    few = {
        r["token"]
        for r in keyness_llr(a, b, "text", min_total=6).collect()
    }
    assert few == {"z"}  # x=4, y=5, w=3 all fall below 6; z=7 stays


def test_retrieval_ndcg_hand_computed(spark):
    """retrieval_ndcg_at_k against a hand-built 2-D geometry where the
    exact neighbor ranking is known: perfect-ranking queries hit
    ndcg=1, mixed rankings match the hand DCG, zero-relevant is NULL."""
    import math

    from padua_spark.extensions.similarity import retrieval_ndcg_at_k

    # corpus on the unit circle; query 0 points at label-1 cluster,
    # query 1 at a mixed region, query 2 has no same-label neighbor
    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    corpus = [
        (10, vec(0.0), 1),
        (11, vec(5.0), 1),
        (12, vec(10.0), 2),
        (13, vec(15.0), 1),
        (14, vec(180.0), 3),
    ]
    queries = [
        (0, vec(1.0), 1),   # nearest: 10(1),11(1),12(2),13(1),14(3)
        (2, vec(90.0), 9),  # label 9 matches nothing
    ]
    cdf = spark.createDataFrame(
        corpus, "vec_id int, embedding array<double>, label int"
    )
    qdf = spark.createDataFrame(
        queries, "vec_id int, embedding array<double>, label int"
    )
    got = {
        r["query_id"]: r
        for r in retrieval_ndcg_at_k(
            cdf, "vec_id", "embedding", "label", qdf, k=4
        ).collect()
    }
    ln2 = math.log(2.0)
    # ranks for query 0: 10,11,12,13 -> rel 1,1,0,1
    dcg = ln2 / math.log(2.0) + ln2 / math.log(3.0) + ln2 / math.log(5.0)
    idcg = ln2 / math.log(2.0) + ln2 / math.log(3.0) + ln2 / math.log(4.0)
    assert got[0]["n_rel"] == 3
    assert abs(got[0]["ndcg"] - dcg / idcg) < 1e-12
    assert got[2]["n_rel"] == 0 and got[2]["ndcg"] is None


def test_classifier_loss_hand_computed(spark):
    """classifier_loss: Brier and clipped log loss equal the hand
    computation per slice; NULLs dropped; degenerate probs clipped."""
    import math

    from padua_spark.extensions.quality import classifier_loss

    rows = [
        ("a", 0.9, 1.0), ("a", 0.2, 0.0), ("a", 0.6, 1.0),
        ("b", 1.0, 0.0),  # needs clipping
        ("b", 0.5, 1.0),
        ("a", None, 1.0), ("a", 0.5, None),
    ]
    df = spark.createDataFrame(rows, "g string, p double, y double")
    got = {
        r["g"]: r
        for r in classifier_loss(df, "p", "y", ["g"]).collect()
    }
    eps = 1e-15

    def hand(pairs):
        b = sum((p - y) ** 2 for p, y in pairs) / len(pairs)
        ll = sum(
            -(
                y * math.log(min(max(p, eps), 1 - eps))
                + (1 - y) * math.log(1 - min(max(p, eps), 1 - eps))
            )
            for p, y in pairs
        ) / len(pairs)
        return b, ll

    ba, la = hand([(0.9, 1), (0.2, 0), (0.6, 1)])
    bb, lb = hand([(1.0, 0), (0.5, 1)])
    assert got["a"]["n"] == 3 and got["b"]["n"] == 2
    assert abs(got["a"]["brier"] - ba) < 1e-12
    assert abs(got["a"]["logloss"] - la) < 1e-12
    assert abs(got["b"]["brier"] - bb) < 1e-12
    assert abs(got["b"]["logloss"] - lb) < 1e-9  # clip term dominates


def test_zorder_key_and_layout_pruning(spark, tmp_path):
    """zorder_key interleaves bits correctly, and write_zordered
    produces files whose per-file (min, max) bounding boxes — read
    straight from the written parquet footers — prune selective
    filters on BOTH dimensions, unlike a single-column sort which
    prunes only its own column."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from padua_spark.io_utils import write_zordered, zorder_key

    # bit-interleave ground truth
    df = spark.createDataFrame(
        [(3, 5), (0, 0), (65535, 65535), (1, 0), (0, 1)], "x int, y int"
    )
    got = [
        r["z"]
        for r in df.select(zorder_key("x", "y").alias("z")).collect()
    ]

    def morton(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    assert got == [morton(3, 5), 0, morton(65535, 65535), 1, 2]

    # layout: a 64x64 grid of (x, y) cells, 4k rows
    import itertools

    grid = spark.createDataFrame(
        [(x, y) for x, y in itertools.product(range(64), range(64))],
        "x int, y int",
    )

    def file_boxes(path):
        import glob
        import os

        boxes = []
        for f in glob.glob(os.path.join(path, "*.parquet")):
            md = pq.read_metadata(f)
            mins = {c: None for c in ("x", "y")}
            maxs = {c: None for c in ("x", "y")}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in mins:
                        st = col.statistics
                        mins[name] = (
                            st.min if mins[name] is None
                            else min(mins[name], st.min)
                        )
                        maxs[name] = (
                            st.max if maxs[name] is None
                            else max(maxs[name], st.max)
                        )
            boxes.append((mins, maxs))
        return boxes

    zpath = str(tmp_path / "zordered")
    write_zordered(grid, zpath, "x", "y", bits=6, n_files=16)
    zboxes = file_boxes(zpath)
    assert len(zboxes) >= 8

    lpath = str(tmp_path / "linear")
    (
        grid.repartitionByRange(16, F.col("x"))
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(lpath)
    )
    lboxes = file_boxes(lpath)

    def hit_fraction(boxes, col, lo, hi):
        n = sum(
            1
            for mins, maxs in boxes
            if not (maxs[col] < lo or mins[col] > hi)
        )
        return n / len(boxes)

    # selective band on each dimension (1/8 of the domain)
    for col in ("x", "y"):
        assert hit_fraction(zboxes, col, 8, 15) <= 0.5, (
            col,
            [(m[col], M[col]) for m, M in zboxes],
        )
    # the x-sorted layout prunes x but NOT y
    assert hit_fraction(lboxes, "x", 8, 15) <= 0.25
    assert hit_fraction(lboxes, "y", 8, 15) == 1.0


def test_triangle_count_known_graphs(spark):
    """triangle_count on graphs with known answers: a triangle, a
    4-clique (4 triangles), a star (0 triangles, many wedges), a path,
    plus dirty input (self-loops, duplicate + reversed edges)."""
    from padua_spark.extensions.graph import triangle_count

    def run(edges):
        df = spark.createDataFrame(edges, "id_a int, id_b int")
        return triangle_count(df, "id_a", "id_b").collect()[0]

    r = run([(1, 2), (2, 3), (3, 1)])
    assert (r["n_nodes"], r["n_edges"], r["n_triangles"]) == (3, 3, 1)
    assert r["n_wedges"] == 3 and abs(r["transitivity"] - 1.0) < 1e-12

    # 4-clique: C(4,3)=4 triangles, wedges = 4*C(3,2)=12, trans=1
    import itertools

    r = run(list(itertools.combinations(range(4), 2)))
    assert (r["n_edges"], r["n_triangles"], r["n_wedges"]) == (6, 4, 12)
    assert abs(r["transitivity"] - 1.0) < 1e-12

    # star K1,4: no triangles, wedges=C(4,2)=6, transitivity 0
    r = run([(0, i) for i in range(1, 5)])
    assert (r["n_triangles"], r["n_wedges"]) == (0, 6)
    assert r["transitivity"] == 0.0

    # path 1-2-3-4: 0 triangles, 2 wedges
    r = run([(1, 2), (2, 3), (3, 4)])
    assert (r["n_triangles"], r["n_wedges"]) == (0, 2)

    # dirty input: self-loop + dup + reversed edges collapse to a
    # single triangle
    r = run([(1, 1), (1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 3)])
    assert (r["n_edges"], r["n_triangles"]) == (3, 1)


def test_kaplan_meier_textbook(spark):
    """kaplan_meier against the worked textbook example (times 6,7,10,
    13 with censoring) and the risk-set-empties edge case S -> 0."""
    from padua_spark.operators.stats import kaplan_meier

    # classic small cohort: durations (time, event): 6+ censored at 6
    rows = [
        ("g", 6.0, 1), ("g", 6.0, 1), ("g", 6.0, 1), ("g", 6.0, 0),
        ("g", 7.0, 1), ("g", 9.0, 0), ("g", 10.0, 1), ("g", 10.0, 0),
        ("g", 11.0, 0), ("g", 13.0, 1),
    ]
    df = spark.createDataFrame(rows, "g string, dur double, ev int")
    got = {
        r["t"]: r
        for r in kaplan_meier(df, ["g"], "dur", "ev").collect()
    }
    # hand KM: t=6 n=10 d=3 -> 0.7 ; t=7 n=6 d=1 -> 0.7*5/6
    # t=10 n=4 d=1 -> *3/4 ; t=13 n=1 d=1 -> *0 = 0
    assert set(got) == {6.0, 7.0, 10.0, 13.0}
    assert got[6.0]["n_risk"] == 10 and got[6.0]["n_events"] == 3
    assert abs(got[6.0]["survival"] - 0.7) < 1e-12
    assert got[7.0]["n_risk"] == 6
    assert abs(got[7.0]["survival"] - 0.7 * 5 / 6) < 1e-12
    assert got[10.0]["n_risk"] == 4
    assert abs(got[10.0]["survival"] - 0.7 * (5 / 6) * (3 / 4)) < 1e-12
    assert got[13.0]["n_risk"] == 1 and got[13.0]["survival"] == 0.0
    # censored-only group emits no curve points
    df2 = spark.createDataFrame(
        [("h", 5.0, 0), ("h", 6.0, 0)], "g string, dur double, ev int"
    )
    assert kaplan_meier(df2, ["g"], "dur", "ev").count() == 0


def test_sprt_bernoulli_decisions(spark):
    """sprt_bernoulli against the sequential hand computation: an
    all-ones stream accepts H1 at the first crossing, all-zeros
    accepts H0, a short balanced stream continues, and the crossing
    index matches the textbook recursion."""
    import math

    from padua_spark.operators.stats import sprt_bernoulli

    p0, p1, a, b = 0.3, 0.7, 0.05, 0.05
    la, lb = math.log(p1 / p0), math.log((1 - p1) / (1 - p0))
    up, lo = math.log((1 - b) / a), math.log(b / (1 - a))

    streams = {
        "ones": [1] * 10,
        "zeros": [0] * 10,
        "short": [1, 0, 1, 0],
        "late": [0, 1, 1, 1, 1, 1, 1, 1],
    }
    rows = [
        (k, i, x)
        for k, xs in streams.items()
        for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "k string, i int, x int")
    got = {
        r["k"]: r
        for r in sprt_bernoulli(
            df, ["k"], ["i"], "x", p0, p1, alpha=a, beta=b
        ).collect()
    }

    for k, xs in streams.items():
        llr, nh1, nh0 = 0.0, None, None
        for i, x in enumerate(xs, 1):
            llr += la if x else lb
            if nh1 is None and llr >= up:
                nh1 = i
            if nh0 is None and llr <= lo:
                nh0 = i
        r = got[k]
        assert abs(r["llr_final"] - llr) < 1e-12, k
        assert r["n_decide_h1"] == nh1 and r["n_decide_h0"] == nh0, k
        if nh1 is not None and (nh0 is None or nh1 < nh0):
            exp = "accept_h1"
        elif nh0 is not None:
            exp = "accept_h0"
        else:
            exp = "continue"
        assert r["decision"] == exp, k
    assert got["ones"]["decision"] == "accept_h1"
    assert got["zeros"]["decision"] == "accept_h0"
    assert got["short"]["decision"] == "continue"


def test_hll_distinct_accuracy_and_determinism(spark):
    """hll_distinct: estimate within the expected ~3% band (p=10) on a
    known cardinality, exact at tiny cardinality via linear counting,
    and insensitive to duplication (a sketch property)."""
    from padua_spark.extensions.sketches import hll_distinct

    import random

    rng = random.Random(7)
    n = 20000
    # genuinely mixed hashes: an arithmetic progression mod p is NOT a
    # valid HLL input (its leading-zero ranks are structured — +75%
    # bias measured); real inputs come from the polynomial token hash
    df = spark.createDataFrame(
        [("g", rng.getrandbits(31)) for _ in range(n)],
        "g string, h long",
    )
    r = hll_distinct(df, ["g"], "h", p=10).collect()[0]
    assert abs(r["hll_estimate"] - n) / n < 0.1
    # duplication must not move the estimate at all
    dup = df.unionAll(df).unionAll(df)
    r2 = hll_distinct(dup, ["g"], "h", p=10).collect()[0]
    assert r2["hll_estimate"] == r["hll_estimate"]
    assert r2["n_registers_hit"] == r["n_registers_hit"]
    # tiny cardinality: linear counting is near-exact
    small = spark.createDataFrame(
        [("s", rng.getrandbits(31)) for _ in range(50)],
        "g string, h long",
    )
    rs = hll_distinct(small, ["g"], "h", p=10).collect()[0]
    assert abs(rs["hll_estimate"] - 50) < 2.0


def test_dunn_posthoc_hand_computed(spark):
    """dunn_posthoc against a hand computation with ties: pooled
    midranks, tie-corrected variance, BH monotone adjustment."""
    import math

    rows = (
        [("a", v) for v in (1.0, 2.0, 3.0, 4.0)]
        + [("b", v) for v in (3.0, 5.0, 6.0, 7.0)]
        + [("c", v) for v in (8.0, 9.0, 10.0, 10.0)]
    )
    from padua_spark.operators.stats import dunn_posthoc

    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r["group_a"], r["group_b"]): r
        for r in dunn_posthoc(df, ["g", "v"][0], "v", ["a", "b", "c"]).collect()
    }
    # pooled midranks: 1,2,(3,4 tie->3.5),5,6,7,8,9,10,(11,12 tie->11.5)
    ranks = {
        "a": [1, 2, 3.5, 5],
        "b": [3.5, 6, 7, 8],
        "c": [9, 10, 11.5, 11.5],
    }
    n, tie = 12, (2 ** 3 - 2) * 2
    base_var = n * (n + 1) / 12.0 - tie / (12.0 * (n - 1))
    ps = {}
    for ga, gb in [("a", "b"), ("a", "c"), ("b", "c")]:
        ra = sum(ranks[ga]) / 4
        rb = sum(ranks[gb]) / 4
        z = (ra - rb) / math.sqrt(base_var * (1 / 4 + 1 / 4))
        r = got[(ga, gb)]
        assert abs(r["mean_rank_a"] - ra) < 1e-12
        assert abs(r["mean_rank_b"] - rb) < 1e-12
        assert abs(r["z"] - z) < 1e-9
        ps[(ga, gb)] = r["p_normal"]
    # BH: padj_i = min over j>=i of p_(j)*m/j, clamped at 1
    ordered = sorted(ps.items(), key=lambda kv: kv[1])
    m = 3
    adj, best = {}, float("inf")
    for i in range(m - 1, -1, -1):
        best = min(best, ordered[i][1] * m / (i + 1))
        adj[ordered[i][0]] = min(1.0, best)
    for k, r in got.items():
        assert abs(r["p_adjusted"] - adj[k]) < 1e-9, k

    # numeric group labels: comparisons must use the RAW values (no
    # implicit string cast); labels only order the output. Same data
    # with groups 1, 2, 10 must reproduce the a/b/c statistics under
    # the mapping a->1, b->2, c->10 (string order "1" < "10" < "2").
    num_rows = [
        ({"a": 1, "b": 2, "c": 10}[g], v) for g, v in rows
    ]
    ndf = spark.createDataFrame(num_rows, "g int, v double")
    ngot = {
        (r["group_a"], r["group_b"]): r
        for r in dunn_posthoc(ndf, "g", "v", [1, 2, 10]).collect()
    }
    assert set(ngot) == {("1", "10"), ("1", "2"), ("10", "2")}
    relabel = {("1", "2"): ("a", "b"), ("1", "10"): ("a", "c"),
               ("10", "2"): ("c", "b")}
    for kk, r in ngot.items():
        ga, gb = relabel[kk]
        ra = sum(ranks[ga]) / 4
        rb = sum(ranks[gb]) / 4
        assert abs(r["mean_rank_a"] - ra) < 1e-12, kk
        assert abs(r["mean_rank_b"] - rb) < 1e-12, kk
        assert (r["n_a"], r["n_b"]) == (4, 4), kk


def test_mann_kendall_hand_computed(spark):
    """mann_kendall vs the textbook computation: rising series, flat
    (all-tied -> NULL z), mixed with ties, and singleton groups."""
    import math

    from padua_spark.operators.stats import mann_kendall

    series = {
        "up": [1.0, 2.0, 3.0, 4.0, 5.0],
        "flat": [2.0, 2.0, 2.0, 2.0],
        "mix": [3.0, 1.0, 3.0, 2.0, 5.0],
        "one": [7.0],
    }
    rows = [
        (k, i + 1, v)
        for k, vs in series.items()
        for i, v in enumerate(vs)
    ]
    df = spark.createDataFrame(rows, "g string, x int, y double")
    got = {
        r["g"]: r for r in mann_kendall(df, ["g"], "x", "y").collect()
    }
    for k, vs in series.items():
        n = len(vs)
        s = sum(
            (vs[j] > vs[i]) - (vs[j] < vs[i])
            for i in range(n)
            for j in range(i + 1, n)
        )
        from collections import Counter

        tie = sum(
            t * (t - 1) * (2 * t + 5) for t in Counter(vs).values()
        )
        var = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
        r = got[k]
        assert r["s_stat"] == s and r["n_obs"] == n, k
        assert abs(r["var_s"] - var) < 1e-12, k
        if var > 0:
            z = (s - 1) / math.sqrt(var) if s > 0 else (
                (s + 1) / math.sqrt(var) if s < 0 else 0.0
            )
            assert abs(r["z"] - z) < 1e-12, k
        else:
            assert r["z"] is None and r["p_normal"] is None, k
    assert got["up"]["z"] > 1.0 and got["mix"]["p_normal"] > 0.3


def test_ivfpq_at_rest_pruning_and_recall(spark, tmp_path):
    """write_ivfpq_partitioned + ivfpq_topk_at_rest: the at-rest
    IVF-PQ story end to end. (1) PARTITION PRUNING — each probed
    cell's literal predicate reaches the parquet reader as a
    partition filter, and the union's scans together open no more
    than nprobe of the cell subdirectories (scan metrics, not
    inputFiles — that lists the unpruned relation). (2) The read-back
    probe equals the in-memory ivfpq_topk on a rebuild (the build is
    deterministic, so rebuild == written index). (3) Recall-vs-nprobe
    gate on the WRITTEN layout against exact L2 over the original
    vectors: monotone nondecreasing in nprobe, and full-probe recall
    matches the in-memory measurement (>= 0.2 at 64 codes/subspace on
    the near-uniform synthetic corpus — PQ's worst case; see
    test_ivfpq_composition for why that bar, not higher)."""
    import os

    from padua_spark.extensions.similarity import (
        ann_recall_at_k,
        ivfpq_build,
        ivfpq_topk,
        ivfpq_topk_at_rest,
        write_ivfpq_partitioned,
    )

    from tests.conftest import SF_ORACLE

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_corpus")
    cents, cbs = write_ivfpq_partitioned(
        emb, "vec_id", "embedding", path, n_cells=8,
        m_subspaces=4, k_codes=64,
    )
    cell_dirs = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert 1 < len(cell_dirs) <= 8
    query = [float((i * 7) % 13) / 13.0 for i in range(64)]
    at_rest = ivfpq_topk_at_rest(
        spark, path, cents, cbs, "vec_id", query, k=10, nprobe=2
    )
    got = [(r["vec_id"], round(r["adc_dist"], 9))
           for r in at_rest.collect()]
    plan = at_rest._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the layout stores only codes: no vector column ever read
    assert "embedding" not in plan

    def _scan_partitions(df):
        leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            it = leaves.apply(i).metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if str(kv._1()) == "numPartitions":
                    total += kv._2().value()
        return total

    full = spark.read.parquet(path)
    full.collect()
    assert _scan_partitions(at_rest) <= 2 < _scan_partitions(full)

    # deterministic rebuild == written index, so in-memory probe on
    # the rebuild must equal the at-rest probe bit for bit
    enc, cents2, cbs2 = ivfpq_build(
        emb, "vec_id", "embedding", n_cells=8, m_subspaces=4,
        k_codes=64,
    )
    exp = [(r["vec_id"], round(r["adc_dist"], 9))
           for r in ivfpq_topk(
               enc, "vec_id", cents2, cbs2, query, k=10, nprobe=2
           ).collect()]
    assert got == exp

    # recall gate on the written layout, exact L2 over raw vectors
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    q = F.array(*[F.lit(float(x)) for x in query])
    d2 = F.aggregate(
        F.zip_with(v, q, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0), lambda acc, e: acc + e,
    )
    exact = (
        emb.select("vec_id", d2.alias("d2"))
        .orderBy(F.col("d2").asc(), F.col("vec_id").asc())
        .limit(10)
    )

    def _recall(nprobe):
        approx = ivfpq_topk_at_rest(
            spark, path, cents, cbs, "vec_id", query,
            k=10, nprobe=nprobe,
        )
        return ann_recall_at_k(
            approx, exact, "vec_id", k=10
        ).collect()[0]["recall"]

    recalls = [_recall(np_) for np_ in (2, 4, 8)]
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] >= 0.2, recalls


def test_longest_duplicated_substring_vs_brute_force(spark):
    """longest_duplicated_substring equals an exhaustive small-corpus
    replica (every (pos, L) window counted in Python) across seeded
    random small-vocab corpora — length, distinct-substring count,
    occurrence count, and the lexicographic-min substring itself —
    plus the no-repeat and empty edges. The DuckDB oracle covers the
    same statistic via the independent sorted-suffix LCP algorithm;
    this covers the tie-break plumbing on corpora tiny enough to
    enumerate."""
    import random
    from collections import Counter

    from padua_spark.extensions.dedup import longest_duplicated_substring

    def brute(docs):
        occ = Counter()
        for _id, text in docs:
            toks = text.split(" ")
            for s in range(len(toks)):
                for length in range(1, len(toks) - s + 1):
                    occ[(length, " ".join(toks[s:s + length]))] += 1
        dups = {}
        for (length, sub), c in occ.items():
            if c > 1:
                dups.setdefault(length, {})[sub] = c
        if not dups:
            return (0, 0, 0, None)
        mx = max(dups)
        chosen = min(dups[mx])
        return (mx, len(dups[mx]), dups[mx][chosen], chosen)

    rng = random.Random(7)
    vocab = ["a", "b", "c", "dog", "e"]
    for _ in range(5):
        docs = [
            (i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(1, 18))))
            for i in range(rng.randint(1, 6))
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = tuple(
            longest_duplicated_substring(df, "doc_id", "text")
            .collect()[0]
        )
        assert got == brute(docs), (docs, got)

    nodup = spark.createDataFrame(
        [(0, "x y z"), (1, "p q r")], ["doc_id", "text"]
    )
    assert tuple(
        longest_duplicated_substring(nodup, "doc_id", "text").collect()[0]
    ) == (0, 0, 0, None)


def test_chi2_sf_closed_forms():
    """chi2_sf matches the exact closed forms for df=1..4 (erfc /
    exponential identities) to machine precision, including the deep
    survival tail (no 1-P cancellation — the gammq branch computes Q
    directly)."""
    import math

    from padua_spark.functions.distributions import chi2_sf

    cases = [
        (16.79, 1, math.erfc(math.sqrt(16.79 / 2))),
        (3.8414588206941245, 1,
         math.erfc(math.sqrt(3.8414588206941245 / 2))),
        (5.991464547107979, 2, math.exp(-5.991464547107979 / 2)),
        (0.5, 3,
         math.erfc(0.5) + math.sqrt(1 / math.pi) * math.exp(-0.25)),
        (100.0, 4, 51 * math.exp(-50.0)),
        (300.0, 2, math.exp(-150.0)),
        (7.2, 4, 4.6 * math.exp(-3.6)),
    ]
    for stat, df, exact in cases:
        got = float(chi2_sf(stat, df))
        assert got == pytest.approx(exact, rel=1e-12), (stat, df)


def test_round8_stat_battery_replicas(spark):
    """Bartlett / McNemar / Cochran-Armitage / Friedman against
    independent numpy replicas of the textbook formulas (scipy is not
    in this environment; the replicas implement the same published
    equations scipy does), plus structural edges."""
    import math

    from padua_spark.operators.stats import (
        bartlett_stats,
        cochran_armitage_trend,
        friedman_test,
        mcnemar_test,
    )

    # Bartlett on 3 groups of 10 (variance-heterogeneous b)
    a = [8.88, 9.12, 9.04, 8.98, 9.00, 9.08, 9.01, 8.85, 9.06, 8.99]
    b = [8.88, 8.95, 9.29, 9.44, 9.15, 9.58, 8.36, 9.18, 8.67, 9.05]
    c = [8.95, 9.12, 8.95, 8.85, 9.03, 8.84, 9.07, 8.98, 8.86, 8.98]
    groups = [np.array(a), np.array(b), np.array(c)]
    ni = np.array([len(g) for g in groups], dtype=float)
    vi = np.array([np.var(g, ddof=1) for g in groups])
    N, k = ni.sum(), len(groups)
    sp2 = ((ni - 1) * vi).sum() / (N - k)
    t_num = (N - k) * np.log(sp2) - ((ni - 1) * np.log(vi)).sum()
    c_den = 1 + (np.sum(1 / (ni - 1)) - 1 / (N - k)) / (3 * (k - 1))
    expected = t_num / c_den
    rows = [(1, g, float(x)) for g, vals in zip("ABC", groups)
            for x in vals]
    df = spark.createDataFrame(rows, ["f", "g", "v"])
    r = bartlett_stats(df, ["f"], "g", "v").collect()[0]
    assert r["bartlett_stat"] == pytest.approx(expected, rel=1e-12)
    assert r["dfree"] == 2.0
    # p_value consistent with the chi2 survival of the statistic
    from padua_spark.functions.distributions import chi2_sf

    assert r["p_value"] == pytest.approx(
        float(chi2_sf(expected, 2)), rel=1e-12
    )

    # McNemar: n01=1, n10=9 -> CC stat (|1-9|-1)^2/10 = 4.9,
    # p = chi2_1.sf(4.9) = erfc(sqrt(4.9/2)) via the A&S path
    md = spark.createDataFrame(
        [(0, 1)] * 1 + [(1, 0)] * 9 + [(1, 1)] * 5 + [(0, 0)] * 3,
        ["a", "b"],
    )
    r = mcnemar_test(md, "a", "b").collect()[0]
    assert (r["n00"], r["n01"], r["n10"], r["n11"]) == (3, 1, 9, 5)
    assert r["mcnemar_stat"] == pytest.approx(4.9, abs=1e-12)
    # A&S 7.1.26 has ~1.5e-7 max ABSOLUTE error — compare absolutely
    assert r["p_value"] == pytest.approx(
        math.erfc(math.sqrt(4.9 / 2)), abs=2e-7
    )
    # no discordant pairs -> NULL stat
    r0 = mcnemar_test(
        spark.createDataFrame([(1, 1), (0, 0)], ["a", "b"]), "a", "b"
    ).collect()[0]
    assert r0["mcnemar_stat"] is None and r0["p_value"] is None

    # Cochran-Armitage on a clean monotone dose-response
    sc, nn, rr = [0, 1, 2], [10, 10, 10], [2, 5, 8]
    rows = []
    for s, n_, r_ in zip(sc, nn, rr):
        rows += [(s, 1)] * r_ + [(s, 0)] * (n_ - r_)
    row = cochran_armitage_trend(
        spark.createDataFrame(rows, ["s", "y"]), "s", "y"
    ).collect()[0]
    N, R = 30.0, 15.0
    t_exp = sum(s * r_ for s, r_ in zip(sc, rr)) - R / N * sum(
        s * n_ for s, n_ in zip(sc, nn)
    )
    var = (R / N) * (1 - R / N) * (
        sum(s * s * n_ for s, n_ in zip(sc, nn))
        - sum(s * n_ for s, n_ in zip(sc, nn)) ** 2 / N
    )
    assert row["t_stat"] == pytest.approx(t_exp, abs=1e-12)
    assert row["z"] == pytest.approx(t_exp / math.sqrt(var), rel=1e-12)

    # Friedman on a 5x4 block design with ties (replica of the scipy
    # formula: midranks within blocks, ssbn, tie correction)
    data = np.array(
        [[7.0, 9.9, 8.5, 5.1], [9.9, 9.0, 5.1, 4.4],
         [7.3, 8.5, 9.9, 8.1], [9.9, 7.2, 8.1, 6.3],
         [4.4, 5.1, 9.9, 7.3]]
    )

    def rankdata(x):
        x = np.asarray(x)
        sorter = np.argsort(x)
        inv = np.empty_like(sorter)
        inv[sorter] = np.arange(len(x))
        sx = x[sorter]
        obs = np.r_[True, sx[1:] != sx[:-1]]
        dense = obs.cumsum()[inv]
        cnt = np.r_[np.nonzero(obs)[0], len(obs)]
        return 0.5 * (cnt[dense] + cnt[dense - 1] + 1)

    ranks = np.array([rankdata(row_) for row_ in data])
    n_, k_ = ranks.shape
    ssbn = (ranks.sum(axis=0) ** 2).sum()
    chisq = 12.0 / (k_ * n_ * (k_ + 1)) * ssbn - 3 * n_ * (k_ + 1)
    ties = sum(
        float((cnts ** 3 - cnts).sum())
        for cnts in (np.unique(row_, return_counts=True)[1]
                     for row_ in data)
    )
    corr = 1 - ties / (k_ * (k_ * k_ - 1) * n_)
    fd = spark.createDataFrame(
        [(bi, ti, float(data[bi, ti]))
         for bi in range(5) for ti in range(4)],
        ["blk", "trt", "v"],
    )
    r = friedman_test(fd, "blk", "trt", "v").collect()[0]
    assert r["n_blocks"] == 5 and r["k_treatments"] == 4
    assert r["friedman_stat"] == pytest.approx(chisq / corr, rel=1e-12)
    # an incomplete block is dropped, not miscounted
    fd2 = fd.where(~((F.col("blk") == 0) & (F.col("trt") == 3)))
    r2 = friedman_test(fd2, "blk", "trt", "v").collect()[0]
    assert r2["n_blocks"] == 4


def test_survival_companions_and_two_segment(spark):
    """nelson_aalen hand-checked risk table; harrells_c perfect /
    anti / tied models plus the bounded-group guard; two-segment
    changepoint recovers a planted level shift and matches a numpy
    argmin-SSE replica on noisy data."""
    from padua_spark.operators.stats import harrells_c, nelson_aalen
    from padua_spark.operators.temporal import two_segment_changepoint

    rows = [(0, 1.0, 0), (1, 2.0, 1), (2, 2.0, 1), (3, 3.0, 0),
            (4, 4.0, 1)]
    df = spark.createDataFrame([(0,) + r[1:] for r in rows],
                               ["g", "t", "e"])
    out = {r["t"]: r for r in nelson_aalen(df, ["g"], "t", "e").collect()}
    assert set(out) == {2.0, 4.0}
    assert out[2.0]["n_risk"] == 4 and out[2.0]["n_events"] == 2
    assert out[2.0]["cum_hazard"] == pytest.approx(0.5)
    assert out[2.0]["var_hazard"] == pytest.approx(0.125)
    assert out[4.0]["cum_hazard"] == pytest.approx(1.5)
    assert out[4.0]["var_hazard"] == pytest.approx(1.125)

    perfect = spark.createDataFrame(
        [(0, 3.0, 1.0, 1), (0, 2.0, 2.0, 1), (0, 1.0, 3.0, 0)],
        ["g", "r", "t", "e"],
    )
    r = harrells_c(perfect, ["g"], "r", "t", "e").collect()[0]
    assert (r["n_comparable"], r["c_index"]) == (3, 1.0)
    anti = spark.createDataFrame(
        [(0, 1.0, 1.0, 1), (0, 2.0, 2.0, 1), (0, 3.0, 3.0, 0)],
        ["g", "r", "t", "e"],
    )
    assert harrells_c(anti, ["g"], "r", "t", "e").collect()[0][
        "c_index"] == 0.0
    tied = spark.createDataFrame(
        [(0, 1.0, 1.0, 1), (0, 1.0, 2.0, 1)], ["g", "r", "t", "e"]
    )
    rt = harrells_c(tied, ["g"], "r", "t", "e").collect()[0]
    assert (rt["n_tied_risk"], rt["c_index"]) == (1, 0.5)
    with pytest.raises(Exception, match="harrells_c"):
        harrells_c(perfect, ["g"], "r", "t", "e",
                   max_group_size=2).collect()

    vals = [1.0, 1.1, 0.9, 1.0, 5.0, 5.1, 4.9, 5.0]
    td = spark.createDataFrame(
        [(0, i, v) for i, v in enumerate(vals)], ["k", "t", "v"]
    )
    r = two_segment_changepoint(td, ["k"], ["t"], "v").collect()[0]
    assert r["split_pos"] == 4
    assert r["mean_left"] == pytest.approx(1.0)
    assert r["mean_right"] == pytest.approx(5.0)
    assert r["delta_sse"] == pytest.approx(
        r["sse_total"] - r["sse_split"]
    )
    # numpy argmin-SSE replica on a noisy series
    rng = np.random.default_rng(5)
    noisy = np.r_[rng.normal(0, 1, 20), rng.normal(2.5, 1, 15)]

    def sse(seg):
        return float(((seg - seg.mean()) ** 2).sum()) if len(seg) else 0.0

    costs = [sse(noisy[:i]) + sse(noisy[i:])
             for i in range(1, len(noisy))]
    best = int(np.argmin(costs)) + 1
    nd = spark.createDataFrame(
        [(0, i, float(v)) for i, v in enumerate(noisy)],
        ["k", "t", "v"],
    )
    rn = two_segment_changepoint(nd, ["k"], ["t"], "v").collect()[0]
    assert rn["split_pos"] == best
    assert rn["sse_split"] == pytest.approx(min(costs), rel=1e-9)
    # single-point series pads with NULL split
    one = spark.createDataFrame([(0, 0, 1.0)], ["k", "t", "v"])
    r1 = two_segment_changepoint(one, ["k"], ["t"], "v").collect()[0]
    assert r1["n_obs"] == 1 and r1["split_pos"] is None


def test_mixing_temperature_weights(spark):
    from padua_spark.extensions.sampling import mixing_temperature_weights

    df = spark.createDataFrame(
        [("a",)] * 8 + [("b",)] * 2 + [(None,)], ["src"]
    )
    out = {
        r["domain"]: r
        for r in mixing_temperature_weights(
            df, "src", tau=1.0, token_budget=100
        ).collect()
    }
    # tau=1 keeps natural proportions; NULL domain dropped
    assert set(out) == {"a", "b"}
    assert out["a"]["n"] == 8 and out["b"]["n"] == 2
    assert out["a"]["p_raw"] == pytest.approx(0.8)
    assert out["a"]["weight"] == pytest.approx(0.8)
    assert out["a"]["epochs"] == pytest.approx(10.0)
    # tau=0 approaches uniform
    u = {
        r["domain"]: r["weight"]
        for r in mixing_temperature_weights(df, "src", tau=0.0).collect()
    }
    assert u["a"] == pytest.approx(0.5) and u["b"] == pytest.approx(0.5)
    # weights always sum to 1
    flat = mixing_temperature_weights(df, "src", tau=0.37).collect()
    assert sum(r["weight"] for r in flat) == pytest.approx(1.0, abs=1e-6)


def test_cluster_aware_split_no_leakage(spark):
    from padua_spark.extensions.sampling import cluster_aware_split

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(40)], ["doc_id", "text"]
    )
    # chain 0-1-2, pair (10, 11); everything else singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], ["id_a", "id_b"]
    )
    out = cluster_aware_split(
        docs, "doc_id", pairs,
        {"train": 0.5, "val": 0.25, "test": 0.25}, salt=3,
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 40
    # leakage-free by construction: one split per cluster
    for grp in ((0, 1, 2), (10, 11)):
        splits = {by_id[i]["split"] for i in grp}
        clusters = {by_id[i]["cluster_id"] for i in grp}
        assert len(splits) == 1 and len(clusters) == 1
    assert {r["split"] for r in out} <= {"train", "val", "test"}


def test_dsir_logweights_directionality(spark):
    from padua_spark.extensions.sampling import dsir_logweights

    # target docs use 'alpha beta', raw-only docs use 'gamma delta':
    # a target-looking doc must out-weigh a raw-looking doc.
    rows = [(i, "alpha beta alpha", True) for i in range(5)]
    rows += [(100 + i, "gamma delta gamma", False) for i in range(5)]
    df = spark.createDataFrame(rows, ["id", "text", "tgt"])
    out = {
        r["id"]: r for r in dsir_logweights(
            df, "id", "text", "tgt", n_buckets=64
        ).collect()
    }
    assert len(out) == 10 and out[0]["n_tokens"] == 3
    assert out[0]["log_weight"] > 0 > out[100]["log_weight"]
    # brute-force replica of the smoothed hashed-unigram estimate
    import math

    MOD = 2147483647

    def bucket(tok):
        h = 7
        for ch in tok:
            h = (h * 131 + ord(ch)) % MOD
        return h % 64

    from collections import Counter
    ct, cr = Counter(), Counter()
    for _, text, tgt in rows:
        for tok in text.split(" "):
            b = bucket(tok)
            cr[b] += 1
            if tgt:
                ct[b] += 1
    nt, nr, a, B = sum(ct.values()), sum(cr.values()), 0.5, 64
    for _id, text, _ in rows:
        lw = sum(
            math.log(ct[bucket(t)] + a) - math.log(nt + a * B)
            - math.log(cr[bucket(t)] + a) + math.log(nr + a * B)
            for t in text.split(" ")
        )
        assert out[_id]["log_weight"] == pytest.approx(lw, abs=2e-6)


def test_heaps_law_brute_force(spark, monkeypatch):
    import padua_spark.operators.stats as st
    from padua_spark.extensions.text import heaps_law

    docs = [
        (1, "a b c"),
        (2, "a b d d"),
        (3, "e"),
        (4, "a e f g"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    row = heaps_law(df, "doc_id", "text").collect()[0]
    # brute-force prefix curve
    import math

    seen, t, pts = set(), 0, []
    for _, text in docs:
        toks = text.split(" ")
        t += len(toks)
        seen.update(toks)
        pts.append((math.log(t), math.log(len(seen))))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    logk = (sy - beta * sx) / n
    assert row["n_points"] == 4
    assert row["n_tokens"] == 12 and row["n_vocab"] == 7
    assert row["beta"] == pytest.approx(beta, abs=1e-6)
    assert row["log_k"] == pytest.approx(logk, abs=1e-6)
    # stepped (distributed) path agrees with the small-domain shortcut
    monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", 2)
    row2 = heaps_law(df, "doc_id", "text").collect()[0]
    assert (row2["beta"], row2["log_k"]) == (row["beta"], row["log_k"])


def test_top_quantile_by_group(spark):
    import numpy as np

    from padua_spark.extensions.quality import top_quantile_by_group

    rows = [("s1", i, float(i)) for i in range(1, 11)]
    rows += [("s2", 100 + i, float(10 * i)) for i in range(1, 5)]
    df = spark.createDataFrame(rows, ["src", "id", "score"])
    out = top_quantile_by_group(df, ["src"], "score", 0.3).collect()
    kept = {r["id"] for r in out}
    thr1 = float(np.quantile([float(i) for i in range(1, 11)], 0.7))
    thr2 = float(np.quantile([10.0, 20.0, 30.0, 40.0], 0.7))
    expect = {i for i in range(1, 11) if i >= thr1}
    expect |= {100 + i for i in range(1, 5) if 10 * i >= thr2}
    assert kept == expect
    # ties at the threshold are ALL kept
    tied = spark.createDataFrame(
        [("s", i, 5.0) for i in range(6)], ["src", "id", "score"]
    )
    assert top_quantile_by_group(tied, ["src"], "score", 0.5).count() == 6
    with pytest.raises(ValueError, match="_thr"):
        top_quantile_by_group(
            df.withColumn("_thr", F.lit(1)), ["src"], "score", 0.5
        )


def test_rmst_closed_form(spark):
    from padua_spark.operators.stats import rmst

    # group 0: events at t=2 (S=0.5) and t=4 (S=0); tau=5
    # RMST = 1*2 + 0.5*(4-2) + 0*(5-4) = 3.0
    df = spark.createDataFrame(
        [(0, 2.0, 1), (0, 2.0, 0), (0, 4.0, 1), (0, 4.0, 1)],
        ["g", "dur", "ev"],
    )
    # risk: t=2 n=4 d=1 -> S=0.75; t=4 n=2 d=2 -> S=0
    # RMST(5) = 1*2 + 0.75*(4-2) + 0*(5-4) = 3.5
    row = rmst(df, ["g"], "dur", "ev", tau=5.0).collect()[0]
    assert row["n_curve_points"] == 2
    assert row["rmst"] == pytest.approx(3.5)
    # tau below the first event: the whole integral is the S=1 head
    row2 = rmst(df, ["g"], "dur", "ev", tau=1.5).collect()[0]
    assert row2["rmst"] == pytest.approx(1.5)
    # tau between events: 1*2 + 0.75*(3-2) = 2.75
    row3 = rmst(df, ["g"], "dur", "ev", tau=3.0).collect()[0]
    assert row3["rmst"] == pytest.approx(2.75)


def test_acf_by_key_vs_brute_force(spark):
    import numpy as np

    from padua_spark.operators.temporal import acf_by_key

    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(vals)], ["key", "t", "x"]
    )
    out = {
        r["lag"]: r
        for r in acf_by_key(df, ["key"], ["t"], "x", max_lag=3).collect()
    }
    x = np.array(vals)
    d = x - x.mean()
    for k in (1, 2, 3):
        expect = float((d[:-k] * d[k:]).sum() / (d * d).sum())
        assert out[k]["acf"] == pytest.approx(expect, abs=1e-6)
        assert out[k]["n_pairs"] == len(vals) - k
    const = spark.createDataFrame(
        [("k", i, 2.0) for i in range(4)], ["key", "t", "x"]
    )
    rows = acf_by_key(const, ["key"], ["t"], "x", max_lag=1).collect()
    assert rows[0]["acf"] is None  # zero denominator -> NULL


def test_split_conformal_intervals(spark):
    from padua_spark.extensions.quality import split_conformal_intervals

    # calibration residuals |actual-pred|: 1..9 -> with alpha=0.2,
    # k = ceil(10*0.8) = 8 -> q = 8th smallest = 8.0
    cal = spark.createDataFrame(
        [(float(i), 0.0) for i in range(1, 10)], ["actual", "pred"]
    )
    test = spark.createDataFrame([(100.0,)], ["pred"])
    row = split_conformal_intervals(
        cal, test, "pred", "actual", alpha=0.2
    ).collect()[0]
    assert row["conformal_q"] == pytest.approx(8.0)
    assert row["lo"] == pytest.approx(92.0)
    assert row["hi"] == pytest.approx(108.0)
    # n+1 rank clipped to n: alpha tiny -> q = max residual
    row2 = split_conformal_intervals(
        cal, test, "pred", "actual", alpha=0.001
    ).collect()[0]
    assert row2["conformal_q"] == pytest.approx(9.0)


def test_poisson_bootstrap_ci(spark):
    from padua_spark.extensions.sampling import (
        _POISSON1_CDF,
        poisson_bootstrap_ci,
    )
    import math

    # CDF constants are the true Poisson(1) CDF
    acc = 0.0
    for k, c in enumerate(_POISSON1_CDF):
        acc += math.exp(-1.0) / math.factorial(k)
        assert c == pytest.approx(acc, abs=1e-15)

    df = spark.createDataFrame(
        [(i, float(i % 10)) for i in range(400)], ["id", "x"]
    )
    row = poisson_bootstrap_ci(
        df, "id", "x", n_reps=50, alpha=0.1, salt=3
    ).collect()[0]
    assert row["n_rows"] == 400 and row["n_reps"] == 50
    assert row["mean"] == pytest.approx(4.5)
    # CI brackets the point estimate and is plausibly tight
    assert row["ci_lo"] < 4.5 < row["ci_hi"]
    assert 0.01 < row["ci_hi"] - row["ci_lo"] < 2.0
    # determinism: identical on re-run
    row2 = poisson_bootstrap_ci(
        df, "id", "x", n_reps=50, alpha=0.1, salt=3
    ).collect()[0]
    assert (row2["ci_lo"], row2["ci_hi"]) == (row["ci_lo"], row["ci_hi"])


def test_cox_ph_vs_brute_force(spark):
    import numpy as np

    from padua_spark.operators.stats import cox_ph

    rng = np.random.RandomState(42)
    n = 60
    X = rng.normal(size=(n, 2))
    # true betas (0.8, -0.5); exponential baseline
    lam = np.exp(X @ np.array([0.8, -0.5]))
    t = np.ceil(rng.exponential(1.0 / lam) * 4)  # ties via rounding
    e = (rng.uniform(size=n) < 0.8).astype(int)

    def gh(beta):
        r = np.exp(X @ beta)
        g = np.zeros(2)
        H = np.zeros((2, 2))
        for tt in sorted(set(t[e == 1])):
            risk = t >= tt
            s0 = r[risk].sum()
            s1 = (r[risk, None] * X[risk]).sum(0)
            s2 = (r[risk, None, None] * X[risk][:, :, None]
                  * X[risk][:, None, :]).sum(0)
            at = (t == tt) & (e == 1)
            d = at.sum()
            g += X[at].sum(0) - d * s1 / s0
            H += d * (s2 / s0 - np.outer(s1 / s0, s1 / s0))
        return g, H

    beta = np.zeros(2)
    for _ in range(6):
        g, H = gh(beta)
        beta = beta + np.linalg.solve(H, g)
    _, H = gh(beta)
    se = np.sqrt(np.diag(np.linalg.inv(H)))

    df = spark.createDataFrame(
        [
            (float(t[i]), int(e[i]), float(X[i, 0]), float(X[i, 1]))
            for i in range(n)
        ],
        ["dur", "ev", "f1", "f2"],
    )
    out = {
        r["feature"]: r
        for r in cox_ph(
            df, ["f1", "f2"], "dur", "ev", n_iters=6
        ).collect()
    }
    assert out["f1"]["coef"] == pytest.approx(beta[0], abs=1e-5)
    assert out["f2"]["coef"] == pytest.approx(beta[1], abs=1e-5)
    assert out["f1"]["se"] == pytest.approx(se[0], abs=1e-5)
    assert out["f2"]["se"] == pytest.approx(se[1], abs=1e-5)
    assert out["f1"]["hazard_ratio"] == pytest.approx(
        float(np.exp(beta[0])), abs=1e-4
    )
    # recovered signs match the generating model
    assert out["f1"]["coef"] > 0 > out["f2"]["coef"]


def test_cumulative_incidence_identity(spark):
    from padua_spark.operators.stats import cumulative_incidence

    # 6 subjects, two causes + censoring, with a tie at t=2
    rows = [
        (0, 1.0, 1), (0, 2.0, 2), (0, 2.0, 1),
        (0, 3.0, 0), (0, 4.0, 2), (0, 5.0, 0),
    ]
    df = spark.createDataFrame(rows, ["g", "dur", "cause"])
    out = cumulative_incidence(df, ["g"], "dur", "cause").collect()
    by = {(r["t"], r["cause"]): r for r in out}
    # t=1: n=6, d1=1 -> CIF1 = 1 * 1/6
    assert by[(1.0, 1)]["cif"] == pytest.approx(1 / 6, abs=1e-6)
    assert by[(1.0, 1)]["n_risk"] == 6
    # t=2: S(1)=5/6; n=5; d1=1, d2=1
    assert by[(2.0, 1)]["cif"] == pytest.approx(
        1 / 6 + (5 / 6) * (1 / 5), abs=1e-6
    )
    assert by[(2.0, 2)]["cif"] == pytest.approx(
        (5 / 6) * (1 / 5), abs=1e-6
    )
    # t=4: S(2-)=5/6, S(2)=5/6*3/5=0.5; censored at 3 -> n=2 at t=4
    assert by[(4.0, 2)]["n_risk"] == 2
    assert by[(4.0, 2)]["cif"] == pytest.approx(
        (5 / 6) * (1 / 5) + 0.5 * (1 / 2), abs=1e-6
    )
    # identity: sum_k CIF_k(last event time) == 1 - S(last)
    # S(4) = 5/6 * 3/5 * 1/2 = 0.25
    total = by[(2.0, 1)]["cif"] + by[(4.0, 2)]["cif"]
    assert total == pytest.approx(1 - 0.25, abs=1e-6)
    # 1-cause degenerate case equals 1 - KM
    one = spark.createDataFrame(
        [(0, 1.0, 1), (0, 2.0, 1), (0, 3.0, 0), (0, 4.0, 1)],
        ["g", "dur", "cause"],
    )
    o = {r["t"]: r["cif"] for r in cumulative_incidence(
        one, ["g"], "dur", "cause").collect()}
    assert o[1.0] == pytest.approx(0.25)
    assert o[2.0] == pytest.approx(0.5)
    assert o[4.0] == pytest.approx(1.0)


def test_proportion_wilson_and_odds_ratio(spark):
    import math

    from padua_spark.operators.stats import (
        odds_ratio_ci,
        proportion_wilson_ci,
    )

    df = spark.createDataFrame(
        [("g", 1)] * 8 + [("g", 0)] * 2, ["grp", "f"]
    )
    row = proportion_wilson_ci(df, ["grp"], "f").collect()[0]
    # closed-form Wilson at p=0.8, n=10, z=1.959963984540054
    z = 1.959963984540054
    n, p = 10.0, 0.8
    center = p + z * z / (2 * n)
    half = z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    den = 1 + z * z / n
    assert row["p_hat"] == pytest.approx(0.8)
    assert row["ci_lo"] == pytest.approx((center - half) / den, abs=1e-6)
    assert row["ci_hi"] == pytest.approx((center + half) / den, abs=1e-6)
    assert 0.0 < row["ci_lo"] < 0.8 < row["ci_hi"] < 1.0

    # 2x2: a=20 b=80 c=10 d=90 -> OR = (20/80)/(10/90) = 2.25
    rows = (
        [(1, 1)] * 20 + [(1, 0)] * 80 + [(0, 1)] * 10 + [(0, 0)] * 90
    )
    t = spark.createDataFrame(rows, ["expo", "outc"])
    r = odds_ratio_ci(t, "expo", "outc").collect()[0]
    assert (r["a"], r["b"], r["c"], r["d"]) == (20, 80, 10, 90)
    assert r["odds_ratio"] == pytest.approx(2.25, abs=1e-6)
    assert r["relative_risk"] == pytest.approx(2.0, abs=1e-6)
    se = math.sqrt(1 / 20 + 1 / 80 + 1 / 10 + 1 / 90)
    assert r["or_lo"] == pytest.approx(
        2.25 * math.exp(-z * se), abs=1e-5
    )
    assert r["or_hi"] == pytest.approx(
        2.25 * math.exp(z * se), abs=1e-5
    )
    # Haldane correction engages on a zero cell
    zc = spark.createDataFrame(
        [(1, 1)] * 5 + [(1, 0)] * 5 + [(0, 0)] * 10, ["expo", "outc"]
    )
    rz = odds_ratio_ci(zc, "expo", "outc").collect()[0]
    assert rz["c"] == 0 and rz["odds_ratio"] is not None
    assert rz["odds_ratio"] == pytest.approx(
        (5.5 / 5.5) / (0.5 / 10.5), abs=1e-5
    )


def test_qini_auuc_brute_force(spark, monkeypatch):
    import numpy as np

    import padua_spark.operators.stats as st
    from padua_spark.extensions.quality import qini_auuc

    rng = np.random.RandomState(7)
    n = 200
    score = np.round(rng.uniform(size=n), 2)  # ties across rows
    treat = (rng.uniform(size=n) < 0.5).astype(int)
    # uplift correlates with score: treated convert more when score high
    p = 0.2 + 0.5 * score * treat
    y = (rng.uniform(size=n) < p).astype(float)
    df = spark.createDataFrame(
        [(int(treat[i]), float(y[i]), float(score[i])) for i in range(n)],
        ["t", "y", "s"],
    )
    row = qini_auuc(df, "t", "y", "s").collect()[0]

    # brute-force curve over distinct scores descending
    order = np.argsort(-score, kind="stable")
    svals = sorted(set(score), reverse=True)
    pts = [(0.0, 0.0)]
    for sv in svals:
        mask = score >= sv
        nt, nc = treat[mask].sum(), (1 - treat[mask]).sum()
        yt = y[mask][treat[mask] == 1].sum()
        yc = y[mask][treat[mask] == 0].sum()
        q = yt - yc * nt / nc if nc > 0 else yt
        pts.append(((nt + nc) / n, q))
    area = sum(
        (y0 + y1) / 2 * (x1 - x0)
        for (x0, y0), (x1, y1) in zip(pts, pts[1:])
    )
    qf = pts[-1][1]
    assert row["n"] == n
    assert row["qini_final"] == pytest.approx(qf, abs=1e-6)
    assert row["qini_area"] == pytest.approx(area, abs=1e-6)
    assert row["qini_coef"] == pytest.approx(area - qf / 2, abs=1e-6)
    # a genuinely uplift-ranked score should beat random targeting
    assert row["qini_coef"] > 0
    # stepped (distributed) path agrees with the small-domain shortcut
    monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", 5)
    row2 = qini_auuc(df, "t", "y", "s").collect()[0]
    assert row2["qini_area"] == pytest.approx(row["qini_area"], abs=1e-6)


def test_markov_attribution_known_chain(spark):
    from padua_spark.operators.temporal import (
        markov_attribution,
        touch_transitions,
    )

    # Hand-checkable chain: START->A (always). A->CONV 0.5, A->B 0.5.
    # B->CONV 1.0. P(conv)=1. Removing B: P=0.5 -> removal(B)=0.5.
    # Removing A: P=0 -> removal(A)=1. Shares: A=2/3, B=1/3.
    trans = spark.createDataFrame(
        [
            ("START", "A", 4),
            ("A", "CONV", 2),
            ("A", "B", 2),
            ("B", "CONV", 2),
        ],
        ["src", "dst", "n"],
    )
    out = {r["channel"]: r for r in markov_attribution(trans).collect()}
    assert out["A"]["removal_effect"] == pytest.approx(1.0, abs=1e-6)
    assert out["B"]["removal_effect"] == pytest.approx(0.5, abs=1e-6)
    assert out["A"]["attribution_share"] == pytest.approx(2 / 3, abs=1e-6)
    assert out["B"]["attribution_share"] == pytest.approx(1 / 3, abs=1e-6)
    assert out["A"]["p_conv"] == pytest.approx(1.0, abs=1e-6)

    # path extraction: user 1 converts (a->b->CONV, later touches cut),
    # user 2 never converts (a->a->NULL terminal)
    ev = spark.createDataFrame(
        [
            (1, 1, "a"), (1, 2, "b"), (1, 3, "buy"), (1, 4, "a"),
            (2, 1, "a"), (2, 2, "a"),
        ],
        ["u", "t", "ch"],
    )
    tr = {
        (r["src"], r["dst"]): r["n"]
        for r in touch_transitions(
            ev, "u", ["t"], "ch", conversion="buy"
        ).collect()
    }
    assert tr[("START", "a")] == 2
    assert tr[("a", "b")] == 1
    assert tr[("b", "CONV")] == 1
    assert tr[("a", "a")] == 1
    assert tr[("a", "NULL")] == 1
    assert ("CONV", "a") not in tr and ("buy", "a") not in tr

    # guard fires on an event-level (unbounded-state) frame
    import pytest as _pt
    big = spark.createDataFrame(
        [("START", f"s{i}", 1) for i in range(300)], ["src", "dst", "n"]
    )
    with _pt.raises(ValueError, match="max_states"):
        markov_attribution(big).collect()


def test_kcore_peel(spark):
    from padua_spark.extensions.graph import kcore_peel

    # triangle {1,2,3} (2-core) + tail 3-4-5 (peels away at k=2)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["src", "dst"]
    )
    out = {
        r["node"]: r["degree"]
        for r in kcore_peel(edges, k=2, n_rounds=4).collect()
    }
    assert out == {1: 2, 2: 2, 3: 2}
    # k=3: the triangle dies too
    assert kcore_peel(edges, k=3, n_rounds=4).count() == 0
    # one round only peels the outermost layer: node 5 (deg 1) goes,
    # then 4 keeps an edge to 3 but degree drops below k NEXT round
    one = {
        r["node"]: r["degree"]
        for r in kcore_peel(edges, k=2, n_rounds=1).collect()
    }
    assert 5 not in one and one[3] == 3
    # self-loops and duplicate/reversed edges don't inflate degrees
    noisy = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 3), (1, 3)], ["src", "dst"]
    )
    nd = {
        r["node"]: r["degree"]
        for r in kcore_peel(noisy, k=2, n_rounds=3).collect()
    }
    assert nd == {1: 2, 2: 2, 3: 2}


def test_cox_baseline_hazard(spark):
    import numpy as np

    from padua_spark.operators.stats import cox_baseline_hazard

    rng = np.random.RandomState(3)
    n = 40
    x = rng.normal(size=n)
    t = np.ceil(rng.exponential(1.0, size=n) * 3)
    e = (rng.uniform(size=n) < 0.7).astype(int)
    beta = 0.6
    df = spark.createDataFrame(
        [(float(t[i]), int(e[i]), float(x[i])) for i in range(n)],
        ["dur", "ev", "f"],
    )
    out = {
        r["t"]: r
        for r in cox_baseline_hazard(
            df, ["f"], "dur", "ev", [beta]
        ).collect()
    }
    # brute-force Breslow
    r = np.exp(beta * x)
    h = 0.0
    for tt in sorted(set(t[e == 1])):
        s0 = r[t >= tt].sum()
        d = ((t == tt) & (e == 1)).sum()
        h += d / s0
        assert out[float(tt)]["h0_cum"] == pytest.approx(h, abs=1e-5)
        assert out[float(tt)]["n_events"] == d
        assert out[float(tt)]["s0_risk"] == pytest.approx(s0, abs=1e-4)
        assert out[float(tt)]["s0_baseline"] == pytest.approx(
            float(np.exp(-h)), abs=1e-5
        )
    assert set(out) == {float(v) for v in set(t[e == 1])}


def test_mantel_haenszel_and_cochrans_q(spark):
    import numpy as np

    from padua_spark.operators.stats import cochrans_q, mantel_haenszel_or

    # two strata with identical true OR=2.25 but different baselines
    rows = []
    for s, (aa, bb, cc, dd) in enumerate(
        [(20, 80, 10, 90), (45, 55, 30, 70)]
    ):
        rows += [(s, 1, 1)] * aa + [(s, 1, 0)] * bb
        rows += [(s, 0, 1)] * cc + [(s, 0, 0)] * dd
    df = spark.createDataFrame(rows, ["st", "e", "o"])
    r = mantel_haenszel_or(df, ["st"], "e", "o").collect()[0]
    # brute force
    sr = 20 * 90 / 200 + 45 * 70 / 200
    ss = 80 * 10 / 200 + 55 * 30 / 200
    assert r["k_strata"] == 2
    assert r["or_mh"] == pytest.approx(sr / ss, abs=1e-5)
    assert r["ci_lo"] < sr / ss < r["ci_hi"]
    # CMH chi2 brute force
    sae = sv = 0.0
    for aa, bb, cc, dd in [(20, 80, 10, 90), (45, 55, 30, 70)]:
        n = aa + bb + cc + dd
        sae += aa - (aa + bb) * (aa + cc) / n
        sv += (
            (aa + bb) * (cc + dd) * (aa + cc) * (bb + dd)
            / (n * n * (n - 1))
        )
    assert r["cmh_chi2"] == pytest.approx(sae * sae / sv, abs=1e-4)
    assert 0 < r["p_value"] < 1

    # Cochran's Q: 4 subjects x 3 treatments, one incomplete subject
    data = [
        (1, "a", 1), (1, "b", 1), (1, "c", 0),
        (2, "a", 1), (2, "b", 0), (2, "c", 0),
        (3, "a", 1), (3, "b", 1), (3, "c", 1),
        (4, "a", 1), (4, "b", 0), (4, "c", 0),
        (5, "a", 1), (5, "b", 1),  # incomplete -> dropped
    ]
    qdf = spark.createDataFrame(data, ["s", "t", "f"])
    qr = cochrans_q(qdf, "s", "t", "f").collect()[0]
    assert (qr["k_treatments"], qr["n_subjects"], qr["n_dropped"]) == (
        3, 4, 1,
    )
    C = np.array([4, 2, 1])
    R = np.array([2, 1, 3, 1])
    N = C.sum()
    q_expect = (
        3 * 2 * ((C - N / 3) ** 2).sum() / (3 * N - (R ** 2).sum())
    )
    assert qr["q_stat"] == pytest.approx(q_expect, abs=1e-5)
    assert qr["dfree"] == 2 and 0 < qr["p_value"] < 1


def test_logistic_regression_vs_brute_force(spark):
    import numpy as np

    from padua_spark.operators.ml import logistic_regression

    rng = np.random.RandomState(7)
    n = 200
    X = rng.normal(size=(n, 2))
    lin = -0.3 + 1.2 * X[:, 0] - 0.7 * X[:, 1]
    y = (rng.uniform(size=n) < 1.0 / (1.0 + np.exp(-lin))).astype(float)
    Xd = np.column_stack([np.ones(n), X])

    beta = np.zeros(3)
    for _ in range(6):
        mu = 1.0 / (1.0 + np.exp(-(Xd @ beta)))
        g = Xd.T @ (y - mu)
        H = (Xd * (mu * (1 - mu))[:, None]).T @ Xd
        beta = beta + np.linalg.solve(H, g)
    mu = 1.0 / (1.0 + np.exp(-(Xd @ beta)))
    H = (Xd * (mu * (1 - mu))[:, None]).T @ Xd
    se = np.sqrt(np.diag(np.linalg.inv(H)))

    df = spark.createDataFrame(
        [(float(y[i]), float(X[i, 0]), float(X[i, 1])) for i in range(n)],
        ["y", "f1", "f2"],
    )
    out = {
        r["feature"]: r
        for r in logistic_regression(
            df, ["f1", "f2"], "y", n_iters=6
        ).collect()
    }
    assert out["(intercept)"]["coef"] == pytest.approx(beta[0], abs=1e-5)
    assert out["f1"]["coef"] == pytest.approx(beta[1], abs=1e-5)
    assert out["f2"]["coef"] == pytest.approx(beta[2], abs=1e-5)
    assert out["f1"]["se"] == pytest.approx(se[1], abs=1e-5)
    assert out["f1"]["odds_ratio"] == pytest.approx(
        float(np.exp(beta[1])), abs=1e-4
    )
    # recovered signs match the generating model
    assert out["f1"]["coef"] > 0 > out["f2"]["coef"]


def test_logistic_regression_intercept_only_matches_base_rate(spark):
    from padua_spark.operators.ml import logistic_regression

    # constant zero feature: slope must be ~0 via the pure-intercept
    # fit, and the intercept must equal logit(mean(y))
    rows = [(1.0, 0.0)] * 30 + [(0.0, 0.0)] * 10
    df = spark.createDataFrame(rows, ["y", "f"])
    out = {
        r["feature"]: r
        for r in logistic_regression(df, [], "y", n_iters=6).collect()
    }
    import math

    assert out["(intercept)"]["coef"] == pytest.approx(
        math.log(0.75 / 0.25), abs=1e-6
    )


def test_ols_regression_vs_brute_force(spark):
    import numpy as np

    from padua_spark.operators.ml import ols_regression

    rng = np.random.RandomState(11)
    n = 150
    X = rng.normal(size=(n, 2))
    y = 2.0 + 0.5 * X[:, 0] - 1.5 * X[:, 1] + rng.normal(scale=0.3, size=n)
    Xd = np.column_stack([np.ones(n), X])
    beta, *_ = np.linalg.lstsq(Xd, y, rcond=None)
    resid = y - Xd @ beta
    rss = float(resid @ resid)
    sigma2 = rss / (n - 3)
    cov = sigma2 * np.linalg.inv(Xd.T @ Xd)
    se = np.sqrt(np.diag(cov))
    r2 = 1.0 - rss / float(((y - y.mean()) ** 2).sum())

    df = spark.createDataFrame(
        [(float(y[i]), float(X[i, 0]), float(X[i, 1])) for i in range(n)],
        ["y", "f1", "f2"],
    )
    out = {
        r["feature"]: r
        for r in ols_regression(df, ["f1", "f2"], "y").collect()
    }
    assert out["(intercept)"]["coef"] == pytest.approx(beta[0], abs=1e-5)
    assert out["f1"]["coef"] == pytest.approx(beta[1], abs=1e-5)
    assert out["f2"]["coef"] == pytest.approx(beta[2], abs=1e-5)
    assert out["f1"]["se"] == pytest.approx(se[1], abs=1e-5)
    assert out["f1"]["r2"] == pytest.approx(r2, abs=1e-5)
    assert out["f1"]["dfree"] == n - 3 and out["f1"]["n"] == n


def test_ols_regression_ridge_shrinks(spark):
    import numpy as np

    from padua_spark.operators.ml import ols_regression

    rng = np.random.RandomState(3)
    n = 80
    x = rng.normal(size=n)
    y = 1.0 + 2.0 * x + rng.normal(scale=0.1, size=n)
    df = spark.createDataFrame(
        [(float(y[i]), float(x[i])) for i in range(n)], ["y", "f"]
    )
    plain = {
        r["feature"]: r for r in ols_regression(df, ["f"], "y").collect()
    }
    shrunk = {
        r["feature"]: r
        for r in ols_regression(df, ["f"], "y", ridge=1000.0).collect()
    }
    assert abs(shrunk["f"]["coef"]) < abs(plain["f"]["coef"])
    assert shrunk["f"]["se"] is None  # inference suppressed under penalty
    assert plain["f"]["p_value"] is not None and plain["f"]["p_value"] < 0.01


def _brute_pava(sy, c):
    blocks = [[sy[i], c[i]] for i in range(len(sy)) if c[i] > 0]
    keys = [i for i in range(len(sy)) if c[i] > 0]
    changed = True
    while changed:
        changed = False
        for k in range(len(blocks) - 1):
            if (
                blocks[k][0] / blocks[k][1]
                > blocks[k + 1][0] / blocks[k + 1][1] + 1e-15
            ):
                blocks[k][0] += blocks[k + 1][0]
                blocks[k][1] += blocks[k + 1][1]
                del blocks[k + 1]
                changed = True
                break
    fitted = {}
    idx = 0
    for b_sy, b_c in blocks:
        acc = 0
        while acc < b_c - 1e-9:
            fitted[keys[idx]] = b_sy / b_c
            acc += c[keys[idx]]
            idx += 1
    return fitted


def test_isotonic_calibration_matches_pava(spark):
    import numpy as np

    from padua_spark.extensions.quality import isotonic_calibration

    rng = np.random.RandomState(5)
    n = 2000
    s = rng.uniform(size=n)
    p = 1 / (1 + np.exp(-(4 * s - 2)))
    y = (rng.uniform(size=n) < p).astype(int)
    df = spark.createDataFrame(
        [(float(s[i]), int(y[i])) for i in range(n)], ["s", "y"]
    )
    out = isotonic_calibration(df, "s", "y", n_bins=20).orderBy("bin").collect()

    bins = np.minimum(19, (s * 20).astype(int))
    sy = np.zeros(20)
    c = np.zeros(20)
    for b, yy in zip(bins, y):
        sy[b] += yy
        c[b] += 1
    fitted = _brute_pava(sy, c)
    for r in out:
        assert r["rate_iso"] == pytest.approx(fitted[r["bin"]], abs=1e-6)
    vals = [r["rate_iso"] for r in out]
    assert all(vals[i] <= vals[i + 1] + 1e-12 for i in range(len(vals) - 1))


def test_isotonic_calibration_grouped(spark):
    from padua_spark.extensions.quality import isotonic_calibration

    # group "a": decreasing raw rates -> full pool to the global mean;
    # group "b": already monotone -> untouched
    rows = (
        [("a", 0.05, 1)] * 3 + [("a", 0.05, 0)] * 1
        + [("a", 0.55, 1)] * 1 + [("a", 0.55, 0)] * 3
        + [("b", 0.05, 0)] * 4 + [("b", 0.55, 1)] * 4
    )
    df = spark.createDataFrame(rows, ["g", "s", "y"])
    out = {
        (r["g"], r["bin"]): r
        for r in isotonic_calibration(
            df, "s", "y", group_cols=["g"], n_bins=2
        ).collect()
    }
    assert out[("a", 0)]["rate_iso"] == pytest.approx(0.5, abs=1e-9)
    assert out[("a", 1)]["rate_iso"] == pytest.approx(0.5, abs=1e-9)
    assert out[("a", 0)]["rate_raw"] == pytest.approx(0.75, abs=1e-9)
    assert out[("b", 0)]["rate_iso"] == pytest.approx(0.0, abs=1e-9)
    assert out[("b", 1)]["rate_iso"] == pytest.approx(1.0, abs=1e-9)


def test_label_propagation_two_cliques(spark):
    from padua_spark.extensions.graph import label_propagation

    # two disconnected triangles: each converges to its min label
    edges = [
        (1, 2), (2, 3), (1, 3),
        (10, 11), (11, 12), (10, 12),
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r["label"] for r in label_propagation(df, n_rounds=4).collect()}
    # triangle {1,2,3} converges to min label 1; {10,11,12} to 10
    assert out[1] == out[2] == out[3] == 1
    assert out[10] == out[11] == out[12] == 10


def test_label_propagation_matches_brute(spark):
    import numpy as np

    from padua_spark.extensions.graph import label_propagation

    rng = np.random.RandomState(9)
    nodes = list(range(30))
    edges = set()
    for _ in range(60):
        a, b = rng.randint(0, 30), rng.randint(0, 30)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    labels = {n: n for n in adj}
    for _ in range(4):
        new = {}
        for n in adj:
            cnt = {}
            for m in adj[n]:
                cnt[labels[m]] = cnt.get(labels[m], 0) + 1
            best = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
            new[n] = best
        labels = new
    df = spark.createDataFrame(list(edges), ["src", "dst"])
    out = {r["node"]: r["label"] for r in label_propagation(df, n_rounds=4).collect()}
    assert out == labels


def test_link_prediction_small_graph(spark):
    import math

    from padua_spark.extensions.graph import link_prediction

    # path 1-2-3 plus 1-4-3: u=1,v=3 share neighbors {2,4}; 1-3 absent
    edges = [(1, 2), (2, 3), (1, 4), (4, 3), (2, 4)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {(r["u"], r["v"]): r for r in link_prediction(df).collect()}
    r = out[(1, 3)]
    assert r["common"] == 2
    # deg(1)=2, deg(3)=2 -> jaccard = 2/(2+2-2) = 1.0
    assert r["jaccard"] == pytest.approx(1.0, abs=1e-9)
    # centers 2 and 4 each have degree 3
    assert r["adamic_adar"] == pytest.approx(2.0 / math.log(3), abs=1e-5)
    # adjacent pairs never appear
    assert (1, 2) not in out and (2, 4) not in out
    # hub exclusion: with max_center_degree=2 both centers (deg 3) drop
    out2 = link_prediction(df, max_center_degree=2).collect()
    assert all((r["u"], r["v"]) != (1, 3) for r in out2)


def test_association_rules_small(spark):
    from padua_spark.extensions.mining import association_rules

    # 4 baskets: {a,b,c}, {a,b}, {a,c}, {d}
    rows = [
        (1, "a"), (1, "b"), (1, "c"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "d"),
    ]
    df = spark.createDataFrame(rows, ["b", "i"])
    out = {
        (r["antecedent"], r["consequent"]): r
        for r in association_rules(df, "b", "i", min_support_count=2).collect()
    }
    # a,b co-occur in 2 of 4 baskets; supp(a)=3, supp(b)=2
    r = out[("a", "b")]
    assert r["pair_count"] == 2
    assert r["support"] == pytest.approx(0.5)
    assert r["confidence"] == pytest.approx(2 / 3, abs=1e-6)
    assert r["lift"] == pytest.approx((2 * 4) / (3 * 2), abs=1e-6)
    # reverse direction has its own confidence
    assert out[("b", "a")]["confidence"] == pytest.approx(1.0)
    # d is infrequent: appears in no rule
    assert all("d" not in k for k in out)
    # basket-size bound drops the 3-item basket entirely: every pair
    # then co-occurs only once and falls below min support
    out2 = association_rules(
        df, "b", "i", min_support_count=2, max_basket_items=2
    ).collect()
    assert out2 == []


def test_effect_sizes_vs_brute_force(spark):
    import numpy as np

    from padua_spark.operators.stats import effect_sizes

    rng = np.random.RandomState(21)
    a = rng.normal(1.0, 1.0, size=40).round(1)  # rounding makes ties
    b = rng.normal(0.4, 1.5, size=55).round(1)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = effect_sizes(df, "g", "v", "a", "b").collect()[0]

    na, nb = len(a), len(b)
    sp = np.sqrt(((na - 1) * a.var(ddof=1) + (nb - 1) * b.var(ddof=1))
                 / (na + nb - 2))
    d = (a.mean() - b.mean()) / sp
    g = d * (1 - 3 / (4 * (na + nb) - 9))
    glass = (a.mean() - b.mean()) / b.std(ddof=1)
    # brute-force Cliff's delta with tie halving
    gt = sum(1 for x in a for y in b if x > y)
    lt = sum(1 for x in a for y in b if x < y)
    cliffs = (gt - lt) / (na * nb)

    assert r["n_a"] == na and r["n_b"] == nb
    assert r["cohens_d"] == pytest.approx(d, abs=1e-5)
    assert r["hedges_g"] == pytest.approx(g, abs=1e-5)
    assert r["glass_delta"] == pytest.approx(glass, abs=1e-5)
    assert r["cliffs_delta"] == pytest.approx(cliffs, abs=1e-6)


def test_kendall_tau_b_vs_brute_force(spark):
    import numpy as np

    from padua_spark.operators.stats import kendall_tau_b

    rng = np.random.RandomState(13)
    n = 300
    x = rng.randint(0, 8, size=n)
    y = np.clip(x + rng.randint(-2, 3, size=n), 0, 9)

    nc = nd = 0
    for i in range(n):
        for j in range(i + 1, n):
            s = (x[i] - x[j]) * (y[i] - y[j])
            if s > 0:
                nc += 1
            elif s < 0:
                nd += 1
    n0 = n * (n - 1) / 2
    n1 = sum(c * (c - 1) / 2 for c in np.bincount(x))
    n2 = sum(c * (c - 1) / 2 for c in np.bincount(y))
    tau = (nc - nd) / np.sqrt((n0 - n1) * (n0 - n2))

    df = spark.createDataFrame(
        [(int(x[i]), int(y[i])) for i in range(n)], ["x", "y"]
    )
    r = kendall_tau_b(df, "x", "y").collect()[0]
    assert r["n"] == n
    assert r["nc"] == nc and r["nd"] == nd
    assert r["tau_b"] == pytest.approx(tau, abs=1e-6)


def test_kendall_tau_b_grid_bound_enforced(spark):
    import numpy as np

    from padua_spark.operators.stats import kendall_tau_b

    rng = np.random.RandomState(1)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in rng.uniform(size=(200, 2))],
        ["x", "y"],
    )
    with pytest.raises(ValueError, match="max_cells"):
        kendall_tau_b(df, "x", "y", max_cells=50)


def test_holt_forecast_vs_brute_force(spark):
    from padua_spark.operators.temporal import holt_forecast

    xs = [10.0, 12.0, 13.0, 15.0, 14.0, 18.0, 21.0]
    rows = [("k", i, v) for i, v in enumerate(xs)] + [("solo", 0, 5.0)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = {
        r["k"]: r
        for r in holt_forecast(
            df, ["k"], ["t"], "v", alpha=0.5, beta=0.3, horizon=2
        ).collect()
    }
    l, b = xs[1], xs[1] - xs[0]
    for x in xs[2:]:
        ln = 0.5 * x + 0.5 * (l + b)
        b = 0.3 * (ln - l) + 0.7 * b
        l = ln
    assert out["k"]["n"] == 7
    assert out["k"]["level"] == pytest.approx(l, abs=1e-6)
    assert out["k"]["trend"] == pytest.approx(b, abs=1e-6)
    assert out["k"]["forecast"] == pytest.approx(l + 2 * b, abs=1e-6)
    # single-point series: level = the point, flat trend
    assert out["solo"]["level"] == 5.0 and out["solo"]["trend"] == 0.0


def test_holt_forecast_series_bound_enforced(spark):
    from padua_spark.operators.temporal import holt_forecast

    rows = [("k", i, float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    with pytest.raises(ValueError, match="max_series_length"):
        holt_forecast(
            df, ["k"], ["t"], "v", max_series_length=10
        ).collect()


def test_mood_median_test_vs_brute_force(spark):
    import numpy as np

    from padua_spark.operators.stats import mood_median_test

    rng = np.random.RandomState(17)
    rows = (
        [("a", int(v)) for v in rng.randint(0, 20, 80)]
        + [("b", int(v)) for v in rng.randint(3, 23, 70)]
        + [("c", int(v)) for v in rng.randint(0, 21, 90)]
    )
    df = spark.createDataFrame(rows, ["g", "v"])
    r = mood_median_test(df, "g", "v").collect()[0]

    vals = np.array([v for _, v in rows])
    med = np.sort(vals)[int(np.ceil(len(vals) / 2)) - 1]  # lower median
    assert r["grand_median"] == float(med)
    chi2 = 0.0
    A = (vals > med).sum()
    N = len(vals)
    for gname in ("a", "b", "c"):
        gv = np.array([v for g, v in rows if g == gname])
        ng, ag = len(gv), (gv > med).sum()
        ea = ng * A / N
        eb = ng * (N - A) / N
        chi2 += (ag - ea) ** 2 / ea + (ng - ag - eb) ** 2 / eb
    assert r["chi2"] == pytest.approx(chi2, abs=1e-5)
    assert r["dfree"] == 2
    assert r["p_value"] == pytest.approx(float(np.exp(-chi2 / 2)), abs=1e-5)


def test_mood_median_domain_bound_enforced(spark):
    import numpy as np

    from padua_spark.operators.stats import mood_median_test

    rng = np.random.RandomState(2)
    df = spark.createDataFrame(
        [("g", float(v)) for v in rng.uniform(size=300)], ["g", "v"]
    )
    with pytest.raises(ValueError, match="max_domain"):
        mood_median_test(df, "g", "v", max_domain=100)


def test_cvm_2samp_vs_brute_force(spark):
    import numpy as np

    from padua_spark.operators.stats import cvm_2samp_stat

    rng = np.random.RandomState(23)
    a = rng.normal(0, 1, 60).round(1)
    b = rng.normal(0.5, 1.2, 45).round(1)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = cvm_2samp_stat(df, "g", "v", "a", "b").collect()[0]

    na, nb = len(a), len(b)
    N = na + nb
    allv = np.concatenate([a, b])
    t = 0.0
    for x in allv:
        fa = (a <= x).sum() / na
        fb = (b <= x).sum() / nb
        t += (fa - fb) ** 2
    t *= na * nb / N**2
    assert r["n_a"] == na and r["n_b"] == nb
    assert r["t_stat"] == pytest.approx(t, abs=1e-6)


def test_cvm_2samp_identical_distributions_near_zero(spark):
    import numpy as np

    from padua_spark.operators.stats import cvm_2samp_stat

    rng = np.random.RandomState(3)
    v = rng.normal(size=400).round(2)
    rows = [("a" if i % 2 == 0 else "b", float(x)) for i, x in enumerate(v)]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = cvm_2samp_stat(df, "g", "v", "a", "b").collect()[0]
    assert r["t_stat"] < 0.3  # well below any rejection threshold


def test_jonckheere_terpstra_vs_brute_force(spark):
    import numpy as np

    from padua_spark.operators.stats import jonckheere_terpstra

    rng = np.random.RandomState(41)
    groups = {
        "g1": rng.randint(0, 15, 30),
        "g2": rng.randint(3, 18, 25),
        "g3": rng.randint(6, 21, 35),
    }
    rows = [(g, int(v)) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = jonckheere_terpstra(df, "g", "v", ["g1", "g2", "g3"]).collect()[0]

    order = ["g1", "g2", "g3"]
    jt = 0.0
    for ii in range(3):
        for jj in range(ii + 1, 3):
            for x in groups[order[ii]]:
                for y in groups[order[jj]]:
                    if x < y:
                        jt += 1.0
                    elif x == y:
                        jt += 0.5
    ns = [len(groups[g]) for g in order]
    n = sum(ns)
    e = (n * n - sum(x * x for x in ns)) / 4.0
    var = (n * n * (2 * n + 3) - sum(x * x * (2 * x + 3) for x in ns)) / 72.0
    z = (jt - e) / np.sqrt(var)

    assert r["n"] == n
    assert r["jt"] == pytest.approx(jt, abs=1e-9)
    assert r["z"] == pytest.approx(z, abs=1e-6)
    # increasing medians by construction -> strongly positive z
    assert r["z"] > 2


def test_moments_normality_vs_independent_numpy(spark):
    import numpy as np

    from padua_spark.operators.stats import moments_normality

    rng = np.random.RandomState(7)
    data = {
        "a": rng.poisson(4, 500).astype(float),
        "b": (rng.poisson(4, 400) * 2 - 4).astype(float),
    }
    rows = [(g, float(v)) for g, vs in data.items() for v in vs]
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {r["g"]: r.asDict() for r in moments_normality(df, ["g"], "v").collect()}

    # independent transcription of D'Agostino (1970) + Anscombe-Glynn
    # (1983) from the published formulas (scipy.stats.normaltest's
    # composition), written against numpy -- not the Spark expressions
    for g, x in data.items():
        n = len(x)
        m = x.mean()
        m2 = ((x - m) ** 2).mean()
        m3 = ((x - m) ** 3).mean()
        m4 = ((x - m) ** 4).mean()
        g1 = m3 / m2 ** 1.5
        b2 = m4 / m2 ** 2
        y = g1 * np.sqrt((n + 1) * (n + 3) / (6.0 * (n - 2)))
        beta2 = (3.0 * (n * n + 27 * n - 70) * (n + 1) * (n + 3)
                 / ((n - 2.0) * (n + 5) * (n + 7) * (n + 9)))
        w2 = np.sqrt(2 * (beta2 - 1)) - 1
        z1 = 1 / np.sqrt(0.5 * np.log(w2)) * np.arcsinh(
            y / np.sqrt(2.0 / (w2 - 1)))
        e = 3.0 * (n - 1) / (n + 1)
        varb2 = 24.0 * n * (n - 2) * (n - 3) / (
            (n + 1) ** 2 * (n + 3) * (n + 5))
        xx = (b2 - e) / np.sqrt(varb2)
        sb1 = (6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
               * np.sqrt(6.0 * (n + 3) * (n + 5)
                         / (n * (n - 2.0) * (n - 3))))
        a = 6.0 + 8.0 / sb1 * (2.0 / sb1 + np.sqrt(1 + 4 / sb1 ** 2))
        denom = 1 + xx * np.sqrt(2 / (a - 4))
        z2 = ((1 - 2 / (9 * a)
               - np.sign(denom) * np.abs((1 - 2.0 / a) / denom) ** (1 / 3))
              / np.sqrt(2 / (9 * a)))
        k2 = z1 * z1 + z2 * z2
        jb = n / 6.0 * (g1 * g1 + (b2 - 3) ** 2 / 4.0)
        r = got[g]
        assert r["n"] == n
        assert r["skew_g1"] == pytest.approx(g1, abs=2e-6)
        assert r["kurt_g2"] == pytest.approx(b2 - 3, abs=2e-6)
        assert r["z_skew"] == pytest.approx(z1, abs=2e-6)
        assert r["z_kurt"] == pytest.approx(z2, abs=2e-6)
        assert r["k2_stat"] == pytest.approx(k2, abs=5e-6)
        assert r["p_k2"] == pytest.approx(np.exp(-k2 / 2), abs=2e-6)
        assert r["jb_stat"] == pytest.approx(jb, abs=5e-6)
        assert r["p_jb"] == pytest.approx(np.exp(-jb / 2), abs=2e-6)
    # Poisson(4) is right-skewed: the skew z must be positive
    assert got["a"]["z_skew"] > 1


def test_moments_normality_small_and_constant_groups(spark):
    from padua_spark.operators.stats import moments_normality

    rows = (
        [("tiny", float(v)) for v in (1, 2, 3, 4, 5, 6)]  # n=6 < 8
        + [("const", 5.0)] * 20
    )
    df = spark.createDataFrame(rows, ["g", "v"])
    got = {r["g"]: r.asDict() for r in moments_normality(df, ["g"], "v").collect()}
    assert got["tiny"]["z_skew"] is None  # below the n>=8 minimum
    assert got["tiny"]["z_kurt"] is not None  # n>=5 ok
    assert got["tiny"]["k2_stat"] is None
    assert got["const"]["skew_g1"] is None  # zero variance -> NULL moments
    assert got["const"]["jb_stat"] is None


def test_ansari_bradley_vs_exact_permutation_moments(spark):
    """Null mean/variance of the AB statistic (with ties) against the
    EXACT conditional permutation distribution enumerated over all
    C(N, m) group assignments."""
    import itertools
    from collections import Counter

    import numpy as np

    from padua_spark.operators.stats import ansari_bradley

    xs = np.array([1, 2, 2, 3, 4, 4, 4, 5, 6, 1], dtype=float)
    rows = [("a", float(v)) for v in xs[:4]] + [
        ("b", float(v)) for v in xs[4:]
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = ansari_bradley(df, "g", "v", "a", "b").collect()[0]

    c = Counter(xs)
    ranks, cum = {}, 0
    for v in sorted(c):
        ranks[v] = cum + (c[v] + 1) / 2.0
        cum += c[v]
    n = len(xs)
    s = np.minimum(
        np.array([ranks[v] for v in xs]),
        n + 1 - np.array([ranks[v] for v in xs]),
    )
    ab = s[:4].sum()
    tot = tot2 = cnt = 0
    for comb in itertools.combinations(range(n), 4):
        v = s[list(comb)].sum()
        tot += v
        tot2 += v * v
        cnt += 1
    e = tot / cnt
    var = tot2 / cnt - e * e
    assert r["ab_stat"] == pytest.approx(ab, abs=1e-9)
    assert r["z"] == pytest.approx((ab - e) / np.sqrt(var), abs=1e-6)


def test_ansari_bradley_detects_scale_difference(spark):
    import numpy as np

    from padua_spark.operators.stats import ansari_bradley

    rng = np.random.RandomState(11)
    narrow = rng.normal(0, 1, 300)
    wide = rng.normal(0, 4, 300)
    rows = [("n", float(v)) for v in narrow] + [
        ("w", float(v)) for v in wide
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = ansari_bradley(df, "g", "v", "n", "w").collect()[0]
    # narrow group concentrates near the center -> high AB scores -> z > 0
    assert r["z"] > 5 and r["p_normal"] < 1e-6
    assert r["n_a"] == 300 and r["n_b"] == 300


def test_fisher_exact_vs_exact_comb(spark):
    """fisher_exact against an exact math.comb enumeration of the
    hypergeometric support (tea-test 2x2 plus an asymmetric table),
    including the point-probability two-sided rule."""
    from math import comb

    from padua_spark.operators.stats import fisher_exact

    def ref(a, b, c, d):
        r1, r2, c1 = a + b, c + d, a + c
        n = r1 + r2
        lo, hi = max(0, c1 - r2), min(r1, c1)
        den = comb(n, c1)
        pmf = {i: comb(r1, i) * comb(r2, c1 - i) / den
               for i in range(lo, hi + 1)}
        pa = pmf[a]
        return (
            sum(p for i, p in pmf.items() if i <= a),
            sum(p for i, p in pmf.items() if i >= a),
            sum(p for p in pmf.values() if p <= pa * (1 + 1e-7)),
        )

    for a, b, c, d in [(3, 1, 1, 3), (7, 2, 5, 11), (1, 9, 11, 3)]:
        rows = (
            [(1, 1)] * a + [(1, 0)] * b + [(0, 1)] * c + [(0, 0)] * d
        )
        df = spark.createDataFrame(rows, ["e", "o"])
        r = fisher_exact(df, "e", "o").collect()[0]
        pl, pr, pt = ref(a, b, c, d)
        assert r["p_left"] == pytest.approx(min(pl, 1.0), abs=2e-6)
        assert r["p_right"] == pytest.approx(min(pr, 1.0), abs=2e-6)
        assert r["p_two"] == pytest.approx(min(pt, 1.0), abs=2e-6)


def test_fisher_exact_support_guard(spark):
    """The bounded-support contract raises (naming the bound) when the
    hypergeometric support exceeds max_support, and opts out with
    None."""
    from padua_spark.operators.stats import fisher_exact

    rows = (
        [(1, 1)] * 30 + [(1, 0)] * 30 + [(0, 1)] * 30 + [(0, 0)] * 30
    )
    df = spark.createDataFrame(rows, ["e", "o"])
    with pytest.raises(Exception, match="max_support"):
        fisher_exact(df, "e", "o", max_support=10).collect()
    r = fisher_exact(df, "e", "o", max_support=None).collect()[0]
    assert r["p_two"] == pytest.approx(1.0, abs=1e-6)


def test_cramers_v_hand_computed(spark):
    """Raw V equals sqrt(chi2/(N*min(r-1,c-1))) on a hand 2x2; the
    Bergsma correction shrinks it; a constant column yields NULL."""
    import numpy as np

    from padua_spark.operators.stats import cramers_v

    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20
        + [("b", "x")] * 30 + [("b", "y")] * 5
    )
    df = spark.createDataFrame(rows, ["u", "w"])
    obs = np.array([[10, 20], [30, 5]], dtype=float)
    n = obs.sum()
    exp = np.outer(obs.sum(1), obs.sum(0)) / n
    chi2 = ((obs - exp) ** 2 / exp).sum()
    raw = cramers_v(df, "u", "w", bias_corrected=False).collect()[0]
    assert raw["chi2"] == pytest.approx(chi2, abs=1e-5)
    assert raw["cramers_v"] == pytest.approx(
        float(np.sqrt(chi2 / n)), abs=1e-6
    )
    corr = cramers_v(df, "u", "w").collect()[0]
    assert corr["cramers_v"] < raw["cramers_v"]
    const = spark.createDataFrame(
        [("a", "x")] * 5, ["u", "w"]
    )
    assert cramers_v(const, "u", "w").collect()[0]["cramers_v"] is None


def test_concordance_ccc_vs_numpy(spark):
    """CCC, r and C_b against the direct numpy moment formulas; a
    perfect-agreement column gives CCC = 1."""
    import numpy as np

    from padua_spark.operators.stats import concordance_ccc

    x = np.array([1.0, 2, 3, 4, 5, 7, 9])
    y = np.array([1.2, 1.9, 3.4, 3.8, 5.3, 6.6, 9.5])
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], ["x", "y"]
    )
    r = concordance_ccc(df, "x", "y").collect()[0]
    vx, vy = x.var(), y.var()
    cxy = ((x - x.mean()) * (y - y.mean())).mean()
    ccc = 2 * cxy / (vx + vy + (x.mean() - y.mean()) ** 2)
    assert r["ccc"] == pytest.approx(ccc, abs=1e-6)
    assert r["pearson_r"] == pytest.approx(
        cxy / np.sqrt(vx * vy), abs=1e-6
    )
    assert r["ccc"] == pytest.approx(
        r["pearson_r"] * r["c_b"], abs=1e-5
    )
    same = concordance_ccc(
        df.select("x", F.col("x").alias("y2")), "x", "y2"
    ).collect()[0]
    assert same["ccc"] == pytest.approx(1.0, abs=1e-9)


def test_fleiss_kappa_hand_and_guard(spark):
    """Fleiss' kappa against the hand-computed two-item example;
    perfect agreement gives kappa = 1; varying rater counts raise
    naming the bound, and require_constant_n=False proceeds."""
    from padua_spark.operators.stats import fleiss_kappa

    rows = [
        (1, "a"), (1, "a"), (1, "b"),
        (2, "b"), (2, "b"), (2, "b"),
    ]
    df = spark.createDataFrame(rows, ["item", "cat"])
    r = fleiss_kappa(df, "item", "cat").collect()[0]
    # n=3, N=2: P1=1/3, P2=1, Pbar=2/3; p_a=1/3, p_b=2/3, Pe=5/9
    assert r["kappa"] == pytest.approx((2 / 3 - 5 / 9) / (1 - 5 / 9),
                                       abs=1e-6)
    perfect = spark.createDataFrame(
        [(1, "a")] * 3 + [(2, "b")] * 3, ["item", "cat"]
    )
    assert fleiss_kappa(perfect, "item", "cat").collect()[0][
        "kappa"
    ] == pytest.approx(1.0, abs=1e-9)
    uneven = spark.createDataFrame(
        rows + [(1, "a")], ["item", "cat"]
    )
    with pytest.raises(ValueError, match="constant"):
        fleiss_kappa(uneven, "item", "cat")
    ok = fleiss_kappa(
        uneven, "item", "cat", require_constant_n=False
    ).collect()[0]
    # ragged-n form: item1 n=4 (a,a,b,a) P1=(9+1-4)/12=1/2,
    # item2 n=3 (b,b,b) P2=1 -> pbar=3/4; c_a=3,c_b=4, tot=7
    # -> pe=25/49; each item uses its OWN n_i
    assert ok["n_raters"] == 3
    assert ok["p_bar"] == pytest.approx(3 / 4, abs=1e-6)
    assert ok["p_e"] == pytest.approx(25 / 49, abs=1e-6)
    # degenerate ragged case from review: all-same-category items
    # with n=2 and n=10 must stay inside [0,1]/[-1,1]
    deg = spark.createDataFrame(
        [(1, "a")] * 2 + [(2, "a")] * 10, ["item", "cat"]
    )
    d = fleiss_kappa(
        deg, "item", "cat", require_constant_n=False
    ).collect()[0]
    assert d["p_bar"] == pytest.approx(1.0) and d["p_e"] <= 1.0
    # items with a single rating are dropped from both sides
    one = spark.createDataFrame(
        rows + [(1, "a"), (3, "b")], ["item", "cat"]
    )
    o = fleiss_kappa(
        one, "item", "cat", require_constant_n=False
    ).collect()[0]
    assert o["n_items"] == 2
    assert o["p_bar"] == pytest.approx(3 / 4, abs=1e-6)


def test_ljung_box_vs_numpy_reference(spark):
    """Ljung-Box Q against a direct numpy replica of the statsmodels
    acorr_ljungbox formula (biased ACF, full-series mean), and the
    n <= h / constant-series NULL contract."""
    import numpy as np

    from padua_spark.operators.temporal import ljung_box

    rng = np.random.RandomState(11)
    x = np.cumsum(rng.normal(0, 1, 40))  # autocorrelated walk
    rows = [("k", i, float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    h = 4
    r = ljung_box(df, ["k"], ["t"], "v", h).collect()[0]
    mu = x.mean()
    d = x - mu
    sxx = (d * d).sum()
    n = len(x)
    q = 0.0
    for k in range(1, h + 1):
        rk = (d[:-k] * d[k:]).sum() / sxx
        q += rk * rk / (n - k)
    q *= n * (n + 2)
    assert r["n_obs"] == n
    assert r["q_stat"] == pytest.approx(q, abs=1e-4)
    # a strongly autocorrelated walk must reject white noise
    assert r["p_value"] < 1e-6
    short = spark.createDataFrame(
        [("k", i, float(i)) for i in range(4)], ["k", "t", "v"]
    )
    assert ljung_box(short, ["k"], ["t"], "v", 4).collect()[0][
        "q_stat"
    ] is None
    const = spark.createDataFrame(
        [("k", i, 5.0) for i in range(10)], ["k", "t", "v"]
    )
    assert ljung_box(const, ["k"], ["t"], "v", 4).collect()[0][
        "q_stat"
    ] is None


def test_forecast_accuracy_hand_computed(spark):
    """MAE/RMSE/sMAPE/MASE against hand numpy on a lag-forecast
    series: the warm-up NULL forecast is excluded from error means
    but feeds the naive scale; constant series gives NULL mase."""
    import numpy as np

    from padua_spark.operators.temporal import forecast_accuracy

    a = np.array([10.0, 12, 11, 15, 14, 18])
    f = np.array([np.nan, 10, 12, 11, 15, 14])  # naive lag-1
    rows = [
        ("k", i, float(av), None if np.isnan(fv) else float(fv))
        for i, (av, fv) in enumerate(zip(a, f))
    ]
    df = spark.createDataFrame(rows, ["k", "t", "a", "f"])
    r = forecast_accuracy(df, ["k"], ["t"], "a", "f", season=1)
    row = r.collect()[0]
    e = np.abs(a[1:] - f[1:])
    mae = e.mean()
    rmse = np.sqrt(((a[1:] - f[1:]) ** 2).mean())
    smape = (2 * e / (np.abs(a[1:]) + np.abs(f[1:]))).mean()
    scale = np.abs(np.diff(a)).mean()
    assert row["n_obs"] == 6 and row["n_scored"] == 5
    assert row["mae"] == pytest.approx(mae, abs=1e-6)
    assert row["rmse"] == pytest.approx(rmse, abs=1e-6)
    assert row["smape"] == pytest.approx(smape, abs=1e-6)
    # lag-1 forecast with season=1: mase == 1 by construction
    assert row["mase"] == pytest.approx(mae / scale, abs=1e-6)
    assert row["mase"] == pytest.approx(1.0, abs=1e-6)
    const = spark.createDataFrame(
        [("k", i, 3.0, 3.0) for i in range(5)], ["k", "t", "a", "f"]
    )
    c = forecast_accuracy(
        const, ["k"], ["t"], "a", "f", season=1
    ).collect()[0]
    assert c["mase"] is None and c["mae"] == 0.0


def test_naive_bayes_hand_computed(spark):
    """NB log-posterior against a hand-computed two-class toy model
    (Laplace smoothing, unseen-token fallback, doc priors), plus the
    class-bound guard."""
    import math

    from padua_spark.extensions.text import naive_bayes_token_classify

    train = spark.createDataFrame(
        [
            (1, "spam buy now", "s"),
            (2, "buy cheap now", "s"),
            (3, "meeting notes today", "h"),
        ],
        ["id", "text", "y"],
    )
    score = spark.createDataFrame(
        [(10, "buy now"), (11, "notes today unseen")],
        ["id", "text"],
    )
    out = {
        r["id"]: r
        for r in naive_bayes_token_classify(
            train, score, "text", "y", "id"
        ).collect()
    }
    # vocab: spam buy now cheap meeting notes today -> V=7
    # class h: T=3 tokens; class s: T=6 tokens
    v = 7
    def lp(c, t): return math.log(c + 1) - math.log(t + v)
    s10_s = math.log(2 / 3) + lp(2, 6) + lp(2, 6)  # buy, now in s
    s10_h = math.log(1 / 3) + lp(0, 3) + lp(0, 3)
    assert out[10]["predicted"] == "s"
    assert out[10]["best_logp"] == pytest.approx(s10_s, abs=1e-5)
    s11_h = math.log(1 / 3) + lp(1, 3) + lp(1, 3) + lp(0, 3)
    assert out[11]["predicted"] == "h"
    assert out[11]["best_logp"] == pytest.approx(s11_h, abs=1e-5)
    with pytest.raises(ValueError, match="classes"):
        naive_bayes_token_classify(
            train, score, "text", "y", "id", max_classes=1
        )


def test_confusion_stats_hand_computed(spark):
    """Confusion cells and derived metrics against sklearn-style hand
    values; degenerate all-one-class group yields NULL ratios."""
    import math

    from padua_spark.extensions.quality import confusion_stats

    rows = (
        [("g", 1, 1)] * 6 + [("g", 1, 0)] * 2
        + [("g", 0, 1)] * 3 + [("g", 0, 0)] * 9
    )
    df = spark.createDataFrame(rows, ["g", "p", "y"])
    r = confusion_stats(df, ["g"], "p", "y").collect()[0]
    tp, fp, fn, tn = 6, 2, 3, 9
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (tp, fp, fn, tn)
    assert r["precision"] == pytest.approx(tp / (tp + fp), abs=1e-6)
    assert r["recall"] == pytest.approx(tp / (tp + fn), abs=1e-6)
    assert r["f1"] == pytest.approx(
        2 * tp / (2 * tp + fp + fn), abs=1e-6
    )
    mcc = (tp * tn - fp * fn) / math.sqrt(
        (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    )
    assert r["mcc"] == pytest.approx(mcc, abs=1e-6)
    degen = spark.createDataFrame(
        [("g", 1, 1)] * 4, ["g", "p", "y"]
    )
    d = confusion_stats(degen, ["g"], "p", "y").collect()[0]
    assert d["mcc"] is None and d["accuracy"] == 1.0


def test_group_average_precision_hand_computed(spark):
    """AP against the hand-stepped PR sum, including the deterministic
    id tiebreak under tied scores and the no-positive NULL."""
    from padua_spark.extensions.quality import group_average_precision

    # ranking by score desc, id asc: y = [1, 0, 1, 1, 0]
    rows = [
        ("g", 5.0, 1, 1),
        ("g", 4.0, 0, 2),
        ("g", 3.0, 1, 3),
        ("g", 3.0, 1, 4),   # tie with id 3: id 3 first
        ("g", 1.0, 0, 5),
    ]
    df = spark.createDataFrame(rows, ["g", "s", "y", "id"])
    r = group_average_precision(df, ["g"], "s", "y", "id").collect()[0]
    ap = (1 / 1 + 2 / 3 + 3 / 4) / 3
    assert r["average_precision"] == pytest.approx(ap, abs=1e-6)
    assert r["n"] == 5 and r["n_pos"] == 3
    nopos = spark.createDataFrame(
        [("g", 1.0, 0, 1)], ["g", "s", "y", "id"]
    )
    assert group_average_precision(
        nopos, ["g"], "s", "y", "id"
    ).collect()[0]["average_precision"] is None


def test_cuped_adjusted_vs_numpy(spark):
    """CUPED theta, adjusted means and variance reduction against a
    direct numpy replica; adjustment preserves the overall mean up to
    randomization balance and reduces variance when y ~ x."""
    import numpy as np

    from padua_spark.operators.stats import cuped_adjusted

    rng = np.random.RandomState(3)
    x = rng.normal(10, 3, 400)
    y = 2.0 * x + rng.normal(0, 1, 400)
    v = (np.arange(400) % 2).astype(int)
    y[v == 1] += 0.5
    rows = [
        (int(a), float(b), float(c)) for a, b, c in zip(v, y, x)
    ]
    df = spark.createDataFrame(rows, ["variant", "y", "x"])
    out = {
        r["variant"]: r
        for r in cuped_adjusted(df, "variant", "y", "x").collect()
    }
    theta = np.cov(y, x, bias=True)[0, 1] / x.var()
    xbar = x.mean()
    for g in (0, 1):
        yy, xx = y[v == g], x[v == g]
        adj = yy - theta * (xx - xbar)
        assert out[g]["mean_raw"] == pytest.approx(
            yy.mean(), abs=1e-5
        )
        assert out[g]["mean_adjusted"] == pytest.approx(
            adj.mean(), abs=1e-5
        )
        assert out[g]["var_adjusted"] == pytest.approx(
            adj.var(ddof=1), abs=1e-4
        )
        assert out[g]["var_reduction"] > 0.9


def test_hits_vs_numpy_power_iteration(spark):
    """HITS hub/authority scores equal a numpy power-iteration replica
    at k=3 on a small bipartite graph (L2-normalized each half-step)."""
    import numpy as np

    from padua_spark.extensions.graph import hits

    edges = [
        ("u1", "a"), ("u1", "b"), ("u2", "b"),
        ("u3", "b"), ("u3", "c"),
    ]
    df = spark.createDataFrame(edges, ["s", "d"])
    out = {
        (r["role"], r["node"]): r["score"]
        for r in hits(df, "s", "d", k_iters=3).collect()
    }
    srcs = sorted({s for s, _ in edges})
    dsts = sorted({d for _, d in edges})
    A = np.zeros((len(srcs), len(dsts)))
    for s_, d_ in edges:
        A[srcs.index(s_), dsts.index(d_)] = 1
    h = np.ones(len(srcs))
    for _ in range(3):
        a = A.T @ h
        a /= np.linalg.norm(a)
        h = A @ a
        h /= np.linalg.norm(h)
    for i, s_ in enumerate(srcs):
        assert out[("hub", s_)] == pytest.approx(h[i], abs=1e-5)
    for i, d_ in enumerate(dsts):
        assert out[("authority", d_)] == pytest.approx(a[i], abs=1e-5)
    # the most-linked authority ranks first
    assert out[("authority", "b")] == max(
        out[k] for k in out if k[0] == "authority"
    )


def test_item_similarity_hand_computed(spark):
    """Binary-incidence cosine on a hand basket set; sub-support pairs
    pruned; mega-basket bound excludes a degenerate basket."""
    from padua_spark.extensions.mining import item_similarity

    rows = [
        (1, "a"), (1, "b"), (2, "a"), (2, "b"),
        (3, "a"), (3, "c"), (4, "c"), (4, "b"),
    ]
    df = spark.createDataFrame(rows, ["b", "i"])
    out = item_similarity(df, "b", "i", min_support_count=2).collect()
    assert len(out) == 1  # only (a,b) co-occurs twice
    r = out[0]
    assert (r["item_a"], r["item_b"], r["pair_count"]) == ("a", "b", 2)
    assert r["cosine"] == pytest.approx(2 / 3, abs=1e-6)
    # a 3-item basket excluded by max_basket_items=2 contributes no pairs
    big = rows + [(9, "a"), (9, "b"), (9, "c")]
    dfb = spark.createDataFrame(big, ["b", "i"])
    out2 = item_similarity(
        dfb, "b", "i", min_support_count=2, max_basket_items=2
    ).collect()
    assert {(r["item_a"], r["item_b"], r["pair_count"])
            for r in out2} == {("a", "b", 2)}


def test_readability_hand_computed(spark):
    """Word/sentence/syllable counts and both scores on hand text; the
    vowel-less token floor; sentence floor at 1."""
    from padua_spark.extensions.text import readability_scores

    df = spark.createDataFrame(
        [(1, "The cat sat. It was happy!"), (2, "xyz 123")],
        ["id", "text"],
    )
    out = {r["id"]: r for r in readability_scores(df, "id", "text").collect()}
    r1 = out[1]
    assert (r1["n_words"], r1["n_sentences"], r1["n_syllables"]) == (6, 2, 7)
    w, s_, y = 6.0, 2.0, 7.0
    assert r1["flesch"] == pytest.approx(
        206.835 - 1.015 * (w / s_) - 84.6 * (y / w), abs=1e-5
    )
    assert r1["fk_grade"] == pytest.approx(
        0.39 * (w / s_) + 11.8 * (y / w) - 15.59, abs=1e-5
    )
    r2 = out[2]
    # "xyz" has a y-group, "123" is vowel-less (floor 1); no sentence
    # punctuation -> sentence floor 1
    assert (r2["n_words"], r2["n_sentences"], r2["n_syllables"]) == (2, 1, 2)


def test_partial_correlation_vs_numpy(spark):
    """Partial r against the numpy three-correlation closed form, and
    the degenerate perfectly-explained NULL."""
    import math

    import numpy as np

    from padua_spark.operators.stats import partial_correlation

    rng = np.random.RandomState(5)
    z = rng.normal(0, 1, 200)
    x = 2 * z + rng.normal(0, 1, 200)
    y = -z + 0.3 * x + rng.normal(0, 1, 200)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)],
        ["x", "y", "z"],
    )
    r = partial_correlation(df, "x", "y", "z").collect()[0]

    def pear(a, b):
        return float(np.corrcoef(a, b)[0, 1])

    rxy, rxz, ryz = pear(x, y), pear(x, z), pear(y, z)
    ref = (rxy - rxz * ryz) / math.sqrt(
        (1 - rxz ** 2) * (1 - ryz ** 2)
    )
    assert r["partial_r"] == pytest.approx(ref, abs=1e-5)
    assert r["r_xy"] == pytest.approx(rxy, abs=1e-5)
    # z == x exactly: r_xz = 1, denominator vanishes
    degen = spark.createDataFrame(
        [(float(a), float(b), float(a)) for a, b in zip(x, y)],
        ["x", "y", "z"],
    )
    assert partial_correlation(degen, "x", "y", "z").collect()[0][
        "partial_r"
    ] is None


def test_theils_u_hand_computed(spark):
    """Both directional U's and the symmetric form against hand
    entropies on a 2x2; independence gives U = 0."""
    import math

    from padua_spark.operators.stats import theils_u

    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20
        + [("b", "x")] * 30 + [("b", "y")] * 5
    )
    df = spark.createDataFrame(rows, ["u", "w"])
    r = theils_u(df, "u", "w").collect()[0]
    pa = {"a": 30 / 65, "b": 35 / 65}
    pb = {"x": 40 / 65, "y": 25 / 65}
    pj = {("a", "x"): 10 / 65, ("a", "y"): 20 / 65,
          ("b", "x"): 30 / 65, ("b", "y"): 5 / 65}
    mi = sum(
        p * math.log(p / (pa[k[0]] * pb[k[1]]))
        for k, p in pj.items()
    )
    ha = -sum(p * math.log(p) for p in pa.values())
    hb = -sum(p * math.log(p) for p in pb.values())
    assert r["mi"] == pytest.approx(mi, abs=1e-6)
    assert r["u_a_given_b"] == pytest.approx(mi / ha, abs=1e-6)
    assert r["u_b_given_a"] == pytest.approx(mi / hb, abs=1e-6)
    assert r["u_symmetric"] == pytest.approx(
        2 * mi / (ha + hb), abs=1e-6
    )
    indep = spark.createDataFrame(
        [("a", "x")] * 4 + [("a", "y")] * 4
        + [("b", "x")] * 4 + [("b", "y")] * 4,
        ["u", "w"],
    )
    assert theils_u(indep, "u", "w").collect()[0][
        "u_symmetric"
    ] == pytest.approx(0.0, abs=1e-9)


def test_kendalls_w_hand_computed(spark):
    """W against the direct no-tie formula 12S/(m^2(k^3-k)); perfect
    agreement gives W = 1."""
    from padua_spark.operators.stats import kendalls_w

    ranks = {
        "r1": {"i1": 1, "i2": 2, "i3": 3, "i4": 4},
        "r2": {"i1": 2, "i2": 1, "i3": 3, "i4": 4},
        "r3": {"i1": 1, "i2": 3, "i3": 2, "i4": 4},
    }
    rows = [
        (b, i, float(v))
        for b, d in ranks.items()
        for i, v in d.items()
    ]
    df = spark.createDataFrame(rows, ["b", "t", "v"])
    r = kendalls_w(df, "b", "t", "v").collect()[0]
    rj = {}
    for d in ranks.values():
        for i, v in d.items():
            rj[i] = rj.get(i, 0) + v
    m, k = 3, 4
    s_ = sum((x - m * (k + 1) / 2) ** 2 for x in rj.values())
    w = 12 * s_ / (m * m * (k ** 3 - k))
    assert r["kendalls_w"] == pytest.approx(w, abs=1e-6)
    perfect = spark.createDataFrame(
        [(b, i, float(j)) for b in "pq" for j, i in
         enumerate(["i1", "i2", "i3"])],
        ["b", "t", "v"],
    )
    assert kendalls_w(perfect, "b", "t", "v").collect()[0][
        "kendalls_w"
    ] == pytest.approx(1.0, abs=1e-9)


def test_page_trend_hand_computed(spark):
    """Perfect increasing trend hits the maximum L = m*sum(j*j) with
    the textbook z; k<3 raises."""
    import math

    from padua_spark.operators.stats import page_trend_test

    rows = [
        (b, t, float(j))
        for b in range(6)
        for j, t in enumerate(["t1", "t2", "t3"])
    ]
    df = spark.createDataFrame(rows, ["b", "t", "v"])
    r = page_trend_test(
        df, "b", "t", "v", ["t1", "t2", "t3"]
    ).collect()[0]
    m, k = 6, 3
    l_max = m * sum((j + 1) ** 2 for j in range(k))
    assert r["page_l"] == pytest.approx(l_max, abs=1e-9)
    e_l = m * k * (k + 1) ** 2 / 4
    var_l = m * (k ** 3 - k) ** 2 / (144 * (k - 1))
    assert r["z"] == pytest.approx(
        (l_max - e_l) / math.sqrt(var_l), abs=1e-5
    )
    assert r["p_value"] < 0.001
    with pytest.raises(ValueError, match="at least 3"):
        page_trend_test(df, "b", "t", "v", ["t1", "t2"])


def test_ddsketch_relative_error_bound_and_merge(spark):
    """DDSketch estimates stay within the alpha relative-error
    guarantee against the exact quantile at the sketch's rank
    convention on a lognormal spanning decades; sharded counts
    unioned re-merge to the identical estimate; zero-bucket ranks
    report 0.0."""
    import numpy as np

    from padua_spark.extensions.sketches import (
        ddsketch_counts,
        ddsketch_quantiles,
    )

    rng = np.random.RandomState(9)
    vals = np.exp(rng.normal(3, 2, 20000))
    rows = [("g", float(v)) for v in vals] + [("g", 0.0)] * 50
    df = spark.createDataFrame(rows, ["g", "v"])
    alpha = 0.01
    c = ddsketch_counts(df, ["g"], "v", alpha)
    res = {
        r["q"]: r["estimate"]
        for r in ddsketch_quantiles(
            c, ["g"], [0.5, 0.9, 0.99], alpha
        ).collect()
    }
    sv = np.sort(np.concatenate([vals, np.zeros(50)]))
    for q in (0.5, 0.9, 0.99):
        exact = sv[int(np.ceil(q * (len(sv) - 1)))]
        assert abs(res[q] - exact) / exact <= alpha + 1e-9, (q, res[q], exact)
    half = len(rows) // 2
    d1 = spark.createDataFrame(rows[:half], ["g", "v"])
    d2 = spark.createDataFrame(rows[half:], ["g", "v"])
    cu = ddsketch_counts(d1, ["g"], "v", alpha).unionByName(
        ddsketch_counts(d2, ["g"], "v", alpha)
    )
    merged = {
        r["q"]: r["estimate"]
        for r in ddsketch_quantiles(
            cu, ["g"], [0.5, 0.9, 0.99], alpha
        ).collect()
    }
    assert merged == res
    zr = [("z", 0.0)] * 90 + [("z", 5.0)] * 10
    dz = spark.createDataFrame(zr, ["g", "v"])
    qz = ddsketch_quantiles(
        ddsketch_counts(dz, ["g"], "v", alpha), ["g"], [0.5], alpha
    ).collect()[0]
    assert qz["estimate"] == 0.0
    with pytest.raises(ValueError, match="relative_accuracy"):
        ddsketch_counts(df, ["g"], "v", 1.5)


def test_holt_winters_vs_python_replica(spark):
    """Holt-Winters additive fit against a step-by-step Python
    replica of the documented recursion and init, the n < 2m drop
    contract, and the bounded-series guard."""
    import numpy as np

    from padua_spark.operators.temporal import holt_winters_forecast

    m, alpha, beta, gamma = 4, 0.5, 0.25, 0.5
    rng = np.random.RandomState(2)
    season = [5.0, -2.0, 0.0, -3.0]
    xs = [
        10 + 0.5 * t + season[t % m] + rng.normal(0, 0.2)
        for t in range(20)
    ]
    rows = [("k", t, float(v)) for t, v in enumerate(xs)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    r = holt_winters_forecast(
        df, ["k"], ["t"], "v", period=m, horizon=1
    ).collect()[0]
    l = sum(xs[:m]) / m
    b = (sum(xs[m:2 * m]) / m - l) / m
    sl = [x - l for x in xs[:m]]
    t = 2 * m
    for x in xs[2 * m:]:
        p = t % m
        sp = sl[p]
        lnew = alpha * (x - sp) + (1 - alpha) * (l + b)
        bnew = beta * (lnew - l) + (1 - beta) * b
        sl[p] = gamma * (x - lnew) + (1 - gamma) * sp
        l, b = lnew, bnew
        t += 1
    pf = t % m
    assert r["level"] == pytest.approx(l, abs=1e-6)
    assert r["trend"] == pytest.approx(b, abs=1e-6)
    assert r["seasonal_next"] == pytest.approx(sl[pf], abs=1e-6)
    assert r["forecast"] == pytest.approx(l + b + sl[pf], abs=1e-6)
    # the seasonal component is actually learned: phase-1 seasonal
    # is near +5 (the planted wave), not near zero
    assert 4.0 < r["seasonal_next"] < 6.0
    short = spark.createDataFrame(rows[:7], ["k", "t", "v"])
    assert holt_winters_forecast(
        short, ["k"], ["t"], "v", period=m
    ).count() == 0
    with pytest.raises(ValueError, match="max_series_length"):
        holt_winters_forecast(
            df, ["k"], ["t"], "v", period=m, max_series_length=5
        )
    with pytest.raises(ValueError, match="period"):
        holt_winters_forecast(df, ["k"], ["t"], "v", period=1)


def _rankdata_avg(a):
    import numpy as np

    a = np.asarray(a, dtype=float)
    order = np.argsort(a, kind="mergesort")
    sa = a[order]
    out = np.empty(len(a))
    i = 0
    while i < len(a):
        j = i
        while j + 1 < len(a) and sa[j + 1] == sa[i]:
            j += 1
        avg = (i + j + 2) / 2.0
        for k2 in range(i, j + 1):
            out[order[k2]] = avg
        i = j + 1
    return out


def test_brunner_munzel_vs_scipy_replica(spark):
    """W statistic and Welch-Satterthwaite df against a numpy replica
    of scipy.stats.brunnermunzel (midranks, within-group ranks),
    including ties."""
    import numpy as np

    from padua_spark.operators.stats import brunner_munzel

    rng = np.random.RandomState(7)
    x = rng.normal(0, 1, 30)
    y = rng.normal(0.4, 2.5, 24)
    x[0] = y[0] = 0.5
    rows = [("a", float(v)) for v in x] + [("b", float(v)) for v in y]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = brunner_munzel(df, "g", "v", "a", "b").collect()[0]
    nx, ny = len(x), len(y)
    rankc = _rankdata_avg(np.concatenate([x, y]))
    rcx, rcy = rankc[:nx], rankc[nx:]
    rx, ry = _rankdata_avg(x), _rankdata_avg(y)
    sx = np.sum(
        (rcx - rx - rcx.mean() + (nx + 1) / 2) ** 2
    ) / (nx - 1)
    sy = np.sum(
        (rcy - ry - rcy.mean() + (ny + 1) / 2) ** 2
    ) / (ny - 1)
    w = nx * ny * (rcy.mean() - rcx.mean()) / (
        (nx + ny) * np.sqrt(nx * sx + ny * sy)
    )
    dfree = (nx * sx + ny * sy) ** 2 / (
        (nx * sx) ** 2 / (nx - 1) + (ny * sy) ** 2 / (ny - 1)
    )
    assert r["w_stat"] == pytest.approx(w, abs=1e-5)
    assert r["df"] == pytest.approx(dfree, abs=1e-4)
    from padua_spark.functions.distributions import student_t_sf

    assert r["p_value"] == pytest.approx(
        float(student_t_sf(w, dfree)), abs=1e-5
    )


def test_quade_vs_direct_formula(spark):
    """Quade F against the direct Conover computation (within-block
    midranks, range-midrank block weights) on a 6x3 layout."""
    import numpy as np

    from padua_spark.operators.stats import quade_test

    data = [
        [31, 27, 24], [31, 28, 31], [45, 29, 46],
        [21, 18, 48], [42, 36, 46], [32, 17, 40],
    ]
    rows = [
        (i, f"t{j}", float(v))
        for i, row in enumerate(data)
        for j, v in enumerate(row)
    ]
    df = spark.createDataFrame(rows, ["b", "t", "v"])
    r = quade_test(df, "b", "t", "v").collect()[0]
    arr = np.asarray(data, dtype=float)
    n, k = arr.shape
    rk = np.array([_rankdata_avg(row) for row in arr])
    q = _rankdata_avg(arr.max(1) - arr.min(1))
    s_ = q[:, None] * (rk - (k + 1) / 2.0)
    a_ = (s_ ** 2).sum()
    b_ = (s_.sum(0) ** 2).sum() / n
    f_ = (n - 1) * b_ / (a_ - b_)
    assert r["quade_f"] == pytest.approx(f_, abs=1e-5)
    assert (r["df1"], r["df2"]) == (k - 1, (n - 1) * (k - 1))
    assert 0 < r["p_value"] < 1


def test_krippendorff_alpha_pair_enumeration(spark):
    """Alpha against explicit pair-disagreement rates on a ragged
    rating set; single-rating items drop; perfect agreement gives 1."""
    from padua_spark.operators.stats import krippendorff_alpha

    rows = [
        (1, "x"), (1, "x"),
        (2, "y"), (2, "y"), (2, "y"),
        (3, "x"), (3, "y"),
        (4, "x"),  # single rating: excluded
    ]
    df = spark.createDataFrame(rows, ["i", "c"])
    r = krippendorff_alpha(df, "i", "c").collect()[0]
    items = {1: ["x", "x"], 2: ["y", "y", "y"], 3: ["x", "y"]}
    ntot = sum(len(v) for v in items.values())
    d_o = sum(
        sum(vs.count(c) * (len(vs) - vs.count(c)) for c in set(vs))
        / (len(vs) - 1)
        for vs in items.values()
    ) / ntot
    vals = [c for vs in items.values() for c in vs]
    nc = {c: vals.count(c) for c in set(vals)}
    d_e = sum(v * (ntot - v) for v in nc.values()) / (
        ntot * (ntot - 1)
    )
    assert r["n_items"] == 3 and r["n_ratings"] == 7
    assert r["d_o"] == pytest.approx(d_o, abs=1e-6)
    assert r["d_e"] == pytest.approx(d_e, abs=1e-6)
    assert r["alpha"] == pytest.approx(1 - d_o / d_e, abs=1e-6)
    perfect = spark.createDataFrame(
        [(1, "x")] * 3 + [(2, "y")] * 3, ["i", "c"]
    )
    assert krippendorff_alpha(perfect, "i", "c").collect()[0][
        "alpha"
    ] == pytest.approx(1.0, abs=1e-9)


def test_seasonal_decompose_recovers_planted_wave(spark):
    """The 2xm MA decomposition against a numpy replica on a planted
    linear-trend + period-4 wave: exact index recovery, NULL trend at
    the edges, residual zero."""
    import numpy as np

    from padua_spark.operators.temporal import seasonal_decompose

    m = 4
    season = [5.0, -2.0, 0.0, -3.0]
    xs = [10 + 0.5 * t + season[t % m] for t in range(16)]
    rows = [("k", t, float(v)) for t, v in enumerate(xs)]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    out = {
        r["t"]: r
        for r in seasonal_decompose(
            df, ["k"], ["t"], "v", period=m
        ).collect()
    }
    x = np.array(xs)
    n, h = len(x), m // 2
    tr = np.full(n, np.nan)
    for t in range(h, n - h):
        tr[t] = (
            0.5 * x[t - h] + x[t - h + 1:t + h].sum() + 0.5 * x[t + h]
        ) / m
    det = x - tr
    si_raw = [np.nanmean(det[p::m]) for p in range(m)]
    si = np.array(si_raw) - np.mean(si_raw)
    for t in range(n):
        r = out[t]
        if np.isnan(tr[t]):
            assert r["trend"] is None
        else:
            assert r["trend"] == pytest.approx(tr[t], abs=1e-6)
            assert r["seasonal"] == pytest.approx(si[t % m], abs=1e-6)
            assert r["residual"] == pytest.approx(0.0, abs=1e-6)
    with pytest.raises(ValueError, match="period"):
        seasonal_decompose(df, ["k"], ["t"], "v", period=1)


def test_tokenizer_stats_hand_computed(spark):
    """Fertility and compression on hand text: contractions and
    punctuation split into extra BPE pretokens; CJK-free ASCII
    baseline."""
    from padua_spark.extensions.text import tokenizer_stats

    df = spark.createDataFrame(
        [("en", "it's here, ok"), ("en", "plain words")],
        ["lang", "text"],
    )
    r = tokenizer_stats(df, ["lang"], "text").collect()[0]
    # doc1 pretokens: "it" "'s" " here" "," " ok" = 5; ws tokens 3
    # doc2 pretokens: "plain" " words" = 2; ws tokens 2
    assert r["n_docs"] == 2
    assert r["n_ws_tokens"] == 5
    assert r["n_bpe_tokens"] == 7
    assert r["fertility"] == pytest.approx(7 / 5, abs=1e-6)
    assert r["chars_per_token"] == pytest.approx(
        (len("it's here, ok") + len("plain words")) / 7, abs=1e-6
    )


def test_chatterjee_xi_vs_bruteforce(spark, monkeypatch):
    """xi against a brute-force replica of the tie-general formula:
    near 1 on a parabola (where Spearman sees nothing), near 0 on
    independence, exact match under heavy x/y ties on the forced
    distributed path, NULL on constant y."""
    import numpy as np

    import padua_spark.operators.stats as st
    from padua_spark.operators.stats import chatterjee_xi

    def ref(x, y, ids):
        order = sorted(range(len(x)), key=lambda i: (x[i], ids[i]))
        ys = [y[i] for i in order]
        n = len(ys)
        r = [sum(1 for yy in y if yy <= v) for v in ys]
        l_ = [sum(1 for yy in y if yy >= v) for v in ys]
        num = sum(abs(r[i + 1] - r[i]) for i in range(n - 1))
        den = 2 * sum(li * (n - li) for li in l_)
        return 1 - n * num / den

    rng = np.random.RandomState(3)
    x = rng.uniform(-1, 1, 300)
    y = x ** 2
    ids = list(range(300))
    df = spark.createDataFrame(
        [(float(a), float(b), i) for a, b, i in zip(x, y, ids)],
        ["x", "y", "id"],
    )
    r = chatterjee_xi(df, "x", "y", "id").collect()[0]
    assert r["xi"] == pytest.approx(
        ref(list(x), list(y), ids), abs=1e-6
    )
    assert r["xi"] > 0.9
    xt = [float(v) for v in rng.randint(0, 20, 300)]
    yt = [float(v) for v in rng.randint(0, 10, 300)]
    df3 = spark.createDataFrame(
        [(a, b, i) for i, (a, b) in enumerate(zip(xt, yt))],
        ["x", "y", "id"],
    )
    monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", 0)
    r3 = chatterjee_xi(df3, "x", "y", "id").collect()[0]
    assert r3["xi"] == pytest.approx(
        ref(xt, yt, list(range(300))), abs=1e-6
    )
    assert abs(r3["xi"]) < 0.2
    monkeypatch.undo()
    const = spark.createDataFrame(
        [(float(i), 1.0, i) for i in range(10)], ["x", "y", "id"]
    )
    assert chatterjee_xi(const, "x", "y", "id").collect()[0][
        "xi"
    ] is None


def test_breslow_day_vs_bisection(spark):
    """BD chi2 (with and without Tarone) against a bisection solve of
    the per-stratum expected cell under the MH common OR, on psi>1
    and psi<1 tables."""
    from padua_spark.operators.stats import breslow_day

    def ref(tables, tarone=True):
        sr = sum(a * d / (a + b + c + d) for a, b, c, d in tables)
        ss = sum(b * c / (a + b + c + d) for a, b, c, d in tables)
        psi = sr / ss
        x2 = dev = vs = 0.0
        for a, b, c, d in tables:
            n1, n0, m1 = a + b, c + d, a + c
            lo, hi = max(0.0, m1 - n0), min(n1, m1)
            lo, hi = lo + 1e-12, hi - 1e-12

            def f(t):
                return (t * (n0 - m1 + t)) / (
                    (n1 - t) * (m1 - t)
                ) - psi

            for _ in range(200):
                m = (lo + hi) / 2
                if f(m) > 0:
                    hi = m
                else:
                    lo = m
            ae = (lo + hi) / 2
            vinv = (
                1 / ae + 1 / (n1 - ae) + 1 / (m1 - ae)
                + 1 / (n0 - m1 + ae)
            )
            x2 += (a - ae) ** 2 * vinv
            dev += a - ae
            vs += 1 / vinv
        return psi, (x2 - dev ** 2 / vs) if tarone else x2

    for tables in (
        [(10, 20, 15, 40), (8, 5, 12, 20), (30, 10, 22, 18)],
        [(20, 10, 40, 15), (5, 8, 20, 12), (10, 30, 18, 22)],
    ):
        rows = []
        for s_, (a, b, c, d) in enumerate(tables):
            rows += (
                [(s_, 1, 1)] * a + [(s_, 1, 0)] * b
                + [(s_, 0, 1)] * c + [(s_, 0, 0)] * d
            )
        df = spark.createDataFrame(rows, ["s", "e", "o"])
        ft = [tuple(map(float, t)) for t in tables]
        psi, x2 = ref(ft)
        r = breslow_day(df, ["s"], "e", "o").collect()[0]
        assert r["or_mh"] == pytest.approx(psi, abs=1e-5)
        assert r["bd_chi2"] == pytest.approx(x2, abs=1e-4)
        _, x2nt = ref(ft, tarone=False)
        rnt = breslow_day(
            df, ["s"], "e", "o", tarone=False
        ).collect()[0]
        assert rnt["bd_chi2"] == pytest.approx(x2nt, abs=1e-4)


def test_yuen_test_vs_numpy(spark, monkeypatch):
    """Yuen t, df and trimmed means against a numpy sort-based
    replica with outliers and ties, on both ECDF paths; trim
    bounds validated; the outliers must NOT move the trimmed means."""
    import numpy as np

    import padua_spark.operators.stats as st
    from padua_spark.operators.stats import yuen_test

    rng = np.random.RandomState(4)
    x = np.concatenate([rng.normal(0, 1, 40), [50.0, -60.0]])
    y = np.concatenate([rng.normal(0.8, 2, 35), [100.0]])
    x[1] = x[2] = 0.3
    y[3] = y[4] = y[5] = 1.1

    def fit(a, trim=0.2):
        a = np.sort(np.asarray(a, dtype=float))
        n = len(a)
        g = int(np.floor(trim * n))
        tm = a[g:n - g].mean()
        w = np.clip(a, a[g], a[n - g - 1])
        sw2 = w.var(ddof=1)
        h = n - 2 * g
        return tm, (n - 1) * sw2 / (h * (h - 1)), h

    ta, da, ha = fit(x)
    tb, db, hb = fit(y)
    t = (ta - tb) / np.sqrt(da + db)
    dfree = (da + db) ** 2 / (
        da ** 2 / (ha - 1) + db ** 2 / (hb - 1)
    )
    rows = [("a", float(v)) for v in x] + [("b", float(v)) for v in y]
    df = spark.createDataFrame(rows, ["g", "v"])
    for thresh in (st.SMALL_ECDF_DOMAIN, 0):
        monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", thresh)
        r = yuen_test(df, "g", "v", "a", "b").collect()[0]
        assert r["trimmed_mean_a"] == pytest.approx(ta, abs=1e-6)
        assert r["trimmed_mean_b"] == pytest.approx(tb, abs=1e-6)
        assert r["t_stat"] == pytest.approx(t, abs=1e-5)
        assert r["df"] == pytest.approx(dfree, abs=1e-4)
    from padua_spark.functions.distributions import student_t_sf

    assert r["p_value"] == pytest.approx(
        float(student_t_sf(t, dfree)), abs=1e-5
    )
    assert abs(r["trimmed_mean_a"]) < 1.0  # 50/-60 trimmed away
    with pytest.raises(ValueError, match="trim"):
        yuen_test(df, "g", "v", "a", "b", trim=0.6)


def test_exact_binomial_family_vs_comb(spark):
    """binom_test_exact / mcnemar_exact / poisson_rate_test against a
    math.comb enumeration; the support guard raises above bound."""
    from math import comb

    from padua_spark.operators.stats import (
        binom_test_exact,
        mcnemar_exact,
        poisson_rate_test,
    )

    def ref(n, k, p0):
        pmf = [
            comb(n, i) * p0 ** i * (1 - p0) ** (n - i)
            for i in range(n + 1)
        ]
        pa = pmf[k]
        return (
            sum(pmf[: k + 1]),
            sum(pmf[k:]),
            sum(p for p in pmf if p <= pa * (1 + 1e-7)),
        )

    rows = [(True,)] * 13 + [(False,)] * 47
    df = spark.createDataFrame(rows, ["s"])
    r = binom_test_exact(df, F.col("s"), p0=0.3).collect()[0]
    pl, pr, pt = ref(60, 13, 0.3)
    assert r["p_left"] == pytest.approx(pl, abs=2e-6)
    assert r["p_right"] == pytest.approx(pr, abs=2e-6)
    assert r["p_two"] == pytest.approx(pt, abs=2e-6)
    with pytest.raises(Exception, match="max_support"):
        binom_test_exact(df, F.col("s"), max_support=10).collect()

    prows = (
        [(0, 1)] * 3 + [(1, 0)] * 9 + [(1, 1)] * 10 + [(0, 0)] * 5
    )
    pdf = spark.createDataFrame(prows, ["a", "b"])
    rm = mcnemar_exact(pdf, "a", "b").collect()[0]
    _, _, pt2 = ref(12, 3, 0.5)
    assert rm["p_exact"] == pytest.approx(min(pt2, 1.0), abs=2e-6)
    nod = spark.createDataFrame([(1, 1)] * 4, ["a", "b"])
    assert mcnemar_exact(nod, "a", "b").collect()[0]["p_exact"] == 1.0

    erows = [("a", 1.0, 0.1)] * 20 + [("b", 1.0, 0.125)] * 40
    edf = spark.createDataFrame(erows, ["g", "c", "e"])
    rp = poisson_rate_test(
        edf, "g", "a", "b", count_col="c", exposure_col="e"
    ).collect()[0]
    p0 = 2.0 / 7.0
    _, _, pt3 = ref(60, 20, p0)
    assert rp["rate_ratio"] == pytest.approx(1.25, abs=1e-6)
    assert rp["p_two"] == pytest.approx(pt3, abs=2e-6)


def test_g_test_vs_numpy(spark):
    """G and the Williams-adjusted G against direct numpy on a 2x2;
    G = 2*n*MI_nats identity; independence gives G ~ 0."""
    import numpy as np

    from padua_spark.operators.stats import g_test_independence

    rows = (
        [("a", "x")] * 10 + [("a", "y")] * 20
        + [("b", "x")] * 30 + [("b", "y")] * 5
    )
    df = spark.createDataFrame(rows, ["u", "w"])
    r = g_test_independence(df, "u", "w").collect()[0]
    obs = np.array([[10, 20], [30, 5]], dtype=float)
    n = obs.sum()
    e = np.outer(obs.sum(1), obs.sum(0)) / n
    g = 2 * (obs * np.log(obs / e)).sum()
    ri, cj = obs.sum(1), obs.sum(0)
    q = 1 + (n * (1 / ri).sum() - 1) * (n * (1 / cj).sum() - 1) / (
        6 * n
    )
    assert r["g_stat"] == pytest.approx(g, abs=1e-5)
    assert r["g_adjusted"] == pytest.approx(g / q, abs=1e-5)
    assert r["dfree"] == 1.0 and 0 < r["p_value"] < 1
    indep = spark.createDataFrame(
        [("a", "x")] * 4 + [("a", "y")] * 4
        + [("b", "x")] * 4 + [("b", "y")] * 4,
        ["u", "w"],
    )
    assert g_test_independence(indep, "u", "w").collect()[0][
        "g_stat"
    ] == pytest.approx(0.0, abs=1e-9)


def test_remove_boilerplate_lines_hand(spark):
    """Cross-doc repeated lines stripped everywhere, empty lines
    preserved in place and never counted as evidence, all-boilerplate
    docs come back empty (not dropped), order preserved."""
    from padua_spark.extensions.dedup import remove_boilerplate_lines

    docs = [
        (1, "BANNER\nreal content one\n\nfooter"),
        (2, "BANNER\nreal content two\nfooter"),
        (3, "BANNER\nunique text here\nfooter"),
        (4, "totally original\n\n"),
        (5, "BANNER\nfooter"),
        (6, None),
    ]
    df = spark.createDataFrame(docs, ["id", "text"])
    out = {
        r["id"]: r
        for r in remove_boilerplate_lines(
            df, "id", "text", max_doc_freq=2
        ).collect()
    }
    assert out[1]["clean_text"] == "real content one\n"
    assert out[2]["clean_text"] == "real content two"
    assert out[4]["clean_text"] == "totally original\n\n"
    assert out[4]["n_lines_removed"] == 0
    assert out[5]["clean_text"] == "" and out[5]["n_lines_kept"] == 0
    assert out[1]["n_lines_removed"] == 2  # BANNER + footer
    # NULL-text documents survive with NULL clean_text (0/0 counts)
    assert 6 in out and out[6]["clean_text"] is None
    assert out[6]["n_lines_kept"] == 0
    assert out[6]["n_lines_removed"] == 0


def test_ks_1samp_vs_numpy(spark):
    """D statistic (both one-sided gaps) against a numpy sorted-ECDF
    replica for uniform and exponential nulls; a grossly misfit null
    drives p to ~0; unsupported dist raises."""
    import numpy as np

    from padua_spark.operators.stats import ks_1samp

    def ref(x, cdf):
        x = np.sort(x)
        n = len(x)
        f0 = cdf(x)
        return max(
            np.abs(np.arange(1, n + 1) / n - f0).max(),
            np.abs(np.arange(0, n) / n - f0).max(),
        )

    rng = np.random.RandomState(8)
    u = rng.uniform(2, 5, 1000)
    df = spark.createDataFrame([(float(v),) for v in u], ["v"])
    r = ks_1samp(df, "v", "uniform", {"a": 2, "b": 5}).collect()[0]
    assert r["d_stat"] == pytest.approx(
        ref(u, lambda t: (t - 2) / 3), abs=1e-6
    )
    assert r["p_value"] > 0.05
    e = rng.exponential(2.0, 1000)
    dfe = spark.createDataFrame([(float(v),) for v in e], ["v"])
    re_ = ks_1samp(
        dfe, "v", "exponential", {"rate": 0.5}
    ).collect()[0]
    assert re_["d_stat"] == pytest.approx(
        ref(e, lambda t: 1 - np.exp(-0.5 * t)), abs=1e-6
    )
    misfit = ks_1samp(
        dfe, "v", "uniform", {"a": 0, "b": 10}
    ).collect()[0]
    assert misfit["p_value"] < 1e-6
    g = rng.normal(3, 2, 1000)
    dfg = spark.createDataFrame([(float(v),) for v in g], ["v"])
    rg = ks_1samp(
        dfg, "v", "normal", {"mean": 3, "std": 2}
    ).collect()[0]
    assert rg["p_value"] > 0.01
    with pytest.raises(ValueError, match="unsupported"):
        ks_1samp(df, "v", "gamma", {})


def test_weibull_fit_km_recovers_parameters(spark):
    """Planted Weibull(k=1.8, lambda=10) with random censoring: the
    probability-plot fit recovers both parameters within a few
    percent with near-1 R^2; a single-point group yields NULLs."""
    import numpy as np

    from padua_spark.operators.stats import weibull_fit_km

    rng = np.random.RandomState(6)
    t = 10.0 * rng.weibull(1.8, 3000)
    cens = rng.uniform(0, 40, 3000)
    dur = np.round(np.minimum(t, cens), 1)
    ev = (t <= cens).astype(int)
    rows = [("g", float(d), int(e)) for d, e in zip(dur, ev)]
    df = spark.createDataFrame(rows, ["g", "dur", "ev"])
    r = weibull_fit_km(df, ["g"], "dur", "ev").collect()[0]
    assert r["shape"] == pytest.approx(1.8, rel=0.05)
    assert r["scale"] == pytest.approx(10.0, rel=0.05)
    assert r["r_squared"] > 0.99
    single = spark.createDataFrame(
        [("g", 5.0, 1), ("g", 5.0, 0)], ["g", "dur", "ev"]
    )
    row = weibull_fit_km(single, ["g"], "dur", "ev").collect()
    assert len(row) <= 1
    if row:
        assert row[0]["shape"] is None


def test_distribution_distances_1d_vs_numpy(spark, monkeypatch):
    """W1 and energy distance against a numpy pooled-ECDF replica
    (scipy.stats.wasserstein_distance's integral form) on both ECDF
    paths; identical samples give exactly 0."""
    import numpy as np

    import padua_spark.operators.stats as st
    from padua_spark.operators.stats import distribution_distances_1d

    def ref(x, y):
        allv = np.sort(np.unique(np.concatenate([x, y])))
        fa = np.searchsorted(np.sort(x), allv, side="right") / len(x)
        fb = np.searchsorted(np.sort(y), allv, side="right") / len(y)
        gaps = np.diff(allv)
        return (
            (np.abs(fa[:-1] - fb[:-1]) * gaps).sum(),
            np.sqrt(2 * ((fa[:-1] - fb[:-1]) ** 2 * gaps).sum()),
        )

    rng = np.random.RandomState(5)
    x = rng.normal(0, 1, 1500)
    y = rng.normal(0.7, 1.4, 1200)
    rows = [("a", float(v)) for v in x] + [("b", float(v)) for v in y]
    df = spark.createDataFrame(rows, ["g", "v"])
    w1, ed = ref(x, y)
    for thresh in (st.SMALL_ECDF_DOMAIN, 0):
        monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", thresh)
        r = distribution_distances_1d(df, "g", "v", "a", "b").collect()[0]
        assert r["wasserstein_1"] == pytest.approx(w1, abs=1e-6)
        assert r["energy_distance"] == pytest.approx(ed, abs=1e-6)
    monkeypatch.undo()
    same = spark.createDataFrame(
        [("a", float(v)) for v in x] + [("b", float(v)) for v in x],
        ["g", "v"],
    )
    z = distribution_distances_1d(
        same, "g", "v", "a", "b"
    ).collect()[0]
    assert z["wasserstein_1"] == 0.0
    assert z["energy_distance"] == 0.0


def test_token_distribution_divergences_hand(spark):
    """JS and Hellinger against a hand Counter replica, including the
    exact q-side mass of tokens absent from a group; identical
    distributions give 0; JS bounded by ln 2."""
    import math
    from collections import Counter

    from padua_spark.extensions.text import (
        token_distribution_divergences,
    )

    docs = [
        ("s1", "a a a b"), ("s1", "a b c"), ("s2", "c c c d d"),
    ]
    df = spark.createDataFrame(docs, ["src", "text"])
    out = {
        r["src"]: r
        for r in token_distribution_divergences(
            df, "src", "text", top_n=10
        ).collect()
    }
    per = {
        "s1": Counter("a a a b a b c".split()),
        "s2": Counter("c c c d d".split()),
    }
    corpus = Counter()
    for c in per.values():
        corpus += c
    n = sum(corpus.values())
    for src, cnt in per.items():
        ns = sum(cnt.values())
        js = hel = 0.0
        for tok, nt in corpus.items():
            p = cnt.get(tok, 0) / ns
            q = nt / n
            m = (p + q) / 2
            if p > 0:
                js += 0.5 * p * math.log(p / m)
            js += 0.5 * q * math.log(q / m)
            hel += math.sqrt(p * q)
        assert out[src]["js_divergence"] == pytest.approx(
            js, abs=1e-6
        )
        assert out[src]["hellinger"] == pytest.approx(
            math.sqrt(max(0, 1 - hel)), abs=1e-6
        )
        assert out[src]["js_divergence"] <= math.log(2) + 1e-9
    same = spark.createDataFrame(
        [("x", "a b c"), ("y", "a b c")], ["src", "text"]
    )
    for r in token_distribution_divergences(
        same, "src", "text", top_n=10
    ).collect():
        assert r["js_divergence"] == pytest.approx(0.0, abs=1e-9)
        assert r["hellinger"] == pytest.approx(0.0, abs=1e-6)
    # tail mass beyond top_n goes into an explicit 'other' bucket on
    # BOTH metrics (review fix: JS used to drop it while Hellinger
    # counted it as total disagreement)
    out2 = {
        r["src"]: r
        for r in token_distribution_divergences(
            df, "src", "text", top_n=2
        ).collect()
    }
    top = ["a", "c"]  # corpus counts a=4, c=4, b=2, d=2; ties by text
    for src, cnt in per.items():
        ns = sum(cnt.values())
        ps = [cnt.get(t, 0) / ns for t in top]
        qs = [corpus[t] / n for t in top]
        ps.append(max(0.0, 1 - sum(ps)))
        qs.append(max(0.0, 1 - sum(qs)))
        js = hel = 0.0
        for p, q in zip(ps, qs):
            m = (p + q) / 2
            if p > 0:
                js += 0.5 * p * math.log(p / m)
            if q > 0:
                js += 0.5 * q * math.log(q / m)
            hel += math.sqrt(p * q)
        assert out2[src]["js_divergence"] == pytest.approx(
            js, abs=1e-6
        )
        assert out2[src]["hellinger"] == pytest.approx(
            math.sqrt(max(0, 1 - hel)), abs=1e-6
        )
    # a group matching the corpus but concentrated in tail tokens no
    # longer shows inflated Hellinger: identical dists -> both ~0
    tail = spark.createDataFrame(
        [("x", "t1 t2 t3 t4"), ("y", "t1 t2 t3 t4")],
        ["src", "text"],
    )
    for r in token_distribution_divergences(
        tail, "src", "text", top_n=2
    ).collect():
        assert r["js_divergence"] == pytest.approx(0.0, abs=1e-9)
        assert r["hellinger"] == pytest.approx(0.0, abs=1e-6)


def test_rfm_segments_vs_replica(spark):
    """Segment grid against a pure-Python replica (exact lower
    quantile boundaries, value-at-boundary takes the lower bucket,
    recency inverted)."""
    import collections
    import math

    import numpy as np

    from padua_spark.extensions.features import rfm_segments

    rng = np.random.RandomState(4)
    rows = []
    for uid in range(150):
        for _ in range(rng.randint(1, 15)):
            rows.append(
                (uid, float(rng.randint(0, 1000)),
                 float(rng.randint(1, 10000)))
            )
    df = spark.createDataFrame(rows, ["u", "ts", "amt"])
    out = {
        (r["r_score"], r["f_score"], r["m_score"]): r
        for r in rfm_segments(df, "u", "ts", "amt").collect()
    }
    agg = collections.defaultdict(lambda: [0.0, 0, 0.0])
    for u, ts, amt in rows:
        a = agg[u]
        a[0] = max(a[0], ts)
        a[1] += 1
        a[2] += amt
    gmax = max(a[0] for a in agg.values())
    users = [
        (gmax - a[0], float(a[1]), a[2]) for a in agg.values()
    ]

    def bounds(vals):
        sv = sorted(vals)
        n = len(sv)
        return [sv[math.ceil(i / 5 * n) - 1] for i in range(1, 5)]

    br = bounds([u[0] for u in users])
    bf = bounds([u[1] for u in users])
    bm = bounds([u[2] for u in users])

    def score(v, b):
        return 1 + sum(1 for x in b if v > x)

    ref = collections.defaultdict(lambda: [0, 0.0])
    for r_, f_, m_ in users:
        key = (6 - score(r_, br), score(f_, bf), score(m_, bm))
        ref[key][0] += 1
        ref[key][1] += m_
    assert len(out) == len(ref)
    for k, (n, tot) in ref.items():
        assert out[k]["n_users"] == n
        assert out[k]["total_monetary"] == pytest.approx(
            tot, abs=1e-4
        )
    # native TIMESTAMP ts_col works (converted to epoch-us
    # internally) and yields the identical segment grid
    tsdf = df.select(
        "u",
        F.timestamp_micros(
            (F.col("ts") * 1_000_000).cast("bigint")
        ).alias("ts"),
        "amt",
    )
    out_ts = {
        (r["r_score"], r["f_score"], r["m_score"]): r["n_users"]
        for r in rfm_segments(tsdf, "u", "ts", "amt").collect()
    }
    assert out_ts == {k: r["n_users"] for k, r in out.items()}


def _bisect_ppf(p):
    import math

    lo, hi = -10.0, 10.0
    for _ in range(80):
        m = (lo + hi) / 2
        if 0.5 * (1 + math.erf(m / math.sqrt(2))) < p:
            lo = m
        else:
            hi = m
    return (lo + hi) / 2


def test_fligner_killeen_and_vdw_vs_reference(spark):
    """Both normal-scores tests against numpy replicas using a
    bisection inverse-normal (high precision): FK detects a planted
    scale difference, VDW a location shift; midrank ties handled."""
    import numpy as np

    from padua_spark.operators.stats import (
        fligner_killeen,
        van_der_waerden,
    )

    rng = np.random.RandomState(9)
    a = rng.normal(0, 1, 40)
    b = rng.normal(0, 2.5, 35)
    c = rng.normal(0.5, 1, 30)
    a[0] = a[1] = 0.7
    samples = [a, b, c]
    rows = [
        (g, float(v)) for g, s_ in zip("abc", samples) for v in s_
    ]
    df = spark.createDataFrame(rows, ["g", "v"])

    def fk_ref():
        z = np.concatenate(
            [np.abs(np.asarray(s_) - np.median(s_)) for s_ in samples]
        )
        sizes = [len(s_) for s_ in samples]
        r = _rankdata_avg(z)
        n = len(z)
        sc = np.array(
            [_bisect_ppf(0.5 + ri / (2 * (n + 1))) for ri in r]
        )
        abar = sc.mean()
        s2 = ((sc - abar) ** 2).sum() / (n - 1)
        stat, pos = 0.0, 0
        for m in sizes:
            stat += m * (sc[pos:pos + m].mean() - abar) ** 2
            pos += m
        return stat / s2

    def vdw_ref():
        allv = np.concatenate(samples)
        n = len(allv)
        r = _rankdata_avg(allv)
        sc = np.array([_bisect_ppf(ri / (n + 1)) for ri in r])
        s2 = (sc ** 2).sum() / (n - 1)
        stat, pos = 0.0, 0
        for s_ in samples:
            m = len(s_)
            stat += m * sc[pos:pos + m].mean() ** 2
            pos += m
        return stat / s2

    rf = fligner_killeen(df, "g", "v", ["a", "b", "c"]).collect()[0]
    assert rf["fk_stat"] == pytest.approx(fk_ref(), abs=1e-4)
    assert rf["p_value"] < 0.01  # planted scale difference
    rv = van_der_waerden(df, "g", "v", ["a", "b", "c"]).collect()[0]
    assert rv["vdw_stat"] == pytest.approx(vdw_ref(), abs=1e-4)
    assert rv["p_value"] < 0.05  # planted location shift


def test_normality_ppcc_vs_reference(spark):
    """PPCC against a bisection-quantile replica: near 1 on Gaussian
    data, clearly lower on exponential; W' = ppcc^2."""
    import collections
    import math

    import numpy as np

    from padua_spark.operators.stats import normality_ppcc

    def ref(x):
        n = len(x)
        cnt = collections.Counter(x)
        run = 0.0
        sx = sm = sxx = smm = sxm = 0.0
        for v in sorted(cnt):
            c = cnt[v]
            mr = run + (c + 1) / 2.0
            run += c
            m = _bisect_ppf((mr - 0.3175) / (n + 0.365))
            sx += c * v
            sm += c * m
            sxx += c * v * v
            smm += c * m * m
            sxm += c * v * m
        num = n * sxm - sx * sm
        den = math.sqrt((n * sxx - sx * sx) * (n * smm - sm * sm))
        return num / den

    rng = np.random.RandomState(3)
    g = [float(v) for v in rng.normal(5, 2, 800)]
    df = spark.createDataFrame([(v,) for v in g], ["v"])
    r = normality_ppcc(df, "v").collect()[0]
    assert r["ppcc"] == pytest.approx(ref(g), abs=1e-5)
    assert r["ppcc"] > 0.995
    assert r["shapiro_francia_w"] == pytest.approx(
        r["ppcc"] ** 2, abs=1e-5
    )
    e = [float(v) for v in rng.exponential(1, 800)]
    dfe = spark.createDataFrame([(v,) for v in e], ["v"])
    re_ = normality_ppcc(dfe, "v").collect()[0]
    assert re_["ppcc"] == pytest.approx(ref(e), abs=1e-5)
    assert re_["ppcc"] < 0.96


def test_jarque_bera_and_dagostino_vs_replica(spark):
    """JB and K2 against direct numpy replicas of the scipy formulas
    (population moments; D'Agostino/Anscombe-Glynn Z transforms),
    plus the n/variance guards."""
    import math

    import numpy as np

    from padua_spark.operators.stats import dagostino_k2, jarque_bera

    rng = np.random.RandomState(3)
    x = rng.gamma(2.0, 1.0, 200)
    df = spark.createDataFrame(
        [("g", float(v)) for v in x], ["g", "v"]
    )
    n = len(x)
    m = x.mean()
    m2 = ((x - m) ** 2).mean()
    m3 = ((x - m) ** 3).mean()
    m4 = ((x - m) ** 4).mean()
    g1 = m3 / m2 ** 1.5
    g2 = m4 / m2 ** 2
    jb = n / 6 * (g1 ** 2 + (g2 - 3) ** 2 / 4)
    r = jarque_bera(df, ["g"], "v").collect()[0]
    assert r["skewness"] == pytest.approx(g1, abs=1e-6)
    assert r["kurtosis"] == pytest.approx(g2, abs=1e-6)
    assert r["jb_stat"] == pytest.approx(jb, abs=1e-4)
    assert r["p_value"] == pytest.approx(math.exp(-jb / 2), abs=1e-6)

    yv = g1 * math.sqrt(((n + 1) * (n + 3)) / (6.0 * (n - 2)))
    beta2 = (3.0 * (n ** 2 + 27 * n - 70) * (n + 1) * (n + 3)) / (
        (n - 2.0) * (n + 5) * (n + 7) * (n + 9)
    )
    w2 = -1 + math.sqrt(2 * (beta2 - 1))
    delta = 1 / math.sqrt(0.5 * math.log(w2))
    alpha = math.sqrt(2.0 / (w2 - 1))
    z1 = delta * math.log(
        yv / alpha + math.sqrt((yv / alpha) ** 2 + 1)
    )
    e2 = 3.0 * (n - 1) / (n + 1)
    v2 = 24.0 * n * (n - 2) * (n - 3) / (
        (n + 1) ** 2 * (n + 3) * (n + 5)
    )
    xx = (g2 - e2) / math.sqrt(v2)
    sb1 = (
        6.0 * (n * n - 5 * n + 2) / ((n + 7) * (n + 9))
        * math.sqrt(6.0 * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    )
    a = 6.0 + 8.0 / sb1 * (
        2.0 / sb1 + math.sqrt(1 + 4.0 / sb1 ** 2)
    )
    den = 1 + xx * math.sqrt(2 / (a - 4.0))
    t2 = math.copysign(
        abs((1 - 2.0 / a) / abs(den)) ** (1 / 3.0), den
    )
    z2 = (1 - 2 / (9.0 * a) - t2) / math.sqrt(2 / (9.0 * a))
    k2 = z1 * z1 + z2 * z2
    rk = dagostino_k2(df, ["g"], "v").collect()[0]
    assert rk["z_skew"] == pytest.approx(z1, abs=1e-5)
    assert rk["z_kurt"] == pytest.approx(z2, abs=1e-5)
    assert rk["k2_stat"] == pytest.approx(k2, abs=1e-4)
    # guards: tiny n -> NULL legs
    tiny = spark.createDataFrame(
        [("g", float(v)) for v in [1, 2, 3, 4, 5, 6]], ["g", "v"]
    )
    rt = dagostino_k2(tiny, ["g"], "v").collect()[0]
    assert rt["z_skew"] is None and rt["k2_stat"] is None
    assert rt["z_kurt"] is not None  # n=6 >= 5
    const = spark.createDataFrame(
        [("g", 5.0)] * 10, ["g", "v"]
    )
    assert jarque_bera(const, ["g"], "v").collect()[0][
        "jb_stat"] is None


def test_durbin_watson_vs_replica(spark):
    """DW against the statsmodels formula on the demeaned series;
    alternating series -> near 4, trending -> near 0; demean=False
    uses raw values."""
    import numpy as np

    from padua_spark.operators.stats import durbin_watson

    rng = np.random.RandomState(5)
    x = rng.randint(1, 50, 80).astype(float)
    df = spark.createDataFrame(
        [("g", i, float(v)) for i, v in enumerate(x)],
        ["g", "t", "v"],
    )
    e = x - x.mean()
    dw = float(np.sum(np.diff(e) ** 2) / np.sum(e ** 2))
    r = durbin_watson(df, ["g"], ["t"], "v").collect()[0]
    assert r["dw"] == pytest.approx(dw, abs=1e-6)
    raw = float(np.sum(np.diff(x) ** 2) / np.sum(x ** 2))
    r2 = durbin_watson(
        df, ["g"], ["t"], "v", demean=False
    ).collect()[0]
    assert r2["dw"] == pytest.approx(raw, abs=1e-6)
    alt = spark.createDataFrame(
        [("g", i, float((-1) ** i)) for i in range(40)],
        ["g", "t", "v"],
    )
    assert durbin_watson(alt, ["g"], ["t"], "v").collect()[0][
        "dw"] > 3.8
    trend = spark.createDataFrame(
        [("g", i, float(i)) for i in range(40)], ["g", "t", "v"]
    )
    assert durbin_watson(trend, ["g"], ["t"], "v").collect()[0][
        "dw"] < 0.2


def test_runs_and_sign_tests_vs_replica(spark):
    """Runs test against a hand replica (runs/counts/z/p) and the
    alternating/clustered extremes; sign test against the exact
    binomial tail."""
    import math
    from math import comb

    import numpy as np

    from padua_spark.operators.stats import runs_test, sign_test

    rng = np.random.RandomState(3)
    x = rng.gamma(2.0, 1.0, 200)
    df = spark.createDataFrame(
        [("g", i, float(v)) for i, v in enumerate(x)],
        ["g", "t", "v"],
    )
    med = float(np.median(x))
    s = [1 if v > med else 0 for v in x if v != med]
    runs = 1 + sum(1 for i in range(1, len(s)) if s[i] != s[i - 1])
    n1, n2 = sum(s), len(s) - sum(s)
    mu = 2 * n1 * n2 / (n1 + n2) + 1
    var = (
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2) ** 2 * (n1 + n2 - 1))
    )
    z = (runs - mu) / math.sqrt(var)
    p = math.erfc(abs(z) / math.sqrt(2))
    r = runs_test(df, ["g"], ["t"], "v").collect()[0]
    assert (r["n_runs"], r["n1_above"], r["n2_below"]) == (
        runs, n1, n2)
    assert r["z"] == pytest.approx(z, abs=1e-5)
    assert r["p_value"] == pytest.approx(p, abs=1e-4)
    # alternating -> many runs, strongly non-random (z >> 0)
    alt = spark.createDataFrame(
        [("g", i, float(i % 2)) for i in range(40)],
        ["g", "t", "v"],
    )
    ra = runs_test(alt, ["g"], ["t"], "v").collect()[0]
    assert ra["n_runs"] == 40 and ra["p_value"] < 1e-6
    # groups whose every value ties the median survive with NULLs
    mix = spark.createDataFrame(
        [("ok", i, float(v)) for i, v in enumerate([1, 9, 1, 9])]
        + [("tied", i, 5.0) for i in range(4)],
        ["g", "t", "v"],
    )
    om = {r["g"]: r for r in runs_test(mix, ["g"], ["t"], "v").collect()}
    assert om["tied"]["n_runs"] == 0 and om["tied"]["z"] is None
    assert om["ok"]["n_runs"] == 4

    pairs = [(float(i), float(i + 1)) for i in range(7)] + [
        (5.0, 1.0), (6.0, 2.0), (7.0, 3.0), (9.0, 9.0)
    ]
    rs = sign_test(
        spark.createDataFrame(pairs, ["x", "y"]), "x", "y"
    ).collect()[0]
    exact = sum(
        comb(10, i) for i in list(range(0, 4)) + list(range(7, 11))
    ) / 2 ** 10
    assert (rs["n_pos"], rs["n_neg"], rs["n_tie"]) == (3, 7, 1)
    assert rs["method"] == "exact"
    assert rs["p_value"] == pytest.approx(exact, abs=1e-6)
    # above max_support the continuity-corrected normal branch kicks
    # in: z = (|2k - n| - 1)/sqrt(n), two-sided erfc p
    rn = sign_test(
        spark.createDataFrame(pairs, ["x", "y"]), "x", "y",
        max_support=5,
    ).collect()[0]
    z = (abs(2 * 3 - 10) - 1) / 10 ** 0.5
    ref = math.erfc(z / 2 ** 0.5)
    assert rn["method"] == "normal"
    assert rn["p_value"] == pytest.approx(ref, abs=2e-6)
    # max_support=None forces the exact fold at any size
    rf = sign_test(
        spark.createDataFrame(pairs, ["x", "y"]), "x", "y",
        max_support=None,
    ).collect()[0]
    assert rf["method"] == "exact"
    assert rf["p_value"] == pytest.approx(exact, abs=1e-6)


def test_ordinal_association_vs_bruteforce(spark):
    """Gamma and both Somers' D against the O(n^2) pair definition;
    the bounded-cells guard raises; perfect monotone gives gamma 1."""
    import numpy as np
    from collections import Counter

    from padua_spark.operators.stats import ordinal_association

    rng = np.random.RandomState(2)
    xs = rng.randint(1, 5, 300)
    ys = np.clip(xs + rng.randint(-1, 2, 300), 1, 5)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(xs, ys)], ["x", "y"]
    )
    C = D = 0
    n = len(xs)
    for i in range(n):
        for j in range(i + 1, n):
            s = (xs[j] - xs[i]) * (ys[j] - ys[i])
            C += s > 0
            D += s < 0
    r = ordinal_association(df, "x", "y").collect()[0]
    n0 = n * (n - 1) / 2
    tx = sum(v * (v - 1) // 2 for v in Counter(xs).values())
    ty = sum(v * (v - 1) // 2 for v in Counter(ys).values())
    assert (r["concordant"], r["discordant"]) == (C, D)
    assert r["gamma"] == pytest.approx((C - D) / (C + D), abs=1e-6)
    assert r["somers_d_yx"] == pytest.approx(
        (C - D) / (n0 - tx), abs=1e-6
    )
    assert r["somers_d_xy"] == pytest.approx(
        (C - D) / (n0 - ty), abs=1e-6
    )
    with pytest.raises(ValueError, match="max_levels"):
        ordinal_association(df, "x", "y", max_levels=3)
    mono = spark.createDataFrame(
        [(i, i) for i in range(1, 6)] * 3, ["x", "y"]
    )
    assert ordinal_association(mono, "x", "y").collect()[0][
        "gamma"] == 1.0


def test_local_clustering_and_assortativity(spark):
    """Local CC against the triangle+pendant hand graph (cc 1/1/⅓ and
    NULL for degree-1); assortativity against the Newman formula on a
    hand graph and -1 on a perfect star."""
    from collections import Counter

    from padua_spark.extensions.graph import (
        degree_assortativity,
        local_clustering,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["id_a", "id_b"]
    )
    cc = {r["node"]: r for r in local_clustering(edges).collect()}
    assert cc[1]["clustering_coef"] == 1.0
    assert cc[2]["clustering_coef"] == 1.0
    assert cc[3]["n_triangles"] == 1
    assert cc[3]["clustering_coef"] == pytest.approx(1 / 3, abs=1e-6)
    assert cc[4]["clustering_coef"] is None and cc[4]["degree"] == 1

    el = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6)]
    deg = Counter()
    for u, v in el:
        deg[u] += 1
        deg[v] += 1
    M = len(el)
    sxy = sum(deg[u] * deg[v] for u, v in el)
    sb = sum((deg[u] + deg[v]) / 2 for u, v in el) / M
    ssq = sum((deg[u] ** 2 + deg[v] ** 2) / 2 for u, v in el) / M
    rr = (sxy / M - sb * sb) / (ssq - sb * sb)
    ra = degree_assortativity(
        spark.createDataFrame(el, ["id_a", "id_b"])
    ).collect()[0]
    assert ra["assortativity"] == pytest.approx(rr, abs=1e-6)
    assert (ra["n_nodes"], ra["n_edges"]) == (6, 6)
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], ["id_a", "id_b"]
    )
    assert degree_assortativity(star).collect()[0][
        "assortativity"] == pytest.approx(-1.0, abs=1e-6)


def test_gains_table_vs_replica(spark):
    """Gains deciles against a pure-Python replica (exact lower
    quantile boundaries, bucket 1 = top scores, cumulative capture);
    a perfect scorer captures all positives in the top buckets."""
    import math

    import numpy as np

    from padua_spark.extensions.features import gains_table

    rng = np.random.RandomState(9)
    scores = rng.randint(0, 1000, 400).astype(float)
    labels = (rng.random(400) < (scores / 1500)).astype(int)
    df = spark.createDataFrame(
        [(float(s), int(y)) for s, y in zip(scores, labels)],
        ["s", "y"],
    )
    out = {r["bucket"]: r for r in
           gains_table(df, "s", "y", n_bins=10).collect()}
    sv = sorted(scores)
    n = len(sv)
    bounds = [sv[math.ceil(i / 10 * n) - 1] for i in range(1, 10)]

    def bucket(v):
        return 11 - (1 + sum(1 for b in bounds if v > b))

    agg = {}
    for s, y in zip(scores, labels):
        b = bucket(s)
        agg.setdefault(b, [0, 0])
        agg[b][0] += 1
        agg[b][1] += y
    tot_pos = sum(v[1] for v in agg.values())
    rate = tot_pos / n
    cum_p = cum_n = 0
    for b in sorted(agg):
        nn, np_ = agg[b]
        cum_p += np_
        cum_n += nn
        r = out[b]
        assert (r["n"], r["n_pos"]) == (nn, np_)
        assert r["pos_rate"] == pytest.approx(np_ / nn, abs=1e-6)
        assert r["lift"] == pytest.approx(np_ / nn / rate, abs=1e-6)
        assert r["cum_capture"] == pytest.approx(
            cum_p / tot_pos, abs=1e-6
        )
        assert r["cum_lift"] == pytest.approx(
            (cum_p / cum_n) / rate, abs=1e-6
        )
    # perfect scorer: top bucket = all positives
    perf = spark.createDataFrame(
        [(float(i), int(i >= 90)) for i in range(100)], ["s", "y"]
    )
    top = {r["bucket"]: r for r in
           gains_table(perf, "s", "y", n_bins=10).collect()}[1]
    assert top["cum_capture"] == 1.0 and top["pos_rate"] == 1.0


def test_brier_decomposition_vs_replica(spark):
    """Brier + Murphy terms against a numpy replica; a perfectly
    calibrated binned forecaster has ~0 reliability; identity
    brier = REL - RES + UNC holds for binned (constant-within-bin)
    forecasts."""
    import numpy as np

    from padua_spark.extensions.features import brier_decomposition

    rng = np.random.RandomState(11)
    # binned forecasts: p constant within bin -> identity exact
    p = rng.randint(0, 10, 500) / 10.0 + 0.05
    y = (rng.random(500) < p).astype(int)
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(p, y)], ["p", "y"]
    )
    r = brier_decomposition(df, "p", "y", n_bins=10).collect()[0]
    brier = float(np.mean((p - y) ** 2))
    ybar = y.mean()
    rel = res = 0.0
    for k in range(10):
        m = np.minimum(np.floor(p * 10), 9) == k
        if not m.any():
            continue
        nk = m.sum()
        rel += nk * (p[m].mean() - y[m].mean()) ** 2
        res += nk * (y[m].mean() - ybar) ** 2
    rel /= len(p)
    res /= len(p)
    assert r["brier"] == pytest.approx(brier, abs=1e-6)
    assert r["reliability"] == pytest.approx(rel, abs=1e-6)
    assert r["resolution"] == pytest.approx(res, abs=1e-6)
    assert r["uncertainty"] == pytest.approx(
        ybar * (1 - ybar), abs=1e-6
    )
    assert r["brier"] == pytest.approx(
        r["reliability"] - r["resolution"] + r["uncertainty"],
        abs=2e-6,
    )


def test_kfold_assign_deterministic_and_stratified(spark):
    """Unstratified folds are a pure key function (stable under
    repartitioning, all folds populated); stratified folds are
    exactly balanced within every stratum (sizes differ by <= 1)."""
    from padua_spark.extensions.sampling import kfold_assign

    df = spark.createDataFrame(
        [(i, "s%d" % (i % 3)) for i in range(300)], ["id", "g"]
    )
    a = {r["id"]: r["fold"] for r in
         kfold_assign(df, "id", k=5).collect()}
    b = {r["id"]: r["fold"] for r in
         kfold_assign(df.repartition(7), "id", k=5).collect()}
    assert a == b and set(a.values()) == {0, 1, 2, 3, 4}
    out = kfold_assign(
        df, "id", k=5, strata_cols=["g"]
    ).groupBy("g", "fold").count().collect()
    sizes = {}
    for r in out:
        sizes.setdefault(r["g"], []).append(r["count"])
    for g, counts in sizes.items():
        assert len(counts) == 5 and max(counts) - min(counts) <= 1
    import pytest as _pt

    with _pt.raises(ValueError, match="k must be"):
        kfold_assign(df, "id", k=1)


def test_acf_pacf_vs_levinson_replica(spark):
    """ACF/PACF against a direct numpy Levinson-Durbin replica on an
    AR(1) series (PACF cuts off after lag 1); the c0/n guards."""
    import numpy as np

    from padua_spark.operators.temporal import acf_pacf

    rng = np.random.RandomState(4)
    n = 400
    x = np.zeros(n)
    for t in range(1, n):
        x[t] = 0.6 * x[t - 1] + rng.normal()
    df = spark.createDataFrame(
        [("g", i, float(v)) for i, v in enumerate(x)],
        ["g", "t", "v"],
    )
    out = {r["lag"]: r for r in
           acf_pacf(df, ["g"], ["t"], "v", max_lag=3).collect()}
    m = x.mean()
    c = [float(np.sum((x[k:] - m) * (x[: n - k] - m)) / n)
         for k in range(4)]
    phi = {}
    vk = c[0]
    pacf = {}
    for k in range(1, 4):
        num = c[k] - sum(phi.get(j, 0) * c[k - j] for j in range(1, k))
        kk = num / vk
        newphi = {j: phi[j] - kk * phi[k - j] for j in range(1, k)}
        newphi[k] = kk
        pacf[k] = kk
        vk = vk * (1 - kk * kk)
        phi = newphi
    for k in range(1, 4):
        assert out[k]["acf"] == pytest.approx(c[k] / c[0], abs=1e-5)
        assert out[k]["pacf"] == pytest.approx(pacf[k], abs=1e-5)
    assert abs(out[1]["pacf"] - 0.6) < 0.1
    assert abs(out[2]["pacf"]) < 0.15  # AR(1): PACF cuts off
    const = spark.createDataFrame(
        [("g", i, 3.0) for i in range(20)], ["g", "t", "v"]
    )
    for r in acf_pacf(const, ["g"], ["t"], "v").collect():
        assert r["acf"] is None and r["pacf"] is None


def test_granger_causality_vs_lstsq(spark):
    """Lag-1 Granger F and beta_x against numpy lstsq restricted vs
    augmented fits; a true causal series is significant, pure noise is
    not."""
    import numpy as np

    from padua_spark.operators.temporal import granger_causality

    rng = np.random.RandomState(4)
    n = 400
    y = np.zeros(n)
    x = rng.normal(size=n)
    for t in range(1, n):
        y[t] = 0.3 * y[t - 1] + 0.5 * x[t - 1] + rng.normal()
    df = spark.createDataFrame(
        [("g", i, float(y[i]), float(x[i])) for i in range(n)],
        ["g", "t", "y", "x"],
    )
    r = granger_causality(df, ["g"], ["t"], "y", "x").collect()[0]
    Y = y[1:]
    A = np.column_stack([np.ones(n - 1), y[:-1]])
    B = np.column_stack([np.ones(n - 1), y[:-1], x[:-1]])
    rss_r = float(np.sum(
        (Y - A @ np.linalg.lstsq(A, Y, rcond=None)[0]) ** 2))
    bu = np.linalg.lstsq(B, Y, rcond=None)[0]
    rss_u = float(np.sum((Y - B @ bu) ** 2))
    fs = (rss_r - rss_u) / (rss_u / (n - 1 - 3))
    assert r["f_stat"] == pytest.approx(fs, rel=1e-4)
    assert r["beta_x"] == pytest.approx(bu[2], abs=1e-5)
    assert r["p_value"] < 1e-6
    # independent noise -> insignificant
    z = rng.normal(size=n)
    df2 = spark.createDataFrame(
        [("g", i, float(z[i]), float(x[i])) for i in range(n)],
        ["g", "t", "y", "x"],
    )
    r2 = granger_causality(df2, ["g"], ["t"], "y", "x").collect()[0]
    assert r2["p_value"] > 0.01


def test_textrank_keywords_vs_replica(spark):
    """TextRank ranks against a pure-Python replica of the pinned
    recurrence (window-2 co-occurrence on original positions, min 4
    chars, 5 damped iterations, dangling mass dropped); top_k
    ordering is (rank DESC, token)."""
    import collections

    from padua_spark.extensions.text import textrank_keywords

    docs = [
        (1, "machine learning models learn machine representations"
            " from data"),
        (2, "deep learning models need data and compute for training"
            " models"),
        (3, "data pipelines feed machine learning training with clean"
            " data"),
    ]
    df = spark.createDataFrame(docs, ["id", "text"])
    out = textrank_keywords(
        df, "id", "text", window=2, top_k=5
    ).collect()
    edges = set()
    for _i, txt in docs:
        # the window slides over the FILTERED sequence (the original
        # TextRank convention), not original positions
        ts = [w for w in txt.lower().split() if len(w) >= 4]
        for p, tk in enumerate(ts):
            for o in (1, 2):
                if p + o < len(ts):
                    u, v = tk, ts[p + o]
                    if u != v:
                        edges.add((u, v))
                        edges.add((v, u))
    nodes = sorted({x for e in edges for x in e})
    N = len(nodes)
    out_deg = collections.Counter(u for u, _v in edges)
    rank = {n: 1 / N for n in nodes}
    for _ in range(5):
        rank = {
            n: 0.15 / N + 0.85 * sum(
                rank[u] / out_deg[u] for (u, v) in edges if v == n
            )
            for n in nodes
        }
    top = sorted(rank.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    got = [(r["token"], round(r["rank"], 6)) for r in out]
    assert got == [(t, round(r, 6)) for t, r in top]


def test_cuzick_trend_vs_replica(spark):
    """Cuzick L/z/p against a midrank + tie-corrected-variance
    replica; a strong monotone trend is significant, permuted groups
    are not."""
    import collections
    import math

    import numpy as np

    from padua_spark.operators.stats import cuzick_trend

    rng = np.random.RandomState(6)
    data = []
    for gi, g in enumerate(["g1", "g2", "g3"]):
        data += [(g, float(v)) for v in rng.randint(1, 20, 60) + gi]
    df = spark.createDataFrame(data, ["g", "v"])
    r = cuzick_trend(df, "g", "v", ["g1", "g2", "g3"]).collect()[0]
    vals = np.array([v for _, v in data])
    grp = [g for g, _ in data]
    cnt = collections.Counter(vals)
    cum = 0
    mid = {}
    for val in sorted(cnt):
        c = cnt[val]
        mid[val] = cum + (c + 1) / 2
        cum += c
    z = {"g1": 1, "g2": 2, "g3": 3}
    L = sum(z[g] * mid[v] for g, (_, v) in zip(grp, data))
    N = len(vals)
    n_g = collections.Counter(grp)
    szn = sum(z[g] * n for g, n in n_g.items())
    szzn = sum(z[g] ** 2 * n for g, n in n_g.items())
    tie = sum(c ** 3 - c for c in cnt.values())
    var = (
        (N + 1) / 12 * (N * szzn - szn ** 2)
        * (1 - tie / (N ** 3 - N))
    )
    zz = (L - (N + 1) / 2 * szn) / math.sqrt(var)
    assert r["l_stat"] == pytest.approx(L, abs=1e-6)
    assert r["z"] == pytest.approx(zz, abs=1e-5)
    assert r["p_value"] == pytest.approx(
        math.erfc(abs(zz) / math.sqrt(2)), abs=1e-5
    )
    strong = spark.createDataFrame(
        [("g%d" % (i // 30 + 1), float(i)) for i in range(90)],
        ["g", "v"],
    )
    assert cuzick_trend(
        strong, "g", "v", ["g1", "g2", "g3"]
    ).collect()[0]["p_value"] < 1e-9


def test_tost_and_capability_vs_replica(spark):
    """TOST against a Welch + one-sided-t replica (equivalent series
    give small p_tost, shifted series large); Cp/Cpk against direct
    formulas."""
    import math

    import numpy as np

    from padua_spark.functions.distributions import student_t_sf
    from padua_spark.operators.stats import (
        process_capability,
        tost_equivalence,
    )

    rng = np.random.RandomState(6)
    a = rng.normal(10, 2, 80)
    b = rng.normal(10.05, 2, 90)
    rows = [("a", float(x)) for x in a] + [("b", float(x)) for x in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = tost_equivalence(df, "g", "v", "a", "b", -1.0, 1.0).collect()[0]
    ma, mb = a.mean(), b.mean()
    va, vb = a.var(ddof=1), b.var(ddof=1)
    se2 = va / 80 + vb / 90
    se = math.sqrt(se2)
    dfree = se2 ** 2 / ((va / 80) ** 2 / 79 + (vb / 90) ** 2 / 89)
    d = ma - mb
    tl, tu = (d + 1) / se, (d - 1) / se
    pl = (float(student_t_sf(tl, dfree)) / 2 if tl >= 0
          else 1 - float(student_t_sf(tl, dfree)) / 2)
    pu = (float(student_t_sf(tu, dfree)) / 2 if tu <= 0
          else 1 - float(student_t_sf(tu, dfree)) / 2)
    assert r["t_lower"] == pytest.approx(tl, abs=1e-5)
    assert r["p_tost"] == pytest.approx(max(pl, pu), abs=1e-5)
    assert r["p_tost"] < 0.05  # genuinely equivalent within +-1
    shifted = spark.createDataFrame(
        [("a", float(x)) for x in a]
        + [("b", float(x + 3)) for x in a],
        ["g", "v"],
    )
    assert tost_equivalence(
        shifted, "g", "v", "a", "b", -1.0, 1.0
    ).collect()[0]["p_tost"] > 0.5
    with pytest.raises(ValueError, match="low < high"):
        tost_equivalence(df, "g", "v", "a", "b", 1.0, -1.0)

    x = rng.normal(50, 3, 200)
    rc = process_capability(
        spark.createDataFrame(
            [("g", float(v)) for v in x], ["g", "v"]
        ),
        ["g"], "v", 40.0, 60.0,
    ).collect()[0]
    m, s = x.mean(), x.std(ddof=1)
    assert rc["cp"] == pytest.approx(20 / (6 * s), abs=1e-5)
    assert rc["cpk"] == pytest.approx(
        min((60 - m) / (3 * s), (m - 40) / (3 * s)), abs=1e-5
    )


def test_grubbs_benford_hhi_vs_replicas(spark):
    """Grubbs G/t/p against the NIST formulas with a planted outlier;
    Benford chi2/MAD against a Counter replica on log-uniform data
    (conforming) and sequential data (violating); HHI against hand
    shares including the missing-digit mass."""
    import collections
    import math

    import numpy as np

    from padua_spark.extensions.quality import (
        benford_test,
        hhi_concentration,
    )
    from padua_spark.functions.distributions import student_t_sf
    from padua_spark.operators.stats import grubbs_test

    rng = np.random.RandomState(8)
    x = np.append(rng.normal(50, 3, 100), 75.0)
    df = spark.createDataFrame([(float(v),) for v in x], ["v"])
    r = grubbs_test(df, "v").collect()[0]
    n, m, s = len(x), x.mean(), x.std(ddof=1)
    G = max(x.max() - m, m - x.min()) / s
    t = math.sqrt(n * (n - 2) * G * G / ((n - 1) ** 2 - n * G * G))
    # default is the NIST two-sided convention: 2n x one-sided tail
    p2 = min(1.0, 2 * n * (float(student_t_sf(t, n - 2)) / 2))
    assert r["g_stat"] == pytest.approx(G, abs=1e-5)
    assert r["p_value"] == pytest.approx(p2, abs=1e-5)
    assert r["outlier_value"] == 75.0
    assert r["p_value"] < 0.01  # the plant is detected
    r1 = grubbs_test(df, "v", side="one-sided").collect()[0]
    p1 = min(1.0, n * (float(student_t_sf(t, n - 2)) / 2))
    assert r1["p_value"] == pytest.approx(p1, abs=1e-5)
    with pytest.raises(ValueError, match="side must be"):
        grubbs_test(df, "v", side="both")

    vals = np.floor(np.exp(rng.uniform(0, 10, 3000))) + 1
    bd = spark.createDataFrame([(float(v),) for v in vals], ["v"])
    rows = benford_test(bd, "v").collect()
    cnt = collections.Counter(
        int(str(int(abs(v)))[0]) for v in vals if abs(v) >= 1
    )
    tot = sum(cnt.values())
    chi2 = sum(
        (cnt.get(d, 0) - tot * math.log10(1 + 1 / d)) ** 2
        / (tot * math.log10(1 + 1 / d))
        for d in range(1, 10)
    )
    mad = sum(
        abs(cnt.get(d, 0) / tot - math.log10(1 + 1 / d))
        for d in range(1, 10)
    ) / 9
    assert rows[0]["chi2"] == pytest.approx(chi2, abs=1e-4)
    assert rows[0]["mad"] == pytest.approx(mad, abs=1e-6)
    # sequential ids (all leading digits ~uniform) strongly violate
    seq = spark.createDataFrame(
        [(float(v),) for v in range(10000, 20000)], ["v"]
    )
    assert benford_test(seq, "v").collect()[0]["p_value"] < 1e-9

    data = (
        [("m1", "a")] * 50 + [("m1", "b")] * 30 + [("m1", "c")] * 20
        + [("m2", "x")] * 99 + [("m2", "y")] * 1
    )
    hd = spark.createDataFrame(data, ["mkt", "src"])
    out = {r["mkt"]: r
           for r in hhi_concentration(hd, ["mkt"], "src").collect()}
    h1 = 10000 * (0.5 ** 2 + 0.3 ** 2 + 0.2 ** 2)
    assert out["m1"]["hhi"] == pytest.approx(h1, abs=1e-4)
    assert out["m2"]["hhi"] == pytest.approx(9802.0, abs=1e-4)
    assert out["m1"]["effective_members"] == pytest.approx(
        10000 / h1, abs=1e-4
    )


def test_lilliefors_vs_numpy_replica(spark):
    """Lilliefors D against a numpy sorted-ECDF + scipy-free Phi
    replica; a genuinely normal sample is not rejected, an
    exponential one is annihilated."""
    import math

    import numpy as np

    from padua_spark.operators.stats import lilliefors_normal

    rng = np.random.RandomState(12)
    x = rng.normal(10, 2, 500)
    df = spark.createDataFrame([(float(v),) for v in x], ["v"])
    r = lilliefors_normal(df, "v").collect()[0]
    mu, sd = x.mean(), x.std(ddof=1)
    sx = np.sort(x)
    n = len(sx)
    f0 = 0.5 * (1 + np.vectorize(math.erf)(
        (sx - mu) / (sd * math.sqrt(2))
    ))
    d = max(
        float(np.max(np.arange(1, n + 1) / n - f0)),
        float(np.max(f0 - np.arange(0, n) / n)),
    )
    assert r["d_stat"] == pytest.approx(d, abs=2e-4)
    assert r["p_value"] > 0.05
    y = rng.exponential(1.0, 500)
    r2 = lilliefors_normal(
        spark.createDataFrame([(float(v),) for v in y], ["v"]), "v"
    ).collect()[0]
    assert r2["p_value"] < 1e-6
    const = spark.createDataFrame([(5.0,)] * 10, ["v"])
    assert lilliefors_normal(const, "v").collect()[0][
        "d_stat"] is None


def test_boxcox_and_jackknife_vs_replica(spark):
    """Box-Cox profile loglik at a fixed lambda against the formula,
    best-lambda near 0 for lognormal data, exactly one is_best;
    jackknife ratio/SE against the leave-one-out definition."""
    import math

    import numpy as np

    from padua_spark.operators.stats import (
        boxcox_lambda,
        jackknife_ratio,
    )

    rng = np.random.RandomState(13)
    x = rng.lognormal(1.0, 0.6, 500)
    df = spark.createDataFrame([(float(v),) for v in x], ["v"])
    rows = boxcox_lambda(df, "v").collect()
    best = [r for r in rows if r["is_best"]]
    assert len(best) == 1 and abs(best[0]["lam"]) <= 0.25
    lam = 0.5
    yv = (x ** lam - 1) / lam
    ll = -len(x) / 2 * math.log(yv.var()) + (lam - 1) * np.log(x).sum()
    r05 = [r for r in rows if abs(r["lam"] - 0.5) < 1e-9][0]
    assert r05["loglik"] == pytest.approx(ll, rel=1e-6)
    # non-positive rows excluded and counted
    neg = spark.createDataFrame(
        [(float(v),) for v in x] + [(-1.0,), (0.0,)], ["v"]
    )
    rn = boxcox_lambda(neg, "v").collect()[0]
    assert rn["n_nonpos"] == 2 and rn["n"] == 500

    xx = rng.exponential(2.0, 200)
    yy = rng.exponential(1.0, 200) + 0.5
    jdf = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(xx, yy)], ["x", "y"]
    )
    r = jackknife_ratio(jdf, "x", "y").collect()[0]
    Sx, Sy, n = xx.sum(), yy.sum(), len(xx)
    ti = (Sx - xx) / (Sy - yy)
    tb = ti.mean()
    assert r["ratio"] == pytest.approx(Sx / Sy, abs=1e-6)
    assert r["se_jack"] == pytest.approx(
        math.sqrt((n - 1) / n * np.sum((ti - tb) ** 2)), abs=1e-5
    )
    assert r["ratio_jack"] == pytest.approx(
        n * (Sx / Sy) - (n - 1) * tb, abs=1e-5
    )


def test_smd_and_delta_ci_vs_replica(spark):
    """SMD against Austin's pooled-SD formula per covariate; delta-
    method ratio CI against the Taylor formula; jackknife and delta
    SEs agree to first order on well-behaved data."""
    import math

    import numpy as np

    from padua_spark.operators.stats import (
        jackknife_ratio,
        ratio_delta_ci,
        smd_balance,
    )

    rng = np.random.RandomState(14)
    na, nb = 150, 170
    rows = [
        ("A", float(a), float(c))
        for a, c in zip(rng.normal(5, 1, na), rng.normal(9, 2, na))
    ] + [
        ("B", float(a), float(c))
        for a, c in zip(rng.normal(5.3, 1, nb), rng.normal(9, 2, nb))
    ]
    df = spark.createDataFrame(rows, ["g", "c1", "c2"])
    out = {r["covariate"]: r for r in
           smd_balance(df, "g", ["c1", "c2"], "A", "B").collect()}
    a1 = np.array([r[1] for r in rows if r[0] == "A"])
    b1 = np.array([r[1] for r in rows if r[0] == "B"])
    smd = (a1.mean() - b1.mean()) / math.sqrt(
        (a1.var(ddof=1) + b1.var(ddof=1)) / 2
    )
    assert out["c1"]["smd"] == pytest.approx(smd, abs=1e-5)
    assert out["c1"]["balanced"] == (abs(smd) < 0.1)
    a2 = np.array([r[2] for r in rows if r[0] == "A"])
    b2 = np.array([r[2] for r in rows if r[0] == "B"])
    smd2 = (a2.mean() - b2.mean()) / math.sqrt(
        (a2.var(ddof=1) + b2.var(ddof=1)) / 2
    )
    assert out["c2"]["smd"] == pytest.approx(smd2, abs=1e-5)
    assert out["c2"]["balanced"] == (abs(smd2) < 0.1)

    xx = rng.exponential(2.0, 300)
    yy = rng.exponential(1.0, 300) + 0.5
    jdf = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(xx, yy)], ["x", "y"]
    )
    r = ratio_delta_ci(jdf, "x", "y").collect()[0]
    n = len(xx)
    th = xx.sum() / yy.sum()
    vx, vy = xx.var(ddof=1), yy.var(ddof=1)
    cxy = float(np.cov(xx, yy, ddof=1)[0, 1])
    se = math.sqrt(
        (vx - 2 * th * cxy + th * th * vy) / (n * yy.mean() ** 2)
    )
    assert r["ratio"] == pytest.approx(th, abs=1e-6)
    assert r["se_delta"] == pytest.approx(se, abs=1e-5)
    assert r["ci_lo"] == pytest.approx(
        th - 1.959963984540054 * se, abs=1e-5
    )
    rj = jackknife_ratio(jdf, "x", "y").collect()[0]
    assert rj["se_jack"] == pytest.approx(r["se_delta"], rel=0.05)


def test_weighted_kappa_bland_altman_icc_vs_replicas(spark):
    """Weighted kappa against the Counter replica (quadratic and
    linear); Bland-Altman bias/limits/outside fraction; ICC(2,1)
    against the two-way ANOVA decomposition; the incomplete-design
    guard raises naming the subject."""
    import collections
    import math

    import numpy as np

    from padua_spark.operators.stats import (
        bland_altman,
        icc_2_1,
        weighted_kappa,
    )

    rng = np.random.RandomState(15)
    a = rng.randint(1, 6, 300)
    b = np.clip(a + rng.randint(-1, 2, 300), 1, 5)
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], ["ra", "rb"]
    )
    n = len(a)
    o = collections.Counter(zip(a.tolist(), b.tolist()))
    rt = collections.Counter(a.tolist())
    ct = collections.Counter(b.tolist())
    for wname, wfun in (
        ("quadratic", lambda i, j: (i - j) ** 2),
        ("linear", lambda i, j: abs(i - j)),
    ):
        wo = sum(wfun(i, j) * c for (i, j), c in o.items())
        we = sum(
            wfun(i, j) * rt[i] * ct[j] / n for i in rt for j in ct
        )
        r = weighted_kappa(df, "ra", "rb", wname).collect()[0]
        assert r["kappa_weighted"] == pytest.approx(
            1 - wo / we, abs=1e-6
        )
    # perfect agreement -> 1
    same = spark.createDataFrame(
        [(int(x), int(x)) for x in a], ["ra", "rb"]
    )
    assert weighted_kappa(same, "ra", "rb").collect()[0][
        "kappa_weighted"] == 1.0

    x = rng.normal(10, 2, 400)
    y = x + rng.normal(0.3, 0.5, 400)
    bdf = spark.createDataFrame(
        [(float(p), float(q)) for p, q in zip(x, y)], ["a", "b"]
    )
    rb = bland_altman(bdf, "a", "b").collect()[0]
    d = x - y
    bias, sd = d.mean(), d.std(ddof=1)
    lo = bias - 1.959963984540054 * sd
    hi = bias + 1.959963984540054 * sd
    assert rb["bias"] == pytest.approx(bias, abs=1e-6)
    assert rb["loa_lo"] == pytest.approx(lo, abs=1e-5)
    assert rb["frac_outside"] == pytest.approx(
        float(np.mean((d < lo) | (d > hi))), abs=1e-6
    )

    ns, k = 40, 4
    subj = rng.normal(0, 2, ns)
    rater = rng.normal(0, 0.5, k)
    mat = (
        10
        + subj[:, None]
        + rater[None, :]
        + rng.normal(0, 1, (ns, k))
    )
    rows = [
        (i, j, float(mat[i, j]))
        for i in range(ns)
        for j in range(k)
    ]
    idf = spark.createDataFrame(rows, ["s", "r", "v"])
    ri = icc_2_1(idf, "s", "r", "v").collect()[0]
    gm = mat.mean()
    ssr = k * np.sum((mat.mean(axis=1) - gm) ** 2)
    ssc = ns * np.sum((mat.mean(axis=0) - gm) ** 2)
    sse = np.sum((mat - gm) ** 2) - ssr - ssc
    msr = ssr / (ns - 1)
    msc = ssc / (k - 1)
    mse = sse / ((ns - 1) * (k - 1))
    icc = (msr - mse) / (
        msr + (k - 1) * mse + k / ns * (msc - mse)
    )
    assert ri["icc"] == pytest.approx(icc, abs=1e-5)
    with pytest.raises(ValueError, match="incomplete design"):
        icc_2_1(idf.limit(159), "s", "r", "v")


def test_bowker_moran_inequality_vs_replicas(spark):
    """Bowker chi2/df/p against a Counter replica; Moran's I with the
    Cliff-Ord z on a homophilous hand graph (and ~E[I] on a shuffled
    one); Theil/Atkinson against numpy on lognormal data."""
    import collections
    import math

    import numpy as np

    from padua_spark.functions.distributions import chi2_sf
    from padua_spark.operators.stats import (
        bowker_symmetry,
        inequality_indices,
        morans_i,
    )

    rng = np.random.RandomState(16)
    a = rng.randint(1, 5, 400)
    b = np.clip(a + rng.choice([-1, 0, 0, 1, 1], 400), 1, 4)
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], ["a", "b"]
    )
    r = bowker_symmetry(df, "a", "b").collect()[0]
    cells = collections.Counter(zip(a.tolist(), b.tolist()))
    chi2 = 0.0
    dfree = 0
    for i in range(1, 5):
        for j in range(i + 1, 5):
            u, d = cells.get((i, j), 0), cells.get((j, i), 0)
            if u + d > 0:
                chi2 += (u - d) ** 2 / (u + d)
                dfree += 1
    assert r["chi2"] == pytest.approx(chi2, abs=1e-5)
    assert r["df"] == dfree
    assert r["p_value"] == pytest.approx(
        float(chi2_sf(chi2, dfree)), abs=1e-5
    )
    assert r["p_value"] < 0.01  # planted upward drift

    el = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 3), (4, 6)]
    val = {1: 1.0, 2: 1.2, 3: 0.9, 4: 5.0, 5: 5.2, 6: 4.8}
    vdf = spark.createDataFrame(list(val.items()), ["node", "value"])
    edf = spark.createDataFrame(el, ["id_a", "id_b"])
    r = morans_i(vdf, edf).collect()[0]
    n, m = len(val), len(el)
    mean = sum(val.values()) / n
    z = {k: v - mean for k, v in val.items()}
    I = n / (2 * m) * (2 * sum(z[u] * z[v] for u, v in el)) / sum(
        x * x for x in z.values()
    )
    EI = -1 / (n - 1)
    deg = collections.Counter()
    for u, v in el:
        deg[u] += 1
        deg[v] += 1
    S0, S1, S2 = 2 * m, 4 * m, 4 * sum(d * d for d in deg.values())
    var = (
        (n * n * S1 - n * S2 + 3 * S0 * S0)
        / ((n * n - 1) * S0 * S0)
        - EI * EI
    )
    zz = (I - EI) / math.sqrt(var)
    assert r["morans_i"] == pytest.approx(I, abs=1e-6)
    assert r["z"] == pytest.approx(zz, abs=1e-5)
    assert r["morans_i"] > 0.5  # homophilous by construction

    x = rng.lognormal(1, 0.8, 500)
    idf = spark.createDataFrame([("g", float(v)) for v in x],
                                ["g", "v"])
    ri = inequality_indices(idf, ["g"], "v", 0.5).collect()[0]
    mu = x.mean()
    T = float(np.mean(x / mu * np.log(x / mu)))
    A = 1 - float(np.mean(x ** 0.5)) ** 2 / mu
    assert ri["theil_t"] == pytest.approx(T, abs=1e-5)
    assert ri["atkinson"] == pytest.approx(A, abs=1e-5)
    # perfect equality -> both 0
    eq = spark.createDataFrame([("g", 5.0)] * 50, ["g", "v"])
    re = inequality_indices(eq, ["g"], "v").collect()[0]
    assert re["theil_t"] == pytest.approx(0.0, abs=1e-9)
    assert re["atkinson"] == pytest.approx(0.0, abs=1e-9)


def test_cronbach_and_stuart_maxwell_vs_replicas(spark):
    """Cronbach's alpha against the variance-ratio formula on
    latent-factor items; Stuart-Maxwell chi2/p against the closed
    2-dim solve with planted marginal drift; identical margins give
    p = 1."""
    import numpy as np

    from padua_spark.functions.distributions import chi2_sf
    from padua_spark.operators.stats import (
        cronbachs_alpha,
        stuart_maxwell,
    )

    rng = np.random.RandomState(17)
    latent = rng.normal(0, 1, 300)
    items = [latent + rng.normal(0, 0.8, 300) for _ in range(4)]
    rows = list(zip(*[it.tolist() for it in items]))
    df = spark.createDataFrame(rows, ["i1", "i2", "i3", "i4"])
    r = cronbachs_alpha(df, ["i1", "i2", "i3", "i4"]).collect()[0]
    X = np.array(rows)
    alpha = 4 / 3 * (
        1 - X.var(axis=0, ddof=1).sum() / X.sum(axis=1).var(ddof=1)
    )
    assert r["alpha"] == pytest.approx(alpha, abs=1e-5)
    assert r["alpha"] > 0.7  # strongly latent-driven items
    with pytest.raises(ValueError, match=">= 2 items"):
        cronbachs_alpha(df, ["i1"])

    a = rng.choice(["A", "N", "R"], 500, p=[0.5, 0.3, 0.2])
    b = np.where(rng.random(500) < 0.2, "R", a)
    sdf = spark.createDataFrame(
        list(zip(a.tolist(), b.tolist())), ["a", "b"]
    )
    r = stuart_maxwell(sdf, "a", "b").collect()[0]
    idx = {"A": 0, "N": 1, "R": 2}
    m = np.zeros((3, 3))
    for x, y in zip(a, b):
        m[idx[x], idx[y]] += 1
    rt, ct = m.sum(1), m.sum(0)
    d = (rt - ct)[:2]
    V = np.array([
        [rt[0] + ct[0] - 2 * m[0, 0], -(m[0, 1] + m[1, 0])],
        [-(m[0, 1] + m[1, 0]), rt[1] + ct[1] - 2 * m[1, 1]],
    ])
    chi2 = float(d @ np.linalg.solve(V, d))
    assert r["chi2"] == pytest.approx(chi2, abs=1e-4)
    assert r["p_value"] == pytest.approx(
        float(chi2_sf(chi2, 2)), abs=1e-5
    )
    same = spark.createDataFrame(
        list(zip(a.tolist(), a.tolist())), ["a", "b"]
    )
    assert stuart_maxwell(same, "a", "b").collect()[0][
        "p_value"] == 1.0
    with pytest.raises(ValueError, match="max_categories"):
        stuart_maxwell(sdf, "a", "b", max_categories=2)


def test_script_mojibake_rbo_vs_replicas(spark):
    """Script fractions on known-script strings; mojibake counts on
    planted damage; RBO@k against the direct depth-sum definition
    (identical rankings give the full-overlap closed form)."""
    import numpy as np

    from padua_spark.extensions.similarity import rbo_rankings
    from padua_spark.extensions.text import (
        mojibake_score,
        script_profile,
    )

    docs = [
        (1, "hello world 123"),
        (2, "\u043f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440"),
        (3, "\u4f60\u597d\u4e16\u754c"),
        (4, None),
    ]
    sd = spark.createDataFrame(docs, ["id", "text"])
    out = {r["id"]: r for r in script_profile(sd, "text").collect()}
    assert out[1]["latin_frac"] == pytest.approx(10 / 15, abs=1e-6)
    assert out[1]["digit_frac"] == pytest.approx(3 / 15, abs=1e-6)
    assert out[2]["cyrillic_frac"] == pytest.approx(0.9, abs=1e-6)
    assert out[3]["han_frac"] == 1.0
    assert out[4]["latin_frac"] is None

    mj = [
        (1, "clean text"),
        (2, "bad \ufffd\ufffd here"),
        (3, "caf\u00c3\u00a9 mangl\u00c3\u00a9"),
        (4, "x" + chr(7) + "y"),
        # artifact bigram whose SECOND byte is a C1 control
        # (U+00C3 U+0080 = '\u00c0' mangled): one artifact, ZERO controls
        (5, "a\u00c3\u0080b"),
    ]
    md = spark.createDataFrame(mj, ["id", "text"])
    out = {r["id"]: r for r in mojibake_score(md, "text").collect()}
    assert out[1]["mojibake_per_kchar"] == 0.0
    assert out[2]["n_replacement"] == 2
    assert out[3]["n_artifact"] == 2
    assert out[4]["n_control"] == 1
    assert (out[5]["n_artifact"], out[5]["n_control"]) == (1, 0)
    assert out[5]["mojibake_per_kchar"] == pytest.approx(
        1000.0 / 4, abs=1e-6
    )

    rng = np.random.RandomState(18)
    k, p = 10, 0.9
    items = list(range(30))
    ra = {it: i + 1 for i, it in enumerate(rng.permutation(items))}
    rb = {it: i + 1 for i, it in enumerate(rng.permutation(items))}
    df = spark.createDataFrame(
        [("q", it, int(ra[it]), int(rb[it])) for it in items],
        ["g", "item", "ra", "rb"],
    )
    r = rbo_rankings(df, ["g"], "ra", "rb", p=p, k=k).collect()[0]
    A = sorted(items, key=lambda x: ra[x])[:k]
    B = sorted(items, key=lambda x: rb[x])[:k]
    rbo = sum(
        (1 - p) * p ** (d - 1) * len(set(A[:d]) & set(B[:d])) / d
        for d in range(1, k + 1)
    )
    assert r["rbo"] == pytest.approx(rbo, abs=1e-6)
    same = spark.createDataFrame(
        [("q", i, i, i) for i in range(1, 31)],
        ["g", "item", "ra", "rb"],
    )
    rs = rbo_rankings(same, ["g"], "ra", "rb", p=p, k=k).collect()[0]
    full = sum((1 - p) * p ** (d - 1) for d in range(1, k + 1))
    assert rs["rbo"] == pytest.approx(full, abs=1e-6)
    with pytest.raises(ValueError, match="p must be"):
        rbo_rankings(df, ["g"], "ra", "rb", p=1.5)


def test_ece_and_temperature_vs_replicas(spark):
    """ECE/MCE against a numpy binned replica on an overconfident
    model; temperature grid recovers T ~ 2 for 2x-overconfident
    logits; NLL matches the stable-softplus replica; exactly one
    is_best."""
    import numpy as np

    from padua_spark.extensions.features import (
        ece_calibration,
        temperature_scaling,
    )

    rng = np.random.RandomState(19)
    zz = rng.normal(0, 3, 4000)
    yy = (rng.random(4000) < 1 / (1 + np.exp(-zz / 2))).astype(int)
    pmod = 1 / (1 + np.exp(-zz))
    df = spark.createDataFrame(
        [(float(p), int(y)) for p, y in zip(pmod, yy)], ["p", "y"]
    )
    rows = ece_calibration(df, "p", "y").collect()
    bins = np.minimum(np.floor(pmod * 10), 9).astype(int)
    N = len(pmod)
    ece = mce = 0.0
    for k in range(10):
        m = bins == k
        if not m.any():
            continue
        gap = abs(pmod[m].mean() - yy[m].mean())
        ece += m.sum() / N * gap
        mce = max(mce, gap)
    assert rows[0]["ece"] == pytest.approx(ece, abs=1e-6)
    assert rows[0]["mce"] == pytest.approx(mce, abs=1e-6)
    assert rows[0]["ece"] > 0.05  # overconfident by construction

    ldf = spark.createDataFrame(
        [(float(z), int(y)) for z, y in zip(zz, yy)], ["z", "y"]
    )
    out = temperature_scaling(ldf, "z", "y").collect()
    best = [r for r in out if r["is_best"]]
    assert len(best) == 1 and 1.5 <= best[0]["temperature"] <= 2.5
    T = 2.0
    x = (1 - 2 * yy) * zz / T
    nll = float(np.sum(
        np.maximum(x, 0) + np.log1p(np.exp(-np.abs(x)))
    ))
    r2 = [r for r in out if r["temperature"] == 2.0][0]
    assert r2["nll"] == pytest.approx(nll, rel=1e-6)


def test_regression_diagnostics_battery_vs_numpy(spark):
    """Breusch-Pagan (Koenker) LM/p, Chow break F/SSEs, Cook's
    distance flags, and Mahalanobis d2 flags against direct numpy
    replicas; calibration checks (homoskedastic -> high p, no break
    -> high p, planted cloud-outlier flagged)."""
    import math

    import numpy as np

    from padua_spark.operators.stats import (
        breusch_pagan,
        chow_test,
        cooks_distance,
        mahalanobis_outliers,
    )

    rng = np.random.RandomState(7)
    n = 400
    x = rng.uniform(0, 10, n)
    y = 2.0 + 0.5 * x + rng.normal(0, 1, n) * (1 + 0.3 * x)
    df = spark.createDataFrame(
        [(float(a), float(b), int(i))
         for i, (a, b) in enumerate(zip(x, y))],
        ["x", "y", "id"],
    )
    r = breusch_pagan(df, "x", "y").collect()[0]
    b = np.cov(x, y, ddof=1)[0, 1] / np.var(x, ddof=1)
    a = y.mean() - b * x.mean()
    e2 = (y - a - b * x) ** 2
    lm = n * np.corrcoef(x, e2)[0, 1] ** 2
    assert r["lm_stat"] == pytest.approx(lm, abs=1e-4)
    assert r["slope"] == pytest.approx(b, abs=1e-6)
    assert r["p_value"] == pytest.approx(
        math.erfc(math.sqrt(lm / 2)), abs=1e-6
    )
    # homoskedastic noise: LM should NOT reject
    yh = 2.0 + 0.5 * x + rng.normal(0, 1, n)
    dfh = spark.createDataFrame(
        [(float(a_), float(b_)) for a_, b_ in zip(x, yh)], ["x", "y"]
    )
    assert breusch_pagan(dfh, "x", "y").collect()[0]["p_value"] > 0.01

    seg = (x > 5).astype(int)
    y2 = np.where(seg == 1, 5.0 + 1.5 * x, 2.0 + 0.5 * x) + rng.normal(
        0, 1, n
    )
    df2 = spark.createDataFrame(
        [(float(a_), float(b_), int(s_))
         for a_, b_, s_ in zip(x, y2, seg)],
        ["x", "y", "s"],
    )
    rc = chow_test(df2, "x", "y", "s").collect()[0]

    def sse(xv, yv):
        bb = np.cov(xv, yv, ddof=1)[0, 1] / np.var(xv, ddof=1)
        aa = yv.mean() - bb * xv.mean()
        return ((yv - aa - bb * xv) ** 2).sum()

    s_a = sse(x[seg == 0], y2[seg == 0])
    s_b = sse(x[seg == 1], y2[seg == 1])
    s_p = sse(x, y2)
    fst = ((s_p - s_a - s_b) / 2) / ((s_a + s_b) / (n - 4))
    assert rc["f_stat"] == pytest.approx(fst, rel=1e-5)
    assert rc["sse_pooled"] == pytest.approx(s_p, abs=1e-4)
    assert rc["p_value"] < 1e-9
    # same line in both segments: no break
    df3 = spark.createDataFrame(
        [(float(a_), float(b_), int(s_))
         for a_, b_, s_ in zip(x, yh, seg)],
        ["x", "y", "s"],
    )
    assert chow_test(df3, "x", "y", "s").collect()[0]["p_value"] > 0.01

    rd = cooks_distance(df, "x", "y", ["id"]).collect()
    e = y - a - b * x
    sxx = ((x - x.mean()) ** 2).sum()
    h = 1 / n + (x - x.mean()) ** 2 / sxx
    s2 = (e ** 2).sum() / (n - 2)
    D = e ** 2 * h / (2 * s2 * (1 - h) ** 2)
    flag = set(np.where(D > 4 / n)[0].tolist())
    assert {r_["id"] for r_ in rd} == flag and len(flag) > 0
    one = rd[0]
    assert one["cooks_d"] == pytest.approx(D[one["id"]], abs=1e-5)
    assert one["leverage"] == pytest.approx(h[one["id"]], abs=1e-6)

    # plant one far-off-the-cloud point; correlation-aware flagging
    xm = np.append(x, 5.0)
    ym = np.append(2.0 + 0.5 * x + rng.normal(0, 0.5, n), 20.0)
    dfm = spark.createDataFrame(
        [(float(a_), float(b_), int(i))
         for i, (a_, b_) in enumerate(zip(xm, ym))],
        ["x", "y", "id"],
    )
    rm = mahalanobis_outliers(dfm, "x", "y", ["id"]).collect()
    mu = np.array([xm.mean(), ym.mean()])
    S = np.cov(np.vstack([xm, ym]), ddof=1)
    Si = np.linalg.inv(S)
    pts = np.vstack([xm, ym]).T - mu
    dd = np.einsum("ij,jk,ik->i", pts, Si, pts)
    fl = set(np.where(dd > 13.815510557964274)[0].tolist())
    assert {r_["id"] for r_ in rm} == fl and n in fl  # the plant
    got = {r_["id"]: r_["d2"] for r_ in rm}
    assert got[n] == pytest.approx(dd[n], rel=1e-6)


def test_huber_regression_vs_numpy(spark):
    """Fixed-iteration Huber IRLS against a direct numpy replica of
    the same unroll; the robust slope beats OLS on planted outliers;
    n_downweighted counts exactly the |e| > k*s0 rows at the final
    reweight."""
    import math

    import numpy as np

    from padua_spark.operators.stats import huber_regression

    rng = np.random.RandomState(3)
    n = 300
    x = rng.uniform(0, 10, n)
    y = 1.0 + 2.0 * x + rng.normal(0, 1, n)
    y[:10] += 40
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], ["x", "y"]
    )
    r = huber_regression(df, "x", "y").collect()[0]
    Sx, Sy = x.sum(), y.sum()
    Sxx, Sxy, Syy = (x * x).sum(), (x * y).sum(), (y * y).sum()
    sxxc = Sxx - Sx * Sx / n
    sxyc = Sxy - Sx * Sy / n
    syyc = Syy - Sy * Sy / n
    b = sxyc / sxxc
    a = Sy / n - b * Sx / n
    s0 = math.sqrt((syyc - sxyc ** 2 / sxxc) / (n - 2))
    bb, aa = b, a
    for _ in range(3):
        e = np.abs(y - aa - bb * x)
        w = np.where(e > 1.345 * s0, 1.345 * s0 / e, 1.0)
        sw, swx, swy = w.sum(), (w * x).sum(), (w * y).sum()
        swxx, swxy = (w * x * x).sum(), (w * x * y).sum()
        wsxx = swxx - swx * swx / sw
        wsxy = swxy - swx * swy / sw
        bb = wsxy / wsxx
        aa = swy / sw - bb * swx / sw
        ndw = int((w < 1).sum())
    assert r["slope"] == pytest.approx(bb, abs=1e-6)
    assert r["intercept"] == pytest.approx(aa, abs=1e-6)
    assert r["slope_ols"] == pytest.approx(b, abs=1e-6)
    assert r["scale"] == pytest.approx(s0, abs=1e-6)
    assert r["n_downweighted"] == ndw
    assert abs(r["slope"] - 2.0) < abs(r["slope_ols"] - 2.0)


def test_url_profile_anatomy(spark):
    """URL parsing on handpicked anatomy: scheme/host lowering, port
    and userinfo stripping, registered-domain heuristic, path depth,
    query and tracking param counts, fragment-safe clean key, NULL
    propagation."""
    from padua_spark.extensions.text import url_profile

    urls = [
        (1, "https://www.Example.COM:8080/a/b/c?utm_source=x&id=5#f"),
        (2, "http://sub.shop.co.uk/p"),
        (3, "ftp://files.example.org/"),
        (4, "https://example.io"),
        (5, None),
        (6, "https://user:pw@x.y.z/path?gclid=9&fbclid=2&q=1"),
        (7, "not a url at all"),
    ]
    ud = spark.createDataFrame(urls, ["id", "url"])
    out = {r["id"]: r for r in url_profile(ud, "url").collect()}
    r1 = out[1]
    assert (r1["scheme"], r1["host"]) == ("https", "www.example.com")
    assert r1["registered_domain"] == "example.com"
    assert (r1["path_depth"], r1["n_query_params"]) == (3, 2)
    assert r1["n_tracking_params"] == 1
    assert r1["clean_url"] == "https://www.Example.COM:8080/a/b/c"
    assert out[2]["registered_domain"] == "co.uk"  # documented 2-label heuristic
    assert out[3]["scheme"] == "ftp" and out[3]["path_depth"] == 0
    assert out[4]["host"] == "example.io" and out[4]["n_query_params"] == 0
    assert out[5]["scheme"] is None and out[5]["path_depth"] is None
    r6 = out[6]
    assert r6["host"] == "x.y.z"  # userinfo stripped
    assert (r6["n_query_params"], r6["n_tracking_params"]) == (3, 2)
    r7 = out[7]
    assert r7["scheme"] is None and r7["host"] is None


def test_negbin_and_mde_vs_replicas(spark):
    """NB method-of-moments against numpy on NB draws (incl. the
    integer-contract raise and the equi-dispersed NULL fit); MDE
    identity against the closed formula with the fixed z pair."""
    import math

    import numpy as np

    from padua_spark.operators.stats import (
        mde_two_proportion,
        negbin_fit,
    )

    rng = np.random.RandomState(5)
    c = rng.negative_binomial(3, 0.4, 2000)
    cd = spark.createDataFrame([(int(v),) for v in c], "c long")
    r = negbin_fit(cd, "c").collect()[0]
    m, v = c.mean(), c.var(ddof=1)
    assert r["mean"] == pytest.approx(m, abs=1e-6)
    assert r["variance"] == pytest.approx(v, abs=1e-6)
    assert r["dispersion"] == pytest.approx(v / m, abs=1e-6)
    assert r["nb_r"] == pytest.approx(m * m / (v - m), abs=1e-5)
    assert r["nb_p"] == pytest.approx(m / v, abs=1e-6)
    assert r["zero_frac"] == pytest.approx((c == 0).mean(), abs=1e-9)
    assert r["poisson_zero_frac"] == pytest.approx(
        math.exp(-m), abs=1e-6
    )
    with pytest.raises(Exception, match="non-negative integer"):
        negbin_fit(
            spark.createDataFrame([(1.5,)], "c double"), "c"
        ).collect()
    # under/equi-dispersed: no NB fit
    ud = spark.createDataFrame([(2,)] * 50 + [(3,)] * 50, "c long")
    ru = negbin_fit(ud, "c").collect()[0]
    assert ru["nb_r"] is None and ru["dispersion"] < 1.0

    data = [("a", int(x < 0.10)) for x in rng.rand(5000)] + [
        ("b", int(x < 0.13)) for x in rng.rand(5000)
    ]
    md = spark.createDataFrame(data, ["v", "s"])
    r = mde_two_proportion(md, "v", "s", "a", "b").collect()[0]
    ka = sum(s for g, s in data if g == "a")
    kb = sum(s for g, s in data if g == "b")
    pbar = (ka + kb) / 10000
    mde = (1.959963984540054 + 0.8416212335729143) * math.sqrt(
        pbar * (1 - pbar) * (1 / 5000 + 1 / 5000)
    )
    assert r["mde_absolute"] == pytest.approx(mde, abs=1e-6)
    assert r["observed_diff"] == pytest.approx(
        kb / 5000 - ka / 5000, abs=1e-6
    )
    assert r["powered"] == (abs(kb / 5000 - ka / 5000) >= mde)
    with pytest.raises(ValueError, match="supported alpha"):
        mde_two_proportion(md, "v", "s", "a", "b", alpha=0.2)


def test_holm_and_delong_vs_replicas(spark):
    """Holm step-down against the direct definition (NULL p passes
    through); DeLong z/p against a midrank-component numpy replica
    with planted score ties; equal scores give z NULL-safe ~ 0."""
    import math

    import numpy as np

    from padua_spark.operators.stats import delong_test, holm_adjust

    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205,
          0.212, 0.216, None]
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(ps)], ["i", "p_value"]
    )
    got = {r["i"]: r["p_holm"] for r in holm_adjust(df, "p_value").collect()}
    vals = [p for p in ps if p is not None]
    m = len(vals)
    order = np.argsort(vals)
    adj = np.empty(m)
    run = 0.0
    for rank, idx in enumerate(order):
        run = max(run, (m - rank) * vals[idx])
        adj[idx] = min(1.0, run)
    assert all(got[i] == pytest.approx(adj[i], abs=1e-6) for i in range(m))
    assert got[10] is None

    rng = np.random.RandomState(11)
    n = 600
    y = (rng.rand(n) < 0.4).astype(int)
    sa = np.round(y * 0.8 + rng.rand(n), 1)
    sb = np.round(y * 0.5 + rng.rand(n), 1)
    df = spark.createDataFrame(
        [(int(a), float(b), float(c)) for a, b, c in zip(y, sa, sb)],
        ["y", "sa", "sb"],
    )
    r = delong_test(df, "y", "sa", "sb").collect()[0]

    def midranks(x):
        order = np.argsort(x, kind="stable")
        sx = x[order]
        ranks = np.empty(len(x))
        i = 0
        while i < len(sx):
            j = i
            while j < len(sx) and sx[j] == sx[i]:
                j += 1
            ranks[order[i:j]] = (i + 1 + j) / 2.0
            i = j
        return ranks

    def components(s):
        n1 = y.sum()
        n0 = len(y) - n1
        r_all = midranks(s)
        v10 = (r_all[y == 1] - midranks(s[y == 1])) / n0
        v01 = 1.0 - (r_all[y == 0] - midranks(s[y == 0])) / n1
        return v10, v01

    va10, va01 = components(sa)
    vb10, vb01 = components(sb)
    n1 = int(y.sum())
    n0 = n - n1
    S10 = np.cov(np.vstack([va10, vb10]), ddof=1)
    S01 = np.cov(np.vstack([va01, vb01]), ddof=1)
    var = (S10[0, 0] + S10[1, 1] - 2 * S10[0, 1]) / n1 + (
        S01[0, 0] + S01[1, 1] - 2 * S01[0, 1]
    ) / n0
    z = (va10.mean() - vb10.mean()) / math.sqrt(var)
    assert (r["n_pos"], r["n_neg"]) == (n1, n0)
    assert r["auc_a"] == pytest.approx(va10.mean(), abs=1e-6)
    assert r["auc_b"] == pytest.approx(vb10.mean(), abs=1e-6)
    assert r["z"] == pytest.approx(z, abs=1e-5)
    assert r["p_value"] == pytest.approx(
        math.erfc(abs(z) / math.sqrt(2)), abs=1e-6
    )
    # identical scores: zero variance of the difference -> NULL z
    same = delong_test(df, "y", "sa", "sa").collect()[0]
    assert same["auc_diff"] == 0.0 and same["z"] is None


def test_causal_battery_vs_numpy(spark):
    """IPW-Hajek ATE/SE/ESS, 2x2 DiD ATT/SE, and the deterministic
    randomization test against numpy replicas; calibration checks
    (planted effect detected, null not rejected; the null-diff sd of
    the hash reassignments matches binomial-split theory — the
    lattice-collapse regression test)."""
    import math

    import numpy as np

    from padua_spark.operators.stats import (
        diff_in_diff,
        ipw_ate,
        randomization_test_mean,
    )

    rng = np.random.RandomState(9)
    n = 2000
    x = rng.rand(n)
    e = np.clip(0.2 + 0.6 * x, 0.01, 0.99)
    t = (rng.rand(n) < e).astype(int)
    y = 1.0 + 2.0 * t + 3.0 * x + rng.normal(0, 1, n)
    df = spark.createDataFrame(
        [(int(a), float(b), float(c)) for a, b, c in zip(t, y, e)],
        ["t", "y", "e"],
    )
    r = ipw_ate(df, "t", "y", "e").collect()[0]
    ec = np.clip(e, 0.01, 0.99)
    w = np.where(t == 1, 1 / ec, 1 / (1 - ec))
    mu_t = (w[t == 1] * y[t == 1]).sum() / w[t == 1].sum()
    mu_c = (w[t == 0] * y[t == 0]).sum() / w[t == 0].sum()

    def armvar(m, wi, yi):
        return ((wi ** 2 * (yi - m) ** 2).sum()) / (wi.sum() ** 2)

    se = math.sqrt(
        armvar(mu_t, w[t == 1], y[t == 1])
        + armvar(mu_c, w[t == 0], y[t == 0])
    )
    assert r["ate"] == pytest.approx(mu_t - mu_c, abs=1e-5)
    assert r["se"] == pytest.approx(se, abs=1e-6)
    assert r["ess_treat"] == pytest.approx(
        w[t == 1].sum() ** 2 / (w[t == 1] ** 2).sum(), abs=1e-4
    )
    assert abs(r["ate"] - 2.0) < 4 * r["se"]  # recovers the truth

    g = (rng.rand(n) < 0.5).astype(int)
    p_ = (rng.rand(n) < 0.5).astype(int)
    y2 = 1.0 + 0.5 * g + 0.8 * p_ + 1.7 * g * p_ + rng.normal(0, 1, n)
    dd = spark.createDataFrame(
        [(int(a), int(b), float(c)) for a, b, c in zip(g, p_, y2)],
        ["g", "p", "y"],
    )
    r = diff_in_diff(dd, "g", "p", "y").collect()[0]
    means = {
        (a, b): y2[(g == a) & (p_ == b)].mean()
        for a in (0, 1) for b in (0, 1)
    }
    att = (means[(1, 1)] - means[(1, 0)]) - (
        means[(0, 1)] - means[(0, 0)]
    )
    se2 = sum(
        y2[(g == a) & (p_ == b)].var(ddof=1)
        / ((g == a) & (p_ == b)).sum()
        for a in (0, 1) for b in (0, 1)
    )
    assert r["att"] == pytest.approx(att, abs=1e-6)
    assert r["se"] == pytest.approx(math.sqrt(se2), abs=1e-6)
    assert abs(r["att"] - 1.7) < 4 * r["se"]

    rd = spark.createDataFrame(
        [(int(i), "x" if tt == 1 else "z", float(v))
         for i, tt, v in zip(range(n), t, y)],
        ["id", "g", "v"],
    )
    r = randomization_test_mean(
        rd, "id", "g", "v", "x", "z", n_perms=99
    ).collect()[0]
    assert r["p_value"] == 0.01  # planted effect: min possible p
    # null: value independent of the split
    u = np.random.RandomState(4).rand(n)
    rd2 = spark.createDataFrame(
        [(int(i), "x" if tt == 1 else "z", float(v))
         for i, tt, v in zip(range(n), t, u)],
        ["id", "g", "v"],
    )
    rn = randomization_test_mean(
        rd2, "id", "g", "v", "x", "z", n_perms=99
    ).collect()[0]
    assert rn["p_value"] > 0.05
    # lattice-collapse regression: the hash reassignment's null-diff
    # sd must match the binomial-split theory on PERIODIC inputs
    M, A = 2_147_483_647, 48_271
    ids = np.arange(n)
    v7 = (ids % 7).astype(float)
    diffs = []
    for b in range(60):
        salt = 1_000_003 * (b + 1)
        h0 = (ids % M + salt) % M
        h1 = (h0 * h0) % M
        h2 = (h1 * A + h0) % M
        h3 = (h2 * h2) % M
        bits = h3 < M // 2
        diffs.append(v7[bits].mean() - v7[~bits].mean())
    sd_theory = v7.std() * math.sqrt(4 / n)
    assert np.std(diffs) > 0.5 * sd_theory


def test_bayes_eb_chapman_vs_replicas(spark):
    """Cook's exact beta inequality against a python lgamma replica
    (exact and forced-normal branches); EB shrinkage beats raw rates
    in MSE against planted truths and degenerates to the pooled mean
    on homogeneous groups; Chapman point/SE identities."""
    import math
    from math import exp, lgamma, log

    import numpy as np

    from padua_spark.operators.stats import (
        bayes_ab_beta,
        chapman_estimate,
        eb_rate_shrinkage,
    )

    data = (
        [("a", 1)] * 30 + [("a", 0)] * 70
        + [("b", 1)] * 45 + [("b", 0)] * 55
    )
    df = spark.createDataFrame(data, ["v", "s"])
    r = bayes_ab_beta(df, "v", "s", "a", "b").collect()[0]

    def logB(a, b):
        return lgamma(a) + lgamma(b) - lgamma(a + b)

    a1, b1, a2, b2 = 31, 71, 46, 56
    P = sum(
        exp(
            logB(a1 + i, b1 + b2) - log(b2 + i)
            - logB(1 + i, b2) - logB(a1, b1)
        )
        for i in range(a2)
    )
    assert r["method"] == "exact"
    assert r["prob_b_beats_a"] == pytest.approx(P, abs=2e-6)
    assert (r["n_a"], r["k_a"], r["n_b"], r["k_b"]) == (100, 30, 100, 45)
    rn = bayes_ab_beta(df, "v", "s", "a", "b", max_support=10).collect()[0]
    mu_a, mu_b = a1 / (a1 + b1), a2 / (a2 + b2)
    va = a1 * b1 / ((a1 + b1) ** 2 * (a1 + b1 + 1))
    vb = a2 * b2 / ((a2 + b2) ** 2 * (a2 + b2 + 1))
    z = (mu_b - mu_a) / math.sqrt(va + vb)
    pn = 1 - math.erfc(z / math.sqrt(2)) / 2
    assert rn["method"] == "normal"
    assert rn["prob_b_beats_a"] == pytest.approx(pn, abs=2e-6)
    with pytest.raises(ValueError, match="priors must be integers"):
        bayes_ab_beta(df, "v", "s", "a", "b", prior_alpha=0.5)

    rng = np.random.RandomState(2)
    rows = []
    true_p = {}
    for gi in range(30):
        p = float(rng.beta(4, 6))
        true_p[f"g{gi}"] = p
        n = int(rng.randint(5, 200))
        rows += [(f"g{gi}", int(k)) for k in (rng.rand(n) < p).astype(int)]
    gdf = spark.createDataFrame(rows, ["g", "s"])
    out = {r_["g"]: r_ for r_ in eb_rate_shrinkage(gdf, ["g"], "s").collect()}
    raw_err = np.mean(
        [(out[g]["raw_rate"] - true_p[g]) ** 2 for g in true_p]
    )
    shr_err = np.mean(
        [(out[g]["shrunk_rate"] - true_p[g]) ** 2 for g in true_p]
    )
    assert shr_err < raw_err  # shrinkage helps, the whole point
    # homogeneous groups: prior strength NULL, everything at mu
    hom = spark.createDataFrame(
        [(f"h{i}", int(j < 3)) for i in range(10) for j in range(10)],
        ["g", "s"],
    )
    ho = eb_rate_shrinkage(hom, ["g"], "s").collect()
    assert all(r_["prior_strength"] is None for r_ in ho)
    assert all(r_["shrunk_rate"] == pytest.approx(0.3, abs=1e-9) for r_ in ho)

    rng = np.random.RandomState(7)
    n_true = 1000
    sa = rng.rand(n_true) < 0.4
    sb = rng.rand(n_true) < 0.3
    items = [(int(a), int(b)) for a, b in zip(sa, sb) if a or b]
    cd = spark.createDataFrame(items, ["a", "b"])
    r = chapman_estimate(cd, "a", "b").collect()[0]
    n1, n2, m = int(sa.sum()), int(sb.sum()), int((sa & sb).sum())
    nh = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    var = (
        (n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
        / ((m + 1) ** 2 * (m + 2))
    )
    assert r["n_hat"] == pytest.approx(nh, abs=1e-4)
    assert r["se"] == pytest.approx(math.sqrt(var), abs=1e-4)
    assert r["ci_lo"] <= n_true <= r["ci_hi"]


def test_data_and_json_profile(spark):
    """Column profile against handcrafted stats (nulls, exact
    distincts, lexicographic min/max for strings, numeric moments);
    JSON key profile on mixed flat objects including unparsable rows
    counting only toward the total."""
    import numpy as np

    from padua_spark.extensions.quality import data_profile, json_profile

    rows = [
        (1, 2.0, "b"), (2, None, "a"), (3, 4.0, None),
        (4, 8.0, "c"), (5, 8.0, "a"),
    ]
    df = spark.createDataFrame(rows, ["i", "x", "s"])
    out = {r["column"]: r for r in data_profile(df).collect()}
    assert out["i"]["n_distinct"] == 5 and out["i"]["n_null"] == 0
    assert out["x"]["n_null"] == 1 and out["x"]["n_distinct"] == 3
    vals = np.array([2.0, 4.0, 8.0, 8.0])
    assert out["x"]["mean"] == pytest.approx(vals.mean(), abs=1e-9)
    assert out["x"]["sd"] == pytest.approx(vals.std(ddof=1), abs=1e-6)
    assert (out["s"]["min_value"], out["s"]["max_value"]) == ("a", "c")
    assert out["s"]["mean"] is None
    assert out["s"]["null_rate"] == pytest.approx(0.2, abs=1e-9)

    js = [
        (1, '{"a": 1, "b": "x"}'),
        (2, '{"a": 2.5}'),
        (3, '{"b": "y", "c": "1e3"}'),
        (4, "not json"),
        (5, None),
    ]
    jd = spark.createDataFrame(js, ["i", "props"])
    out = {r["key"]: r for r in json_profile(jd, "props").collect()}
    assert set(out) == {"a", "b", "c"}
    assert out["a"]["n_present"] == 2
    # 4 non-null json rows form the denominator (the unparsable row
    # counts toward the total, contributes no keys)
    assert out["a"]["presence_rate"] == pytest.approx(0.5, abs=1e-9)
    assert out["a"]["frac_numeric"] == 1.0
    assert out["b"]["frac_numeric"] == 0.0
    assert out["c"]["frac_numeric"] == 1.0  # "1e3" casts
    assert out["b"]["n_distinct"] == 2


def test_spiegelhalter_and_hosmer_lemeshow_vs_numpy(spark):
    """Spiegelhalter z against the direct numpy formula;
    Hosmer-Lemeshow chi2/df against a numpy replica using the same
    exact-quantile boundary law; the closed-form chi2 survival against
    the numpy series implementation; degenerate all-0/1 probabilities
    yield NULL z."""
    import numpy as np

    from padua_spark.extensions.features import (
        hosmer_lemeshow,
        spiegelhalter_z,
    )
    from padua_spark.functions.distributions import chi2_sf

    rng = np.random.RandomState(7)
    n = 3000
    p = np.round(rng.uniform(0.02, 0.98, n), 3)
    y = (rng.uniform(size=n) < p * 0.9 + 0.03).astype(int)
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(p, y)], ["p", "y"]
    )
    num = np.sum((y - p) * (1 - 2 * p))
    var = np.sum((1 - 2 * p) ** 2 * p * (1 - p))
    r = spiegelhalter_z(df, "p", "y").collect()[0]
    assert r["n"] == n
    assert r["z"] == pytest.approx(num / np.sqrt(var), abs=1e-5)

    vals, counts = np.unique(p, return_counts=True)
    crun = np.cumsum(counts)
    bounds = [
        vals[np.searchsorted(crun, int(np.ceil(q * n)))]
        for q in (i / 10 for i in range(1, 10))
    ]
    bucket = np.ones(n, dtype=int)
    for b in bounds:
        bucket += (p > b).astype(int)
    chi2 = 0.0
    g = 0
    for bi in range(1, 11):
        m = bucket == bi
        if not m.any():
            continue
        ng, og, eg = m.sum(), y[m].sum(), p[m].sum()
        if 0 < eg < ng:
            g += 1
            chi2 += (og - eg) ** 2 / (eg * (1 - eg / ng))
    rows = hosmer_lemeshow(df, "p", "y").collect()
    assert rows[0]["g_bins"] == g and rows[0]["df"] == g - 2
    assert rows[0]["chi2"] == pytest.approx(chi2, abs=1e-4)
    p_ref = float(
        chi2_sf(np.array([chi2]), np.array([float(g - 2)]))[0]
    )
    assert rows[0]["p_value"] == pytest.approx(p_ref, abs=2e-6)
    # per-bin counts partition the sample
    assert sum(r["n"] for r in rows) == n

    hard = spark.createDataFrame(
        [(0.0, 0), (1.0, 1), (0.0, 1)], ["p", "y"]
    )
    rz = spiegelhalter_z(hard, "p", "y").collect()[0]
    assert rz["z"] is None and rz["p_value"] is None


def test_hotelling_t2_vs_numpy(spark):
    """Two-sample bivariate Hotelling T2 against the numpy pooled
    solve; perfect-shift detection; singular pooled covariance yields
    NULL."""
    import numpy as np

    from padua_spark.functions.distributions import f_sf
    from padua_spark.operators.stats import hotelling_t2

    rng = np.random.RandomState(11)
    ga = rng.normal(size=(180, 2)) @ np.array(
        [[1.0, 0.4], [0.0, 0.8]]
    ) + [0.25, 0.0]
    gb = rng.normal(size=(150, 2)) @ np.array([[1.0, 0.4], [0.0, 0.8]])
    rows = [("a", float(v[0]), float(v[1])) for v in ga] + [
        ("b", float(v[0]), float(v[1])) for v in gb
    ]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    r = hotelling_t2(df, "g", "x", "y", "a", "b").collect()[0]
    na, nb = len(ga), len(gb)
    d = ga.mean(0) - gb.mean(0)
    S = (
        (ga - ga.mean(0)).T @ (ga - ga.mean(0))
        + (gb - gb.mean(0)).T @ (gb - gb.mean(0))
    ) / (na + nb - 2)
    t2 = na * nb / (na + nb) * d @ np.linalg.solve(S, d)
    f = t2 * (na + nb - 3) / (2 * (na + nb - 2))
    pr = float(
        f_sf(
            np.array([f]), np.array([2.0]),
            np.array([float(na + nb - 3)]),
        )[0]
    )
    assert r["n_a"] == na and r["n_b"] == nb
    assert r["t2"] == pytest.approx(t2, abs=1e-4)
    assert r["f_stat"] == pytest.approx(f, abs=1e-4)
    assert r["p_value"] == pytest.approx(pr, abs=1e-5)

    # y perfectly collinear with x -> singular S -> NULL
    sing = spark.createDataFrame(
        [("a", float(i), float(2 * i)) for i in range(10)]
        + [("b", float(i + 1), float(2 * i + 2)) for i in range(10)],
        ["g", "x", "y"],
    )
    rs = hotelling_t2(sing, "g", "x", "y", "a", "b").collect()[0]
    assert rs["t2"] is None and rs["p_value"] is None


def test_modularity_known_graphs(spark):
    """Newman modularity: two triangles + bridge with the triangle
    partition gives the textbook 5/14; the all-one-community partition
    gives 0; unlabeled endpoints count toward m but no community."""
    from padua_spark.extensions.graph import modularity

    ed = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)]
    edf = spark.createDataFrame(ed, ["src", "dst"])
    lab = spark.createDataFrame(
        [(i, 0 if i <= 3 else 1) for i in range(1, 7)],
        ["node", "label"],
    )
    r = modularity(edf, lab).collect()[0]
    assert r["n_nodes"] == 6 and r["n_edges"] == 7
    assert r["n_communities"] == 2
    assert r["modularity"] == pytest.approx(5.0 / 14.0, abs=1e-6)

    one = spark.createDataFrame(
        [(i, 1) for i in range(1, 7)], ["node", "label"]
    )
    r1 = modularity(edf, one).collect()[0]
    # single community: e_c/m = 1, (d_c/2m)^2 = 1 -> Q = 0
    assert r1["modularity"] == pytest.approx(0.0, abs=1e-9)

    partial = spark.createDataFrame(
        [(i, 0) for i in (1, 2, 3)], ["node", "label"]
    )
    rp = modularity(edf, partial).collect()[0]
    # m still 7; community 0 has e_c=3, d_c=7 (the 3-4 bridge adds
    # one degree to node 3's community)
    assert rp["n_edges"] == 7
    assert rp["modularity"] == pytest.approx(
        3.0 / 7.0 - (7.0 / 14.0) ** 2, abs=1e-6
    )


def test_hodges_lehmann_vs_numpy(spark):
    """HL shift and pseudo-median against brute-force numpy pairwise
    enumeration (even and odd pair counts); the max_cells guard
    raises naming the domain."""
    import numpy as np

    from padua_spark.operators.stats import (
        hodges_lehmann_pseudomedian,
        hodges_lehmann_shift,
    )

    rng = np.random.RandomState(3)
    xa = np.round(rng.normal(10, 3, 150), 1)
    xb = np.round(rng.normal(8.5, 2, 131), 1)
    rows = [("a", float(x)) for x in xa] + [
        ("b", float(x)) for x in xb
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = hodges_lehmann_shift(df, "g", "v", "a", "b").collect()[0]
    diffs = np.sort((xa[:, None] - xb[None, :]).ravel())
    t = diffs.size
    ref = (diffs[(t + 1) // 2 - 1] + diffs[t // 2]) / 2
    assert r["n_pairs"] == t
    assert r["hl_shift"] == pytest.approx(ref, abs=1e-9)

    rp = hodges_lehmann_pseudomedian(
        df.where(F.col("g") == "a"), "v"
    ).collect()[0]
    walsh = np.sort(
        ((xa[:, None] + xa[None, :]) / 2)[np.triu_indices(len(xa))]
    )
    t2 = walsh.size
    ref2 = (walsh[(t2 + 1) // 2 - 1] + walsh[t2 // 2]) / 2
    assert rp["n_pairs"] == t2
    assert rp["pseudomedian"] == pytest.approx(ref2, abs=1e-9)

    with pytest.raises(ValueError, match="max_cells"):
        hodges_lehmann_shift(
            df, "g", "v", "a", "b", max_cells=10
        ).collect()
    # empty group -> NULL estimate, no raise
    re = hodges_lehmann_shift(
        df.where(F.col("g") == "a"), "g", "v", "a", "b"
    ).collect()[0]
    assert re["hl_shift"] is None and re["n_b"] == 0


def test_rake_keywords_replica(spark):
    """RAKE phrase extraction and scores against a pure-python
    replica (stopword splitting, degree/frequency, sorted-order
    sums); phrase-length bounds enforced."""
    import collections

    from padua_spark.extensions.text import STOPWORDS, rake_keywords

    docs = [
        (1, "the quick brown fox and a lazy dog of the night"),
        (2, "quick brown fox is quick and brown fox runs in the night sky"),
        (3, "lazy dog sleeps and the night sky glows brightly today ok"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["phrase"]: (r["n_words"], r["n_occurrences"], r["score"])
        for r in rake_keywords(df, "doc_id", "text").collect()
    }
    stop = set(STOPWORDS["en"])
    phrases = collections.Counter()
    freq = collections.Counter()
    deg = collections.Counter()
    for _, text in docs:
        cur = []
        for tok in text.lower().split() + ["|"]:
            if tok in stop or tok == "|":
                if cur and 1 <= len(cur) <= 6:
                    phrases[" ".join(cur)] += 1
                    for w in cur:
                        freq[w] += 1
                        deg[w] += len(cur)
                cur = []
            else:
                cur.append(tok)
    assert set(got) == set(phrases)
    for p, cnt in phrases.items():
        score = 0.0
        for _, s in sorted(
            (w, deg[w] / freq[w]) for w in p.split()
        ):
            score += s
        assert got[p][1] == cnt
        assert got[p][2] == pytest.approx(score, abs=1e-6)
    # a 7-word stopword-free run is dropped by max_phrase_tokens=6
    long = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta")],
        ["doc_id", "text"],
    )
    assert rake_keywords(long, "doc_id", "text").count() == 0
    # a literal '|' inside a token is NOT a phrase boundary (NUL
    # sentinel): 'a|b' stays one token inside one phrase
    piped = spark.createDataFrame(
        [(1, "the col1|col2 table of markdown rows")],
        ["doc_id", "text"],
    )
    got_piped = {
        r["phrase"]
        for r in rake_keywords(piped, "doc_id", "text").collect()
    }
    assert "col1|col2 table" in got_piped
    assert "markdown rows" in got_piped


def test_code_prose_profile_and_ngram_novelty(spark):
    """code_prose_profile separates a code-ish doc from prose and
    matches hand counts; ngram_novelty matches the set-difference
    replica and omits short docs."""
    from padua_spark.extensions.dedup import ngram_novelty
    from padua_spark.extensions.text import code_prose_profile

    code = "def f(x):\n    return x[1] + {1: 2}[1];\nclass A:\n    pass"
    prose = "the quiet afternoon settled over the hills and fields"
    df = spark.createDataFrame(
        [(1, code), (2, prose)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in code_prose_profile(df, "text").collect()
    }
    assert out[1]["code_score"] > out[2]["code_score"]
    assert out[1]["keyword_hits"] >= 2  # def, return, class
    assert out[2]["brace_semicolon_per_kchar"] == 0.0
    assert out[1]["indent_line_rate"] == pytest.approx(0.5, abs=1e-6)
    n = len(prose)
    sym = sum(not c.isalnum() and not c.isspace() for c in prose)
    assert out[2]["symbol_ratio"] == pytest.approx(sym / n, abs=1e-6)

    docs = [
        (1, "a b c d e f g h"),
        (2, "c d e f x y z w"),
        (3, "x"),
    ]
    tr = spark.createDataFrame(docs[:1] + docs[2:], ["doc_id", "text"])
    ref = spark.createDataFrame([docs[1]], ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_novel"])
        for r in ngram_novelty(
            tr, ref, "doc_id", "text", n_tokens=3
        ).collect()
    }

    def grams(t, k=3):
        w = t.split()
        return {
            tuple(w[i : i + k]) for i in range(len(w) - k + 1)
        }

    refset = grams(docs[1][1])
    g1 = grams(docs[0][1])
    novel = len([g for g in g1 if g not in refset])
    assert got[1] == (len(g1), novel)
    assert 3 not in got  # 1-token doc emits no windows


def test_personalized_pagerank_vs_replica(spark):
    """Seeded PageRank against an exact python power-iteration
    replica; nodes unreachable from the seed set score exactly 0;
    empty seed set returns all-zero ranks."""
    from padua_spark.extensions.graph import personalized_pagerank

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (6, 7)]
    edf = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    got = {
        r["node"]: (r["rank"], r["is_seed"])
        for r in personalized_pagerank(
            edf, seeds, k_iters=5
        ).collect()
    }
    outdeg = {}
    for u, _ in edges:
        outdeg[u] = outdeg.get(u, 0) + 1
    nodes = sorted({u for e in edges for u in e})
    r = {n: (1.0 if n == 1 else 0.0) for n in nodes}
    for _ in range(5):
        nr = {n: 0.15 * (1.0 if n == 1 else 0.0) for n in nodes}
        for u, v in edges:
            nr[v] += 0.85 * r[u] / outdeg[u]
        r = nr
    for n in nodes:
        assert got[n][0] == pytest.approx(r[n], abs=1e-12)
    assert got[6][0] == 0.0 and got[7][0] == 0.0
    assert got[1][1] is True and got[2][1] is False

    none = spark.createDataFrame([], "node int")
    allzero = personalized_pagerank(edf, none, k_iters=3).collect()
    assert all(row["rank"] == 0.0 for row in allzero)


def test_croston_forecast_replica(spark):
    """Croston per-key recursion against a pure-python replica
    (started/gap/smoothing states); all-zero series yields NULLs;
    SBA = 0.75x rate at alpha=0.5; the bounded-series guard raises."""
    from padua_spark.operators.temporal import croston_forecast

    series = {
        "k1": [0, 0, 3, 0, 0, 0, 5, 0, 2, 0, 0, 4],
        "k2": [1, 0, 0, 2, 2, 0, 0, 0, 0, 1],
        "k3": [0, 0, 0],
    }
    rows = [
        (k, i, float(x))
        for k, xs in series.items()
        for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, ["k", "t", "v"])
    got = {
        r["k"]: r
        for r in croston_forecast(df, ["k"], ["t"], "v").collect()
    }
    alpha = 0.5
    for k, xs in series.items():
        z = p = None
        q = 0.0
        started = False
        for x in xs:
            qq = q + 1
            if x > 0:
                if started:
                    z = alpha * x + (1 - alpha) * z
                    p = alpha * qq + (1 - alpha) * p
                else:
                    z, p, started = x, qq, True
                q = 0.0
            else:
                q = qq
        g = got[k]
        if not started:
            assert g["forecast"] is None and g["n_nonzero"] == 0
        else:
            assert g["demand_level"] == pytest.approx(z, abs=1e-6)
            assert g["interval_level"] == pytest.approx(p, abs=1e-6)
            assert g["forecast"] == pytest.approx(z / p, abs=1e-6)
            assert g["forecast_sba"] == pytest.approx(
                0.75 * (z / p), abs=1e-6
            )
    with pytest.raises(ValueError, match="max_series_length"):
        croston_forecast(df, ["k"], ["t"], "v", max_series_length=5)


def test_abc_analysis_and_two_proportion_effects(spark):
    """ABC classes match the hand-walked Pareto cumulative; ties
    classify identically; Newcombe CI and Cohen's h match the
    closed-form python replica."""
    import math

    from padua_spark.extensions.quality import abc_analysis
    from padua_spark.operators.stats import two_proportion_effects

    vals = [
        ("p1", 500.0), ("p2", 300.0), ("p3", 100.0),
        ("p4", 50.0), ("p5", 30.0), ("p6", 20.0),
    ]
    adf = spark.createDataFrame(vals, ["k", "v"])
    out = {
        r["k"]: (r["cum_share"], r["abc_class"])
        for r in abc_analysis(adf, ["k"], "v").collect()
    }
    assert out["p1"] == (0.5, "A") and out["p2"] == (0.8, "A")
    assert out["p3"][1] == "B" and out["p6"][1] == "C"
    # ties: two keys with the same total share one class
    tie = spark.createDataFrame(
        [("a", 50.0), ("b", 50.0), ("c", 10.0)], ["k", "v"]
    )
    tied = {
        r["k"]: r["abc_class"]
        for r in abc_analysis(tie, ["k"], "v").collect()
    }
    assert tied["a"] == tied["b"]

    na, ka, nb, kb = 400, 130, 350, 80
    rows = [("a", i < ka) for i in range(na)] + [
        ("b", i < kb) for i in range(nb)
    ]
    tdf = spark.createDataFrame(rows, ["g", "s"])
    r = two_proportion_effects(
        tdf, "g", F.col("s"), "a", "b"
    ).collect()[0]
    z = 1.959963984540054

    def wilson(k, n):
        p = k / n
        c = (p + z * z / (2 * n)) / (1 + z * z / n)
        h = (
            z
            * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
            / (1 + z * z / n)
        )
        return p, c - h, c + h

    pa, la, ua = wilson(ka, na)
    pb, lb, ub = wilson(kb, nb)
    d = pa - pb
    assert r["risk_diff"] == pytest.approx(d, abs=1e-6)
    assert r["rd_ci_lo"] == pytest.approx(
        d - math.sqrt((pa - la) ** 2 + (ub - pb) ** 2), abs=1e-6
    )
    assert r["rd_ci_hi"] == pytest.approx(
        d + math.sqrt((ua - pa) ** 2 + (pb - lb) ** 2), abs=1e-6
    )
    assert r["cohens_h"] == pytest.approx(
        2 * math.asin(math.sqrt(pa)) - 2 * math.asin(math.sqrt(pb)),
        abs=1e-6,
    )


def test_propensity_strata_att_replica(spark):
    """Subclassification ATT against a numpy replica with the same
    treated-quantile boundary law; recovers a known effect within
    noise; strata without controls are dropped and counted."""
    import numpy as np

    from padua_spark.operators.stats import propensity_strata_att

    rng = np.random.RandomState(5)
    n = 3000
    score = np.round(rng.uniform(0.05, 0.95, n), 3)
    treat = (rng.uniform(size=n) < score).astype(int)
    yv = 2.0 * treat + 3.0 * score + rng.normal(0, 1, n)
    pdf = spark.createDataFrame(
        [
            (int(t), float(o), float(s))
            for t, o, s in zip(treat, yv, score)
        ],
        ["t", "y", "s"],
    )
    r = propensity_strata_att(pdf, "t", "y", "s", n_strata=5).collect()[0]
    tsc = score[treat == 1]
    vals_u, counts = np.unique(tsc, return_counts=True)
    crun = np.cumsum(counts)
    nt = len(tsc)
    bounds = [
        vals_u[np.searchsorted(crun, int(np.ceil(q * nt)))]
        for q in (i / 5 for i in range(1, 5))
    ]
    strat = np.ones(n, dtype=int)
    for b in bounds:
        strat += (score > b).astype(int)
    used = [
        (kk, (strat == kk) & (treat == 1), (strat == kk) & (treat == 0))
        for kk in range(1, 6)
    ]
    used = [(kk, mt, mc) for kk, mt, mc in used
            if mt.sum() > 0 and mc.sum() > 0]
    n_used = sum(mt.sum() for _, mt, _ in used)
    att = sum(
        mt.sum() / n_used * (yv[mt].mean() - yv[mc].mean())
        for _, mt, mc in used
    )
    assert r["att"] == pytest.approx(att, abs=1e-5)
    assert r["n_strata_used"] == len(used)
    assert abs(r["att"] - 2.0) < 0.25  # recovers the planted effect
    n_singleton = sum(
        1 for _, mt, mc in used if mt.sum() < 2 or mc.sum() < 2
    )
    assert r["n_singleton_arm_strata"] == n_singleton
    # singleton-arm strata are surfaced: a stratum whose control arm
    # has exactly 1 unit still contributes to ATT but adds zero
    # variance — the column reports it
    tiny = spark.createDataFrame(
        [(1, 1.0, 0.2), (1, 2.0, 0.2), (0, 0.5, 0.2),
         (1, 3.0, 0.8), (0, 1.0, 0.8), (0, 2.0, 0.8)],
        ["t", "y", "s"],
    )
    rt = propensity_strata_att(
        tiny, "t", "y", "s", n_strata=2
    ).collect()[0]
    assert rt["n_singleton_arm_strata"] >= 1
    assert rt["att"] is not None


def test_rolling_correlation_and_decomposition_strength(spark):
    """Rolling correlation against numpy per-window corrcoef
    (including short head windows and NULL-variance guards);
    decomposition strength matches the FPP3 variance-ratio replica
    on a planted trend+seasonal series."""
    import numpy as np

    from padua_spark.operators.temporal import (
        decomposition_strength,
        rolling_correlation,
        seasonal_decompose,
    )

    rng = np.random.RandomState(2)
    n = 60
    x = np.round(rng.normal(10, 3, n), 2)
    y = np.round(0.6 * x + rng.normal(0, 2, n), 2)
    df = spark.createDataFrame(
        [
            ("k", i, float(a), float(b))
            for i, (a, b) in enumerate(zip(x, y))
        ],
        ["k", "t", "x", "y"],
    )
    out = {
        r["t"]: (r["n_w"], r["rolling_corr"])
        for r in rolling_correlation(
            df, ["k"], ["t"], "x", "y", window=10
        ).collect()
    }
    for i in (0, 5, 20, 59):
        lo = max(0, i - 9)
        xs, ys = x[lo : i + 1], y[lo : i + 1]
        assert out[i][0] == len(xs)
        if len(xs) >= 2 and xs.std() > 0 and ys.std() > 0:
            assert out[i][1] == pytest.approx(
                np.corrcoef(xs, ys)[0, 1], abs=1e-5
            )
    # constant series -> NULL correlation
    cdf = spark.createDataFrame(
        [("k", i, 1.0, float(i)) for i in range(5)],
        ["k", "t", "x", "y"],
    )
    vals = rolling_correlation(
        cdf, ["k"], ["t"], "x", "y", window=3
    ).collect()
    assert all(r["rolling_corr"] is None for r in vals)

    t_idx = np.arange(80)
    val = np.round(
        0.5 * t_idx
        + 5 * np.sin(2 * np.pi * t_idx / 4)
        + rng.normal(0, 1, 80),
        2,
    )
    sdf = spark.createDataFrame(
        [("u", int(i), int(i), float(v)) for i, v in enumerate(val)],
        ["u", "tu", "eid", "value"],
    )
    dec = seasonal_decompose(
        sdf, ["u"], ["tu", "eid"], "value", period=4, exact_scale=100
    )
    st = decomposition_strength(dec, ["u"]).collect()[0]
    rows = dec.where(F.col("trend").isNotNull()).select(
        "trend", "seasonal", "residual"
    ).collect()
    T = np.array([r["trend"] for r in rows])
    S = np.array([r["seasonal"] for r in rows])
    R = np.array([r["residual"] for r in rows])
    ft = max(0.0, 1 - R.var() / (T + R).var())
    fs = max(0.0, 1 - R.var() / (S + R).var())
    assert st["n_used"] == len(rows)
    assert st["trend_strength"] == pytest.approx(ft, abs=1e-6)
    assert st["seasonal_strength"] == pytest.approx(fs, abs=1e-6)
    assert st["trend_strength"] > 0.9 and st["seasonal_strength"] > 0.9


def test_clustering_eval_scores_vs_numpy(spark):
    """CH index against the numpy sum-of-squares identities on planted
    clusters; simplified silhouette per-cluster and overall means
    match the per-point replica; max_clusters guard raises; silhouette
    is high on well-separated clusters."""
    import numpy as np

    from padua_spark.extensions.similarity import (
        calinski_harabasz,
        silhouette_simplified,
    )

    rng = np.random.RandomState(9)
    centers = rng.normal(0, 5, (3, 8))
    X, C = [], []
    for c in range(3):
        X.append(centers[c] + rng.normal(0, 1, (40, 8)))
        C += [c] * 40
    X = np.round(np.vstack(X), 4)
    C = np.array(C)
    df = spark.createDataFrame(
        [
            (i, [float(v) for v in X[i]], int(C[i]))
            for i in range(len(C))
        ],
        "id int, vec array<double>, cl int",
    )
    r = calinski_harabasz(df, "vec", "cl").collect()[0]
    M = np.round(X * 1e6)
    n, k = len(C), 3
    sumsq = (M ** 2).sum()
    bc = sum(
        (M[C == c].sum(0) ** 2).sum() / (C == c).sum()
        for c in range(3)
    )
    g2 = (M.sum(0) ** 2).sum()
    W, B = sumsq - bc, bc - g2 / n
    assert r["n"] == n and r["k_clusters"] == k
    assert r["ch_score"] == pytest.approx(
        (B / (k - 1)) / (W / (n - k)), rel=1e-6
    )

    rows = {
        row["cluster"]: row
        for row in silhouette_simplified(
            df, "id", "vec", "cl"
        ).collect()
    }
    cents = {c: M[C == c].sum(0) / (C == c).sum() for c in range(3)}
    svals = {c: [] for c in range(3)}
    for i in range(n):
        d = {
            c: np.sqrt(((M[i] - cents[c]) ** 2).sum())
            for c in range(3)
        }
        a = d[C[i]]
        b = min(v for c, v in d.items() if c != C[i])
        svals[C[i]].append(
            round((b - a) / max(a, b), 9) if max(a, b) > 0 else 0.0
        )
    allv = []
    for c in range(3):
        assert rows[c]["mean_silhouette"] == pytest.approx(
            float(np.mean(svals[c])), abs=1e-6
        )
        allv += svals[c]
    assert rows[0]["overall"] == pytest.approx(
        float(np.mean(allv)), abs=1e-6
    )
    assert rows[0]["overall"] > 0.7  # planted separation

    with pytest.raises(ValueError, match="max_clusters"):
        silhouette_simplified(
            df, "id", "vec", "cl", max_clusters=2
        ).collect()


def test_mmr_rerank_replica_and_guard(spark):
    """MMR greedy against a python replica using exact integer-micro
    cosines — including NEGATIVE max-similarities (anti-correlated
    vectors reward selection; the zeros-init bug the oracle caught);
    tie goes to the smaller id; the pool guard raises."""
    import numpy as np

    from padua_spark.extensions.similarity import mmr_rerank

    rng = np.random.RandomState(4)
    X = np.round(rng.normal(0, 1, (40, 8)), 4)
    scores = np.round(rng.uniform(0, 1, 40), 4)
    df = spark.createDataFrame(
        [
            (i, [float(v) for v in X[i]], float(scores[i]))
            for i in range(40)
        ],
        "id int, vec array<double>, score double",
    )
    got = [
        (r["rank"], r["id"], r["mmr_score"])
        for r in mmr_rerank(
            df, "id", "vec", "score", k=6, lam=0.7
        ).collect()
    ]
    M = np.round(X * 1e6).astype(np.int64)
    norms = np.sqrt((M * M).sum(1).astype(float))
    taken = [False] * 40
    max_sim = np.full(40, -np.inf)
    exp = []
    selected = False
    for rank in range(1, 7):
        mmr = (
            0.7 * scores - 0.3 * max_sim
            if selected
            else 0.7 * scores
        )
        best = None
        for i in range(40):
            if taken[i]:
                continue
            if (
                best is None
                or mmr[i] > best[0]
                or (mmr[i] == best[0] and i < best[1])
            ):
                best = (mmr[i], i)
        i = best[1]
        taken[i] = True
        selected = True
        exp.append((rank, i, round(float(best[0]), 6)))
        dots = (M @ M[i]).astype(float)
        sims = np.where(
            norms * norms[i] > 0, dots / (norms * norms[i]), 0.0
        )
        max_sim = np.maximum(max_sim, sims)
    assert got == exp
    with pytest.raises(ValueError, match="max_candidates"):
        mmr_rerank(df, "id", "vec", "score", max_candidates=10)


def test_binned_divergences_replica(spark):
    """KL/JS/Bhattacharyya against a python replica with the same
    Laplace smoothing; JS bounded by ln 2; identical slices give
    (near) zero divergence."""
    import math

    import numpy as np

    from padua_spark.extensions.quality import binned_divergences

    rng = np.random.RandomState(4)
    a = rng.normal(50, 15, 2000)
    b = rng.normal(58, 18, 1500)
    df = spark.createDataFrame(
        [("a", float(x)) for x in a] + [("b", float(x)) for x in b],
        ["g", "v"],
    )
    out = binned_divergences(
        df, "g", "a", "b", "v", 0.0, 100.0, 10
    ).collect()
    na = np.bincount(
        np.clip(np.floor(a / 10).astype(int), 0, 9), minlength=10
    )
    nb = np.bincount(
        np.clip(np.floor(b / 10).astype(int), 0, 9), minlength=10
    )
    obs = sorted(set(np.nonzero(na + nb)[0]))
    ta, tb = na.sum(), nb.sum()
    kl = js = bc = 0.0
    for i in obs:
        pa = (na[i] + 0.5) / (ta + 5)
        pb = (nb[i] + 0.5) / (tb + 5)
        kl += pa * math.log(pa / pb)
        m = (pa + pb) / 2
        js += 0.5 * (pa * math.log(pa / m) + pb * math.log(pb / m))
        bc += math.sqrt(pa * pb)
    r0 = out[0]
    assert r0["kl_ab"] == pytest.approx(kl, abs=1e-6)
    assert r0["js"] == pytest.approx(js, abs=1e-6)
    assert r0["bhattacharyya"] == pytest.approx(
        -math.log(bc), abs=1e-6
    )
    assert 0 <= r0["js"] <= math.log(2) + 1e-9

    same = spark.createDataFrame(
        [("a", float(x)) for x in a] + [("b", float(x)) for x in a],
        ["g", "v"],
    )
    s0 = binned_divergences(
        same, "g", "a", "b", "v", 0.0, 100.0, 10
    ).collect()[0]
    assert abs(s0["js"]) < 1e-6 and abs(s0["kl_ab"]) < 1e-6


def test_fleming_harrington_and_l_moments(spark):
    """FH at rho=0 equals the plain log-rank chi2; rho=1 matches a
    python KM-weighted replica; L-moments match the direct
    order-statistic formula including tie blocks; elasticity recovers
    a planted log-log slope."""
    import math

    import numpy as np

    from padua_spark.operators.stats import (
        fleming_harrington_test,
        l_moments,
        logrank_test,
    )
    from padua_spark.operators.temporal import log_log_elasticity

    rng = np.random.RandomState(6)
    na, nb = 200, 180
    ta = np.ceil(rng.exponential(10, na))
    ea = (rng.uniform(size=na) < 0.8).astype(int)
    tb = np.ceil(rng.exponential(14, nb))
    eb = (rng.uniform(size=nb) < 0.75).astype(int)
    rows = [("a", float(t), int(e)) for t, e in zip(ta, ea)] + [
        ("b", float(t), int(e)) for t, e in zip(tb, eb)
    ]
    df = spark.createDataFrame(rows, ["g", "t", "e"])
    fh0 = fleming_harrington_test(
        df, "g", "t", "e", "a", "b", rho=0.0
    ).collect()[0]
    lr = logrank_test(df, "g", "t", "e", "a", "b").collect()[0]
    assert fh0["chi2"] == pytest.approx(lr["chi2"], abs=2e-6)

    def fh_py(rho):
        times = sorted(set(list(ta) + list(tb)))
        oe = vv = 0.0
        S = 1.0
        for t in times:
            na_r = (ta >= t).sum()
            nb_r = (tb >= t).sum()
            da = ((ta == t) & (ea == 1)).sum()
            db = ((tb == t) & (eb == 1)).sum()
            d, n = da + db, na_r + nb_r
            w = S ** rho
            if d > 0:
                ra = na_r / n
                oe += w * (da - d * ra)
                if n > 1:
                    vv += w * w * d * ra * (1 - ra) * (n - d) / (n - 1)
                S *= (n - d) / n
        return oe * oe / vv

    fh1 = fleming_harrington_test(
        df, "g", "t", "e", "a", "b", rho=1.0
    ).collect()[0]
    assert fh1["chi2"] == pytest.approx(fh_py(1.0), abs=1e-5)

    x = np.round(rng.gamma(2, 3, 500), 2)  # rounding makes tie blocks
    ldf = spark.createDataFrame([(float(v),) for v in x], ["v"])
    r = l_moments(ldf, "v").collect()[0]
    xs = np.sort(x)
    n = len(xs)

    def bcoef(rr):
        w = np.array(
            [math.comb(i, rr) for i in range(n)], dtype=float
        )
        return (w @ xs) / (n * math.comb(n - 1, rr))

    b0, b1, b2, b3 = [bcoef(i) for i in range(4)]
    assert r["l1"] == pytest.approx(b0, abs=1e-5)
    assert r["l2"] == pytest.approx(2 * b1 - b0, abs=1e-5)
    assert r["l3"] == pytest.approx(6 * b2 - 6 * b1 + b0, abs=1e-5)
    assert r["l4"] == pytest.approx(
        20 * b3 - 30 * b2 + 12 * b1 - b0, abs=1e-5
    )
    assert r["l_skew"] == pytest.approx(
        (6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), abs=1e-5
    )

    pv = np.round(rng.uniform(1, 20, 300), 2)
    qv = np.round(
        50 * pv ** (-1.3) * np.exp(rng.normal(0, 0.2, 300)), 3
    )
    edf = spark.createDataFrame(
        [("k", float(a), float(b)) for a, b in zip(pv, qv)],
        ["k", "p", "q"],
    )
    re = log_log_elasticity(edf, ["k"], "p", "q").collect()[0]
    beta = np.polyfit(np.log(pv), np.log(qv), 1)[0]
    assert re["elasticity"] == pytest.approx(beta, abs=1e-5)
    assert abs(re["elasticity"] + 1.3) < 0.1


def test_hard_negative_mining_and_rayleigh(spark):
    """Hard negatives match the brute-force different-label top-k
    replica (self and same-label excluded); the anchor guard raises;
    Rayleigh stats match numpy on a planted von-Mises-ish peak and
    p is near 1 on uniform angles."""
    import math

    import numpy as np

    from padua_spark.extensions.similarity import hard_negative_mining
    from padua_spark.operators.temporal import rayleigh_uniformity

    rng = np.random.RandomState(8)
    X = np.round(rng.normal(0, 1, (60, 6)), 4)
    labels = rng.randint(0, 3, 60)
    df = spark.createDataFrame(
        [
            (i, [float(v) for v in X[i]], int(labels[i]))
            for i in range(60)
        ],
        "vec_id int, embedding array<double>, label int",
    )
    anchors = df.where(F.col("vec_id") % 10 == 0)
    got = {}
    for r in hard_negative_mining(
        df, "vec_id", "embedding", "label", anchors, k=3
    ).collect():
        got.setdefault(r["anchor_id"], []).append(
            (r["rank"], r["negative_id"])
        )
    norms = np.sqrt((X * X).sum(1))
    for a in range(0, 60, 10):
        sims = []
        for c in range(60):
            if c == a or labels[c] == labels[a]:
                continue
            sims.append(
                (-(X[c] @ X[a]) / (norms[c] * norms[a]), c)
            )
        exp = [
            (i + 1, c) for i, (_, c) in enumerate(sorted(sims)[:3])
        ]
        assert sorted(got[a]) == exp
    with pytest.raises(ValueError, match="max_anchors"):
        hard_negative_mining(
            df, "vec_id", "embedding", "label", anchors,
            max_anchors=2,
        )

    theta = np.concatenate(
        [rng.normal(1.2, 0.4, 800) % (2 * math.pi)]
    )
    tdf = spark.createDataFrame(
        [(float(t),) for t in theta], ["theta"]
    )
    r = rayleigh_uniformity(tdf, "theta").collect()[0]
    c, s = np.cos(theta).sum(), np.sin(theta).sum()
    n = len(theta)
    rbar = math.sqrt(c * c + s * s) / n
    z = n * rbar * rbar
    assert r["r_bar"] == pytest.approx(rbar, abs=1e-6)
    assert r["mean_direction"] == pytest.approx(
        math.atan2(s, c), abs=1e-6
    )
    assert r["rayleigh_z"] == pytest.approx(z, abs=1e-4)
    assert r["p_value"] == 0.0  # strongly peaked

    unif = spark.createDataFrame(
        [(float(2 * math.pi * i / 997),) for i in range(997)],
        ["theta"],
    )
    ru = rayleigh_uniformity(unif, "theta").collect()[0]
    assert ru["p_value"] > 0.99


def test_deming_score_separation_coec(spark):
    """Deming slope/intercept match the closed-form numpy replica and
    beat OLS's attenuation on a planted errors-in-x line; KS/Youden
    cutoff matches the brute-force threshold sweep; COEC matches the
    per-group expected-clicks replica."""
    import math

    import numpy as np

    from padua_spark.extensions.features import coec_position_bias
    from padua_spark.operators.stats import (
        deming_regression,
        score_separation,
    )

    rng = np.random.RandomState(11)
    xt = rng.normal(10, 4, 500)
    x = np.round(xt + rng.normal(0, 1, 500), 3)
    y = np.round(2.0 + 1.5 * xt + rng.normal(0, 1.5, 500), 3)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], ["x", "y"]
    )
    r = deming_regression(df, "x", "y", delta=2.25).collect()[0]
    sxx = ((x - x.mean()) ** 2).sum()
    syy = ((y - y.mean()) ** 2).sum()
    sxy = ((x - x.mean()) * (y - y.mean())).sum()
    d = 2.25
    beta = (
        syy - d * sxx
        + math.sqrt((syy - d * sxx) ** 2 + 4 * d * sxy ** 2)
    ) / (2 * sxy)
    assert r["slope"] == pytest.approx(beta, abs=1e-5)
    assert r["intercept"] == pytest.approx(
        y.mean() - beta * x.mean(), abs=1e-4
    )
    ols = sxy / sxx
    assert ols < r["slope"] <= 1.6  # Deming undoes OLS attenuation

    score = np.round(rng.uniform(0, 1, 3000), 3)
    lab = (rng.uniform(size=3000) < score * 0.8 + 0.1).astype(int)
    sdf = spark.createDataFrame(
        [(float(s), int(v)) for s, v in zip(score, lab)], ["s", "y"]
    )
    rs = score_separation(sdf, "s", "y").collect()[0]
    npos, nneg = lab.sum(), (1 - lab).sum()
    best = None
    for v in np.unique(score):
        tpr = ((score > v) & (lab == 1)).sum() / npos
        fpr = ((score > v) & (lab == 0)).sum() / nneg
        jv = tpr - fpr
        if best is None or jv > best[0] or (
            jv == best[0] and v < best[1]
        ):
            best = (jv, v, tpr, fpr)
    assert rs["ks_stat"] == pytest.approx(best[0], abs=1e-6)
    assert rs["optimal_cutoff"] == pytest.approx(best[1], abs=1e-9)
    assert rs["tpr_at_cutoff"] == pytest.approx(best[2], abs=1e-6)

    pos = rng.randint(1, 6, 4000)
    click = (rng.uniform(size=4000) < 0.5 / pos).astype(int)
    grp = rng.randint(0, 3, 4000)
    cdf = spark.createDataFrame(
        [
            (int(p), int(c), int(g))
            for p, c, g in zip(pos, click, grp)
        ],
        ["pos", "click", "g"],
    )
    rows = {
        rr["g"]: rr
        for rr in coec_position_bias(
            cdf, "pos", "click", ["g"]
        ).collect()
    }
    pri = {p: click[pos == p].mean() for p in range(1, 6)}
    for g in range(3):
        m = grp == g
        expc = sum(pri[p] for p in pos[m])
        assert rows[g]["coec"] == pytest.approx(
            click[m].sum() / expc, abs=1e-5
        )
    # positionless battery: per-position rows with ctr == prior
    flat = coec_position_bias(cdf, "pos", "click").collect()
    assert len(flat) == 5
    for rr in flat:
        assert rr["ctr"] == rr["position_prior"]


def test_hl_shift_ci_and_rate_standardization(spark):
    """The Moses CI ranks select the brute-force order statistics;
    output schema is unchanged without conf_level; direct/SMR
    standardization and Byar CI match the python replica."""
    import math

    import numpy as np

    from padua_spark.operators.stats import (
        hodges_lehmann_shift,
        rate_standardization,
    )

    rng = np.random.RandomState(3)
    xa = np.round(rng.normal(10, 3, 150), 1)
    xb = np.round(rng.normal(8.5, 2, 131), 1)
    df = spark.createDataFrame(
        [("a", float(x)) for x in xa]
        + [("b", float(x)) for x in xb],
        ["g", "v"],
    )
    base = hodges_lehmann_shift(df, "g", "v", "a", "b").columns
    assert "ci_lo" not in base
    r = hodges_lehmann_shift(
        df, "g", "v", "a", "b", conf_level=0.95
    ).collect()[0]
    diffs = np.sort((xa[:, None] - xb[None, :]).ravel())
    na, nb = len(xa), len(xb)
    t = na * nb
    z = 1.959963984540054
    k = max(
        0,
        int(
            math.floor(
                t / 2 - z * math.sqrt(na * nb * (na + nb + 1) / 12)
            )
        ),
    )
    assert r["ci_lo"] == pytest.approx(diffs[k], abs=1e-9)
    assert r["ci_hi"] == pytest.approx(diffs[t - k - 1], abs=1e-9)
    assert r["ci_lo"] <= r["hl_shift"] <= r["ci_hi"]

    strata = rng.randint(0, 4, 1000)
    expo = np.round(rng.uniform(1, 10, 1000), 2)
    rate_true = np.array([0.02, 0.05, 0.1, 0.2])
    events = rng.poisson(rate_true[strata] * expo)
    sdf = spark.createDataFrame(
        [
            (int(s), float(e), float(x))
            for s, e, x in zip(strata, events, expo)
        ],
        ["s", "e", "x"],
    )
    ref = spark.createDataFrame(
        [(i, float(rate_true[i] * 1.1), 0.25) for i in range(4)],
        "stratum int, ref_rate double, ref_weight double",
    )
    r2 = rate_standardization(sdf, "s", "e", "x", ref).collect()[0]
    obs = events.sum()
    expected = sum(
        expo[strata == i].sum() * rate_true[i] * 1.1
        for i in range(4)
    )
    direct = sum(
        0.25
        * (events[strata == i].sum() / expo[strata == i].sum())
        for i in range(4)
    )
    smr = obs / expected
    assert r2["crude_rate"] == pytest.approx(
        obs / expo.sum(), abs=1e-6
    )
    assert r2["direct_rate"] == pytest.approx(direct, abs=1e-6)
    assert r2["smr"] == pytest.approx(smr, abs=1e-6)
    lo = smr * (1 - 1 / (9 * obs) - z / (3 * math.sqrt(obs))) ** 3
    hi = (
        (obs + 1)
        / expected
        * (1 - 1 / (9 * (obs + 1)) + z / (3 * math.sqrt(obs + 1)))
        ** 3
    )
    assert r2["smr_ci_lo"] == pytest.approx(lo, abs=1e-5)
    assert r2["smr_ci_hi"] == pytest.approx(hi, abs=1e-5)
    assert r2["smr_ci_lo"] < r2["smr"] < r2["smr_ci_hi"]


def test_control_chart_and_roc_points(spark):
    """X-bar/S limits match the c4-unbiased numpy replica; the ROC
    trapezoid AUC equals the midrank pairwise AUC (tie-exact); point
    coordinates match the threshold sweep; the subgroup-size guard
    raises."""
    import math

    import numpy as np

    from padua_spark.operators.stats import (
        control_chart_limits,
        roc_points,
    )

    rng = np.random.RandomState(13)
    vals = rng.normal(100, 4, (40, 5))
    df = spark.createDataFrame(
        [(g, float(v)) for g in range(40) for v in vals[g]],
        ["g", "v"],
    )
    r = control_chart_limits(df, "g", "v").collect()[0]
    xbb = vals.mean(axis=1).mean()
    sbar = vals.std(axis=1, ddof=1).mean()
    c4 = 0.9399856029866254
    sig = sbar / c4
    assert r["grand_mean"] == pytest.approx(xbb, abs=1e-6)
    assert r["xbar_lcl"] == pytest.approx(
        xbb - 3 * sig / math.sqrt(5), abs=1e-5
    )
    assert r["s_ucl"] == pytest.approx(
        sbar + 3 * sig * math.sqrt(1 - c4 * c4), abs=1e-5
    )
    assert r["n_min"] == 5 and r["n_max"] == 5
    big = spark.createDataFrame(
        [(0, float(v)) for v in rng.normal(0, 1, 60)], ["g", "v"]
    )
    with pytest.raises(ValueError, match="subgroup size"):
        control_chart_limits(big, "g", "v")

    score = np.round(rng.uniform(0, 1, 2000), 2)
    lab = (rng.uniform(size=2000) < score).astype(int)
    sdf = spark.createDataFrame(
        [(float(s), int(v)) for s, v in zip(score, lab)], ["s", "y"]
    )
    pts = roc_points(sdf, "s", "y").collect()
    npos, nneg = lab.sum(), (1 - lab).sum()
    pos = score[lab == 1][:, None]
    neg = score[lab == 0][None, :]
    auc_ref = (
        (pos > neg).sum() + 0.5 * (pos == neg).sum()
    ) / (npos * nneg)
    assert pts[0]["auc"] == pytest.approx(auc_ref, abs=1e-6)
    mid = pts[len(pts) // 2]
    thr = mid["threshold"]
    assert mid["tpr"] == pytest.approx(
        ((score > thr) & (lab == 1)).sum() / npos, abs=1e-6
    )
    assert mid["fpr"] == pytest.approx(
        ((score > thr) & (lab == 0)).sum() / nneg, abs=1e-6
    )
    assert len(pts) == len(np.unique(score))


def test_value_at_risk_and_burstiness(spark):
    """VaR/ES match the sorted-tail numpy replica at the exact
    quantile boundary; burstiness separates a Poisson-ish stream
    (B~0) from a bursty one (B>0.4) and matches the gap-moment
    replica; the exact-integer flag raises on fractional gaps."""
    import numpy as np

    from padua_spark.operators.stats import value_at_risk
    from padua_spark.operators.temporal import burstiness

    rng = np.random.RandomState(17)
    x = np.round(rng.lognormal(3, 1, 5000), 2)
    df = spark.createDataFrame([(float(v),) for v in x], ["v"])
    r = value_at_risk(df, "v", alpha=0.95).collect()[0]
    xs = np.sort(x)
    import math

    k = math.ceil(0.95 * len(xs))
    var_ref = xs[k - 1]
    tail = xs[xs > var_ref]
    assert r["var"] == pytest.approx(var_ref, abs=1e-9)
    assert r["n_exceed"] == len(tail)
    assert r["expected_shortfall"] == pytest.approx(
        tail.mean(), abs=1e-5
    )

    gaps_a = rng.exponential(5, 300)
    ts_a = np.cumsum(gaps_a)
    ts_b = np.cumsum(
        np.where(rng.uniform(size=300) < 0.05, 100.0, 0.5)
    )
    rows = [("a", i, float(t)) for i, t in enumerate(ts_a)] + [
        ("b", i, float(t)) for i, t in enumerate(ts_b)
    ]
    bdf = spark.createDataFrame(rows, ["k", "i", "ts"])
    out = {
        rr["k"]: rr
        for rr in burstiness(bdf, ["k"], ["i"], "ts").collect()
    }
    for key, ts in (("a", ts_a), ("b", ts_b)):
        g = np.diff(ts)
        m, s = g.mean(), g.std(ddof=1)
        assert out[key]["burstiness"] == pytest.approx(
            (s - m) / (s + m), abs=1e-6
        )
        assert out[key]["cv"] == pytest.approx(s / m, abs=1e-6)
    assert abs(out["a"]["burstiness"]) < 0.1
    assert out["b"]["burstiness"] > 0.4

    # exact-integer path equals the float path on integer inputs
    ints = spark.createDataFrame(
        [("a", i, float(v)) for i, v in enumerate(
            np.cumsum(rng.randint(1, 100, 200))
        )],
        ["k", "i", "ts"],
    )
    f1 = burstiness(ints, ["k"], ["i"], "ts").collect()[0]
    f2 = burstiness(
        ints, ["k"], ["i"], "ts", exact_integer_gaps=True
    ).collect()[0]
    assert f1["burstiness"] == pytest.approx(
        f2["burstiness"], abs=1e-6
    )
    frac = spark.createDataFrame(
        [("a", 0, 0.0), ("a", 1, 1.5), ("a", 2, 4.0)],
        ["k", "i", "ts"],
    )
    with pytest.raises(Exception, match="fractional gap"):
        burstiness(
            frac, ["k"], ["i"], "ts", exact_integer_gaps=True
        ).collect()


def test_youden_threshold_replica(spark):
    """Youden J argmax against a numpy sweep over all distinct
    thresholds (classify positive when score > t), including the
    lowest-threshold tiebreak."""
    import numpy as np

    from padua_spark.operators.stats import youden_threshold

    rng = np.random.RandomState(11)
    n = 400
    y = (rng.uniform(size=n) < 0.4).astype(int)
    s = np.round(
        np.clip(0.3 * y + rng.uniform(0, 0.8, n), 0, 1), 2
    )
    df = spark.createDataFrame(
        [(float(a), int(b)) for a, b in zip(s, y)], ["s", "y"]
    )
    r = youden_threshold(df, "s", "y").collect()[0]
    P, N = y.sum(), (1 - y).sum()
    best_j, best_t = -2.0, None
    for t in sorted(np.unique(s)):
        tpr = ((s > t) & (y == 1)).sum() / P
        fpr = ((s > t) & (y == 0)).sum() / N
        if tpr - fpr > best_j + 1e-15:
            best_j, best_t = tpr - fpr, t
    assert r["threshold"] == pytest.approx(best_t)
    assert r["youden_j"] == pytest.approx(best_j, abs=1e-6)
    assert r["n_pos"] == P and r["n_neg"] == N
    # ties take the LOWEST threshold: duplicate the whole score
    # column shifted so two thresholds achieve identical (tpr, fpr)
    df2 = spark.createDataFrame(
        [(0.1, 0), (0.2, 0), (0.5, 1), (0.6, 1)], ["s", "y"]
    )
    r2 = youden_threshold(df2, "s", "y").collect()[0]
    # J = 1 at thresholds 0.2, 0.3, 0.4 region -> lowest distinct
    # observed threshold achieving max is 0.2
    assert r2["threshold"] == pytest.approx(0.2)
    assert r2["youden_j"] == pytest.approx(1.0)


def test_kpss_level_replica(spark):
    """KPSS level statistic matches a direct numpy implementation of
    eta = sum(S_t^2)/(n^2 var0); a mean-reverting series stays under
    the 5% critical value while a random walk rejects."""
    import numpy as np

    from padua_spark.operators.temporal import kpss_level

    rng = np.random.RandomState(3)
    n = 500
    noise = rng.normal(0, 1, n)
    walk = np.cumsum(rng.normal(0, 1, n))
    rows = [
        ("noise", i, float(v)) for i, v in enumerate(noise)
    ] + [("walk", i, float(v)) for i, v in enumerate(walk)]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    got = {
        r["g"]: r
        for r in kpss_level(df, ["g"], ["t"], "v").collect()
    }
    for name, x in (("noise", noise), ("walk", walk)):
        s_t = np.cumsum(x - x.mean())
        eta = (s_t**2).sum() / (n**2 * x.var())
        assert got[name]["kpss_stat"] == pytest.approx(
            eta, abs=1e-6
        ), name
    assert not got["noise"]["reject_5pct"]
    assert got["walk"]["reject_5pct"]


def test_good_turing_and_dictionary_coverage(spark):
    """Good-Turing r* and unseen mass against a hand count; OOV
    token/type rates against a python replica on a tiny corpus."""
    import collections

    from padua_spark.extensions.text import (
        dictionary_coverage,
        good_turing,
    )

    docs = [
        (1, "a a a b b c d d e"),
        (2, "a b c c f g"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    cnt = collections.Counter(
        w for _, t in docs for w in t.lower().split()
    )
    fof = collections.Counter(cnt.values())
    n_tok = sum(cnt.values())
    got = {r["r"]: r for r in good_turing(df, "doc_id", "text").collect()}
    assert set(got) == set(fof)
    for r, n_types in fof.items():
        assert got[r]["n_types"] == n_types
        nxt = fof.get(r + 1)
        if nxt is None:
            assert got[r]["r_star"] is None
        else:
            assert got[r]["r_star"] == pytest.approx(
                (r + 1) * nxt / n_types, abs=1e-6
            )
        assert got[r]["total_tokens"] == n_tok
        assert got[r]["p_unseen"] == pytest.approx(
            fof.get(1, 0) * 1 / n_tok, abs=1e-9
        )
    vocab = spark.createDataFrame(
        [("a",), ("b",), ("c",)], ["token"]
    )
    cov = dictionary_coverage(df, "text", vocab).collect()[0]
    oov_occ = sum(c for w, c in cnt.items() if w not in {"a", "b", "c"})
    oov_typ = sum(1 for w in cnt if w not in {"a", "b", "c"})
    assert cov["n_tokens"] == n_tok
    assert cov["n_oov"] == oov_occ
    assert cov["oov_rate"] == pytest.approx(oov_occ / n_tok, abs=1e-6)
    assert cov["n_types"] == len(cnt)
    assert cov["n_oov_types"] == oov_typ


def test_category_diversity_replica(spark):
    """Shannon/Simpson/evenness against direct numpy formulas,
    including the single-class NULL-evenness convention."""
    import math

    from padua_spark.extensions.quality import category_diversity

    rows = (
        [("g1", "en")] * 50 + [("g1", "fr")] * 30
        + [("g1", "de")] * 20 + [("g2", "en")] * 10
    )
    df = spark.createDataFrame(rows, ["g", "lang"])
    got = {
        r["g"]: r
        for r in category_diversity(
            df, "lang", group_cols=["g"]
        ).collect()
    }
    ps = [0.5, 0.3, 0.2]
    h = -sum(p * math.log(p) for p in ps)
    simp = sum(p * p for p in ps)
    assert got["g1"]["n"] == 100 and got["g1"]["k_classes"] == 3
    assert got["g1"]["shannon_entropy"] == pytest.approx(h, abs=1e-6)
    assert got["g1"]["simpson"] == pytest.approx(simp, abs=1e-6)
    assert got["g1"]["inv_simpson"] == pytest.approx(
        1 / simp, abs=1e-6
    )
    assert got["g1"]["evenness"] == pytest.approx(
        h / math.log(3), abs=1e-6
    )
    assert got["g2"]["k_classes"] == 1
    assert got["g2"]["shannon_entropy"] == pytest.approx(0.0, abs=1e-9)
    assert got["g2"]["evenness"] is None


def test_pettitt_test_replica(spark):
    """Pettitt U_t and K against the brute-force double-sum replica
    on a planted level shift (ties included); p-value formula and
    earliest-index tiebreak verified."""
    import numpy as np

    from padua_spark.operators.temporal import pettitt_test

    rng = np.random.RandomState(21)
    n = 120
    x = np.round(rng.normal(10, 1, n), 1)
    x[60:] += 2.0  # planted shift at t=60
    rows = [("a", i, float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    r = pettitt_test(df, ["g"], ["t"], "v").collect()[0]
    u = np.array([
        np.sign(x[: t + 1][:, None] - x[t + 1:][None, :]).sum()
        for t in range(n)
    ])
    k = int(np.abs(u).max())
    t_best = int(np.argmax(np.abs(u))) + 1  # 1-based
    assert r["k_stat"] == k
    assert r["change_index"] == t_best
    assert r["u_at_change"] == int(u[t_best - 1])
    assert abs(r["change_index"] - 60) <= 3  # finds the shift
    p = min(1.0, 2.0 * np.exp(-6.0 * k * k / (n**3 + n**2)))
    assert r["p_value"] == pytest.approx(p, abs=1e-6)
    assert r["p_value"] < 0.01


def test_lorenz_curve_replica(spark):
    """Lorenz table and trapezoid Gini against numpy sorted cumsums;
    Gini equals the mean-absolute-difference definition."""
    import numpy as np

    from padua_spark.extensions.quality import lorenz_curve

    rng = np.random.RandomState(4)
    x = np.round(rng.exponential(100, 300), 2)
    df = spark.createDataFrame([(float(v),) for v in x], ["v"])
    rows = sorted(
        lorenz_curve(df, "v").collect(), key=lambda r: r["value"]
    )
    xs = np.sort(x)
    n, tot = len(xs), xs.sum()
    # spot-check the last and a middle point
    assert rows[-1]["pop_share"] == pytest.approx(1.0, abs=1e-9)
    assert rows[-1]["value_share_cum"] == pytest.approx(1.0, abs=1e-9)
    mid = rows[len(rows) // 2]
    mask = xs <= mid["value"]
    assert mid["n_le"] == mask.sum()
    assert mid["value_share_cum"] == pytest.approx(
        xs[mask].sum() / tot, abs=1e-6
    )
    gini_mad = np.abs(xs[:, None] - xs[None, :]).mean() / (
        2 * xs.mean()
    )
    assert rows[0]["gini"] == pytest.approx(gini_mad, abs=1e-6)


def test_lorenz_curve_partition_independent(spark, monkeypatch):
    """On the distributed stepped path lorenz_curve is bit-identical
    whatever the input partitioning. The fixture puts the first 9dp
    share on a rounding boundary: 100 copies of 0.1 carry mass 10 of a
    2e10 total, share 5e-10. A float sum of the copies lands an ulp
    above or below 10 depending on how partitions group them, which
    flips the rounded share between 0 and 1e-9; exact integer sums and
    one division always give the same side."""
    import padua_spark.operators.stats as st
    from padua_spark.extensions.quality import lorenz_curve

    monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", 0)
    monkeypatch.setattr(st, "STEPPED_ROWS_PER_PARTITION", 1)
    df = spark.createDataFrame(
        [(0.1,)] * 100 + [(19_999_999_990.0,)], "v double"
    )

    def rows(frame):
        return [tuple(r) for r in lorenz_curve(frame, "v").collect()]

    base = rows(df)
    assert rows(df.repartition(7)) == base
    assert rows(df.coalesce(1)) == base
    assert base[0][:3] == (0.1, 100, 0.99009901)
    assert base[0][3] in (0.0, 1e-9)


@pytest.mark.parametrize("scale", [1e-8, 1e13, 1e-315])
def test_lorenz_curve_any_magnitude(spark, monkeypatch, scale):
    """Shares and Gini match numpy on unrounded doubles at any
    magnitude: tiny (1e-8), huge (1e13) and subnormal (1e-315, whose
    grid scale 2**1097 is applied in two steps), each spread over
    ~5 decades with ties, on both cumsum paths."""
    import numpy as np

    import padua_spark.operators.stats as st
    from padua_spark.extensions.quality import lorenz_curve

    rng = np.random.RandomState(11)
    x = scale * rng.lognormal(0.0, 2.0, 200)
    x = np.concatenate([x, x[:20], [0.0]])
    df = spark.createDataFrame([(float(v),) for v in x], "v double")
    u, c = np.unique(x, return_counts=True)
    m = np.cumsum(u * c)
    gini_mad = np.abs(x[:, None] - x[None, :]).mean() / (2 * x.mean())
    default = st.SMALL_ECDF_DOMAIN
    for thr in (default, 0):
        monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", thr)
        rows = sorted(
            lorenz_curve(df, "v").collect(), key=lambda r: r["value"]
        )
        assert [r["value"] for r in rows] == list(u)
        assert [r["n_le"] for r in rows] == list(np.cumsum(c))
        got = np.array([r["value_share_cum"] for r in rows])
        assert np.abs(got - m / m[-1]).max() <= 5.1e-10
        assert rows[0]["gini"] == pytest.approx(gini_mad, abs=6e-7)


def test_lorenz_curve_rejects_non_finite(spark):
    from padua_spark.extensions.quality import lorenz_curve

    for bad in (float("inf"), float("nan")):
        df = spark.createDataFrame([(1.0,), (bad,)], "v double")
        with pytest.raises(ValueError, match="non-finite"):
            lorenz_curve(df, "v")


def test_pinball_loss_replica(spark):
    """Pinball loss and coverage per quantile against the direct
    numpy formulas, NULL-forecast rows excluded per level."""
    import numpy as np

    from padua_spark.operators.temporal import pinball_loss

    rng = np.random.RandomState(9)
    n = 200
    a = rng.normal(50, 10, n)
    f50 = a + rng.normal(0, 5, n)
    f90 = f50 + 12
    rows = [
        (float(a[i]), float(f50[i]), float(f90[i])) for i in range(n)
    ]
    rows.append((1.0, None, 2.0))  # NULL f50 excluded at q=0.5 only
    df = spark.createDataFrame(rows, ["a", "f50", "f90"])
    got = {
        r["quantile"]: r
        for r in pinball_loss(
            df, [], "a", {0.5: "f50", 0.9: "f90"}
        ).collect()
    }
    loss50 = np.where(a >= f50, 0.5 * (a - f50), 0.5 * (f50 - a))
    assert got[0.5]["n"] == n
    assert got[0.5]["pinball"] == pytest.approx(
        loss50.mean(), abs=1e-6
    )
    assert got[0.5]["coverage"] == pytest.approx(
        (a <= f50).mean(), abs=1e-6
    )
    a2 = np.append(a, 1.0)
    f902 = np.append(f90, 2.0)
    loss90 = np.where(
        a2 >= f902, 0.9 * (a2 - f902), 0.1 * (f902 - a2)
    )
    assert got[0.9]["n"] == n + 1
    assert got[0.9]["pinball"] == pytest.approx(
        loss90.mean(), abs=1e-6
    )
    assert got[0.9]["coverage"] == pytest.approx(
        (a2 <= f902).mean(), abs=1e-6
    )


def test_meta_analysis_replica(spark):
    """Fixed/DL-random pooling, Q/I2/tau2 and Egger regression
    against a direct numpy replica on synthetic studies with planted
    heterogeneity."""
    import numpy as np

    from padua_spark.operators.stats import meta_analysis

    rng = np.random.RandomState(7)
    k = 12
    se = rng.uniform(0.5, 2.0, k)
    eff = 3.0 + rng.normal(0, 1.2, k)  # real tau > 0
    df = spark.createDataFrame(
        [(float(e), float(s)) for e, s in zip(eff, se)],
        ["eff", "se"],
    )
    r = meta_analysis(df, "eff", "se").collect()[0]
    w = 1 / se**2
    tf = (w * eff).sum() / w.sum()
    q = (w * (eff - tf) ** 2).sum()
    c = w.sum() - (w**2).sum() / w.sum()
    tau2 = max(0.0, (q - (k - 1)) / c)
    ws = 1 / (se**2 + tau2)
    tr = (ws * eff).sum() / ws.sum()
    assert r["k"] == k
    assert r["theta_fixed"] == pytest.approx(tf, abs=1e-6)
    assert r["se_fixed"] == pytest.approx(
        1 / np.sqrt(w.sum()), abs=1e-6
    )
    assert r["q"] == pytest.approx(q, abs=1e-5)
    assert r["i2"] == pytest.approx(
        max(0.0, (q - (k - 1)) / q), abs=1e-6
    )
    assert r["tau2"] == pytest.approx(tau2, abs=1e-6)
    assert r["theta_random"] == pytest.approx(tr, abs=1e-6)
    # Egger OLS of eff/se on 1/se
    x, y = 1 / se, eff / se
    b1 = (k * (x * y).sum() - x.sum() * y.sum()) / (
        k * (x * x).sum() - x.sum() ** 2
    )
    b0 = (y.sum() - b1 * x.sum()) / k
    sse = (y * y).sum() - b0 * y.sum() - b1 * (x * y).sum()
    seb0 = np.sqrt(
        (sse / (k - 2)) * (x * x).sum()
        / (k * (x * x).sum() - x.sum() ** 2)
    )
    assert r["egger_intercept"] == pytest.approx(b0, abs=1e-6)
    assert r["egger_t"] == pytest.approx(b0 / seb0, abs=1e-5)
    assert 0 <= r["egger_p"] <= 1


def test_ancova_and_dickey_fuller_replicas(spark):
    """ANCOVA F against the two-model numpy OLS residual comparison
    (recovers a planted adjusted group effect); Dickey-Fuller t
    against numpy OLS on (lag, diff) pairs — a random walk fails to
    reject, an AR(0.3) rejects."""
    import numpy as np

    from padua_spark.operators.stats import ancova_1cov
    from padua_spark.operators.temporal import dickey_fuller

    rng = np.random.RandomState(15)
    n = 300
    g = rng.randint(0, 3, n)
    x = rng.normal(10, 2, n)
    y = 2.0 * x + np.array([0.0, 1.0, 2.0])[g] + rng.normal(0, 1, n)
    df = spark.createDataFrame(
        [(int(a), float(b), float(c)) for a, b, c in zip(g, x, y)],
        ["g", "x", "y"],
    )
    r = ancova_1cov(df, "g", "x", "y").collect()[0]
    # numpy: full model y ~ C(g) + x via within-group centering
    sxxw = syyw = sxyw = 0.0
    for gg in range(3):
        m = g == gg
        sxxw += ((x[m] - x[m].mean()) ** 2).sum()
        syyw += ((y[m] - y[m].mean()) ** 2).sum()
        sxyw += ((x[m] - x[m].mean()) * (y[m] - y[m].mean())).sum()
    sse_full = syyw - sxyw**2 / sxxw
    sxx_t = ((x - x.mean()) ** 2).sum()
    syy_t = ((y - y.mean()) ** 2).sum()
    sxy_t = ((x - x.mean()) * (y - y.mean())).sum()
    sse_red = syy_t - sxy_t**2 / sxx_t
    fstat = ((sse_red - sse_full) / 2) / (sse_full / (n - 4))
    assert r["f_stat"] == pytest.approx(fstat, rel=1e-5)
    assert r["slope_common"] == pytest.approx(
        sxyw / sxxw, abs=1e-6
    )
    assert r["p_value"] < 1e-6  # planted group effect found
    # Dickey-Fuller
    walk = np.cumsum(rng.normal(0, 1, 400))
    ar = np.zeros(400)
    for i in range(1, 400):
        ar[i] = 0.3 * ar[i - 1] + rng.normal()
    rows = [("walk", i, float(v)) for i, v in enumerate(walk)]
    rows += [("ar", i, float(v)) for i, v in enumerate(ar)]
    sdf = spark.createDataFrame(rows, ["g", "t", "v"])
    got = {
        r2["g"]: r2
        for r2 in dickey_fuller(sdf, ["g"], ["t"], "v").collect()
    }
    for name, series in (("walk", walk), ("ar", ar)):
        lagv, d = series[:-1], np.diff(series)
        m = len(lagv)
        den = m * (lagv**2).sum() - lagv.sum() ** 2
        beta = (m * (lagv * d).sum() - lagv.sum() * d.sum()) / den
        alpha = (d.sum() - beta * lagv.sum()) / m
        sse = (d * d).sum() - alpha * d.sum() - beta * (lagv * d).sum()
        seb = np.sqrt((sse / (m - 2)) * m / den)
        assert got[name]["beta"] == pytest.approx(beta, abs=1e-6)
        assert got[name]["df_stat"] == pytest.approx(
            beta / seb, abs=1e-5
        ), name
    assert not got["walk"]["reject_5pct"]
    assert got["ar"]["reject_5pct"]


def test_seasonal_mann_kendall_replica(spark):
    """Seasonal MK: per-season S/Var combined matches the brute-force
    within-season pair count; a seasonal-but-trendless series does
    not reject while a planted trend does."""
    import numpy as np

    from padua_spark.operators.stats import seasonal_mann_kendall

    rng = np.random.RandomState(31)
    n_years, k_seasons = 12, 4
    rows = []
    # trendless with strong seasonality; trending series
    for yr in range(n_years):
        for s in range(k_seasons):
            base_v = 10 * s + rng.normal(0, 1)
            rows.append(("flat", s, yr, float(base_v)))
            rows.append(("up", s, yr, float(base_v + 0.8 * yr)))
    df = spark.createDataFrame(rows, ["g", "season", "t", "v"])
    got = {
        r["g"]: r
        for r in seasonal_mann_kendall(
            df, ["g"], "season", "t", "v"
        ).collect()
    }
    vals = {"flat": {}, "up": {}}
    for g, s, t, v in rows:
        vals[g].setdefault(s, []).append(v)
    for g in ("flat", "up"):
        S = 0
        var = 0.0
        for s, xs in vals[g].items():
            xs = np.array(xs)
            m = len(xs)
            S += int(
                np.sign(xs[None, :] - xs[:, None])[
                    np.triu_indices(m, 1)
                ].sum()
            )
            var += m * (m - 1) * (2 * m + 5) / 18.0
        assert got[g]["s_stat"] == S, g
        assert got[g]["var_s"] == pytest.approx(var, abs=1e-6)
    assert got["up"]["p_normal"] < 0.001
    assert got["flat"]["p_normal"] > 0.1


def test_cox_stuart_and_packing(spark):
    """Cox-Stuart: pair counts and exact binomial p against a python
    replica (odd n drops the middle element); packing_efficiency
    matches hand-computed truncation/padding numbers."""
    import math

    import numpy as np

    from padua_spark.extensions.sampling import packing_efficiency
    from padua_spark.operators.temporal import cox_stuart_trend

    rng = np.random.RandomState(6)
    n = 101  # odd: middle dropped
    x = np.cumsum(rng.normal(0.2, 1, n))  # upward drift
    df = spark.createDataFrame(
        [("a", i, float(v)) for i, v in enumerate(x)],
        ["g", "t", "v"],
    )
    r = cox_stuart_trend(df, ["g"], ["t"], "v").collect()[0]
    c = math.ceil(n / 2)
    diffs = [
        x[i + c] - x[i] for i in range(n - c)
    ]
    npos = sum(1 for d in diffs if d > 0)
    nneg = sum(1 for d in diffs if d < 0)
    m = npos + nneg
    assert r["n"] == n and r["n_pairs"] == m
    assert r["n_pos"] == npos and r["n_neg"] == nneg
    pk = math.comb(m, npos) * 0.5**m
    ptwo = min(
        1.0,
        sum(
            math.comb(m, i) * 0.5**m
            for i in range(m + 1)
            if math.comb(m, i) * 0.5**m <= pk * (1 + 1e-7)
        ),
    )
    assert r["p_value"] == pytest.approx(ptwo, abs=1e-6)
    assert r["p_value"] < 0.05  # drift found
    toks = [100, 600, 512, 0, 1000]
    pdf = spark.createDataFrame([(t,) for t in toks], ["tok"])
    pr = packing_efficiency(pdf, "tok", 512).collect()[0]
    assert pr["n_docs"] == 5
    assert pr["total_tokens"] == sum(toks)
    assert pr["n_truncated"] == 2
    assert pr["tokens_truncated"] == (600 - 512) + (1000 - 512)
    kept = sum(min(t, 512) for t in toks)
    assert pr["tokens_kept"] == kept
    assert pr["seq_lower_bound"] == math.ceil(kept / 512)
    waste = sum(512 - min(t, 512) for t in toks)
    assert pr["padding_waste"] == waste
    assert pr["padding_frac"] == pytest.approx(
        waste / (5 * 512), abs=1e-6
    )


def test_msprt_normal_replica(spark):
    """mSPRT lambda/always-valid p against the closed-form numpy
    formula; a real effect drives p below alpha while a null split
    stays high."""
    import numpy as np

    from padua_spark.operators.stats import msprt_normal

    rng = np.random.RandomState(12)
    n = 2000
    a = rng.normal(10.5, 2, n)  # lifted arm
    b = rng.normal(10.0, 2, n)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = msprt_normal(df, "g", "v", "a", "b", tau=1.0).collect()[0]
    s2p = (
        ((a - a.mean()) ** 2).sum() + ((b - b.mean()) ** 2).sum()
    ) / (2 * n - 2)
    vhat = s2p * (2 / n)
    diff = a.mean() - b.mean()
    lam = np.sqrt(vhat / (vhat + 1.0)) * np.exp(
        diff**2 * 1.0 / (2 * vhat * (vhat + 1.0))
    )
    assert r["diff"] == pytest.approx(diff, abs=1e-6)
    assert r["v_hat"] == pytest.approx(vhat, abs=1e-6)
    assert r["p_always_valid"] == pytest.approx(
        min(1.0, 1 / lam), abs=1e-4
    )
    assert r["p_always_valid"] < 0.05
    # null: same distribution -> p near 1
    null_rows = [("a", float(v)) for v in b[:1000]] + [
        ("b", float(v)) for v in b[1000:]
    ]
    ndf = spark.createDataFrame(null_rows, ["g", "v"])
    rn = msprt_normal(ndf, "g", "v", "a", "b").collect()[0]
    assert rn["p_always_valid"] > 0.5


def test_gsea_prerank_replica(spark):
    """GSEA ES/rank against a numpy running-sum replica; a
    top-concentrated set gets a large positive ES with small p, a
    random set does not; the list-size bound raises."""
    import numpy as np

    from padua_spark.operators.stats import gsea_prerank

    rng = np.random.RandomState(8)
    n = 400
    scores = np.round(rng.normal(0, 1, n), 4)
    order = np.argsort(-scores)  # descending
    hit = np.zeros(n, dtype=int)
    hit[order[:40]] = 1  # plant the set at the TOP of the ranking
    rows = [
        (i, float(scores[i]), int(hit[i])) for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["id", "s", "h"])
    r = gsea_prerank(df, "id", "s", "h", n_perms=49).collect()[0]
    # replica ES (ties broken by id — scores rounded, ties possible)
    idx = sorted(range(n), key=lambda i: (-scores[i], i))
    w = np.abs(scores)
    sw = w[hit == 1].sum()
    nmiss = n - hit.sum()
    cw = cm = 0.0
    best, best_r = 0.0, None
    for rank, i in enumerate(idx, start=1):
        if hit[i]:
            cw += w[i]
        else:
            cm += 1
        dev = cw / sw - cm / nmiss
        if abs(dev) > abs(best) + 1e-15:
            best, best_r = dev, rank
    assert r["es"] == pytest.approx(best, abs=1e-6)
    assert r["es_rank"] == best_r
    assert r["es"] > 0.5
    assert r["p_value"] == pytest.approx(1 / 50, abs=1e-6)
    assert r["nes"] > 1.5
    # random set: not significant
    hit2 = np.zeros(n, dtype=int)
    hit2[rng.choice(n, 40, replace=False)] = 1
    df2 = spark.createDataFrame(
        [(i, float(scores[i]), int(hit2[i])) for i in range(n)],
        ["id", "s", "h"],
    )
    r2 = gsea_prerank(df2, "id", "s", "h", n_perms=49).collect()[0]
    assert r2["p_value"] > 0.1
    with pytest.raises(ValueError, match="max_list_size"):
        gsea_prerank(df, "id", "s", "h", max_list_size=10)


def test_dimension_truncation_recall_replica(spark):
    """Truncation recall against a numpy cosine top-k replica per
    dimension; full dim recovers recall 1.0."""
    import numpy as np

    from padua_spark.extensions.similarity import (
        dimension_truncation_recall,
    )

    rng = np.random.RandomState(2)
    n, dim = 200, 16
    V = rng.normal(0, 1, (n, dim))
    q = rng.normal(0, 1, dim)
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(n)],
        ["vec_id", "embedding"],
    )
    got = {
        r["dim"]: r
        for r in dimension_truncation_recall(
            df, "embedding", "vec_id", [float(x) for x in q],
            k=10, dims=(4, 8, 16),
        ).collect()
    }

    def topk(d):
        s = (V[:, :d] @ q[:d]) / (
            np.linalg.norm(V[:, :d], axis=1) * np.linalg.norm(q[:d])
        )
        return set(np.lexsort((np.arange(n), -s))[:10])

    full = topk(dim)
    for d in (4, 8, 16):
        exp = len(topk(d) & full)
        assert got[d]["n_overlap"] == exp, d
        assert got[d]["recall"] == pytest.approx(exp / 10, abs=1e-9)
    assert got[16]["recall"] == 1.0
    with pytest.raises(ValueError, match="outside"):
        dimension_truncation_recall(
            df, "embedding", "vec_id", [float(x) for x in q],
            dims=(99,),
        )


def test_hilbert_key_reference_and_locality(spark):
    """with_hilbert_key matches the textbook xy2d algorithm on the
    full 8x8 grid (a bijection onto 0..63), and the curve takes UNIT
    steps: consecutive keys are always grid neighbors (|dx|+|dy| = 1)
    - the locality property Z-order lacks (its max jump is large)."""
    import itertools

    from padua_spark.io_utils import with_hilbert_key, zorder_key

    def xy2d(n_bits, x, y):
        d = 0
        s = 1 << (n_bits - 1)
        while s > 0:
            rx = 1 if (x & s) > 0 else 0
            ry = 1 if (y & s) > 0 else 0
            d += s * s * ((3 * rx) ^ ry)
            if ry == 0:
                if rx == 1:
                    x = s - 1 - x
                    y = s - 1 - y
                x, y = y, x
            s >>= 1
        return d

    pts = list(itertools.product(range(8), range(8)))
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {
        (r["x"], r["y"]): r["hilbert_key"]
        for r in with_hilbert_key(df, "x", "y", bits=3).collect()
    }
    assert got == {(x, y): xy2d(3, x, y) for x, y in pts}
    assert sorted(got.values()) == list(range(64))
    by_key = {d: xy for xy, d in got.items()}
    steps = [
        abs(by_key[d + 1][0] - by_key[d][0])
        + abs(by_key[d + 1][1] - by_key[d][1])
        for d in range(63)
    ]
    assert all(s == 1 for s in steps)  # Hilbert: every step is unit
    z = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key("x", "y", bits=3).alias("z")
        ).collect()
    }
    zby = {d: xy for xy, d in z.items()}
    zsteps = [
        abs(zby[d + 1][0] - zby[d][0]) + abs(zby[d + 1][1] - zby[d][1])
        for d in range(63)
    ]
    assert max(zsteps) > 1  # Z-order jumps; Hilbert never does


def test_yuen_trimmed_ttest_replica(spark):
    """Yuen t/df against a numpy replica with the pinned
    percentile-bound trimming semantics; detects a planted location
    shift under heavy contamination where the shift is real."""
    import numpy as np

    from padua_spark.operators.stats import yuen_trimmed_ttest

    rng = np.random.RandomState(14)
    n = 500
    a = rng.normal(10.6, 1, n)
    b = rng.normal(10.0, 1, n)
    # heavy symmetric contamination in both arms
    a[:25] += rng.choice([-40, 40], 25)
    b[:25] += rng.choice([-40, 40], 25)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = yuen_trimmed_ttest(df, "g", "v", "a", "b", trim=0.2).collect()[0]

    def side(x):
        lo, hi = np.percentile(x, [20, 80], method="linear")
        inside = (x >= lo) & (x <= hi)
        tm = x[inside].mean()
        h = inside.sum()
        w = np.clip(x, lo, hi)
        s2w = w.var(ddof=1)
        d = (len(x) - 1) * s2w / (h * (h - 1))
        return tm, h, d

    tma, ha, da = side(a)
    tmb, hb, db = side(b)
    t = (tma - tmb) / np.sqrt(da + db)
    dfree = (da + db) ** 2 / (da**2 / (ha - 1) + db**2 / (hb - 1))
    assert r["h_a"] == ha and r["h_b"] == hb
    assert r["trimmed_mean_a"] == pytest.approx(tma, abs=1e-6)
    assert r["t_stat"] == pytest.approx(t, abs=1e-5)
    assert r["df"] == pytest.approx(dfree, rel=1e-5)
    assert r["p_value"] < 1e-6  # robust to the planted outliers


def test_passing_bablok_replica(spark):
    """PB shifted-median slope/CI/intercept against a brute-force
    python replica (lex pair rule, -1 exclusion, paper rank bands);
    recovers a planted calibration line under outliers; the O(n^2)
    bound raises."""
    import math

    import numpy as np

    from padua_spark.operators.stats import passing_bablok

    rng = np.random.RandomState(5)
    n = 120
    x = np.round(rng.uniform(1, 100, n), 2)
    y = np.round(1.08 * x + 3 + rng.normal(0, 2, n), 2)
    y[:6] += 60  # outliers PB shrugs off
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], ["x", "y"]
    )
    r = passing_bablok(df, "x", "y").collect()[0]
    S = []
    for i in range(n):
        for j in range(i + 1, n):
            (xa, ya), (xb, yb) = sorted(
                [(x[i], y[i]), (x[j], y[j])]
            )
            if xa == xb:
                continue
            s = (yb - ya) / (xb - xa)
            if s == -1.0:
                continue
            S.append(s)
    S.sort()
    N, K = len(S), sum(1 for s in S if s < -1)
    if N % 2 == 1:
        b = S[(N + 1) // 2 + K - 1]
    else:
        b = 0.5 * (S[N // 2 + K - 1] + S[N // 2 + 1 + K - 1])
    C = 1.959963984540054 * math.sqrt(n * (n - 1) * (2 * n + 5) / 18)
    M1 = math.ceil((N - C) / 2)
    assert r["n_slopes"] == N and r["k_neg"] == K
    assert r["slope"] == pytest.approx(b, abs=1e-6)
    assert r["slope_lo"] == pytest.approx(
        S[max(0, M1 + K - 1)], abs=1e-6
    )
    assert r["slope_hi"] == pytest.approx(
        S[min(N - 1, N - M1 + K)], abs=1e-6
    )
    assert r["intercept"] == pytest.approx(
        float(np.median(y - b * x)), abs=1e-6
    )
    assert 1.0 < r["slope"] < 1.2  # outlier-robust calibration
    with pytest.raises(ValueError, match="max_points"):
        passing_bablok(df, "x", "y", max_points=10)


def test_lsh_eval_and_vocab_curve(spark):
    """lsh_candidate_eval on a tiny planted corpus: near-dup pairs in
    the truth are recovered with high recall (the banding S-curve at
    32/8 catches >= 0.5 Jaccard); vocabulary_coverage_curve matches a
    Counter replica including the boundary-tie arithmetic."""
    import collections

    from padua_spark.extensions.dedup import lsh_candidate_eval
    from padua_spark.extensions.text import vocabulary_coverage_curve

    base = "the quick brown fox jumps over a lazy dog near the river"
    docs = []
    for i in range(12):
        docs.append((2 * i, "g", base + f" tail{i}"))
        docs.append((2 * i + 1, "g", base + f" tail{i} extra"))
    for i in range(24, 40):
        docs.append((i, "g", f"document {i} about topic {i * 7} "
                             f"entirely different words {i * 13}"))
    df = spark.createDataFrame(docs, ["doc_id", "text_col", "text"]) \
        .select("doc_id", F.col("text_col").alias("blk"), "text")
    # threshold 0.8: truth = the near-identical (2i, 2i+1) pairs
    # (one-word edits, jaccard ~0.9) where the 32/8 S-curve is ~1;
    # the ~0.5-0.7 cross-tail pairs sit on the S-curve's 50% zone
    # and would make a recall assertion flaky
    r = lsh_candidate_eval(
        df, "doc_id", "text", ["blk"], threshold=0.8
    ).collect()[0]
    assert r["n_truth"] > 0
    assert r["recall"] is not None and r["recall"] >= 0.9
    assert r["n_hit"] <= r["n_candidates"]
    # vocab curve replica
    cnt = collections.Counter(
        w for _, _, t in docs for w in t.lower().split()
    )
    total = sum(cnt.values())
    got = {
        row["k"]: row
        for row in vocabulary_coverage_curve(
            df, "text", ks=(3, 10, 10000)
        ).collect()
    }
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    for k in (3, 10):
        cov = sum(c for _, c in ordered[:k])
        assert got[k]["covered_tokens"] == cov, k
        assert got[k]["coverage"] == pytest.approx(
            cov / total, abs=1e-6
        )
    assert got[10000]["covered_tokens"] == total
    assert got[10000]["n_types_used"] == len(cnt)
    assert got[10000]["coverage"] == pytest.approx(1.0)


def test_fairness_and_mmd_replicas(spark):
    """fairness_report gaps against direct numpy rates on planted
    disparate groups; embedding_mmd detects a planted mean shift
    (small p) and accepts identical distributions (large p), mmd2
    matching the numpy mean-difference norm."""
    import numpy as np

    from padua_spark.extensions.features import fairness_report
    from padua_spark.extensions.similarity import embedding_mmd

    rng = np.random.RandomState(23)
    n = 3000
    g = rng.randint(0, 2, n)
    y = (rng.uniform(size=n) < 0.5).astype(int)
    # group 1 gets systematically more positive predictions
    p = ((rng.uniform(size=n) + 0.2 * g) > 0.6).astype(int)
    df = spark.createDataFrame(
        [(int(a), int(b), int(c)) for a, b, c in zip(g, y, p)],
        ["g", "y", "p"],
    )
    got = {
        r["group"]: r
        for r in fairness_report(df, "g", "y", "p", 0).collect()
    }
    for gg in (0, 1):
        m = g == gg
        assert got[gg]["ppr"] == pytest.approx(
            p[m].mean(), abs=1e-6
        )
        assert got[gg]["tpr"] == pytest.approx(
            p[m & (y == 1)].mean(), abs=1e-6
        )
    assert got[0]["dp_gap"] == pytest.approx(0.0, abs=1e-9)
    assert got[1]["dp_gap"] == pytest.approx(
        p[g == 1].mean() - p[g == 0].mean(), abs=1e-6
    )
    assert got[1]["dp_gap"] > 0.1  # planted disparity surfaced
    # MMD
    na, nb, d = 300, 300, 8
    A = rng.normal(0, 1, (na, d))
    Bv = rng.normal(0.4, 1, (nb, d))  # planted shift
    rows = [
        (i, 1, [float(x) for x in A[i]]) for i in range(na)
    ] + [
        (na + i, 0, [float(x) for x in Bv[i]]) for i in range(nb)
    ]
    edf = spark.createDataFrame(rows, ["id", "grp", "v"])
    r = embedding_mmd(
        edf, "v", "grp", 1, 0, id_col="id", n_perms=49
    ).collect()[0]
    mmd2 = float(((A.mean(0) - Bv.mean(0)) ** 2).sum())
    assert r["mmd2"] == pytest.approx(mmd2, abs=1e-9)
    assert r["p_value"] == pytest.approx(1 / 50, abs=1e-9)
    # null: both halves from the same distribution
    rows0 = [
        (i, int(i % 2), [float(x) for x in A[i]]) for i in range(na)
    ]
    edf0 = spark.createDataFrame(rows0, ["id", "grp", "v"])
    r0 = embedding_mmd(
        edf0, "v", "grp", 1, 0, id_col="id", n_perms=49
    ).collect()[0]
    assert r0["p_value"] > 0.1


def test_binary_segmentation_replica(spark):
    """Binary segmentation against a brute-force SSE recursion on a
    three-level series: both planted changepoints found (within
    min_segment resolution), segment means recovered; a second key
    with no structure still splits deterministically."""
    import numpy as np

    from padua_spark.operators.temporal import binary_segmentation

    rng = np.random.RandomState(19)
    x = np.concatenate([
        rng.normal(0, 0.5, 60),
        rng.normal(4, 0.5, 50),
        rng.normal(-2, 0.5, 70),
    ])
    rows = [("a", i, float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    segs = sorted(
        binary_segmentation(
            df, ["g"], ["t"], "v",
            max_changepoints=2, min_segment=10,
        ).collect(),
        key=lambda r: r["seg_start"],
    )
    assert len(segs) == 3
    # brute-force binseg replica
    def best_split(lo, hi):
        seg = x[lo:hi]
        n = len(seg)
        best = (None, -1.0)
        s1 = np.cumsum(seg)
        s2 = np.cumsum(seg**2)
        sse_all = s2[-1] - s1[-1] ** 2 / n
        for i in range(10, n - 10 + 1):
            left = s2[i - 1] - s1[i - 1] ** 2 / i
            right = (s2[-1] - s2[i - 1]) - (
                (s1[-1] - s1[i - 1]) ** 2 / (n - i)
            )
            gain = sse_all - (left + right)
            if gain > best[1]:
                best = (i, gain)
        return best

    i1, _ = best_split(0, len(x))
    # second round: best of the two halves
    (ia, ga), (ib, gb) = best_split(0, i1), best_split(i1, len(x))
    cp2 = ia if ga >= gb else i1 + ib
    cps = sorted([i1, cp2])
    assert [s["seg_start"] for s in segs] == [1, cps[0] + 1, cps[1] + 1]
    for s in segs:
        m = x[s["seg_start"] - 1 : s["seg_end"]].mean()
        assert s["mean"] == pytest.approx(m, abs=1e-6)
    # the planted breakpoints (60, 110) recovered within tolerance
    assert abs(cps[0] - 60) <= 3 and abs(cps[1] - 110) <= 3


def test_median_ci_replica(spark):
    """Order-statistic median CI against numpy sorted ranks with the
    pinned normal-approximation rank rule; the interval contains the
    true median of a skewed sample."""
    import math

    import numpy as np

    from padua_spark.operators.stats import median_ci

    rng = np.random.RandomState(27)
    x = np.round(rng.lognormal(3, 0.8, 501), 3)
    df = spark.createDataFrame([("a", float(v)) for v in x], ["g", "v"])
    r = median_ci(df, "v", group_cols=["g"]).collect()[0]
    xs = np.sort(x)
    n = len(xs)
    z = 1.959963984540054
    rlo = max(1, math.floor((n - z * math.sqrt(n)) / 2))
    rhi = min(n, math.ceil((n + z * math.sqrt(n)) / 2) + 1)
    assert r["n"] == n
    assert r["median"] == pytest.approx(float(np.median(xs)), abs=1e-6)
    assert r["ci_lo"] == pytest.approx(xs[rlo - 1], abs=1e-6)
    assert r["ci_hi"] == pytest.approx(xs[rhi - 1], abs=1e-6)
    assert r["ci_lo"] <= r["median"] <= r["ci_hi"]


def test_rm_anova_replica(spark):
    """Repeated-measures ANOVA against the numpy SS decomposition on
    complete blocks (a planted within-subject treatment effect is
    found; the block effect absorbs the subject baseline); incomplete
    blocks are dropped."""
    import numpy as np

    from padua_spark.operators.stats import rm_anova_1way

    rng = np.random.RandomState(33)
    n, k = 40, 4
    subj = rng.normal(0, 5, n)  # big subject baselines
    eff = np.array([0.0, 0.5, 1.0, 1.5])
    rows = []
    X = np.zeros((n, k))
    for b in range(n):
        for t in range(k):
            X[b, t] = subj[b] + eff[t] + rng.normal(0, 0.7)
            rows.append((b, f"t{t}", float(X[b, t])))
    rows.append((999, "t0", 1.0))  # incomplete block -> dropped
    df = spark.createDataFrame(rows, ["b", "t", "v"])
    r = rm_anova_1way(df, "b", "t", "v").collect()[0]
    g = X.mean()
    ss_treat = n * ((X.mean(0) - g) ** 2).sum()
    ss_block = k * ((X.mean(1) - g) ** 2).sum()
    ss_total = ((X - g) ** 2).sum()
    ss_err = ss_total - ss_treat - ss_block
    fstat = (ss_treat / (k - 1)) / (ss_err / ((k - 1) * (n - 1)))
    assert r["n_blocks"] == n and r["k_treatments"] == k
    assert r["ss_treat"] == pytest.approx(ss_treat, abs=0.02)
    assert r["ss_block"] == pytest.approx(ss_block, abs=0.02)
    assert r["f_stat"] == pytest.approx(fstat, rel=1e-5)
    assert r["p_value"] < 1e-6


def test_passing_bablok_upper_ci_paper_ceil_convention(spark):
    """CONVENTION LOCK (verdict r11 item 5): passing_bablok's CI rank
    is the PAPER's M1 = ceil((N-C)/2) (Passing & Bablok 1983, eq. 10)
    — NOT round((N-C)/2) as some engines use. The fixture is chosen so
    ceil and round DIFFER (n=25 continuous points: (N-C)/2 = 108.04,
    ceil 109 vs round 108) and the neighboring order statistics are
    distinct, so the two conventions give different slope_hi values
    and the assertion genuinely pins the ceil choice."""
    import math

    import numpy as np

    from padua_spark.operators.stats import passing_bablok

    rng = np.random.RandomState(42)
    n = 25
    x = rng.uniform(1, 100, n)
    y = 1.1 * x + 2 + rng.normal(0, 3, n)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], ["x", "y"]
    )
    r = passing_bablok(df, "x", "y").collect()[0]
    S = []
    for i in range(n):
        for j in range(i + 1, n):
            (xa, ya), (xb, yb) = sorted([(x[i], y[i]), (x[j], y[j])])
            if xa == xb:
                continue
            s = (yb - ya) / (xb - xa)
            if s != -1.0:
                S.append(s)
    S.sort()
    N, K = len(S), sum(1 for s in S if s < -1)
    C = 1.959963984540054 * math.sqrt(n * (n - 1) * (2 * n + 5) / 18)
    q = (N - C) / 2
    m1_ceil, m1_round = math.ceil(q), round(q)
    # fixture property: the two conventions actually diverge here,
    # and the order statistics they select are distinct values
    assert m1_ceil == m1_round + 1
    hi_ceil = S[N - m1_ceil + K]
    hi_round = S[N - m1_round + K]
    assert hi_ceil != hi_round
    assert r["slope_hi"] == pytest.approx(hi_ceil, abs=1e-6)
    assert abs(r["slope_hi"] - hi_round) > 1e-9
    lo_ceil = S[m1_ceil + K - 1]
    assert r["slope_lo"] == pytest.approx(lo_ceil, abs=1e-6)


def test_yuen_percentile_bound_trim_on_integer_ties(spark):
    """CONVENTION LOCK (verdict r11 item 5): yuen_trimmed_ttest trims
    by the exact interpolated [trim, 1-trim] PERCENTILE BOUNDS keeping
    boundary-EQUAL values (the trimmed_mean rule, pinned at
    stats.py yuen_trimmed_ttest docstring) — NOT scipy's rank-trim
    (drop floor(trim*n) per side), whose tie-breaks are
    engine-dependent. Integer-tied fixture where they differ: group a
    = [1,2,2,2,2,2,3,3,9,10], trim=0.2 -> bounds [2.0, 4.2]; the
    percentile rule keeps ALL five 2s (h=7, trimmed mean 16/7) while
    rank-trim would keep only a[2:8] (h=6)."""
    import numpy as np

    from padua_spark.operators.stats import yuen_trimmed_ttest

    a = [1, 2, 2, 2, 2, 2, 3, 3, 9, 10]
    b = [1, 1, 2, 2, 3, 3, 4, 4, 5, 5]
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = yuen_trimmed_ttest(df, "g", "v", "a", "b", trim=0.2).collect()[0]
    # hand values under the pinned percentile-bound convention
    assert r["h_a"] == 7  # rank-trim would give 6
    assert r["h_b"] == 6
    assert r["trimmed_mean_a"] == pytest.approx(16.0 / 7.0, abs=1e-6)
    assert r["trimmed_mean_b"] == pytest.approx(3.0, abs=1e-6)
    # winsorized variance replica for the tied arm
    w = np.clip(np.array(a, float), 2.0, 4.2)
    assert (
        abs(r["t_stat"]) > 0 or r["t_stat"] == 0
    )  # defined (h_j >= 2 both arms)
    d_a = (len(a) - 1) * w.var(ddof=1) / (7 * 6)
    wb = np.clip(np.array(b, float), 1.8, 4.2)
    d_b = (len(b) - 1) * wb.var(ddof=1) / (6 * 5)
    t = (16.0 / 7.0 - 3.0) / np.sqrt(d_a + d_b)
    assert r["t_stat"] == pytest.approx(t, abs=1e-5)


def test_round12_homogeneity_randomness_battery_vs_numpy(spark):
    """SNHT / Buishand / turning points / Bartels / variance ratio /
    records vs dense numpy replicas on one planted series: a level
    shift at index 120 of 200 is located by SNHT and Buishand
    exactly; the randomness screens agree with the replicas to 6dp;
    the trend series inflates upper records."""
    import numpy as np

    from padua_spark.operators.temporal import (
        bartels_rank_test,
        buishand_range,
        records_test,
        snht_test,
        turning_points_test,
        variance_ratio_test,
    )

    rng = np.random.RandomState(7)
    n = 200
    x = rng.normal(10, 1, n)
    x[120:] += 2.5  # planted mean break
    rows = [("g", i, float(v)) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, ["g", "i", "v"])

    mu, sd = x.mean(), x.std()  # population sd (pinned)
    S = np.cumsum(x - mu)
    k = np.arange(1, n)
    T = (S[:-1] ** 2 / sd**2) * (1.0 / k + 1.0 / (n - k))
    r = snht_test(df, ["g"], ["i"], "v").collect()[0]
    assert r["n"] == n
    assert r["t0_stat"] == pytest.approx(T.max(), abs=1e-5)
    assert r["change_index"] == int(T.argmax()) + 1
    assert abs(r["change_index"] - 120) <= 3  # at the planted break

    r = buishand_range(df, ["g"], ["i"], "v").collect()[0]
    rng_exp = (max(S.max(), 0) - min(S.min(), 0)) / sd
    assert r["range_stat"] == pytest.approx(rng_exp, abs=1e-5)
    assert r["rescaled_range"] == pytest.approx(
        rng_exp / np.sqrt(n), abs=1e-6
    )
    assert r["change_index"] == int(np.abs(S).argmax()) + 1

    r = turning_points_test(df, ["g"], ["i"], "v").collect()[0]
    tp = sum(
        1
        for t in range(1, n - 1)
        if (x[t - 1] < x[t] > x[t + 1]) or (x[t - 1] > x[t] < x[t + 1])
    )
    assert r["n_turning_points"] == tp
    e, var = 2 * (n - 2) / 3.0, (16 * n - 29) / 90.0
    assert r["z"] == pytest.approx((tp - e) / np.sqrt(var), abs=1e-5)

    r = bartels_rank_test(df, ["g"], ["i"], "v").collect()[0]
    order = np.argsort(x, kind="mergesort")
    ranks = np.empty(n)
    sx = x[order]
    i = 0
    while i < n:
        j = i
        while j < n and sx[j] == sx[i]:
            j += 1
        ranks[order[i:j]] = (i + j + 1) / 2.0
        i = j
    nm = np.sum(np.diff(ranks) ** 2)
    den = np.sum((ranks - (n + 1) / 2.0) ** 2)
    rvn = nm / den
    var_rvn = (
        4.0 * (n - 2) * (5 * n * n - 2 * n - 9)
        / (5.0 * n * (n + 1) * (n - 1) ** 2)
    )
    assert r["rvn_stat"] == pytest.approx(rvn, abs=1e-6)
    assert r["z"] == pytest.approx(
        (rvn - 2) / np.sqrt(var_rvn), abs=1e-5
    )

    q = 4
    r = variance_ratio_test(df, ["g"], ["i"], "v", q=q).collect()[0]
    d1 = np.diff(x)
    mu1 = d1.mean()
    var1 = np.sum((d1 - mu1) ** 2) / (n - 1)
    eq = x[q:] - x[:-q]
    varq = np.sum((eq - q * mu1) ** 2) / (q * (n - q))
    vr = varq / var1
    phi = 2.0 * (2 * q - 1) * (q - 1) / (3.0 * q * n)
    assert r["vr_stat"] == pytest.approx(vr, abs=1e-6)
    assert r["z"] == pytest.approx((vr - 1) / np.sqrt(phi), abs=1e-5)

    # records on an upward-trending series: upper records inflate
    y = np.arange(n) * 0.05 + rng.normal(0, 1, n)
    dft = spark.createDataFrame(
        [("g", i, float(v)) for i, v in enumerate(y)], ["g", "i", "v"]
    )
    r = records_test(dft, ["g"], ["i"], "v").collect()[0]
    up = sum(
        1 for t in range(1, n) if y[t] > y[:t].max()
    )
    lo = sum(
        1 for t in range(1, n) if y[t] < y[:t].min()
    )
    assert r["n_upper_records"] == up
    assert r["n_lower_records"] == lo
    e_rec = np.sum(1.0 / np.arange(2, n + 1))
    v_rec = np.sum(
        1.0 / np.arange(2, n + 1) - 1.0 / np.arange(2, n + 1) ** 2
    )
    assert r["expected"] == pytest.approx(e_rec, abs=1e-5)
    assert r["z_upper"] == pytest.approx(
        (up - e_rec) / np.sqrt(v_rec), abs=1e-5
    )
    assert r["p_upper"] < 0.01  # the trend is detected


def test_round12_causal_regression_battery_vs_numpy(spark):
    """iv_wald / sobel_mediation / rdd_sharp / goldfeld_quandt vs
    dense numpy replicas on planted data: IV recovers the structural
    slope under confounding the OLS slope misses; Sobel decomposes a
    planted full mediation; RDD finds the planted jump; GQ flags
    planted variance growth."""
    import numpy as np

    from padua_spark.operators.stats import (
        goldfeld_quandt,
        iv_wald,
        rdd_sharp,
        sobel_mediation,
    )

    rng = np.random.RandomState(11)
    n = 2000

    # IV: x endogenous via shared confounder u; z shifts x only
    u = rng.normal(0, 1, n)
    z = (rng.uniform(0, 1, n) > 0.5).astype(float)
    x = 1.0 * z + u + rng.normal(0, 0.5, n)
    y = 2.0 * x + 3.0 * u + rng.normal(0, 0.5, n)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(z, x, y)],
        ["z", "x", "y"],
    ).withColumn("g", F.lit("g"))
    r = iv_wald(df, ["g"], "z", "x", "y").collect()[0]
    szy = np.cov(z, y, ddof=0)[0, 1]
    szx = np.cov(z, x, ddof=0)[0, 1]
    beta = szy / szx
    assert r["beta_iv"] == pytest.approx(beta, abs=1e-5)
    assert abs(r["beta_iv"] - 2.0) < 0.3  # structural slope
    ols = np.cov(x, y, ddof=0)[0, 1] / np.var(x)
    assert abs(ols - 2.0) > 0.5  # OLS is confounded away from 2
    assert r["first_stage_f"] > 100  # strong instrument

    # Sobel: full mediation x -> m -> y
    xs = rng.normal(0, 1, n)
    m = 1.5 * xs + rng.normal(0, 1, n)
    ys = 2.0 * m + rng.normal(0, 1, n)
    dfm = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(xs, m, ys)],
        ["x", "m", "y"],
    ).withColumn("g", F.lit("g"))
    r = sobel_mediation(dfm, ["g"], "x", "m", "y").collect()[0]
    X = np.column_stack([np.ones(n), xs, m])
    bhat = np.linalg.lstsq(X, ys, rcond=None)[0]
    a_hat = np.cov(xs, m, ddof=0)[0, 1] / np.var(xs)
    assert r["a_path"] == pytest.approx(a_hat, abs=1e-5)
    assert r["b_path"] == pytest.approx(bhat[2], abs=1e-5)
    c_tot = np.cov(xs, ys, ddof=0)[0, 1] / np.var(xs)
    assert r["total"] == pytest.approx(c_tot, abs=1e-5)
    # exact OLS decomposition: direct == coefficient of x in y~x+m
    assert r["direct"] == pytest.approx(bhat[1], abs=1e-4)
    assert r["p_value"] < 1e-6  # mediation detected

    # RDD: jump of +5 at cutoff 0, slope 1 both sides, bandwidth 2
    rr = rng.uniform(-3, 3, n)
    yr = 1.0 * rr + 5.0 * (rr >= 0) + rng.normal(0, 0.8, n)
    dfr = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(rr, yr)], ["r", "y"]
    ).withColumn("g", F.lit("g"))
    r = rdd_sharp(dfr, ["g"], "r", "y", cutoff=0.0,
                  bandwidth=2.0).collect()[0]
    assert abs(r["tau"] - 5.0) < 0.4
    assert r["p_value"] < 1e-6
    # replica of the left intercept
    mask = (rr >= -2.0) & (rr < 0.0)
    xl, yl = rr[mask], yr[mask]
    bl = np.cov(xl, yl, ddof=0)[0, 1] / np.var(xl)
    al = yl.mean() - bl * xl.mean()
    assert r["alpha_left"] == pytest.approx(al, abs=1e-5)

    # GQ: noise sd grows with x
    xg = np.sort(rng.uniform(0, 10, n))
    yg = 2.0 * xg + rng.normal(0, 0.2 + 0.4 * xg, n)
    dfg = spark.createDataFrame(
        [(int(i), float(a), float(b))
         for i, (a, b) in enumerate(zip(xg, yg))],
        ["i", "x", "y"],
    ).withColumn("g", F.lit("g"))
    r = goldfeld_quandt(
        dfg, ["g"], ["i"], "x", "y", drop_frac=0.2
    ).collect()[0]
    n1 = int(np.floor(n * 0.8 / 2))
    assert r["n_segment"] == n1

    def rss(xa, ya):
        b = np.cov(xa, ya, ddof=0)[0, 1] / np.var(xa)
        a = ya.mean() - b * xa.mean()
        return np.sum((ya - a - b * xa) ** 2)

    f_exp = (rss(xg[-n1:], yg[-n1:]) / (n1 - 2)) / (
        rss(xg[:n1], yg[:n1]) / (n1 - 2)
    )
    assert r["f_stat"] == pytest.approx(f_exp, rel=1e-5)
    assert r["f_stat"] > 2 and r["p_value"] < 1e-6


def test_round12_lexical_srm_winsor_battery(spark):
    """lexical_constants / richness_estimators vs Counter replicas on
    a tiny corpus; srm_check flags a planted 60/40 split against the
    declared 50/50 and passes a true split; winsorized_correlation
    shrugs off planted outlier pairs that wreck plain Pearson."""
    import collections
    import math

    import numpy as np

    from padua_spark.extensions.features import srm_check
    from padua_spark.extensions.text import (
        lexical_constants,
        richness_estimators,
    )
    from padua_spark.operators.stats import winsorized_correlation

    docs = [
        ("a b b c c c d d d d e", "en"),
        ("a a f g h h  i", "en"),
        ("x y x y z", "fr"),
    ]
    df = spark.createDataFrame(docs, ["text", "lang"])
    r = {
        row["lang"]: row
        for row in lexical_constants(df, ["lang"], "text").collect()
    }
    cnt = collections.Counter(
        t for txt, lg in docs if lg == "en" for t in txt.split()
    )
    N = sum(cnt.values())
    V = len(cnt)
    s2 = sum(m * m for m in cnt.values())
    v1 = sum(1 for m in cnt.values() if m == 1)
    en = r["en"]
    assert en["n_tokens"] == N and en["n_types"] == V
    assert en["n_hapax"] == v1
    assert en["yules_k"] == pytest.approx(
        1e4 * (s2 - N) / N**2, abs=1e-6
    )
    assert en["yules_i"] == pytest.approx(
        V * V / (s2 - V), abs=1e-6
    )
    assert en["herdan_c"] == pytest.approx(
        math.log(V) / math.log(N), abs=1e-6
    )
    assert en["guiraud_r"] == pytest.approx(V / math.sqrt(N), abs=1e-6)
    assert en["honore_h"] == pytest.approx(
        100.0 * math.log(N) / (1.0 - v1 / V), abs=1e-5
    )

    r = {
        row["lang"]: row
        for row in richness_estimators(df, ["lang"], "text").collect()
    }
    f1 = v1
    f2 = sum(1 for m in cnt.values() if m == 2)
    en = r["en"]
    assert en["f1"] == f1 and en["f2"] == f2
    assert en["chao1"] == pytest.approx(
        V + f1 * (f1 - 1) / (2.0 * (f2 + 1)), abs=1e-6
    )
    assert en["jackknife1"] == pytest.approx(
        V + f1 * (N - 1) / N, abs=1e-6
    )
    srare = sum(1 for m in cnt.values() if m <= 10)
    nrare = sum(m for m in cnt.values() if m <= 10)
    mm1 = sum(m * (m - 1) for m in cnt.values() if m <= 10)
    cace = 1.0 - f1 / nrare
    g2 = max(0.0, srare * mm1 / (cace * nrare * (nrare - 1)) - 1.0)
    ace = (V - srare) + srare / cace + (f1 / cace) * g2
    assert en["ace"] == pytest.approx(ace, abs=1e-5)

    # SRM: planted 60/40 vs declared 50/50 on 2000 users
    rows = [("m", i % 5) for i in range(2000)]  # arms 0..4: skew via %5
    arm = [0 if a <= 2 else 1 for _, a in rows]  # 60/40
    dfa = spark.createDataFrame(
        [("m", a) for a in arm], ["g", "arm"]
    )
    r = srm_check(dfa, ["g"], "arm", [0, 1]).collect()[0]
    assert r["n_arm_0"] == 1200 and r["n_arm_1"] == 800
    chi2 = (1200 - 1000) ** 2 / 1000 + (800 - 1000) ** 2 / 1000
    assert r["chi2"] == pytest.approx(chi2, abs=1e-6)
    assert r["srm_flag_1pct"] is True
    even = spark.createDataFrame(
        [("m", i % 2) for i in range(2000)], ["g", "arm"]
    )
    r = srm_check(even, ["g"], "arm", [0, 1]).collect()[0]
    assert r["chi2"] == 0.0 and r["srm_flag_1pct"] is False
    with pytest.raises(ValueError, match="arms"):
        srm_check(even, ["g"], "arm", [0])

    # winsorized correlation: outlier pairs kill Pearson, not r_w
    rng = np.random.RandomState(3)
    n = 500
    x = rng.normal(0, 1, n)
    y = 0.9 * x + rng.normal(0, 0.3, n)
    x[:5] = 40.0
    y[:5] = -40.0  # adversarial corner
    dfw = spark.createDataFrame(
        [("g", float(a), float(b)) for a, b in zip(x, y)],
        ["g", "x", "y"],
    )
    r = winsorized_correlation(dfw, ["g"], "x", "y",
                               trim=0.1).collect()[0]
    plain = np.corrcoef(x, y)[0, 1]
    assert plain < 0.5  # wrecked
    assert r["r_winsorized"] > 0.8  # robust
    assert r["h_eff"] == n - 2 * int(np.floor(0.1 * n))
    # replica with numpy percentile bounds
    xlo, xhi = np.percentile(x, [10, 90], method="linear")
    ylo, yhi = np.percentile(y, [10, 90], method="linear")
    wx = np.clip(x, xlo, xhi)
    wy = np.clip(y, ylo, yhi)
    assert r["r_winsorized"] == pytest.approx(
        np.corrcoef(wx, wy)[0, 1], abs=1e-5
    )
    assert r["p_value"] < 1e-6


def test_round12_graph_sketch_battery(spark):
    """edge_reciprocity on a planted graph with known mutual pairs;
    degree_powerlaw recovers a planted Pareto tail exponent;
    ams_f2_sketch's estimate is unbiased-ish on a Zipf corpus (within
    the documented 16-estimator error) and exact F2 matches a Counter
    replica."""
    import collections

    import numpy as np

    from padua_spark.extensions.graph import (
        degree_powerlaw,
        edge_reciprocity,
    )
    from padua_spark.extensions.sketches import ams_f2_sketch

    edges = [
        ("a", "b"), ("b", "a"),        # mutual
        ("a", "c"), ("c", "d"), ("d", "c"),  # one mutual pair
        ("e", "e"),                    # self-loop: excluded
        ("a", "b"),                    # duplicate: deduped
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    r = edge_reciprocity(df, "src", "dst").collect()[0]
    assert r["n_edges"] == 5
    assert r["n_reciprocal"] == 4  # a<->b and c<->d
    assert r["reciprocity"] == pytest.approx(0.8)

    rng = np.random.RandomState(5)
    alpha_true = 2.5
    degs = np.floor(
        5.0 * (1.0 - rng.uniform(0, 1, 3000)) ** (-1.0 / (alpha_true - 1))
    ).astype(int)
    rows = []
    nid = 0
    for d in degs:
        for j in range(int(d)):
            rows.append((f"n{nid}", f"m{nid}_{j}"))
        nid += 1
    dfe = spark.createDataFrame(rows, ["src", "dst"])
    r = degree_powerlaw(dfe, "src", "dst", d_min=5).collect()[0]
    tail = degs[degs >= 5]
    alpha_hat = 1.0 + len(tail) / np.sum(np.log(tail / 5.0))
    assert r["alpha_hill"] == pytest.approx(alpha_hat, abs=1e-5)
    assert abs(r["alpha_hill"] - alpha_true) < 0.25

    texts = [
        (" ".join(rng.choice(
            [f"w{k}" for k in range(50)],
            p=(lambda w: w / w.sum())(1.0 / np.arange(1, 51)),
            size=60,
        )),)
        for _ in range(50)
    ]
    dft = spark.createDataFrame(texts, ["text"])
    r = ams_f2_sketch(dft, "text", n_estimators=16).collect()[0]
    cnt = collections.Counter(
        t for (txt,) in texts for t in txt.lower().split() if t
    )
    f2 = sum(c * c for c in cnt.values())
    assert r["f2_exact"] == pytest.approx(f2)
    assert r["n_types"] == len(cnt)
    # 16-mean AMS on a skewed corpus: within ~3 std errors
    assert r["rel_error"] < 1.5


def test_round12_spectral_scaling_battery(spark):
    """periodogram finds a planted 16-row cycle; hurst_rs separates a
    persistent trend series from white noise (both vs numpy
    replicas); haar_energy matches a dense Haar replica and
    concentrates energy at the planted wiggle scale;
    davies_bouldin matches a numpy replica and prefers the tighter
    clustering; retrieval_mrr_at_k matches a brute-force replica."""
    import numpy as np

    from padua_spark.extensions.similarity import (
        davies_bouldin,
        retrieval_mrr_at_k,
    )
    from padua_spark.operators.temporal import (
        haar_energy,
        hurst_rs,
        periodogram,
    )

    rng = np.random.RandomState(9)
    n = 512
    t = np.arange(n)
    x = 5.0 * np.sin(2 * np.pi * 32 * t / n) + rng.normal(0, 1, n)
    df = spark.createDataFrame(
        [("g", int(i), float(v)) for i, v in zip(t, x)],
        ["g", "i", "v"],
    )
    r = periodogram(df, ["g"], ["i"], "v", max_freq=64).collect()[0]
    # replica
    ks = np.arange(1, 65)
    C = np.array([np.sum(x * np.cos(2 * np.pi * k * t / n)) for k in ks])
    S = np.array([np.sum(x * np.sin(2 * np.pi * k * t / n)) for k in ks])
    I = (C**2 + S**2) / n
    assert r["dominant_freq_k"] == 32
    assert r["dominant_period"] == pytest.approx(n / 32.0, abs=1e-6)
    assert r["dominant_share"] == pytest.approx(
        I.max() / I.sum(), abs=1e-6
    )
    p = I / I.sum()
    assert r["spectral_entropy"] == pytest.approx(
        -(p * np.log(p)).sum(), abs=1e-5
    )

    # hurst: cumulative sum of white noise ~ 0.5+, noise itself < 0.5
    walk = np.cumsum(rng.normal(0, 1, 4096))
    noise = rng.normal(0, 1, 4096)
    dfh = spark.createDataFrame(
        [("walk", int(i), float(v)) for i, v in enumerate(walk)]
        + [("noise", int(i), float(v)) for i, v in enumerate(noise)],
        ["g", "i", "v"],
    )
    got = {
        r["g"]: r for r in hurst_rs(dfh, ["g"], ["i"], "v").collect()
    }
    assert got["walk"]["n_scales"] == 5

    def rs_replica(series, m):
        k = len(series) // m
        vals = []
        for b in range(k):
            blk = series[b * m:(b + 1) * m]
            dev = np.cumsum(blk - blk.mean())
            var = blk.var()
            if var > 0:
                vals.append((dev.max() - dev.min()) / np.sqrt(var))
        return np.mean(vals)

    ms = [16, 32, 64, 128, 256]
    ys = np.log([rs_replica(walk, m) for m in ms])
    xs = np.log(ms)
    slope = np.polyfit(xs, ys, 1)[0]
    assert got["walk"]["hurst"] == pytest.approx(slope, abs=1e-5)
    assert got["walk"]["hurst"] > 0.8  # integrated series is persistent
    assert got["noise"]["hurst"] < 0.65

    # haar on the sine-plus-noise series: replica per level
    rh = {
        r["level"]: r
        for r in haar_energy(df, ["g"], ["i"], "v",
                             max_level=5).collect()
    }
    for lv in range(1, 6):
        bs = 2**lv
        nb = n // bs
        d = np.array([
            x[b * bs:b * bs + bs // 2].sum()
            - x[b * bs + bs // 2:(b + 1) * bs].sum()
            for b in range(nb)
        ]) / bs
        assert rh[lv]["n_blocks"] == nb
        assert rh[lv]["energy"] == pytest.approx(
            float((d**2).sum()), abs=1e-5
        )

    # davies_bouldin: tight planted clusters beat a shuffled labeling
    k, d = 4, 8
    cents = rng.normal(0, 10, (k, d))
    pts = []
    for c in range(k):
        for _ in range(60):
            pts.append((c, (cents[c] + rng.normal(0, 0.5, d))))
    dfc = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in pts],
        ["label", "embedding"],
    )
    r = davies_bouldin(dfc, "embedding", "label").collect()[0]
    assert r["k_clusters"] == k and r["n"] == k * 60

    def db_replica(labels, X):
        mus = np.array([X[labels == c].mean(0) for c in range(k)])
        Ss = np.array([
            np.sqrt(((X[labels == c] - mus[c]) ** 2).sum(1).mean())
            for c in range(k)
        ])
        rr = []
        for i in range(k):
            best = max(
                (Ss[i] + Ss[j])
                / np.linalg.norm(mus[i] - mus[j])
                for j in range(k)
                if j != i
            )
            rr.append(best)
        return float(np.mean(rr))

    X = np.array([v for _, v in pts])
    labels = np.array([c for c, _ in pts])
    # micro-unit quantization: compare against the quantized replica
    Xq = np.round(X * 1e6) / 1e6
    assert r["db_index"] == pytest.approx(
        db_replica(labels, Xq), abs=1e-4
    )
    assert r["db_index"] < 0.5  # well-separated planted clusters
    shuffled = labels.copy()
    rng.shuffle(shuffled)
    dfs = spark.createDataFrame(
        [(int(c), [float(x) for x in v])
         for c, v in zip(shuffled, X)],
        ["label", "embedding"],
    )
    r2 = davies_bouldin(dfs, "embedding", "label").collect()[0]
    assert r2["db_index"] > 5 * r["db_index"]

    # MRR replica on a tiny labeled corpus
    emb = []
    for i in range(30):
        lab = i % 3
        v = np.zeros(4)
        v[lab] = 1.0
        v += rng.normal(0, 0.1, 4)
        emb.append((i, [float(x) for x in v], int(lab)))
    dfe = spark.createDataFrame(emb, ["vec_id", "embedding", "label"])
    out = retrieval_mrr_at_k(
        dfe.filter(F.col("vec_id") >= 3), "vec_id", "embedding",
        "label", dfe.filter(F.col("vec_id") < 3), k=5,
    ).collect()
    assert len(out) == 3
    for row in out:
        # same-label planted geometry: the nearest neighbor is
        # relevant, so rr = 1
        assert row["reciprocal_rank"] == pytest.approx(1.0)


def test_round12_kuiper_mde_bloom_battery(spark):
    """kuiper_2samp vs a numpy ECDF replica on a planted shift (and
    V >= D_ks by construction); mde_two_mean against the closed
    formula with a planted underpowered arm; bloom_membership on a
    tiny corpus: zero false negatives ever, FP rate sane, exact
    membership counts match set algebra."""
    import numpy as np

    from padua_spark.extensions.sketches import bloom_membership
    from padua_spark.operators.stats import kuiper_2samp, mde_two_mean

    rng = np.random.RandomState(21)
    a = rng.normal(0, 1, 400)
    b = rng.normal(0.5, 1, 400)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])
    r = kuiper_2samp(df, "g", "v", "a", "b").collect()[0]
    pool = np.sort(np.unique(np.concatenate([a, b])))
    fa = np.searchsorted(np.sort(a), pool, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), pool, side="right") / len(b)
    dp, dm = (fa - fb).max(), (fb - fa).max()
    assert r["d_plus"] == pytest.approx(dp, abs=1e-6)
    assert r["d_minus"] == pytest.approx(dm, abs=1e-6)
    assert r["v_stat"] == pytest.approx(dp + dm, abs=1e-6)
    assert r["v_stat"] >= max(dp, dm)  # V >= KS D
    assert r["p_value"] < 1e-3  # the shift is detected
    ne = len(a) * len(b) / (len(a) + len(b))
    lam = (np.sqrt(ne) + 0.155 + 0.24 / np.sqrt(ne)) * (dp + dm)
    series = sum(
        (4 * j * j * lam * lam - 1) * np.exp(-2 * j * j * lam * lam)
        for j in range(1, 51)
    )
    assert r["p_value"] == pytest.approx(
        min(1.0, max(0.0, 2 * series)), abs=1e-6
    )

    # MDE: tiny noisy arms -> underpowered for a small true diff
    xa = rng.normal(100, 20, 50)
    xb = rng.normal(101, 20, 50)
    dfm = spark.createDataFrame(
        [("a", float(v)) for v in xa] + [("b", float(v)) for v in xb],
        ["g", "v"],
    )
    r = mde_two_mean(dfm, "g", "v", "a", "b").collect()[0]
    zsum = 1.959963984540054 + 0.8416212335729143
    mde = zsum * np.sqrt(
        xa.var(ddof=1) / 50 + xb.var(ddof=1) / 50
    )
    assert r["mde_absolute"] == pytest.approx(mde, abs=1e-5)
    assert r["observed_diff"] == pytest.approx(
        xb.mean() - xa.mean(), abs=1e-5
    )
    assert r["powered"] is False  # ~1 unit diff vs ~11 unit MDE
    with pytest.raises(ValueError, match="supported alpha"):
        mde_two_mean(dfm, "g", "v", "a", "b", alpha=0.2)

    # Bloom: no false negatives, exact membership accounting
    ref_words = [f"tok{i}" for i in range(300)]
    probe_words = [f"tok{i}" for i in range(200, 500)]  # 100 overlap
    ref = spark.createDataFrame(
        [(" ".join(ref_words[i:i + 10]),) for i in range(0, 300, 10)],
        ["text"],
    )
    probe = spark.createDataFrame(
        [(" ".join(probe_words[i:i + 10]),)
         for i in range(0, 300, 10)],
        ["text"],
    )
    r = bloom_membership(
        ref, probe, "text", m_bits=4096, k_hashes=4
    ).collect()[0]
    assert r["n_ref_types"] == 300
    assert r["n_probe_types"] == 300
    assert r["n_true_member"] == 100
    # Bloom filters NEVER miss a true member
    assert r["n_predicted_member"] >= r["n_true_member"]
    assert (
        r["n_predicted_member"] - r["n_true_member"]
        == r["n_false_positive"]
    )
    assert r["fp_rate"] is None or r["fp_rate"] < 0.2
    assert 0 < r["bits_set"] <= min(4096, 300 * 4)


def test_overdispersion_test_vs_numpy(spark):
    """overdispersion_test vs numpy on planted Poisson (not flagged)
    and negative-binomial (flagged) count columns."""
    import numpy as np

    from padua_spark.operators.stats import overdispersion_test

    rng = np.random.RandomState(13)
    pois = rng.poisson(5.0, 800)
    nb = rng.negative_binomial(2, 2.0 / 7.0, 800)  # mean 5, var 17.5
    rows = [("pois", int(v)) for v in pois] + [
        ("nb", int(v)) for v in nb
    ]
    df = spark.createDataFrame(rows, ["g", "y"])
    got = {
        r["g"]: r
        for r in overdispersion_test(df, ["g"], "y").collect()
    }
    for name, arr in (("pois", pois), ("nb", nb)):
        n = len(arr)
        mean, var = arr.mean(), arr.var(ddof=1)
        d = (n - 1) * var / mean
        z_wh = np.sqrt(2 * d) - np.sqrt(2 * (n - 1) - 1)
        ss = ((arr - mean) ** 2).sum()
        z_ct = (ss - arr.sum()) / np.sqrt(2 * n * mean * mean)
        r = got[name]
        assert r["dispersion_index"] == pytest.approx(d, rel=1e-6)
        assert r["z_wh"] == pytest.approx(z_wh, abs=1e-5)
        assert r["z_ct"] == pytest.approx(z_ct, abs=1e-5)
    assert got["pois"]["p_ct"] > 0.01  # Poisson not flagged
    assert got["nb"]["p_ct"] < 1e-6  # NB overdispersion flagged
    assert got["nb"]["z_ct"] > 0


def test_ccf_and_engle_granger_vs_numpy(spark):
    """ccf_lags recovers a planted lead-lag structure (x leads y by 3)
    with per-lag values matching a numpy replica; engle_granger
    accepts a planted cointegrated pair and rejects an independent
    random-walk pair."""
    import numpy as np

    from padua_spark.operators.temporal import ccf_lags, engle_granger

    rng = np.random.RandomState(17)
    n = 600
    x = rng.normal(0, 1, n)
    y = np.roll(x, 3) * 0.9 + rng.normal(0, 0.3, n)
    y[:3] = rng.normal(0, 1, 3)
    df = spark.createDataFrame(
        [("g", i, float(a), float(b))
         for i, (a, b) in enumerate(zip(x, y))],
        ["g", "i", "x", "y"],
    )
    out = {
        r["lag"]: r
        for r in ccf_lags(df, ["g"], ["i"], "x", "y",
                          max_lag=5).collect()
    }
    assert len(out) == 11

    def rep(lag):
        if lag >= 0:
            a, b = x[: n - lag], y[lag:]
        else:
            a, b = x[-lag:], y[: n + lag]
        return np.corrcoef(a, b)[0, 1], len(a)

    for lag in range(-5, 6):
        r_np, n_pairs = rep(lag)
        assert out[lag]["n_pairs"] == n_pairs
        assert out[lag]["ccf"] == pytest.approx(r_np, abs=1e-5)
    best = max(out.values(), key=lambda r: abs(r["ccf"] or 0))
    assert best["lag"] == 3  # the planted lead

    # cointegrated pair: common random walk + stationary spread
    w = np.cumsum(rng.normal(0, 1, 800))
    xc = w + rng.normal(0, 0.5, 800)
    yc = 2.0 * w + 5 + rng.normal(0, 0.5, 800)
    ind_x = np.cumsum(rng.normal(0, 1, 800))
    ind_y = np.cumsum(rng.normal(0, 1, 800))
    rows = [("coint", i, float(a), float(b))
            for i, (a, b) in enumerate(zip(xc, yc))]
    rows += [("indep", i, float(a), float(b))
             for i, (a, b) in enumerate(zip(ind_x, ind_y))]
    dfe = spark.createDataFrame(rows, ["g", "i", "x", "y"])
    got = {
        r["g"]: r
        for r in engle_granger(dfe, ["g"], ["i"], "y", "x").collect()
    }
    assert got["coint"]["cointegrated_5pct"] is True
    assert abs(got["coint"]["beta"] - 2.0) < 0.1
    assert got["indep"]["cointegrated_5pct"] is False
    # gamma replica for the cointegrated pair
    b_hat = np.cov(xc, yc, ddof=0)[0, 1] / np.var(xc)
    a_hat = yc.mean() - b_hat * xc.mean()
    e = yc - a_hat - b_hat * xc
    el, d = e[:-1], np.diff(e)
    gam = (el * d).sum() / (el * el).sum()
    rss = (d * d).sum() - gam * gam * (el * el).sum()
    se = np.sqrt((rss / (len(el) - 1)) / (el * el).sum())
    assert got["coint"]["gamma"] == pytest.approx(gam, abs=1e-5)
    assert got["coint"]["t_stat"] == pytest.approx(gam / se, abs=1e-4)


def test_round13_location_scale_battery_vs_numpy(spark):
    """lepage_test / cucconi_test / conover_squared_ranks /
    variance_outlier_screen vs independent numpy replicas on tied
    integer data (midranks exercised), plus behavioral checks: a
    planted scale change drives z_scale / the scale tests, a planted
    shift drives z_location."""
    import numpy as np

    from padua_spark.operators.stats import (
        conover_squared_ranks,
        cucconi_test,
        lepage_test,
        variance_outlier_screen,
    )

    rng = np.random.RandomState(13)
    # integer-valued, tied, b shifted AND widened
    a = rng.randint(10, 40, 300)
    b = rng.randint(5, 55, 260) + 4
    rows = [("a", int(x)) for x in a] + [("b", int(x)) for x in b]
    df = spark.createDataFrame(rows, ["g", "v"])

    pooled = np.concatenate([a, b]).astype(float)
    order = np.argsort(pooled, kind="mergesort")
    ranks = np.empty(len(pooled))
    sorted_v = pooled[order]
    i = 0
    rk = np.empty(len(pooled))
    while i < len(sorted_v):
        j = i
        while j < len(sorted_v) and sorted_v[j] == sorted_v[i]:
            j += 1
        rk[i:j] = (i + 1 + j) / 2.0
        i = j
    ranks[order] = rk
    na, nb = len(a), len(b)
    nt = na + nb
    ra = ranks[:na]
    rb = ranks[na:]
    w = ra.sum()
    # tie term from pooled counts
    _, cnts = np.unique(pooled, return_counts=True)
    tie = float((cnts.astype(np.int64) ** 3 - cnts).sum())
    var_w = na * nb / 12.0 * ((nt + 1) - tie / (nt * (nt - 1.0)))
    z_w = (w - na * (nt + 1) / 2.0) / np.sqrt(var_w)
    s = np.minimum(ranks, nt + 1 - ranks)
    ab = s[:na].sum()
    e_ab = na * s.sum() / nt
    var_ab = (
        na * nb * ((s * s).sum() - s.sum() ** 2 / nt)
        / (nt * (nt - 1.0))
    )
    z_ab = (ab - e_ab) / np.sqrt(var_ab)
    lep = z_w ** 2 + z_ab ** 2
    row = lepage_test(df, "g", "v", "a", "b").collect()[0]
    assert row["n_a"] == na and row["n_b"] == nb
    assert row["w_stat"] == pytest.approx(w, abs=1e-6)
    assert row["ab_stat"] == pytest.approx(ab, abs=1e-6)
    assert row["z_location"] == pytest.approx(z_w, abs=1e-5)
    assert row["z_scale"] == pytest.approx(z_ab, abs=1e-5)
    assert row["lepage_l"] == pytest.approx(lep, abs=1e-4)
    assert row["p_value"] == pytest.approx(
        np.exp(-lep / 2.0), abs=1e-5
    )
    # shift+scale planted -> omnibus should fire
    assert row["p_value"] < 0.01

    sr2 = (rb ** 2).sum()
    scr2 = ((nt + 1 - rb) ** 2).sum()
    den = np.sqrt(
        na * nb * (nt + 1.0) * (2 * nt + 1.0) * (8 * nt + 11.0) / 5.0
    )
    u = (6.0 * sr2 - nb * (nt + 1.0) * (2 * nt + 1.0)) / den
    vv = (6.0 * scr2 - nb * (nt + 1.0) * (2 * nt + 1.0)) / den
    rho = 2.0 * (nt * nt - 4.0) / (
        (2 * nt + 1.0) * (8 * nt + 11.0)
    ) - 1.0
    c = (u * u + vv * vv - 2 * rho * u * vv) / (2 * (1 - rho * rho))
    rowc = cucconi_test(df, "g", "v", "a", "b").collect()[0]
    assert rowc["u_stat"] == pytest.approx(u, abs=1e-5)
    assert rowc["v_stat"] == pytest.approx(vv, abs=1e-5)
    assert rowc["rho"] == pytest.approx(rho, abs=1e-6)
    assert rowc["c_stat"] == pytest.approx(c, abs=1e-4)
    assert rowc["p_value"] == pytest.approx(np.exp(-c), abs=1e-5)

    # Conover squared ranks, 3 groups with one wide group
    g3 = rng.randint(20, 31, 250)
    groups = {"a": a, "b": b, "c": g3}
    zs, labels = [], []
    for gname, arr in groups.items():
        mu = arr.astype(float).mean()
        zs.append(np.abs(arr - mu))
        labels += [gname] * len(arr)
    zpool = np.concatenate(zs)
    order = np.argsort(zpool, kind="mergesort")
    rk2 = np.empty(len(zpool))
    sv = zpool[order]
    i = 0
    tmp = np.empty(len(zpool))
    while i < len(sv):
        j = i
        while j < len(sv) and sv[j] == sv[i]:
            j += 1
        tmp[i:j] = (i + 1 + j) / 2.0
        i = j
    rk2[order] = tmp
    labels = np.array(labels)
    nn = float(len(zpool))
    r2 = rk2 ** 2
    sbar = r2.mean()
    d2 = ((rk2 ** 4).sum() - nn * sbar * sbar) / (nn - 1.0)
    ssum = 0.0
    for gname in groups:
        sg = r2[labels == gname].sum()
        ssum += sg * sg / (labels == gname).sum()
    t_np = (ssum - nn * sbar * sbar) / d2
    rows3 = (
        [("a", int(x)) for x in a]
        + [("b", int(x)) for x in b]
        + [("c", int(x)) for x in g3]
    )
    df3 = spark.createDataFrame(rows3, ["g", "v"])
    rowt = conover_squared_ranks(
        df3, "g", "v", ["a", "b", "c"]
    ).collect()[0]
    assert rowt["n_total"] == len(zpool)
    assert rowt["t_stat"] == pytest.approx(t_np, abs=1e-4)
    assert rowt["p_value"] == pytest.approx(
        np.exp(-t_np / 2.0), abs=1e-5
    )
    assert rowt["p_value"] < 0.01  # b is genuinely wider

    rowv = variance_outlier_screen(
        df3, "g", "v", ["a", "b", "c"]
    ).collect()[0]
    vars_np = {g: arr.astype(float).var(ddof=1)
               for g, arr in groups.items()}
    vmax = max(vars_np.values())
    vsum = sum(vars_np.values())
    assert rowv["max_group"] == "b"
    assert rowv["cochran_c"] == pytest.approx(vmax / vsum, abs=1e-6)
    assert rowv["hartley_fmax"] == pytest.approx(
        vmax / min(vars_np.values()), abs=1e-4
    )
    f_np = 2.0 * (vmax / vsum) / (1.0 - vmax / vsum)
    assert rowv["f_stat"] == pytest.approx(f_np, abs=1e-4)
    assert rowv["df1"] == len(b) - 1
    assert rowv["df2"] == (len(a) - 1) + (len(g3) - 1)
    assert rowv["p_bonferroni"] < 0.01


def test_round13_edf_and_rates_battery_vs_numpy(spark):
    """edf_normality_battery / f_variance_ratio_test /
    poisson_two_rate_test / wallis_moore_test vs independent
    replicas (math.erf / math.lgamma based — no scipy)."""
    import math

    import numpy as np

    from padua_spark.operators.stats import (
        edf_normality_battery,
        f_variance_ratio_test,
        poisson_two_rate_test,
        wallis_moore_test,
    )

    rng = np.random.RandomState(7)
    x = np.round(rng.normal(50, 10, 500), 1)  # ties via rounding
    df = spark.createDataFrame([(float(v),) for v in x], ["v"])
    row = edf_normality_battery(df, "v").collect()[0]
    xs = np.sort(x)
    n = len(xs)
    mu, sd = xs.mean(), xs.std(ddof=1)
    phi = np.array([
        0.5 * (1.0 + math.erf((v - mu) / sd / math.sqrt(2.0)))
        for v in xs
    ])
    phi = np.clip(phi, 1e-300, 1 - 1e-16)
    i = np.arange(1, n + 1)
    a2 = -n - (1.0 / n) * np.sum(
        (2 * i - 1) * (np.log(phi) + np.log(1 - phi[::-1]))
    )
    w2 = np.sum((phi - (2 * i - 1) / (2.0 * n)) ** 2) + 1.0 / (12 * n)
    u2 = w2 - n * (phi.mean() - 0.5) ** 2
    # true-erf replica: loose tolerance (engine shares the A&S
    # polynomial, |erf err| ~1.5e-7 amplified through the logs)
    assert row["n"] == n
    assert row["mean"] == pytest.approx(mu, abs=1e-6)
    assert row["sd"] == pytest.approx(sd, abs=1e-6)
    assert row["a2_stat"] == pytest.approx(a2, abs=2e-2)
    assert row["w2_stat"] == pytest.approx(w2, abs=5e-3)
    assert row["u2_stat"] == pytest.approx(u2, abs=5e-3)
    # normal data: battery should NOT reject
    assert row["p_ad"] > 0.05
    assert row["w2_reject_5pct"] is False
    assert row["u2_reject_5pct"] is False
    # non-normal (uniform) data: battery should reject hard
    u = rng.uniform(0, 1, 500)
    dfu = spark.createDataFrame([(float(v),) for v in u], ["v"])
    rowu = edf_normality_battery(dfu, "v").collect()[0]
    assert rowu["p_ad"] < 0.01
    assert rowu["w2_reject_1pct"] is True

    # F ratio: planted variance ratio ~4
    a = rng.normal(0, 2, 400)
    b = rng.normal(0, 1, 350)
    dfab = spark.createDataFrame(
        [("a", float(v)) for v in a] + [("b", float(v)) for v in b],
        ["g", "v"],
    )
    rf = f_variance_ratio_test(dfab, "g", "v", "a", "b").collect()[0]
    va, vb = a.var(ddof=1), b.var(ddof=1)
    assert rf["var_a"] == pytest.approx(va, abs=1e-5)
    assert rf["var_b"] == pytest.approx(vb, abs=1e-5)
    assert rf["f_stat"] == pytest.approx(va / vb, abs=1e-5)
    assert rf["df1"] == 399 and rf["df2"] == 349
    assert rf["p_two_sided"] < 0.001

    # exact two-rate: independent lgamma replica
    evs = (
        [("a", "hit")] * 30 + [("a", "exp")] * 400
        + [("b", "hit")] * 12 + [("b", "exp")] * 380
    )
    dfe = spark.createDataFrame(evs, ["arm", "kind"])
    rr = poisson_two_rate_test(
        dfe, "arm", "a", "b",
        event_flag=F.col("kind") == "hit",
        exposure_flag=F.col("kind") == "exp",
    ).collect()[0]
    k1, k2, t1, t2 = 30, 12, 400, 380
    kk = k1 + k2
    p0 = t1 / (t1 + t2)

    def lpmf(j):
        return (
            math.lgamma(kk + 1) - math.lgamma(j + 1)
            - math.lgamma(kk - j + 1)
            + j * math.log(p0) + (kk - j) * math.log(1 - p0)
        )

    lk = lpmf(k1)
    pt = sum(
        math.exp(lpmf(j))
        for j in range(kk + 1)
        if lpmf(j) <= lk + 9.999999505838704e-08
    )
    assert rr["k_a"] == k1 and rr["t_b"] == t2
    assert rr["rate_ratio"] == pytest.approx(
        (k1 / t1) / (k2 / t2), abs=1e-6
    )
    assert rr["p_two"] == pytest.approx(min(pt, 1.0), abs=1e-6)

    # Wallis-Moore: hand-counted phases with a tie
    series = [1, 2, 3, 2, 2, 4, 1, 5, 2, 6, 3, 7, 4, 8, 5, 9]
    dfw = spark.createDataFrame(
        [("g", i, float(v)) for i, v in enumerate(series)],
        ["g", "i", "v"],
    )
    rw = wallis_moore_test(dfw, ["g"], ["i"], "v").collect()[0]
    diffs = [
        series[j + 1] - series[j]
        for j in range(len(series) - 1)
        if series[j + 1] != series[j]
    ]
    signs = [1 if d > 0 else -1 for d in diffs]
    changes = sum(
        1 for j in range(1, len(signs)) if signs[j] != signs[j - 1]
    )
    n_eff = len(signs) + 1
    h = changes + 1 - 2
    z = (h - (2 * n_eff - 7) / 3.0) / math.sqrt(
        (16 * n_eff - 29) / 90.0
    )
    assert rw["n"] == n_eff
    assert rw["h_phases"] == h
    assert rw["z"] == pytest.approx(z, abs=1e-5)


def test_round13_graph_battery_vs_numpy(spark):
    """katz_centrality / rich_club_coefficient / geary_c /
    getis_ord_g vs dense numpy replicas on a seeded random graph."""
    import numpy as np

    from padua_spark.extensions.graph import (
        katz_centrality,
        rich_club_coefficient,
    )
    from padua_spark.operators.stats import geary_c, getis_ord_g

    rng = np.random.RandomState(5)
    n = 60
    adj = np.zeros((n, n), dtype=int)
    edges = []
    for _ in range(300):
        u, v = rng.randint(0, n, 2)
        if u != v:
            edges.append((int(u), int(v)))
            adj[u, v] = 1
    dfe = spark.createDataFrame(edges, ["src", "dst"])
    # dedup directed edges like the op
    adj_d = adj.copy()
    alpha, beta, k = 0.01, 1.0, 5
    xv = np.full(n, beta)
    active = np.zeros(n, dtype=bool)
    for u, v in edges:
        active[u] = active[v] = True
    for _ in range(k):
        xv = beta + alpha * (adj_d.T @ xv)
    got = {
        r["node"]: r["katz"]
        for r in katz_centrality(
            dfe, k_iters=k, alpha=alpha, beta=beta
        ).collect()
    }
    assert len(got) == int(active.sum())
    for node, val in got.items():
        assert val == pytest.approx(xv[node], abs=1e-9), node

    # rich club on the symmetrized undirected graph
    und = {
        (min(u, v), max(u, v)) for u, v in edges if u != v
    }
    deg = {}
    for u, v in und:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    rows = {
        r["degree_threshold"]: r
        for r in rich_club_coefficient(
            dfe, degree_thresholds=[2, 4, 8]
        ).collect()
    }
    for kk in (2, 4, 8):
        nodes_k = [x for x, d in deg.items() if d > kk]
        ek = sum(
            1 for u, v in und
            if deg[u] > kk and deg[v] > kk
        )
        nk = len(nodes_k)
        assert rows[kk]["n_nodes"] == nk
        assert rows[kk]["n_edges"] == ek
        if nk >= 2:
            assert rows[kk]["phi"] == pytest.approx(
                2.0 * ek / (nk * (nk - 1.0)), abs=1e-6
            )

    # Geary / Getis on the undirected graph with positive values
    vals = rng.uniform(1, 10, n)
    dfv = spark.createDataFrame(
        [(int(i), float(vals[i])) for i in range(n)],
        ["node", "value"],
    )
    dfe2 = spark.createDataFrame(
        [(u, v) for u, v in und], ["id_a", "id_b"]
    )
    m = len(und)
    nd = float(n)
    mean = vals.mean()
    den = ((vals - mean) ** 2).sum()
    sdd = sum((vals[u] - vals[v]) ** 2 for u, v in und)
    c_np = (nd - 1.0) * (2.0 * sdd) / (2.0 * (2.0 * m) * den)
    s1, s2 = 4.0 * m, 4.0 * sum(d * d for d in deg.values())
    var_c = (
        (2.0 * s1 + s2) * (nd - 1.0) - 4.0 * (2.0 * m) ** 2
    ) / (2.0 * (nd + 1.0) * (2.0 * m) ** 2)
    rg = geary_c(dfv, dfe2).collect()[0]
    assert rg["n_nodes"] == n and rg["n_edges"] == m
    assert rg["geary_c"] == pytest.approx(c_np, abs=1e-5)
    assert rg["z"] == pytest.approx(
        (c_np - 1.0) / np.sqrt(var_c), abs=1e-4
    )

    m1, m2 = vals.sum(), (vals ** 2).sum()
    m3, m4 = (vals ** 3).sum(), (vals ** 4).sum()
    svv = sum(vals[u] * vals[v] for u, v in und)
    g_np = 2.0 * svv / (m1 * m1 - m2)
    w = 2.0 * m
    e_g = w / (nd * (nd - 1.0))
    b0 = (nd * nd - 3 * nd + 3) * s1 - nd * s2 + 3 * w * w
    b1 = -((nd * nd - nd) * s1 - 2 * nd * s2 + 6 * w * w)
    b2 = -(2 * nd * s1 - (nd + 3) * s2 + 6 * w * w)
    b3 = 4 * (nd - 1) * s1 - 2 * (nd + 1) * s2 + 8 * w * w
    b4 = s1 - s2 + w * w
    eg2 = (
        b0 * m2 * m2 + b1 * m4 + b2 * m1 * m1 * m2
        + b3 * m1 * m3 + b4 * m1 ** 4
    ) / (
        (m1 * m1 - m2) ** 2 * nd * (nd - 1) * (nd - 2) * (nd - 3)
    )
    var_g = eg2 - e_g * e_g
    rgo = getis_ord_g(dfv, dfe2).collect()[0]
    assert rgo["g_stat"] == pytest.approx(g_np, abs=1e-6)
    assert rgo["expected_g"] == pytest.approx(e_g, abs=1e-6)
    assert rgo["z"] == pytest.approx(
        (g_np - e_g) / np.sqrt(var_g), abs=1e-4
    )


def test_round13_text_battery_vs_python(spark):
    """readability_battery2 / burrows_delta / winnowing_fingerprints
    vs pure-Python replicas, including the winnowing contiguous-match
    guarantee."""
    import math
    import re

    from padua_spark.extensions.text import (
        burrows_delta,
        readability_battery2,
        winnowing_fingerprints,
    )

    docs = [
        (1, "The quick brown fox jumps over the lazy dog. Amazing!"),
        (2, "Short one."),
        (3, "Complicated considerations materialize; extraordinary "
            "community collaboration? Yes. Infrastructure matters."),
        (4, "no caps no stops just tokens here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in readability_battery2(df, "doc_id", "text").collect()
    }
    for doc_id, text in docs:
        toks = [t for t in re.split(r"\s+", text.strip()) if t]
        w = len(toks)
        s = max(len(re.findall(r"[.!?]+", text)), 1)
        le = len(re.findall(r"[A-Za-z]", text))
        al = len(re.findall(r"[A-Za-z0-9]", text))
        lg = sum(1 for t in toks if len(t) >= 7)
        cx = sum(
            1 for t in toks
            if len(re.findall(r"[aeiouy]+", t.lower())) >= 3
        )
        r = got[doc_id]
        assert (r["n_words"], r["n_sentences"], r["n_letters"],
                r["n_long_words"], r["n_complex_words"]) == (
            w, s, le, lg, cx), doc_id
        assert r["coleman_liau"] == pytest.approx(
            0.0588 * (100.0 * le / w) - 0.296 * (100.0 * s / w)
            - 15.8, abs=1e-5)
        assert r["ari"] == pytest.approx(
            4.71 * (al / w) + 0.5 * (w / s) - 21.43, abs=1e-5)
        assert r["lix"] == pytest.approx(
            w / s + 100.0 * lg / w, abs=1e-5)
        assert r["gunning_fog"] == pytest.approx(
            0.4 * (w / s + 100.0 * cx / w), abs=1e-5)

    # Burrows' Delta on a 3-group corpus with known counts
    corpus = [
        ("g1", "alpha beta beta gamma"),
        ("g1", "alpha alpha beta"),
        ("g2", "gamma gamma gamma beta"),
        ("g3", "alpha gamma beta beta beta"),
    ]
    dfb = spark.createDataFrame(corpus, ["lang", "text"])
    rows = {
        (r["group_a"], r["group_b"]): r
        for r in burrows_delta(dfb, "lang", "text", top_m=3).collect()
    }
    import numpy as np

    cnt = {}
    for g, t in corpus:
        for tok in t.split():
            cnt[(g, tok)] = cnt.get((g, tok), 0) + 1
    toks3 = ["beta", "gamma", "alpha"]  # by corpus count desc, tok asc
    gts = {g: sum(c for (gg, _), c in cnt.items() if gg == g)
           for g in ("g1", "g2", "g3")}
    zmat = {}
    for tok in toks3:
        fs = {g: cnt.get((g, tok), 0) / gts[g] for g in gts}
        mu = np.mean(list(fs.values()))
        sd = np.std(list(fs.values()), ddof=1)
        if sd > 0:
            for g in gts:
                zmat[(g, tok)] = (fs[g] - mu) / sd
    for ga, gb in (("g1", "g2"), ("g1", "g3"), ("g2", "g3")):
        ts = [t for t in toks3 if (ga, t) in zmat]
        exp = np.mean([abs(zmat[(ga, t)] - zmat[(gb, t)])
                       for t in ts])
        assert rows[(ga, gb)]["n_markers"] == len(ts)
        assert rows[(ga, gb)]["delta"] == pytest.approx(
            exp, abs=1e-5), (ga, gb)

    # winnowing: two docs sharing a long substring must pair; a
    # disjoint doc must not; fingerprints match the exact replica
    shared = "abcdefghijklmnopqrstuvwxyz0123456789"
    dw = [
        (1, "xx " + shared + " yy"),
        (2, "zz " + shared + " qq"),
        (3, "totally different content with no overlap at all ###"),
    ]
    dfw = spark.createDataFrame(dw, ["doc_id", "text"])
    k, w_win = 20, 8
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnowing_fingerprints(
            dfw, "doc_id", "text", k_gram=k, window=w_win,
            min_shared=1,
        ).collect()
    }

    def fp_py(text):
        s = text.lower()[:4096]
        codes = [ord(c) for c in s]
        hs = []
        for p in range(len(codes) - k + 1):
            h = 7
            for c in codes[p:p + k]:
                h = (h * 131 + c) % 2147483647
            hs.append(h)
        keys = [
            h * 2097152 + (2097151 - (i + 1))
            for i, h in enumerate(hs)
        ]
        sels = {
            min(keys[i:i + w_win]) for i in range(len(keys))
        }
        return {kk >> 21 for kk in sels}

    f1, f2, f3 = (fp_py(t) for _, t in dw)
    assert pairs.get((1, 2)) == len(f1 & f2) and len(f1 & f2) >= 1
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_round13_isotropy_risk_shares_battery(spark):
    """embedding_isotropy closed forms vs brute-force pairwise;
    return_risk_profile / quantile_shares / agreement_battery /
    retrieval_err_at_k vs replicas."""
    import numpy as np

    from padua_spark.extensions.quality import agreement_battery
    from padua_spark.extensions.similarity import (
        embedding_isotropy,
        retrieval_err_at_k,
    )
    from padua_spark.operators.stats import quantile_shares
    from padua_spark.operators.temporal import return_risk_profile

    rng = np.random.RandomState(11)
    vecs = rng.normal(0.3, 1.0, (80, 8))  # slight common direction
    dfv = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    row = embedding_isotropy(dfv, "vec_id", "embedding").collect()[0]
    u = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = u @ u.T
    n = len(u)
    apc = (cos.sum() - n) / (n * (n - 1))
    assert row["n_vectors"] == n and row["dim"] == 8
    assert row["avg_pairwise_cosine"] == pytest.approx(apc, abs=1e-6)
    s = u.sum(axis=0)
    assert row["mean_cosine_to_centroid"] == pytest.approx(
        np.linalg.norm(s) / n, abs=1e-6
    )
    assert row["mean_norm"] == pytest.approx(
        np.linalg.norm(vecs, axis=1).mean(), abs=1e-6
    )

    # risk profile on a hand-made series
    series = [1.0, -2.0, 3.0, -1.0, -1.5, 2.5, 0.5, -3.0, 1.0]
    dfr = spark.createDataFrame(
        [("k", i, v) for i, v in enumerate(series)],
        ["g", "i", "v"],
    )
    rr = return_risk_profile(dfr, ["g"], ["i"], "v").collect()[0]
    arr = np.array(series)
    cum = arr.cumsum()
    peak = np.maximum.accumulate(cum)
    mdd = (peak - cum).max()
    mean, sd = arr.mean(), arr.std(ddof=1)
    ddev = np.sqrt((arr[arr < 0] ** 2).sum() / len(arr))
    assert rr["total_return"] == pytest.approx(arr.sum(), abs=1e-6)
    assert rr["sharpe"] == pytest.approx(mean / sd, abs=1e-5)
    assert rr["sortino"] == pytest.approx(mean / ddev, abs=1e-5)
    assert rr["max_drawdown"] == pytest.approx(mdd, abs=1e-6)
    assert rr["calmar"] == pytest.approx(arr.sum() / mdd, abs=1e-5)
    assert rr["omega"] == pytest.approx(
        arr[arr > 0].sum() / -arr[arr < 0].sum(), abs=1e-5
    )

    # quantile shares vs an ntile replica
    vals = [float(v) for v in rng.randint(1, 1000, 97)]
    dfq = spark.createDataFrame(
        [("g", i, v) for i, v in enumerate(vals)], ["g", "i", "v"]
    )
    qs = quantile_shares(dfq, "g", "v", order_cols=["i"]).collect()[0]
    order = sorted(range(len(vals)), key=lambda j: (vals[j], j))
    nq = len(vals)
    sizes = [nq // 10 + (1 if b < nq % 10 else 0) for b in range(10)]
    shares, pos = [], 0
    for sz in sizes:
        shares.append(sum(vals[j] for j in order[pos:pos + sz]))
        pos += sz
    tot = sum(vals)
    assert qs["n"] == nq
    assert qs["bottom40_share"] == pytest.approx(
        sum(shares[:4]) / tot, abs=1e-6
    )
    assert qs["top10_share"] == pytest.approx(
        shares[9] / tot, abs=1e-6
    )
    assert qs["palma_ratio"] == pytest.approx(
        (shares[9] / tot) / (sum(shares[:4]) / tot), abs=1e-4
    )

    # agreement battery on planted confusion cells
    cells = [(0, 0)] * 50 + [(0, 1)] * 5 + [(1, 0)] * 8 + [(1, 1)] * 37
    dfa = spark.createDataFrame(cells, ["a", "b"])
    ag = agreement_battery(dfa, "a", "b").collect()[0]
    nn = 100.0
    po = 87 / nn
    pa, pb = 45 / nn, 42 / nn
    pi = (pa + pb) / 2
    pe_s = pi * pi + (1 - pi) ** 2
    pe_g = 2 * pi * (1 - pi)
    assert ag["p_observed"] == pytest.approx(po, abs=1e-6)
    assert ag["scott_pi"] == pytest.approx(
        (po - pe_s) / (1 - pe_s), abs=1e-6
    )
    assert ag["gwet_ac1"] == pytest.approx(
        (po - pe_g) / (1 - pe_g), abs=1e-6
    )
    assert ag["pabak"] == pytest.approx(2 * po - 1, abs=1e-6)

    # ERR@k vs a brute-force cascade replica
    emb = rng.normal(0, 1, (30, 6))
    labels = [int(x) for x in rng.randint(0, 3, 30)]
    rows = [
        (i, [float(x) for x in emb[i]], labels[i]) for i in range(30)
    ]
    dfe = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {
        r["query_id"]: r
        for r in retrieval_err_at_k(
            dfe.filter(F.col("vec_id") >= 3), "vec_id", "embedding",
            "label", dfe.filter(F.col("vec_id") < 3), k=5,
        ).collect()
    }
    un = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    for qid in range(3):
        sims = [
            (float(un[qid] @ un[j]), j) for j in range(3, 30)
        ]
        # knn_join selects top-k by raw cosine, then the metric
        # re-ranks by 6dp-rounded cosine (the ndcg determinism rule)
        sims.sort(key=lambda t: (-t[0], t[1]))
        top = sorted(
            sims[:5], key=lambda t: (-round(t[0], 6), t[1])
        )
        err, seen = 0.0, 0
        for rank, (_, j) in enumerate(top, start=1):
            if labels[j] == labels[qid]:
                err += 0.5 * (0.5 ** seen) / rank
                seen += 1
        assert out[qid]["n_relevant_at_k"] == seen
        assert out[qid]["err_at_k"] == pytest.approx(err, abs=1e-5)


def test_round13_causal_scaling_battery_vs_numpy(spark):
    """dfa_hurst / oaxaca_blinder / event_study_did /
    post_stratified_mean vs independent numpy replicas."""
    import numpy as np

    from padua_spark.operators.stats import (
        event_study_did,
        oaxaca_blinder,
        post_stratified_mean,
    )
    from padua_spark.operators.temporal import dfa_hurst

    rng = np.random.RandomState(29)
    # DFA on white noise (alpha ~ 0.5) vs replica
    x = rng.normal(0, 1, 700)
    df = spark.createDataFrame(
        [("g", i, float(v)) for i, v in enumerate(x)],
        ["g", "i", "v"],
    )
    sizes = [8, 16, 32, 64]
    row = dfa_hurst(df, ["g"], ["i"], "v",
                    block_sizes=sizes).collect()[0]
    y = np.cumsum(x - x.mean())
    pts = []
    for m in sizes:
        nb = len(y) // m
        rss = 0.0
        for b in range(nb):
            seg = y[b * m:(b + 1) * m]
            j = np.arange(1, m + 1, dtype=float)
            jc = j - j.mean()
            beta = (jc * seg).sum() / (jc * jc).sum()
            resid = seg - seg.mean() - beta * jc
            rss += (resid ** 2).sum()
        f = np.sqrt(rss / (nb * m))
        pts.append((np.log(m), np.log(f)))
    lx, ly = np.array(pts).T
    slope = np.polyfit(lx, ly, 1)[0]
    assert row["n_scales"] == len(sizes)
    assert row["dfa_alpha"] == pytest.approx(slope, abs=1e-4)
    assert 0.3 < row["dfa_alpha"] < 0.7  # white noise

    # Oaxaca-Blinder with planted structure: same beta, shifted x
    xa = rng.normal(10, 2, 400)
    ya = 3.0 + 2.0 * xa + rng.normal(0, 0.5, 400)
    xb = rng.normal(8, 2, 350)
    yb = 3.0 + 2.0 * xb + rng.normal(0, 0.5, 350)
    rows = (
        [("a", float(u), float(w)) for u, w in zip(xa, ya)]
        + [("b", float(u), float(w)) for u, w in zip(xb, yb)]
    )
    dfo = spark.createDataFrame(rows, ["g", "x", "y"])
    ro = oaxaca_blinder(dfo, "g", "x", "y", "a", "b").collect()[0]
    bb = np.polyfit(xb, yb, 1)[0]
    gap = ya.mean() - yb.mean()
    expl = bb * (xa.mean() - xb.mean())
    assert ro["beta_b"] == pytest.approx(bb, abs=1e-4)
    assert ro["gap"] == pytest.approx(gap, abs=1e-5)
    assert ro["explained"] == pytest.approx(expl, abs=1e-4)
    # same true beta -> the gap is mostly composition
    assert ro["explained_share"] > 0.8

    # event-study DiD with a planted post-treatment lift of +5
    recs = []
    for unit in range(200):
        treat = unit % 2 == 0
        for day in range(95, 106):
            v = 10.0 + (2.0 if treat else 0.0) + rng.normal(0, 1)
            if treat and day >= 100:
                v += 5.0
            recs.append((unit, treat, day, float(v)))
    dfd = spark.createDataFrame(
        recs, ["unit", "treat", "day", "v"]
    )
    out = {
        r["rel_period"]: r
        for r in event_study_did(
            dfd, F.col("treat"), "day", "v",
            treat_period=100, n_leads=3, n_lags=3,
        ).collect()
    }
    assert out[-1]["effect"] == pytest.approx(0.0, abs=1e-9)
    for t in (-3, -2):
        assert abs(out[t]["effect"]) < 0.8  # parallel pre-trends
    for t in (0, 1, 2, 3):
        assert out[t]["effect"] == pytest.approx(5.0, abs=0.8)
        assert out[t]["se"] < 0.5
    # replica of one cell
    arr = np.array(
        [(tr, d, v) for _, tr, d, v in recs],
        dtype=[("tr", bool), ("d", int), ("v", float)],
    )

    def cmean(tr, d):
        sel = arr[(arr["tr"] == tr) & (arr["d"] == d)]["v"]
        return sel.mean()

    exp2 = (cmean(True, 102) - cmean(False, 102)) - (
        cmean(True, 99) - cmean(False, 99)
    )
    assert out[2]["effect"] == pytest.approx(exp2, abs=1e-5)

    # post-stratified mean vs replica (biased sample: stratum b
    # over-sampled)
    strata = {"a": (100, 50.0), "b": (300, 10.0), "c": (50, 30.0)}
    vals = []
    for s, (n, mu) in strata.items():
        vals += [(s, float(mu + rng.normal(0, 2))) for _ in range(n)]
    dfp = spark.createDataFrame(vals, ["h", "v"])
    shares = {"a": 0.5, "b": 0.3, "c": 0.2}
    rp = post_stratified_mean(dfp, "h", "v", shares).collect()[0]
    arrs = {s: np.array([v for h, v in vals if h == s])
            for s in strata}
    mu_ps = sum(shares[s] * arrs[s].mean() for s in strata)
    var_ps = sum(
        shares[s] ** 2 * arrs[s].var(ddof=1) / len(arrs[s])
        for s in strata
    )
    assert rp["n_strata"] == 3
    assert rp["post_stratified_mean"] == pytest.approx(
        mu_ps, abs=1e-5
    )
    assert rp["se"] == pytest.approx(np.sqrt(var_ps), abs=1e-5)
    # the raw mean is pulled toward the over-sampled low stratum
    assert rp["raw_mean"] < rp["post_stratified_mean"]


def test_round13_effect_scale_battery_vs_numpy(spark):
    """cliffs_delta / mood_scale_test vs brute-force pair/rank
    replicas on a planted two-group sample."""
    import numpy as np

    from padua_spark.operators.stats import cliffs_delta, mood_scale_test

    rng = np.random.RandomState(7)
    a = np.round(rng.normal(10, 2, 60), 1)
    b = np.round(rng.normal(11, 4, 45), 1)
    rows = [("a", float(v)) for v in a] + [("b", float(v)) for v in b]
    df = spark.createDataFrame(rows, ["g", "v"])

    r = cliffs_delta(df, "g", "v", "a", "b").collect()[0]
    gt = sum((x > y) for x in a for y in b)
    lt = sum((x < y) for x in a for y in b)
    tie = sum((x == y) for x in a for y in b)
    na, nb = len(a), len(b)
    assert (r["n_gt"], r["n_lt"], r["n_ties"]) == (gt, lt, tie)
    assert r["cliffs_delta"] == pytest.approx(
        (gt - lt) / (na * nb), abs=1e-6
    )
    assert r["cles"] == pytest.approx(
        (gt + 0.5 * tie) / (na * nb), abs=1e-6
    )
    d = abs((gt - lt) / (na * nb))
    exp_mag = (
        "negligible" if d < 0.147 else "small" if d < 0.33
        else "medium" if d < 0.474 else "large"
    )
    assert r["magnitude"] == exp_mag

    m = mood_scale_test(df, "g", "v", "a", "b").collect()[0]
    pooled = np.concatenate([a, b])
    order = np.sort(pooled)
    # midranks
    ranks = {}
    i = 0
    while i < len(order):
        j = i
        while j < len(order) and order[j] == order[i]:
            j += 1
        for _ in range(i, j):
            ranks.setdefault(order[i], (i + j + 1) / 2.0)
        i = j
    ra = np.array([ranks[v] for v in a])
    nt = len(pooled)
    t_stat = float(((ra - (nt + 1) / 2.0) ** 2).sum())
    assert m["t_stat"] == pytest.approx(t_stat, abs=1e-6)
    # permutation-conditional moments on realized scores
    scores = np.array([(ranks[v] - (nt + 1) / 2.0) ** 2 for v in pooled])
    e_t = na * scores.mean()
    var_t = (
        na * nb / (nt * (nt - 1.0))
        * (np.sum(scores**2) - np.sum(scores) ** 2 / nt)
    )
    z = (t_stat - e_t) / np.sqrt(var_t)
    assert m["z"] == pytest.approx(z, abs=1e-5)


def test_round13_regression_diag_battery_vs_numpy(spark):
    """white_test / ramsey_reset / arch_lm vs closed-form numpy
    replicas on a planted heteroskedastic quadratic series."""
    import numpy as np

    from padua_spark.operators.stats import ramsey_reset, white_test
    from padua_spark.operators.temporal import arch_lm

    rng = np.random.RandomState(3)
    n = 400
    x = rng.uniform(1, 10, n)
    y = 2.0 + 0.5 * x + 0.08 * x * x + rng.normal(0, 0.3 * x, n)
    df = spark.createDataFrame(
        [("g", i, float(a), float(b)) for i, (a, b) in
         enumerate(zip(x, y))],
        ["g", "i", "x", "y"],
    )

    def ols(xv, yv):
        xc = xv - xv.mean()
        beta = (xc * (yv - yv.mean())).sum() / (xc * xc).sum()
        return beta, yv.mean(), xv.mean()

    beta, my, mx = ols(x, y)
    e = y - my - beta * (x - mx)

    # white: aux e^2 ~ 1 + x + x^2
    w = e * e
    X = np.column_stack([np.ones(n), x, x * x])
    bh, *_ = np.linalg.lstsq(X, w, rcond=None)
    r2 = 1.0 - ((w - X @ bh) ** 2).sum() / ((w - w.mean()) ** 2).sum()
    wt = white_test(df, ["g"], "x", "y").collect()[0]
    assert wt["r2_aux"] == pytest.approx(r2, abs=1e-5)
    assert wt["lm_stat"] == pytest.approx(n * r2, abs=1e-2)
    assert bool(wt["het_flag_5pct"]) is True  # planted het

    # ramsey: add yhat^2
    yhat = my + beta * (x - mx)
    X1 = np.column_stack([np.ones(n), x])
    X2 = np.column_stack([np.ones(n), x, yhat * yhat])
    r1 = ((y - X1 @ np.linalg.lstsq(X1, y, rcond=None)[0]) ** 2).sum()
    r2s = ((y - X2 @ np.linalg.lstsq(X2, y, rcond=None)[0]) ** 2).sum()
    fstat = (r1 - r2s) / (r2s / (n - 3))
    rr = ramsey_reset(df, ["g"], "x", "y").collect()[0]
    assert rr["f_stat"] == pytest.approx(fstat, rel=1e-4)
    assert bool(rr["misspec_flag_5pct"]) is True  # planted quadratic

    # arch_lm on an ARCH-y series: e_t = z_t * sqrt(1 + 0.8 e_{t-1}^2)
    m = 500
    z = rng.normal(0, 1, m)
    s = np.zeros(m)
    for t in range(m):
        s[t] = z[t] * np.sqrt(1.0 + (0.8 * s[t - 1] ** 2 if t else 0))
    dfa = spark.createDataFrame(
        [("g", i, float(v)) for i, v in enumerate(s)], ["g", "i", "v"]
    )
    al = arch_lm(dfa, ["g"], ["i"], "v").collect()[0]
    e2 = (s - s.mean()) ** 2
    w0, w1 = e2[1:], e2[:-1]
    sxx = ((w1 - w1.mean()) ** 2).sum()
    syy = ((w0 - w0.mean()) ** 2).sum()
    sxy = ((w1 - w1.mean()) * (w0 - w0.mean())).sum()
    r2a = sxy * sxy / (sxx * syy)
    assert al["n_pairs"] == m - 1
    assert al["r2_aux"] == pytest.approx(r2a, abs=1e-6)
    assert bool(al["arch_flag_5pct"]) is True


def test_round13_extremes_graph_text_battery(spark):
    """pot_gpd_fit MoM closed forms, avg_neighbor_degree on a star
    graph, dunning_keywords G2 replica, rank_list_distance on planted
    permutations."""
    import math

    import numpy as np

    from padua_spark.extensions.graph import avg_neighbor_degree
    from padua_spark.extensions.text import dunning_keywords
    from padua_spark.operators.stats import pot_gpd_fit, rank_list_distance

    # POT on a planted exponential tail (xi -> 0)
    rng = np.random.RandomState(5)
    vals = rng.exponential(10.0, 5000)
    df = spark.createDataFrame(
        [("g", float(v)) for v in vals], ["g", "v"]
    )
    r = pot_gpd_fit(df, ["g"], "v", threshold=20.0).collect()[0]
    exc = vals[vals > 20.0] - 20.0
    mbar, s2 = exc.mean(), exc.var(ddof=1)
    xi = 0.5 * (1 - mbar * mbar / s2)
    sigma = 0.5 * mbar * (mbar * mbar / s2 + 1)
    assert r["n_exceed"] == len(exc)
    assert r["mean_excess"] == pytest.approx(mbar, abs=1e-5)
    assert r["xi_hat"] == pytest.approx(xi, abs=1e-5)
    assert r["sigma_hat"] == pytest.approx(sigma, abs=1e-5)
    lam = len(exc) / len(vals)
    rl = 20.0 + sigma / xi * ((10000 * lam) ** xi - 1)
    assert r["return_level"] == pytest.approx(rl, abs=1e-3)

    # star graph: hub degree k, leaves degree 1
    k = 6
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, k + 1)], ["src", "dst"]
    )
    rows = {
        r["degree"]: r
        for r in avg_neighbor_degree(edges, "src", "dst").collect()
    }
    assert rows[1]["n_nodes"] == k
    assert rows[1]["avg_neighbor_degree"] == pytest.approx(k)
    assert rows[k]["n_nodes"] == 1
    assert rows[k]["avg_neighbor_degree"] == pytest.approx(1.0)

    # dunning: token "zebra" planted only in group a
    docs = (
        [(i, "a", "zebra zebra common word") for i in range(20)]
        + [(i + 100, "b", "common word other tokens") for i in range(20)]
    )
    dfd = spark.createDataFrame(docs, ["doc_id", "g", "text"])
    kw = dunning_keywords(dfd, "g", "text", top_m=3, min_count=5)
    top_a = [r for r in kw.collect() if r["group"] == "a"]
    assert top_a and top_a[0]["token"] == "zebra"
    # G2 replica for zebra: a=40, b=0, c=40, d=80, N=160
    a_, b_, c_, n_ = 40.0, 0.0, 40.0, 160.0
    d_ = n_ - a_ - b_ - c_
    g2 = 2 * (
        a_ * math.log(a_ / ((a_ + b_) * (a_ + c_) / n_))
        + c_ * math.log(c_ / ((c_ + d_) * (a_ + c_) / n_))
        + d_ * math.log(d_ / ((c_ + d_) * (b_ + d_) / n_))
    )
    assert top_a[0]["g2"] == pytest.approx(g2, abs=1e-5)

    # rank_list_distance: reversed permutation -> tau = -1, rho = -1
    items = spark.createDataFrame(
        [(i, 100 - i, i) for i in range(10)], ["item", "ma", "mb"]
    )
    rd = rank_list_distance(items, "item", "ma", "mb", top_k=10)
    row = rd.collect()[0]
    assert row["k"] == 10
    assert row["kendall_tau"] == pytest.approx(-1.0)
    assert row["spearman_rho"] == pytest.approx(-1.0)
    assert row["footrule_norm"] == pytest.approx(1.0)


def test_dataframe_debugging_lever_pinned(spark):
    """The round-13 registry-wide construction lever (disable PySpark's
    DataFrame-debugging call-site capture) rests on a session conf AND a
    private process-wide memo in pyspark.errors.utils. If PySpark
    renames the memo, the 3-5x py4j construction tax silently returns —
    pin both so the rename turns red here instead (VERDICT r13 #6)."""
    import pyspark.errors.utils as eu

    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled"
    ) == "false"
    assert hasattr(eu, "_enable_debugging_cache"), (
        "pyspark.errors.utils._enable_debugging_cache renamed/removed - "
        "the construction fast path no longer lands on pre-built "
        "sessions; port padua_spark.session.disable_dataframe_debugging "
        "to the new internals"
    )
    assert eu._enable_debugging_cache is False


def test_bench_ledger_filters_medians_to_headline_cpus(tmp_path):
    """BENCH_LOCAL medians must be computed over the headline core
    count only (VERDICT r13 #8): the driver's low-core scaling pass
    appends to the same ledger and must not pollute the 32-core
    medians. Raw passes all stay recorded."""
    import bench

    orig = bench.__file__
    try:
        bench.__file__ = str(tmp_path / "bench.py")
        probes = {"scan": 0.5, "shuffle": 0.3, "window": 0.2}
        bench._update_local_artifact(
            0.1, {"a": 1.0}, 1.0, {}, calibration=1.0,
            calibration_probes=probes, cpus=32)
        bench._update_local_artifact(
            0.1, {"a": 1.2}, 1.2, {}, calibration=1.0,
            calibration_probes=probes, cpus=32)
        doc = bench._update_local_artifact(
            0.1, {"a": 9.0}, 9.0, {}, calibration=1.0,
            calibration_probes=probes, cpus=8)
    finally:
        bench.__file__ = orig
    assert doc["headline_cpus"] == 32
    assert doc["passes"][-1]["cpus"] == 8          # raw pass retained
    assert doc["n_passes"] == 2                    # medians: 32-core only
    assert doc["n_passes_total"] == 3
    assert doc["median_queries"]["a"] == 1.1       # 8-core 9.0 excluded
    assert doc["median_total"] == 1.1


def test_local_frame_exact_types_nulls_and_numpy_scalars(spark):
    """local_frame keeps the declared type of every column — int,
    bigint, double, string, boolean, decimal, array<double> — with
    NULLs in each, numpy scalars, and Python ints in double columns."""
    from decimal import Decimal

    from pyspark.sql.types import (
        ArrayType,
        BooleanType,
        DecimalType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from padua_spark.io_utils import local_frame

    schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("b", LongType()),
            StructField("d", DoubleType()),
            StructField("s", StringType()),
            StructField("f", BooleanType()),
            StructField("m", DecimalType(38, 18)),
            StructField("a", ArrayType(DoubleType())),
        ]
    )
    rows = [
        (1, 2**40, 1.5, "x", True, Decimal("1.25"), [1.0, 2.5]),
        (None, None, None, None, None, None, None),
        (np.int32(3), np.int64(4), 7, None, np.bool_(False), None,
         np.array([0.5])),
        (4, 5, np.float64(2.5), "z", None, Decimal("-3"), [None, 1]),
    ]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    got = [tuple(r) for r in df.collect()]
    assert got == [
        (1, 2**40, 1.5, "x", True, Decimal("1.25"), [1.0, 2.5]),
        (None, None, None, None, None, None, None),
        (3, 4, 7.0, None, False, None, [0.5]),
        (4, 5, 2.5, "z", None, Decimal("-3"), [None, 1.0]),
    ]
    assert isinstance(got[2][2], float)
    ddl = local_frame(spark, [(1, 2.0)], "n bigint, p double")
    assert ddl.schema == StructType(
        [StructField("n", LongType()), StructField("p", DoubleType())]
    )
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2.0), (1,)], "n bigint, p double")


def test_local_frame_empty_rows_keep_schema(spark):
    from padua_spark.io_utils import local_frame

    schema = "rank int, id string, score double, v array<double>"
    df = local_frame(spark, [], schema)
    assert df.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("rank", "int"), ("id", "string"), ("score", "double"),
        ("v", "array<double>"),
    ]


def test_local_frame_is_a_local_relation_and_collects_without_jobs(spark):
    """The plan is a JVM LocalRelation (no LogicalRDD over a PythonRDD,
    hence no second Python worker pool), and collecting it schedules
    no Spark job at all."""
    from padua_spark.io_utils import local_frame

    df = local_frame(
        spark, [(i, float(i)) for i in range(100)], "k int, v double"
    )
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in opt and "LogicalRDD" not in opt, opt
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("local_frame_collect", "local_frame_collect")
    rows = df.collect()
    # control: an action that does run a job registers under its group
    sc.setJobGroup("local_frame_control", "local_frame_control")
    spark.range(8).groupBy((F.col("id") % 2).alias("g")).count().collect()
    sc.setJobGroup("other", "other")
    assert len(rows) == 100
    assert tracker.getJobIdsForGroup("local_frame_collect") == []
    assert tracker.getJobIdsForGroup("local_frame_control") != []


def test_no_create_dataframe_outside_local_frame():
    """Lint: engine code builds driver-side frames only through
    io_utils.local_frame — a stray ``.createDataFrame(`` call brings
    back the PythonRDD path and its second Python worker pool."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    files = sorted((root / "padua_spark").rglob("*.py"))
    files.append(root / "__spark_entry__.py")
    helper = root / "padua_spark" / "io_utils.py"
    offenders, allowed_seen = [], 0
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        if path == helper:
            for node in ast.walk(tree):
                if (isinstance(node, ast.FunctionDef)
                        and node.name == "local_frame"):
                    allowed = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                if id(node) in allowed:
                    allowed_seen += 1
                else:
                    offenders.append(
                        f"{path.relative_to(root)}:{node.lineno}"
                    )
    assert allowed_seen == 1  # the helper itself was scanned
    assert not offenders, (
        "createDataFrame outside io_utils.local_frame: "
        + ", ".join(offenders)
    )


def test_sources_and_pipelines_declare_read_schemas():
    """Lint: a file read in ``padua_spark/sources/`` or ``pipelines.py``
    declares its schema (``.schema(`` in the reader chain), so building a
    frame fires no header, inference or footer job. The one exception is
    the first read in ``read_maxquant``: it infers a MaxQuant table's
    schema once per file version and memoizes it for the repeat reads."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    pkg = root / "padua_spark"
    files = sorted((pkg / "sources").glob("*.py")) + [pkg / "pipelines.py"]
    terminals = {"csv", "parquet", "json", "text", "orc", "load"}

    def chain(node):
        attrs = []
        while isinstance(node, (ast.Call, ast.Attribute)):
            if isinstance(node, ast.Attribute):
                attrs.append(node.attr)
            node = node.func if isinstance(node, ast.Call) else node.value
        return attrs

    inferring = []
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if not (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in terminals):
                    continue
                attrs = chain(node.func.value)
                if ({"read", "readStream"} & set(attrs)
                        and "schema" not in attrs):
                    inferring.append(
                        (path.name, fn.name, node.lineno, node.col_offset)
                    )
    first_maxquant = min(
        (r for r in inferring if r[:2] == ("maxquant.py", "read_maxquant")),
        key=lambda r: r[2:], default=None,
    )
    assert first_maxquant is not None  # the memoized read was scanned
    offenders = [r for r in inferring if r != first_maxquant]
    assert not offenders, (
        "file reads without a declared schema: "
        + ", ".join(f"{f}:{line} ({fn})" for f, fn, line, _ in offenders)
    )
