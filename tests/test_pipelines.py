"""End-to-end pipeline tests on the MaxQuant fixture (SURVEY.md §3)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from padua_spark import pipelines
from tests.fixtures import make_protein_groups, write_fixture


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("pipe")
    return write_fixture(str(d))


def test_phospho_lfq_pipeline(spark, fixture_paths, tmp_path):
    pg, design = fixture_paths
    out = pipelines.phospho_lfq(
        spark, pg, design, "Control", "PGE2",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    volcano = out["volcano"].collect()
    assert len(volcano) > 100
    down = {r["feature_id"] for r in volcano if r["direction"] == "down"}
    # planted +2 log2FC in PGE2 → Control-vs-PGE2 direction 'down'
    assert len(down & set(range(20))) >= 15
    corr = out["correlation"].collect()
    n_samples = 12
    assert len(corr) == n_samples * n_samples
    diag = [r for r in corr if r["sample_x"] == r["sample_y"]]
    assert all(r["pearson_r"] == pytest.approx(1.0) for r in diag)
    collapsed = out["collapsed"]
    assert set(collapsed.columns) == {
        "feature_id", "Group", "Replicate", "value"
    } | ({"Timepoint"} & set(collapsed.columns))


def test_msp_enrichment_pipeline(spark, tmp_path):
    # modificationSpecificPeptides-shaped fixture (FIXTURES.md §3)
    rng = np.random.default_rng(13)
    n = 120
    labels = ["S1", "S2"]
    df = pd.DataFrame({"id": np.arange(n)})
    df["Modifications"] = [
        "Phospho (STY)" if i % 3 == 0 else "Unmodified" for i in range(n)
    ]
    for lab in labels:
        df[f"Intensity {lab}"] = rng.uniform(0, 1000, n).round(2)
    path = str(tmp_path / "msp.txt")
    df.to_csv(path, sep="\t", index=False)
    out = pipelines.msp_enrichment(spark, path).collect()
    assert {r["sample_label"] for r in out} == {"S1", "S2"}
    for r in out:
        # ~1/3 of rows modified with uniform intensities
        assert 0.15 < r["enrichment"] < 0.55
        # modified + unmodified sums to the total
        pdf = df[df["Modifications"].str.contains("Phospho")]
        expected = pdf[f"Intensity {r['sample_label']}"].sum()
        assert r["modified_sum"] == pytest.approx(expected, rel=1e-9)
    # design-join roll-up (E287): per-Group pooled + order-fixed mean
    design = pd.DataFrame(
        {"Label": labels, "Group": ["A", "A"], "Replicate": [1, 2]}
    )
    dpath = str(tmp_path / "design.csv")
    design.to_csv(dpath, index=False)
    rolled = pipelines.msp_enrichment(
        spark, path, design_path=dpath
    ).collect()
    assert len(rolled) == 1
    g = rolled[0]
    per = {r["sample_label"]: r for r in out}
    mod = sum(r["modified_sum"] for r in per.values())
    tot = sum(
        r["modified_sum"] + r["unmodified_sum"] for r in per.values()
    )
    assert g["grp"] == "A" and g["n_samples"] == 2
    assert g["modified_sum"] == pytest.approx(mod, rel=1e-9)
    assert g["pooled_enrichment"] == pytest.approx(mod / tot, rel=1e-9)
    mean = (per["S1"]["enrichment"] + per["S2"]["enrichment"]) / 2
    assert g["mean_enrichment"] == pytest.approx(mean, rel=1e-12)


def test_protein_groups_ratio_pipeline(spark, tmp_path):
    """Entry point B (SURVEY §3.2): ratio pipeline one-sample t vs 0
    matches an independent pandas computation and flags the planted
    ratio shift."""
    import os

    from tests.fixtures import write_fixture

    d = str(tmp_path / "silac")
    os.makedirs(d, exist_ok=True)
    pg, _ = write_fixture(d)
    # ratio design: Label = 'E1'... (labels after 'Ratio H/L normalized ')
    ratio_design = pd.DataFrame(
        {"Label": ["E1", "E2", "E3"], "Group": ["t1", "t1", "t1"],
         "Replicate": [1, 2, 3]}
    )
    design_path = f"{d}/ratio_design.csv"
    ratio_design.to_csv(design_path, index=False)
    out = pipelines.protein_groups_ratio(
        spark, pg, design_path, min_valid_per_group=2
    )
    got = {r["feature_id"]: r for r in out["onesample_ttest"].collect()}
    # pandas reference
    raw = pd.read_csv(pg, sep="\t")
    raw = raw[~raw["Reverse"].astype(str).str.contains(r"\+", na=False)]
    raw = raw[~raw["Potential contaminant"].astype(str)
              .str.contains(r"\+", na=False)]
    raw = raw[~raw["Only identified by site"].astype(str)
              .str.contains(r"\+", na=False)]
    cols = [f"Ratio H/L normalized E{e}" for e in (1, 2, 3)]
    mat = np.log2(raw[cols].to_numpy())
    n = np.sum(~np.isnan(mat), axis=1)
    keep = n >= 2
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        mean = np.nanmean(mat, axis=1)
        sd = np.nanstd(mat, axis=1, ddof=1)
    ids = raw["id"].to_numpy()
    checked = 0
    for i, fid in enumerate(ids):
        if not keep[i]:
            assert fid not in got
            continue
        r = got[fid]
        assert r["mean"] == pytest.approx(mean[i], rel=1e-9)
        if sd[i] > 0 and n[i] >= 2:
            t = mean[i] / (sd[i] / np.sqrt(n[i]))
            assert r["t_stat"] == pytest.approx(t, rel=1e-9)
            checked += 1
    assert checked > 100
    # planted ratio features have strongly positive mean log2 ratio
    planted = [got[f]["mean"] for f in range(20) if f in got]
    rest = [got[f]["mean"] for f in range(30, 150) if f in got]
    assert np.mean(planted) > np.mean(rest) + 1.0


# --- one parse per input ----------------------------------------------------


def _jobs_in(spark, group, fn):
    """Run ``fn`` under its own job group; return (result, job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("other", "other")
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _write_tsv(path, rows):
    with open(path, "w") as fh:
        fh.write("\n".join("\t".join(map(str, r)) for r in rows) + "\n")


def test_repeat_read_of_unchanged_tsv_fires_no_job(spark, tmp_path):
    from padua_spark.sources import read_maxquant

    path = str(tmp_path / "sites.txt")
    _write_tsv(path, [("id", "Intensity S1"), (1, 2.5), (2, 4.0)])
    first, miss_jobs = _jobs_in(
        spark, "memo_miss", lambda: read_maxquant(spark, path).schema
    )
    again, hit_jobs = _jobs_in(
        spark, "memo_hit", lambda: read_maxquant(spark, path).schema
    )
    assert miss_jobs != []  # control: inference runs jobs
    assert hit_jobs == []
    assert again == first
    assert [tuple(r) for r in read_maxquant(spark, path).collect()] == [
        (1, 2.5), (2, 4.0)
    ]


def test_rewritten_tsv_is_inferred_again(spark, tmp_path):
    import os

    from padua_spark.sources import read_maxquant

    path = str(tmp_path / "sites.txt")
    _write_tsv(path, [("id", "Intensity S1"), (1, 2), (2, 4)])
    assert dict(read_maxquant(spark, path).dtypes)["Intensity S1"] == "int"
    _write_tsv(path, [("id", "Intensity S1"), (1, "n/a"), (2, 4)])
    st = os.stat(path)
    os.utime(path, (st.st_atime, st.st_mtime + 5))
    df, jobs = _jobs_in(
        spark, "memo_rewritten", lambda: read_maxquant(spark, path)
    )
    assert jobs != []
    assert dict(df.dtypes)["Intensity S1"] == "string"
    assert [r[1] for r in df.collect()] == ["n/a", "4"]


def test_read_design_matches_spark_header(spark, tmp_path):
    """Driver-side header: the names and values Spark's own header read
    gives, for quoted names, names with spaces, a byte-order mark, an
    empty and a repeated name, and the listed levels cast to int;
    building the frame fires no job."""
    from padua_spark.sources import read_design

    path = str(tmp_path / "design.csv")
    with open(path, "w") as fh:
        fh.write(
            '\ufeffLabel,"Group, arm",Sample name,"Replicate",'
            '" padded ",dup,Dup,\n'
            'S1,"a, b",first one,1, x ,p,q,z\n'
            "S2,c,second,2,y,r,s,\n"
        )
    got, jobs = _jobs_in(spark, "design_read", lambda: read_design(
        spark, path
    ))
    assert jobs == []
    want = spark.read.option("header", True).csv(path).withColumn(
        "Replicate", F.col("Replicate").cast("int")
    )
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_read_perseus_fires_no_header_job(spark, tmp_path):
    from padua_spark.sources.perseus import read_perseus, write_perseus

    path = str(tmp_path / "export.txt")
    write_perseus(
        spark.range(3).select(
            F.col("id"), (F.col("id") * 1.5).alias("Intensity S1"),
            F.lit("g").alias("Gene names"),
        ),
        path,
    )
    back, jobs = _jobs_in(
        spark, "perseus_read", lambda: read_perseus(spark, path)
    )
    assert jobs == []
    assert dict(back.dtypes) == {
        "id": "double", "Intensity S1": "double", "Gene names": "string"
    }
    assert sorted(r["Intensity S1"] for r in back.collect()) == [
        0.0, 1.5, 3.0
    ]


def test_warm_protein_groups_ratio_parses_tsv_once(spark, fixture_paths):
    """With the TSV's schema memoized, building protein_groups_ratio
    fires no reader job (no csv header/inference, no parquet footer),
    and its t-test plan scans the TSV once: the min-valid filter no
    longer re-runs the scan → unpivot → design join subtree."""
    import os

    pg, _ = fixture_paths
    design = os.path.join(os.path.dirname(pg), "ratio_design_once.csv")
    pd.DataFrame(
        {"Label": ["E1", "E2", "E3"], "Group": ["t1"] * 3,
         "Replicate": [1, 2, 3]}
    ).to_csv(design, index=False)
    pipelines.protein_groups_ratio(spark, pg, design)
    out, jobs = _jobs_in(spark, "ratio_warm_build", lambda: (
        pipelines.protein_groups_ratio(spark, pg, design)
    ))
    assert jobs == []
    plan = out["onesample_ttest"]._jdf.queryExecution().executedPlan()
    text = plan.toString()
    scans = [ln for ln in text.splitlines() if "FileScan csv" in ln]
    assert sum(os.path.basename(pg) in ln for ln in scans) == 1, text
    assert "LeftSemi" not in text, text


_MIN_VALID_COLS = [
    "l_orderkey", "l_linenumber", "l_partkey", "l_returnflag",
    "l_quantity", "l_discount",
]


def _lines(partkey, flag, n, discount, start=0):
    """``n`` lineitem rows of one part and return flag; a row's value
    is valid (non-NULL in F7) when its discount is positive."""
    return [
        (start + i, 1, partkey, flag, 1.0, discount) for i in range(n)
    ]


_MIN_VALID_CASES = {
    # part NULL has 8 valid values in one group but no key
    "null_feature_key": (
        _lines(None, "A", 8, 0.05) + _lines(1, "A", 8, 0.05, 100), 8
    ),
    "all_null_values": (
        _lines(1, "A", 9, 0.0) + _lines(2, "R", 9, None, 100), 0
    ),
    # part 1 keeps its two invalid rows; part 2 has 7 valid values
    "one_group": (
        _lines(1, "A", 8, 0.05) + _lines(1, "A", 2, 0.0, 50)
        + _lines(2, "A", 7, 0.05, 100), 10
    ),
    # 21 valid values in all, but no group reaches n = 8
    "n_above_every_group": (
        _lines(1, "A", 7, 0.05) + _lines(1, "N", 7, 0.05, 100)
        + _lines(1, "R", 7, 0.05, 200), 0
    ),
    "empty_input": ([], 0),
}


@pytest.mark.parametrize("case", sorted(_MIN_VALID_CASES))
def test_min_valid_degenerate_matches_oracle(spark, tmp_path, case):
    """The windowed min-valid filter (F7 ``min_valid_in_any_group``,
    n = 8) on inputs at the edges of its contract: equal to the DuckDB
    oracle's semi-join semantics, row for row."""
    from tests.test_engine_cores import _engine_vs_oracle, _table_dir

    rows, kept = _MIN_VALID_CASES[case]
    d = _table_dir(
        tmp_path, "lineitem", "lineitem", rows, _MIN_VALID_COLS
    )
    got = _engine_vs_oracle(
        spark, "min_valid_in_any_group", d, ["lineitem"]
    )
    assert len(got) == kept
