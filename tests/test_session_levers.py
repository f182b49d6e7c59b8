"""Session confs that ``padua_spark.session.get_spark`` sets for speed,
pinned so a Spark upgrade that renames or ignores one turns red here
instead of silently bringing its cost back."""

from pyspark.sql import functions as F

from padua_spark import pipelines
from padua_spark.io_utils import local_frame
from padua_spark.plans.inspect import codegen_compiles, generated_code

ICU_CONF = "spark.sql.icu.caseMappings.enabled"

# ASCII, Latin-1, Greek (with a final sigma), Turkish dotted/dotless i,
# Cyrillic, CJK, an astral-plane emoji, upper(ß) and a ligature, then
# letters from Unicode 14-16 that the JDK 17 tables (Unicode 13) and
# DuckDB leave unchanged: U+A7D0/U+A7D1, U+A7C0, U+10570, U+A7CB,
# U+1C89/U+1C8A.
CASE_BATTERY = [
    "Hello World 42", "ÀÉÎÕÜ àéîõü ÿ", "ΑΒΓ αβγ ΟΔΟΣ", "İstanbul ıi",
    "Москва", "中文字符", "😀 emoji", "Straße", "ﬀ",
    "Ꟑ", "ꟑ", "Ꟁ", "\U00010570", "Ɤ", "Ᲊ", "ᲊ",
]

# Where the JVM tables and DuckDB's simple case mapping differ:
# context-sensitive final sigma, U+0130 lowering to i + U+0307, and
# one-to-many uppercase of ß and ligatures. (string, fn) -> Spark value.
CASE_DIVERGENCES = {
    ("ΑΒΓ αβγ ΟΔΟΣ", "lower"): "αβγ αβγ οδος",
    ("İstanbul ıi", "lower"): "i̇stanbul ıi",
    ("Straße", "upper"): "STRASSE",
    ("ﬀ", "upper"): "FF",
}


def test_icu_case_mapping_lever_pinned(spark):
    """Off, the first lower()/upper() in a JVM skips ICU's case-table
    build (~2 s wall, ~4 s CPU). Spark accepts an unknown key silently,
    so pin that this one is still a registered runtime conf."""
    assert spark.conf.get(ICU_CONF) == "false"
    assert spark.conf.isModifiable(ICU_CONF)


def test_case_mapping_codegen_uses_jvm_tables(spark):
    df = spark.range(3).select(F.col("id").cast("string").alias("s"))
    code = generated_code(df.select(F.lower("s"), F.upper("s")))
    assert "execBinary(" in code
    assert "execBinaryICU(" not in code


def test_case_mapping_parity_with_duckdb(spark, duck):
    """The session default equals DuckDB's lower/upper on every battery
    string but the documented divergences; the ICU path (Spark's own
    default) disagrees with DuckDB on the Unicode 14-16 letters."""
    rows = list(enumerate(CASE_BATTERY))
    df = local_frame(spark, rows, "i int, s string")

    def spark_case():
        out = df.select(
            "i", F.lower("s").alias("lower"), F.upper("s").alias("upper")
        ).collect()
        return {r["i"]: r for r in out}

    before = spark.conf.get(ICU_CONF)
    try:
        jvm = spark_case()
        spark.conf.set(ICU_CONF, "true")
        icu = spark_case()
    finally:
        spark.conf.set(ICU_CONF, before)
    icu_differs = 0
    for i, s in rows:
        d_lower, d_upper = duck.execute(
            "SELECT lower(?), upper(?)", [s, s]
        ).fetchone()
        for fn, want in (("lower", d_lower), ("upper", d_upper)):
            got = jvm[i][fn]
            expected = CASE_DIVERGENCES.get((s, fn), want)
            assert got == expected, (s, fn, got, want)
            if icu[i][fn] != want and (s, fn) not in CASE_DIVERGENCES:
                icu_differs += 1
    assert icu_differs > 0


def test_codegen_cache_keeps_the_pipelines(spark, tmp_path):
    """protein_groups_ratio then phospho_lfq compile over 130 generated
    classes. At Spark's default cache of 100 entries the repeat
    re-compiled 112 of them; with the session's larger cache it
    compiles none. (protein_groups_ratio alone compiles ~58 classes and
    fits in 100, so it cannot tell the two sizes apart.)"""
    import pandas as pd

    from tests.fixtures import write_fixture

    pg, design = write_fixture(str(tmp_path))
    ratio_design = str(tmp_path / "ratio_design.csv")
    pd.DataFrame(
        {"Label": ["E1", "E2", "E3"], "Group": ["t1"] * 3,
         "Replicate": [1, 2, 3]}
    ).to_csv(ratio_design, index=False)

    def run():
        ratio = pipelines.protein_groups_ratio(spark, pg, ratio_design)
        lfq = pipelines.phospho_lfq(
            spark, pg, design, "Control", "PGE2",
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        for frame in [*ratio.values(), *lfq.values()]:
            frame.collect()

    run()
    before = codegen_compiles(spark)
    run()
    assert codegen_compiles(spark) - before == 0
