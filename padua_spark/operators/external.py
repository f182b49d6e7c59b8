"""External-service operators (reference: SURVEY.md §2.13) with
pluggable, offline-stubbed transports.

The reference calls PantherDB (GO enrichment, analysis.py:336-384),
UniProt (ID mapping, utils.py:332-356) and KEGG (pathway colorizer,
visualize.py:1495-1605) over HTTP. The Spark design splits each into:

1. a **distributed prepare** step (collect the small distinct ID set /
   compute per-protein colors),
2. a driver-side transport call — injected as a callable so tests and
   air-gapped clusters stub it (no network in this environment), and
3. a **distributed consume** step (parse → DataFrame → broadcast join).
"""

from __future__ import annotations

import io
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from padua_spark.functions.scalar import protein_ids
from padua_spark.io_utils import local_frame


def collect_distinct_ids(
    df: DataFrame, proteins_col: str, max_ids: int = 100_000
) -> list[str]:
    """Distinct first-protein IDs, collected for a driver-side service
    call (reference: ``utils.get_protein_id_list``, utils.py:142-162).
    The distinct runs distributed; only the ID list lands on the
    driver, with an explicit bound."""
    rows = (
        df.select(F.explode(protein_ids(proteins_col)).alias("pid"))
        .filter(F.col("pid") != "")
        .distinct()
        .limit(max_ids + 1)
        .collect()
    )
    if len(rows) > max_ids:
        raise ValueError(f"more than {max_ids} distinct IDs; filter first")
    return [r["pid"] for r in rows]


def go_enrichment(
    df: DataFrame,
    proteins_col: str = "Proteins",
    fdr: float = 0.05,
    fetch: Callable[[list[str]], str] | None = None,
) -> DataFrame:
    """GO-term enrichment via an injected PantherDB-style transport
    (reference: ``analysis.go_enrichment``, analysis.py:336-384).

    ``fetch(ids) -> tsv`` must return the service's TSV
    (``GO, Name, Gene ID, P, FDR``). The post-processing replicates the
    reference: mean-collapse duplicate GO terms, keep ``P < fdr``, sort
    ascending (analysis.py:377-384) — all as Spark aggregations.
    """
    if fetch is None:
        raise NotImplementedError(
            "no network in this environment — inject fetch= (see "
            "stub_go_fetch for the offline test transport)"
        )
    ids = collect_distinct_ids(df, proteins_col)
    tsv = fetch(ids)
    spark = df.sparkSession
    import csv

    rows = list(csv.reader(io.StringIO(tsv), delimiter="\t"))
    header, data = rows[0], rows[1:]
    res = local_frame(
        spark,
        data,
        StructType([StructField(h, StringType()) for h in header]),
    )
    res = res.withColumn("P", F.col("P").cast("double")).withColumn(
        "FDR", F.col("FDR").cast("double")
    )
    return (
        res.groupBy("GO", "Name")
        .agg(F.avg("P").alias("P"), F.avg("FDR").alias("FDR"))
        .filter(F.col("P") < fdr)
        .orderBy("P")
    )


def stub_go_fetch(ids: list[str]) -> str:
    """Deterministic offline transport for tests: every 10th ID forms an
    enriched pseudo-term."""
    lines = ["GO\tName\tGene ID\tP\tFDR"]
    for i, pid in enumerate(sorted(ids)):
        p = ((i * 2654435761) % 1000003) / 1000003.0
        term = f"GO:{i % 7:07d}"
        lines.append(f"{term}\tterm{i % 7}\t{pid}\t{p / 50}\t{p / 25}")
    return "\n".join(lines)


def uniprot_mapping_join(
    df: DataFrame,
    id_col: str,
    fetch: Callable[[list[str]], dict[str, str]] | None = None,
    mapped_col: str = "mapped_id",
) -> DataFrame:
    """UniProt-style bulk ID mapping applied as a broadcast join
    (reference: ``utils.get_uniprot_id_mapping_pairs``, utils.py:332-356
    builds a dict; applied at visualize.py:1556-1568)."""
    if fetch is None:
        raise NotImplementedError("inject fetch= (offline environment)")
    ids = [
        r[0]
        for r in df.select(id_col).distinct().collect()
        if r[0] is not None
    ]
    mapping = fetch(ids)
    spark = df.sparkSession
    mdf = local_frame(
        spark,
        list(mapping.items()),
        StructType(
            [
                StructField(id_col, df.schema[id_col].dataType),
                StructField(mapped_col, StringType()),
            ]
        ),
    )
    return df.join(F.broadcast(mdf), on=id_col, how="left")


# Lanczos g=7 n=9 coefficients — the same approximation
# functions/distributions.py uses in numpy, here as native Column
# arithmetic so the enrichment p-value never leaves the JVM.
_LANCZOS_COEF = (
    0.99999999999980993, 676.5203681218851, -1259.1392167224028,
    771.32342877765313, -176.61502916214059, 12.507343278686905,
    -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7,
)


def gammaln_col(z):
    """log Γ(z) for z > 0 as a native Column expression (Lanczos g=7)
    — identical arithmetic to ``functions.distributions.gammaln`` and
    the oracle-side ``_gammaln_sql``, so all three agree to ulps."""
    import math

    x = z - F.lit(1.0)
    acc = F.lit(_LANCZOS_COEF[0])
    for i, c in enumerate(_LANCZOS_COEF[1:], 1):
        acc = acc + F.lit(c) / (x + F.lit(float(i)))
    t = x + F.lit(7.5)
    return (
        F.lit(0.5 * math.log(2 * math.pi))
        + (x + F.lit(0.5)) * F.log(t)
        - t
        + F.log(acc)
    )


def _log_choose(n, k):
    """log C(n, k) via gammaln — n, k are integer Columns."""
    nd = n.cast("double")
    kd = k.cast("double")
    return (
        gammaln_col(nd + F.lit(1.0))
        - gammaln_col(kd + F.lit(1.0))
        - gammaln_col(nd - kd + F.lit(1.0))
    )


def hypergeom_enrichment(
    selected: DataFrame,
    annotations: DataFrame,
    id_col: str = "id",
    term_col: str = "term",
) -> DataFrame:
    """Offline annotation-term enrichment: the exact one-sided
    hypergeometric (Fisher) test PantherDB runs server-side for the
    reference's ``go_enrichment`` (analysis.py:336-384 posts the ID
    list and consumes P values it cannot recompute offline). Given a
    hit list and a user-supplied ``(id, term)`` annotation table, for
    each term: ``k`` selected ids with the term out of ``n`` selected,
    vs ``K`` background ids with the term out of ``N`` background
    (background = all distinct annotated ids; unannotated selected ids
    drop out, matching the service's unmapped-ID behavior).

    ``p_value = P(X ≥ k) = Σ_{i=k..min(K,n)}
    C(K,i)·C(N−K,n−i)/C(N,n)`` — evaluated as a sequential fold of
    log-gamma pmf terms, entirely JVM-side (no UDF).

    Plan: both inputs dedupe with one shuffle each; counts are one
    per-term aggregation with map-side partials; the (n, N) scalars
    ride a single-row broadcast join (the constant key folds away,
    leaving a one-row nested-loop broadcast — free at any scale); the
    tail sum is a per-term higher-order function
    whose length is bounded by the hit-list size — the standard cost
    of an exact Fisher tail, independent of fact-table scale.

    Output: ``(term, k_selected, n_selected, k_background,
    n_background, fold_enrichment, p_value)``.
    """
    ann = (
        annotations.select(
            F.col(id_col).alias("_id"), F.col(term_col).alias(term_col)
        )
        .where(F.col("_id").isNotNull() & F.col(term_col).isNotNull())
        .distinct()
    )
    sel = (
        selected.select(F.col(id_col).alias("_id"))
        .where(F.col("_id").isNotNull())
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    flagged = ann.join(sel, on="_id", how="left")
    per = flagged.groupBy(term_col).agg(
        F.count("_id").alias("k_background"),
        F.count("_hit").alias("k_selected"),
    )
    ids = ann.select("_id").distinct().join(sel, on="_id", how="left")
    scalars = ids.agg(
        F.count("_id").alias("n_background"),
        F.count("_hit").alias("n_selected"),
    ).withColumn("_one", F.lit(1))
    joined = per.withColumn("_one", F.lit(1)).join(
        F.broadcast(scalars), on="_one"
    )
    # Row-constant log C(N, n): stage it as a column BEFORE the fold —
    # HOF lambdas are interpreted with no CSE (see verify SKILL.md).
    kk = F.col("k_selected")
    bigk = F.col("k_background")
    n = F.col("n_selected")
    bign = F.col("n_background")
    staged = joined.withColumn(
        "_log_denom", _log_choose(bign, n)
    ).withColumn("_imax", F.least(bigk, n))

    def _pmf_term(i):
        return F.exp(
            _log_choose(F.col("k_background"), i)
            + _log_choose(
                F.col("n_background") - F.col("k_background"),
                F.col("n_selected") - i,
            )
            - F.col("_log_denom")
        )

    p = F.aggregate(
        F.sequence(kk, F.col("_imax")),
        F.lit(0.0),
        lambda acc, i: acc + _pmf_term(i),
    )
    fold = (kk.cast("double") / n.cast("double")) / (
        bigk.cast("double") / bign.cast("double")
    )
    return staged.select(
        term_col,
        "k_selected",
        "n_selected",
        "k_background",
        "n_background",
        F.when((n > 0) & (bigk > 0), fold).alias("fold_enrichment"),
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), p)).alias("p_value"),
    )


def kegg_color_table(
    df: DataFrame,
    feature_cols: list[str],
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    min_log2: float = -2.0,
    max_log2: float = 2.0,
    n_bins: int = 7,
) -> DataFrame:
    """The compute core of the KEGG pathway colorizer (reference:
    ``visualize.kegg_pathway``, visualize.py:1495-1605): per-feature
    group log2 ratio, clamped and binned into a diverging color index;
    the HTTP POST + image handling stay driver-side and optional."""
    va = F.when(F.col(group_col) == F.lit(group_a), F.col(value_col))
    vb = F.when(F.col(group_col) == F.lit(group_b), F.col(value_col))
    agg = df.groupBy(*feature_cols).agg(
        F.avg(va).alias("_ma"), F.avg(vb).alias("_mb")
    )
    ratio = F.when(
        (F.col("_ma") > 0) & (F.col("_mb") > 0),
        F.log2(F.col("_ma") / F.col("_mb")),
    )
    clamped = F.greatest(
        F.least(ratio, F.lit(max_log2)), F.lit(min_log2)
    )
    width = (max_log2 - min_log2) / n_bins
    bin_idx = F.least(
        F.floor((clamped - F.lit(min_log2)) / F.lit(width)),
        F.lit(n_bins - 1),
    ).cast("int")
    return agg.select(
        *feature_cols,
        ratio.alias("log2_ratio"),
        # undefined ratio (missing group / non-positive mean) must stay
        # uncolored — least/greatest skip NULLs, so an unguarded bin
        # would paint those features as maximum up-regulation
        F.when(ratio.isNotNull(), bin_idx).alias("color_bin"),
    )
