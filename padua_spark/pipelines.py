"""End-to-end pipelines replicating the reference's published workflows
(SURVEY.md §3 — the File S-1 / S-2 supplement notebooks). A padua user
migrates by calling one function instead of a notebook of eager steps;
each returns lazy DataFrames that Catalyst optimizes end-to-end, with
optional parquet checkpoints at the phase boundaries where the
notebooks pickled intermediates (SURVEY.md §2.1 S7).

Each pipeline parses its MaxQuant input once: the wide table is pruned
to the metadata columns and the one measurement kind the pipeline
consumes before the unpivot (so the CSV scan parses no other kind),
the min-valid filter runs over a single feature-keyed window instead
of re-scanning its input for a semi-join, repeat reads of an unchanged
file reuse the session's memoized schema (``read_maxquant``), and
design tables and checkpoints are read with declared schemas, so
building a pipeline fires no reader job once its input was seen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from padua_spark.operators import (
    aggregates as agg_ops,
    filters as flt,
    normalization as norm,
    process as proc,
    stats as st,
)
from padua_spark.sources import (
    maxquant_long,
    parse_expression_columns,
    read_design,
    read_maxquant,
)


def _one_kind(wide: DataFrame, kind: str) -> DataFrame:
    """``wide`` without the expression columns of every kind but
    ``kind``: the unpivot stacks, and the CSV scan parses, only the
    kind the pipeline consumes."""
    return wide.drop(*[
        p["column"] for p in parse_expression_columns(wide.columns)
        if p["kind"] != kind
    ])


def phospho_lfq(
    spark: SparkSession,
    sites_path: str,
    design_path: str,
    group_a: str,
    group_b: str,
    localization_threshold: float = 0.75,
    min_valid_per_group: int = 3,
    kind: str = "Intensity",
    checkpoint_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Entry point A (SURVEY.md §3.1): Phospho (STY)Sites LFQ pipeline.

    read → remove reverse/contaminants → localization filter → long
    model (multiplicity parsed at ingest = expand_side_table) → log2 →
    median normalize → design join → min-valid filter → technical-
    replicate collapse → volcano stats + QC summaries.
    """
    wide = read_maxquant(spark, sites_path)
    wide = flt.remove_reverse(wide)
    wide = flt.remove_contaminants(wide)
    if "Localization prob" in wide.columns:
        wide = flt.filter_localization_probability(
            wide, localization_threshold
        )
    meas, features = maxquant_long(
        _one_kind(wide, kind), zeros_to_null=True
    )
    # One measurement kind only — mixing Intensity with LFQ intensity
    # would double every (feature, sample) cell.
    intens = meas.filter(
        (F.col("kind") == kind) & F.col("sample_label").isNotNull()
    )
    logd = proc.transform_values(intens, "value")
    normd = norm.subtract_group_median(logd, ["sample_label"], "value")
    design = read_design(spark, design_path)
    joined = proc.join_design(normd, design, label_col="sample_label")
    joined = flt.minimum_valid_values_in_any_group(
        joined, ["feature_id"], ["Group"], "value",
        n=min_valid_per_group,
    )
    if checkpoint_dir:
        joined.write.mode("overwrite").parquet(
            f"{checkpoint_dir}/normalized_long"
        )
        joined = spark.read.schema(joined.schema).parquet(
            f"{checkpoint_dir}/normalized_long"
        )
    collapse_keys = [
        c for c in ["feature_id", "Group", "Timepoint", "Replicate"]
        if c in joined.columns
    ]
    collapsed = agg_ops.collapse_technical_replicates(
        joined, collapse_keys, "value", stat="median"
    )
    volcano = st.volcano_stats(
        joined, ["feature_id"], "Group", "value", group_a, group_b,
        minimum_sample_n=min_valid_per_group,
    )
    correlation = agg_ops.pairwise_correlation(
        joined, "sample_label", ["feature_id"], "value"
    )
    return {
        "features": features,
        "measurements": joined,
        "collapsed": collapsed,
        "volcano": volcano,
        "correlation": correlation,
    }


def protein_groups_ratio(
    spark: SparkSession,
    protein_groups_path: str,
    design_path: str,
    ratio_kind: str = "Ratio H/L normalized",
    min_valid_per_group: int = 2,
) -> dict[str, DataFrame]:
    """Entry point B (SURVEY.md §3.2): proteinGroups SILAC-ratio
    pipeline — filters → log2 ratios → design join → min-valid →
    one-sample t vs 0 (ratio volcano) + PCA-ready long table."""
    wide = read_maxquant(spark, protein_groups_path)
    wide = flt.remove_reverse(wide)
    wide = flt.remove_contaminants(wide)
    wide = flt.remove_only_identified_by_site(wide)
    meas, features = maxquant_long(
        _one_kind(wide, ratio_kind), zeros_to_null=True
    )
    ratios = meas.filter(
        (F.col("kind") == ratio_kind) & F.col("sample_label").isNotNull()
    )
    logd = proc.transform_values(ratios, "value")
    design = read_design(spark, design_path)
    joined = proc.join_design(logd, design, label_col="sample_label")
    joined = flt.minimum_valid_values_in_any_group(
        joined, ["feature_id"], ["Group"], "value",
        n=min_valid_per_group,
    )
    onesample = st.ttest_1samp(joined, ["feature_id"], "value")
    return {
        "features": features,
        "measurements": joined,
        "onesample_ttest": onesample,
    }


def msp_enrichment(
    spark: SparkSession,
    msp_path: str,
    modification: str = "Phospho (STY)",
    design_path: str | None = None,
) -> DataFrame:
    """Entry point C (SURVEY.md §3.3): modificationSpecificPeptides
    enrichment — % intensity attributable to the modification per
    sample (reference ``analysis.enrichment_from_msp``
    analysis.py:263-287), optionally rolled up per design Group
    level (reference ``process.build_index_from_design``
    process.py:23 — the File S-1 Statistical Analysis first half).

    Without ``design_path``: one row per sample
    ``(sample_label, modified_sum, unmodified_sum, enrichment)``.
    With ``design_path``: one row per Group ``(grp, n_samples,
    modified_sum, total_sum, pooled_enrichment, mean_enrichment)``
    where pooled = Σ modified / Σ total across the group's samples
    and mean is the average of the per-sample enrichments, summed in
    sorted-label order (order-fixed fold, engine-reproducible).

    ONE lazy plan: CSV scan → stack melt → broadcast Modifications
    join → conditional aggregation per sample (the sample domain is
    the design width, bounded) → broadcast design join → per-Group
    roll-up over the sample-domain frame.
    """
    wide = _one_kind(read_maxquant(spark, msp_path), "Intensity")
    meas, _features = maxquant_long(wide, zeros_to_null=True)
    flagged = (
        meas.filter(
            (F.col("kind") == "Intensity")
            & F.col("sample_label").isNotNull()
        )
        .join(
            wide.select(
                F.col("id").alias("feature_id"),
                F.col("Modifications").alias("_mods"),
            ),
            on="feature_id",
        )
    )
    enr = agg_ops.enrichment(
        flagged,
        ["sample_label"],
        F.col("_mods").contains(modification),
        "value",
    )
    if design_path is None:
        return enr
    design = read_design(spark, design_path)
    joined = enr.join(
        F.broadcast(
            design.select(
                F.col("Label").alias("sample_label"),
                F.col("Group").alias("grp"),
            )
        ),
        on="sample_label",
    )
    pairs = F.sort_array(
        F.collect_list(F.struct("sample_label", "enrichment"))
    )
    n_s = F.count(F.lit(1)).cast("bigint")
    return joined.groupBy("grp").agg(
        n_s.alias("n_samples"),
        F.sum("modified_sum").alias("modified_sum"),
        F.sum(
            F.col("modified_sum") + F.col("unmodified_sum")
        ).alias("total_sum"),
        (
            F.sum("modified_sum")
            / F.sum(F.col("modified_sum") + F.col("unmodified_sum"))
        ).alias("pooled_enrichment"),
        (
            F.aggregate(
                pairs,
                F.lit(0.0),
                lambda acc, x: acc + x["enrichment"],
            )
            / n_s.cast("double")
        ).alias("mean_enrichment"),
    )
