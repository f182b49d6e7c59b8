"""Physical-plan assertions — the 100 TB posture checks.

Each test pins a property that matters at scale: dimension joins must
broadcast (no shuffle of the fact table), filters and projections must
reach the parquet scan, aggregations must have a map-side partial
phase, and the median-normalize plan must not window-sort the fact
table.
"""

from pyspark.sql import functions as F

from padua_spark.operators import (
    filters as flt,
    normalization as norm,
    process as proc,
    stats as st,
)
from padua_spark.plans import (
    explain_str,
    has_broadcast_join,
    has_partial_aggregate,
    pushed_filters,
    scan_read_schema,
)
from tests.conftest import SF_ORACLE


def _li(spark):
    return spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")


def test_filter_pushdown_reaches_scan(spark):
    df = flt.remove_rows_matching(_li(spark), "l_returnflag", "R").select(
        "l_orderkey"
    )
    pf = pushed_filters(df)
    assert any("l_returnflag" in f for f in pf), pf


def test_threshold_filter_pushdown(spark):
    df = flt.filter_localization_probability(
        _li(spark), 30.0, "l_quantity"
    ).select("l_orderkey")
    pf = pushed_filters(df)
    assert any(
        "l_quantity" in f and "GreaterThanOrEqual" in f for f in pf
    ), pf


def test_column_pruning_reaches_scan(spark):
    df = _li(spark).select("l_orderkey", "l_quantity")
    cols = scan_read_schema(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_design_join_broadcasts(spark):
    li = _li(spark)
    design = spark.createDataFrame(
        [("R", "grpR"), ("A", "grpA")], ["Label", "Group"]
    )
    joined = proc.join_design(li, design, label_col="l_returnflag")
    assert has_broadcast_join(joined), explain_str(joined)[:2000]


def test_median_normalize_no_fact_table_sort(spark):
    out = norm.subtract_group_median(
        _li(spark), ["l_returnflag"], "l_extendedprice"
    )
    plan = explain_str(out)
    # agg+broadcast-join shape: the fact-table output path is never
    # window-sorted. The exact-median side DOES sort — but only a
    # pruned (group, value) two-column projection (see
    # normalization.group_medians), which column pruning must prove:
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan
    assert (
        "ReadSchema: struct<l_extendedprice:double,l_returnflag:string>"
        in plan
        or "ReadSchema: struct<l_returnflag:string,l_extendedprice:double>"
        in plan
    ), plan[:3000]


def test_ttest_single_pass_partial_agg(spark):
    out = st.ttest_ind_stats(
        _li(spark), ["l_partkey"], "l_returnflag", "l_quantity", "R", "A"
    )
    assert has_partial_aggregate(out)
    # one shuffle only: a single Exchange on the feature key
    simple = explain_str(out, mode="simple")
    assert simple.count("Exchange") == 1, simple[:2000]


def test_min_valid_one_exchange_no_join(spark):
    """The min-valid filter is two windows over one feature-keyed
    partitioning: one scan, one Exchange and one Sort, both on the
    feature key, and no join back to its input."""
    li = _li(spark).withColumn(
        "val", F.when(F.col("l_discount") > 0, F.col("l_quantity"))
    )
    out = flt.minimum_valid_values_in_any_group(
        li, ["l_partkey"], ["l_returnflag"], "val", n=8
    )
    plan = explain_str(out, mode="simple")
    assert plan.count("Exchange") == 1, plan[:3000]
    assert plan.count("Exchange hashpartitioning(l_partkey#") == 1, plan
    assert plan.count("Sort [l_partkey#") == 1, plan[:3000]
    assert "Join" not in plan, plan[:3000]
    assert plan.count("FileScan") == 1, plan[:3000]


def test_imputation_no_shuffle_of_fact(spark):
    from padua_spark.operators import imputation as imp

    e = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").withColumn(
        "val", F.when(F.col("l_discount") > 0, F.col("l_quantity"))
    )
    out = imp.impute_gaussian(e, ["l_returnflag"], "val", "l_orderkey")
    plan = explain_str(out)
    assert "BroadcastHashJoin" in plan
    # group stats aggregate shuffles only the tiny stats table
    assert "Window" not in plan


def test_extension_scan_pruning(spark):
    """Extension pipelines must prune the documents scan to the columns
    they use (a scan reading 'source' for a text-dedup query would drag
    dead bytes through a 100 TB read)."""
    from padua_spark.extensions import dedup as x_dedup

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    out = x_dedup.minhash_lsh_candidates(docs, "doc_id", "text")
    cols = scan_read_schema(out)
    assert set(cols) == {"doc_id", "text"}, cols

    out2 = x_dedup.simhash_candidates(
        docs, "doc_id", "text", ["lang"], max_hamming=6
    )
    cols2 = scan_read_schema(out2)
    assert "source" not in cols2 and "n_chars" not in cols2, cols2


def test_ivf_assign_never_shuffles_corpus(spark):
    """IVF assignment is a pure map stage over the corpus: the only
    exchanges are the tiny centroid-side aggregation/broadcast — no
    hash-partition shuffle of the embeddings."""
    from padua_spark.extensions.similarity import ivf_assign, ivf_centroids

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    cents = ivf_centroids(emb, "vec_id", "embedding", n_cells=4)
    plan = explain_str(ivf_assign(emb, "vec_id", "embedding", cents))
    assert "BroadcastExchange" in plan
    assert "Exchange hashpartitioning" not in plan, plan[:3000]


def test_contamination_broadcasts_benchmark(spark):
    """Decontamination joins the exploded corpus shingles against a
    BROADCAST benchmark shingle set — the corpus is never shuffled by
    shingle; its only exchange is the final groupBy(doc_id), which has
    a map-side partial phase."""
    from padua_spark.extensions.dedup import contamination_check

    d = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    out = contamination_check(
        d.where(F.col("source") != "src0"),
        d.where(F.col("source") == "src0"),
        "doc_id",
        "text",
    )
    assert has_broadcast_join(out)
    assert has_partial_aggregate(out)
    # the corpus (probe) branch of the broadcast join — the ':'-prefixed
    # subtree in the formatted plan — must contain no Exchange; only the
    # small benchmark side (under BroadcastExchange) may shuffle
    plan = explain_str(out)
    tree = plan.split("== Physical Plan ==")[1].split("\n\n")[0]
    probe_lines = [ln for ln in tree.splitlines() if ln.lstrip("+- ").startswith(":")
                   or ln.strip().startswith(":")]
    assert probe_lines, tree
    assert not any("Exchange" in ln for ln in probe_lines), tree


def test_knn_join_window_group_limit(spark):
    """knn_join's per-query top-k must compile to WindowGroupLimit with
    a PARTIAL (pre-shuffle) phase — each map task prunes to its local k
    rows per query before the exchange — and the query batch must be
    broadcast (corpus never shuffled by vector)."""
    from padua_spark.extensions.similarity import knn_join

    e = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    out = knn_join(
        e.where(F.col("vec_id") >= 5), "vec_id", "embedding",
        e.where(F.col("vec_id") < 5), "vec_id", "embedding", k=5,
    )
    simple = explain_str(out, "simple")
    assert "WindowGroupLimit" in simple, simple
    # children print BELOW their parent: the map-side (pre-shuffle)
    # partial limit appears after the Exchange line in the text
    below_exchange = simple.split("Exchange hashpartitioning", 1)[1]
    assert "WindowGroupLimit" in below_exchange, simple
    assert "Partial" in below_exchange, simple
    assert "Broadcast" in simple


def test_spread_narrow_scan_guard_and_pushdown(spark):
    """spread_narrow_scan repartitions a single-row-group scan to
    session parallelism, no-ops on an already-wide frame, and does NOT
    block predicate pushdown or column pruning — Catalyst pushes both
    through the round-robin Repartition, so the exchange carries only
    pruned, pre-filtered rows."""
    from padua_spark.io_utils import spread_narrow_scan

    li = _li(spark)
    par = spark.sparkContext.defaultParallelism
    spread = spread_narrow_scan(li)
    assert spread.rdd.getNumPartitions() >= min(
        par, 1 + li.rdd.getNumPartitions()
    )
    # no-op when already at/above target
    wide = li.repartition(par)
    assert spread_narrow_scan(wide) is wide
    # pushdown survives the repartition
    q = spread.where(F.col("l_returnflag") == "R").select("l_orderkey")
    pf = pushed_filters(q)
    assert any("l_returnflag" in f for f in pf), pf
    cols = scan_read_schema(q)
    assert set(cols) <= {"l_orderkey", "l_returnflag"}, cols
    # row set unchanged
    assert spread.count() == li.count()


# --- round-4 relational suite: the plans that must hold at 100 TB ----------


def test_shipping_priority_pushdown_and_broadcast(spark):
    """The mktsegment predicate must reach the customer scan, and the
    filtered customer side must broadcast (never shuffle orders by
    custkey for a selective dim)."""
    import __spark_entry__ as em

    df = em.queries()["shipping_priority"](spark, SF_ORACLE)
    pf = pushed_filters(df)
    assert any(
        "c_mktsegment" in f and "EqualTo" in f for f in pf
    ), pf
    assert has_broadcast_join(df)


def test_dormant_customers_anti_join_pushdown(spark):
    """NOT EXISTS compiles to a left_anti join with the date predicate
    pushed into the orders scan — matched rows never materialize."""
    import __spark_entry__ as em

    df = em.queries()["dormant_customers"](spark, SF_ORACLE)
    plan = explain_str(df)
    assert "LeftAnti" in plan, plan[:2000]
    pf = pushed_filters(df)
    assert any(
        "o_orderdate" in f and "GreaterThanOrEqual" in f for f in pf
    ), pf


def test_rollup_single_aggregation_pass(spark):
    """ROLLUP expands grouping sets inside one aggregate: the fact
    table is scanned once and shuffled once (plus the final AQE read),
    not once per grouping level."""
    import __spark_entry__ as em
    from padua_spark.plans import count_exchanges

    df = em.queries()["rollup_revenue"](spark, SF_ORACLE)
    plan = explain_str(df)
    assert plan.count("Location: InMemoryFileIndex") <= 4  # 4 tables, 1 scan each
    assert "Expand" in plan  # grouping-set expansion, not a union of aggs
    assert count_exchanges(df) <= 2, explain_str(df, "simple")


def test_running_balance_single_shuffle(spark):
    """The cumulative-sum window shuffles the orders table exactly once
    (by o_custkey) and sorts within partitions."""
    import __spark_entry__ as em
    from padua_spark.plans import count_exchanges

    df = em.queries()["running_balance"](spark, SF_ORACLE)
    assert count_exchanges(df) == 1, explain_str(df, "simple")


def test_levene_centers_join_aqe_default(spark):
    """levene_stats lets AQE choose the centers-join strategy from the
    measured size (no static broadcast hint in the analyzed plan). At
    test scale the executed adaptive plan still broadcasts — AQE
    converts the join at runtime from the real centers size, which is
    the whole point of leaving the hint out."""
    li = _li(spark)
    default = st.levene_stats(li, ["l_partkey"], "l_returnflag",
                              "l_quantity")
    assert "ResolvedHint" not in default._jdf.queryExecution().analyzed().toString()
    default.write.format("noop").mode("overwrite").save()
    final = default._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final[:2000]


def test_semdedup_corpus_never_reshuffled_by_vector(spark):
    """SemDeDup's corpus branch: assignment is a broadcast map stage;
    the only corpus shuffles are the exemplar-election aggregate and
    the cell join back — never a pairwise/vector-keyed explosion."""
    import __spark_entry__ as em

    df = em.queries()["semdedup"](spark, SF_ORACLE)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan
    # exemplar table is broadcast back to members
    assert has_broadcast_join(df)


def test_ecdf_cumsum_is_distributed(spark, monkeypatch):
    """KS / Mann-Whitney ECDF scaffolding: the per-distinct-value
    cumsum window must be PARTITIONED by the captured range-partition
    id (N parallel tasks), never a partitionless global-order window
    over the value domain — on continuous data |distinct| ~= n and a
    single-partition sort would serialize the dataset through one
    core. The only SinglePartition exchange allowed is the one feeding
    the N-row per-partition-totals frame (constant in data size).
    The domain-aware width would collapse this small fixture's domain
    to one partition — shrink the per-partition target so the test
    exercises the large-domain (distributed) regime."""
    import re

    monkeypatch.setattr(st, "STEPPED_ROWS_PER_PARTITION", 1000)
    monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", 0)

    for build in (
        lambda df: st.ks_2samp_stat(
            df, "l_returnflag", "l_extendedprice", "R", "A"
        ),
        lambda df: st.mannwhitney_z_stats(
            df, "l_returnflag", "l_extendedprice", "R", "A"
        ),
    ):
        plan = explain_str(build(_li(spark)), "simple")
        specs = re.findall(r"windowspecdefinition\(([^)]*)", plan)
        assert specs, plan[:2000]
        # no window ordered directly on the raw value domain
        assert not any(s.lstrip().startswith("_v#") for s in specs), specs
        # the domain-sized cumsum runs under a _pid partition spec
        assert any(
            s.lstrip().startswith("_pid#") and " _v#" in s for s in specs
        ), specs
        # values reach their partitions via a range exchange
        assert "rangepartitioning(_v#" in plan, plan[:2000]
        # determinism under multi-consumer branches: the range frame is
        # persisted (both cumsum and totals read ONE set of boundaries)
        assert "InMemoryTableScan" in plan, plan[:2000]


def test_ecdf_small_domain_shortcut(spark, monkeypatch):
    """At/below SMALL_ECDF_DOMAIN the per-value frame is tiny and the
    cumsum runs directly on the persisted single partition — no range
    exchange, none of the two-pass machinery — and the two paths
    produce identical statistics."""
    df = _li(spark)
    small = st.mannwhitney_z_stats(
        df, "l_returnflag", "l_quantity", "R", "A"
    )
    plan = explain_str(small, "simple")
    # l_quantity has a ~50-value domain: the shortcut must engage
    assert "rangepartitioning(_v#" not in plan, plan[:2000]
    assert "InMemoryTableScan" in plan, plan[:2000]
    monkeypatch.setattr(st, "SMALL_ECDF_DOMAIN", 0)
    forced = st.mannwhitney_z_stats(
        df, "l_returnflag", "l_quantity", "R", "A"
    )
    a = [tuple(r) for r in small.collect()]
    b = [tuple(r) for r in forced.collect()]
    assert a == b


def test_no_cartesian_products_anywhere(spark):
    """Plan lint over EVERY queries() entry: no CartesianProduct may
    appear in any physical plan, and BroadcastNestedLoopJoin only where
    a deliberate 1-row/tiny broadcast side exists (query vectors,
    corpus-size scalars, reference times, centroid arrays)."""
    import __spark_entry__ as em

    BNLJ_OK = {
        "knn_join", "range_join", "ivf_topk", "tfidf_top_terms",
        "bigram_lm_score", "kmv_overlap", "quantized_topk",
        "decayed_score", "semdedup", "ann_cosine_topk", "ann_lsh_topk",
        "time_to_conversion", "source_token_divergence",
        # 1-row (n, N) scalars broadcast onto the per-term counts; the
        # constant-key equi-join folds away, leaving a BNLJ with a
        # single broadcast row
        "enrichment_hypergeom",
        # 1-row per-category totals frame broadcast onto the 1-row
        # per-item stats frame (both scalar aggregates)
        "fleiss_kappa",
        # 1-row value-domain moments frame joined to the 1-row cross
        # term (both scalar aggregates; constant-key join folds away)
        "spearman_rho",
        # 1-row estimated (mu, sd) frame broadcast onto the stepped
        # value-domain frame (constant-key join folds away)
        "lilliefors_normal",
        # bounded level-pair / margin cross joins and 1-row scalar
        # frames broadcast onto cells or buckets (all tiny by
        # construction; constant-key joins fold away)
        "ordinal_association", "weighted_kappa", "bowker_symmetry",
        # bounded distinct-value cell grids (enforced max_cells guard)
        # cross-joined with the smaller side broadcast
        "hodges_lehmann_shift", "hodges_lehmann_shift_ci",
        "hodges_lehmann_pseudomedian",
        # 1-row scalar frames joined on a constant key (CH) and the
        # bounded broadcast centroid cross (enforced max_clusters)
        "calinski_harabasz", "silhouette_simplified",
        # k-row cluster frame self-cross with the right side broadcast
        # (k = cluster count, never data) and the 1-row edge/recip
        # scalar stitch
        "davies_bouldin", "edge_reciprocity",
        # 1-row ref-types/bits-set scalar frames broadcast onto the
        # 1-row probe stats
        "bloom_membership",
        # 1-row totals/limits frames broadcast onto bounded frames
        "gains_table", "brier_decomposition", "bland_altman",
        "icc_2_1", "assortativity", "morans_i",
        # 1-row class-totals/priors frame broadcast onto the scoring
        # tokens (the naive Bayes model scalars)
        "naive_bayes_lang",
        # 1-row pooled (theta, xbar) frame broadcast onto the
        # per-variant sums
        "cuped_adjusted",
        # 1-row fitted-model frames (OLS a/b, covariance moments)
        # broadcast back onto the fact scan for per-row residual /
        # leverage / quadratic-form expressions (constant-key joins
        # fold to BNLJ)
        "breusch_pagan", "cooks_distance", "mahalanobis_outliers",
        "huber_regression",
        # 1-row (n1, n0) totals broadcast onto the component rows
        "delong_test",
        # 1-row MoM prior broadcast onto the groups frame
        "eb_rate_shrinkage",
        # 1-row non-null total broadcast onto the per-key profile
        "json_profile",
        # B-row null-diff table joined to the 1-row observed totals
        "randomization_test_mean",
        # windows × reference-bins cross join — both tiny by
        # construction (every reference bin must score in every window)
        "windowed_psi",
        # round-13 battery 12: top-k ranked frame self-cross (k<=100
        # by construction) + the 1-row marginal/pair scalar stitch
        "rank_list_distance",
        # round-13 wave E353-E376: 1-row fitted/scalar frames
        # broadcast onto bounded frames (EDF mu/sigma onto the
        # order-statistic domain; isotropy vector-sum scalar; Geary
        # global moments onto the edge pass) and the bounded m x k
        # marker grid self-cross of Burrows' Delta (m<=50 markers,
        # k = group count)
        "edf_normality_battery", "embedding_isotropy", "geary_c",
        "burrows_delta",
        # ... same wave: 1-row Getis-Ord B-coefficient scalars onto
        # the positive-attribute cross; broadcast query block per the
        # knn_join contract (ERR@k); 1-row degree/edge totals onto
        # the bounded threshold frame (rich club)
        "getis_ord_g", "retrieval_err", "rich_club_coefficient",
        # 1-row vocab grand-total broadcast onto the (group, token)
        # frame (Dunning 2x2 needs the corpus N on every row)
        "dunning_keywords",
        # windows × reference-top-tokens cross join — same shape
        "windowed_token_divergence",
        # 1-row corpus stats (N, avgdl) broadcast onto the |q|-row
        # document-frequency table
        "bm25_topk",
        # knn_join's one-row broadcast query block (same as knn_join)
        "retrieval_precision",
        # knn_join's shape with a one-row broadcast ANCHOR block
        # (enforced max_anchors guard)
        "hard_negative_mining",
        # composes ivf_topk + brute_force_topk — inherits their 1-row
        # broadcast query/probe sides
        "ann_recall",
        # 1-row global summary (total, n_keys) broadcast-crossed onto
        # the per-key counts — deliberately NOT a partitionless window
        "skew_profile",
        # 1-row exact-quantile bounds frame broadcast onto the fact
        # scan for the bin expression (the gains_table shape)
        "hosmer_lemeshow", "propensity_strata_att",
        # 1-row AUC-total frame broadcast onto the curve table
        "roc_points",
        # 1-row edge-total / node-count / Q-sum frames joined on a
        # constant key (all scalar aggregates; folds to BNLJ)
        "graph_modularity",
        # 1-row (N, k_a, k_b) totals broadcast onto the joint-count
        # table (cardinality-sized, not data-sized)
        "mutual_information",
        # 1-row document-count frame broadcast onto the token-df table
        "token_pmi",
        # 1-row global-mean frame broadcast onto the k-category table
        "target_encode_loo",
        # 1-row corpus-totals frame broadcast onto the vocab-sized
        # keyness count table
        "keyness_llr",
        # composes knn_join — inherits its one-row broadcast query block
        "retrieval_ndcg", "retrieval_mrr",
        # composes bm25_topk — inherits its 1-row corpus-stats broadcast
        "rrf_fusion",
        # two 1-row global-count frames broadcast onto the 1-row stats
        "triangle_count",
        # 4-row exact-distinct frame broadcast onto the sketch output
        "hll_distinct",
        # two 1-row aggregates (rank-sum squares x tie totals) crossed
        # into the single Friedman result row
        "friedman_counts",
        # composes friedman_test — inherits its two-1-row cross
        "kendalls_w",
        # 1-row per-treatment aggregate crossed with the 1-row
        # block count
        "quade_test",
        # 1-row category-totals frame broadcast onto the 1-row
        # item-disagreement aggregate
        "krippendorff_alpha",
        # 1-row MH common-OR frame broadcast onto the k-strata tables
        "breslow_day",
        # bounded (groups x top_n) support grid: per-group totals
        # crossed with the broadcast top-k vocabulary + 1-row grand
        # total
        "js_hellinger",
        # three 1-row quantile-boundary frames + the 1-row global-max
        # timestamp broadcast onto the user frame
        "rfm_segments",
        # 1-row conformal-quantile frame broadcast onto the test set
        "conformal_intervals",
        # 1-row CI order-statistic frame crossed into the 1-row stats
        "poisson_bootstrap",
        # 1-row distinct-treatment-count + 1-row column-stats frames
        # crossed into the subject aggregates
        "cochrans_q",
        # ungrouped PAVA: the constant-key equi-join of the two
        # 50-row bin frames folds into a BNLJ of bounded frames
        "isotonic_calibration",
        # 1-row basket-count frame broadcast onto the rule table
        "association_rules",
        # two 1-row frames (moments × doubled-U) crossed into one row
        "effect_sizes",
        # strict-inequality join of the two bounded (≤max_cells,
        # enforced) contingency-grid sides + 1-row tie frames
        "kendall_tau_b",
        # 1-row grand-median + 1-row totals frames broadcast onto the
        # data scan / k-row group counts
        "mood_median_test",
        # 1-row totals frame broadcast onto the count-domain
        # frequency-of-frequencies table (constant-key join folds)
        "good_turing",
        # 1-row trapezoid-Gini total broadcast onto the value-domain
        # curve table (the roc_points shape)
        "lorenz_curve",
        # 1-row totals/max frames broadcast onto bounded stepped /
        # observed frames (constant-key joins fold to BNLJ)
        "passing_bablok", "gsea_prerank",
        # 1-row observed-MMD frame crossed into the B-row perm frame
        "embedding_mmd",
        # 1-row reference-group rates broadcast onto the k-group frame
        "fairness_report",
        # 1-row grand/treatment/block scalar frames crossed into one
        # row (all bounded aggregates; constant-key joins fold)
        "rm_anova_1way",
        # round-13 opt: exact path stitches k 1-row distinct-count
        # aggregates onto the 1-row moments frame via broadcast cross
        # (replaces the k-way Expand of multi-count_distinct)
        "data_profile",
        # round-13 opt: the truth/candidate cardinalities are 1-row
        # aggregates broadcast-crossed onto the 1-row hit count
        # (replaces two driver-side count() barriers)
        "lsh_candidate_eval",
    }
    # Identical checks on identical plans — but built on a small
    # driver thread pool: each entry's build + physical planning is
    # independent JVM work (py4j opens one connection per thread), and
    # serial construction of all 499 plans was the single slowest test
    # in the suite (88 s of the round-14 idle run). Thread count stays
    # small so the shared session's analyzer lock contention does not
    # dominate.
    from concurrent.futures import ThreadPoolExecutor

    def _lint(item):
        name, fn = item
        plan = explain_str(fn(spark, SF_ORACLE), "simple")
        if "CartesianProduct" in plan:
            return name, "CartesianProduct"
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            return name, "unexpected BroadcastNestedLoopJoin"
        return None

    # building a query must not leak session conf; the threads share
    # one session, so a set() while building one query reaches the rest
    conf_before = dict(spark.conf.getAll)
    with ThreadPoolExecutor(max_workers=4) as pool:
        bad = dict(
            r for r in pool.map(_lint, em.queries().items()) if r
        )
    assert not bad, bad
    assert dict(spark.conf.getAll) == conf_before


def test_cms_sketch_partial_aggregation(spark):
    """The count-min grid must partial-aggregate map-side — that cap
    (depth*width rows per task) is the whole scale story."""
    from padua_spark.extensions.sketches import cms_token_sketch

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    sk = cms_token_sketch(docs, "text", depth=4, width=256)
    assert has_partial_aggregate(sk), explain_str(sk)[:2000]


def test_multi_consumer_frames_are_cached(spark):
    """Operators whose intermediate feeds several branches must cache
    it — Spark does not reuse exchanges across differently-projected
    branches, so an uncached frame re-runs its whole upstream per
    consumer (the windowed_psi 3-scan finding)."""
    import __spark_entry__ as em

    # NOTE textrank_keywords also caches multi-consumer frames, but
    # pagerank's per-iteration localCheckpoint truncates the final
    # plan to a Scan ExistingRDD, so no InMemoryTableScan can appear
    # in its explain — its persists are exercised by the bench, not
    # assertable here.
    for name in ("windowed_psi", "windowed_token_divergence",
                 "dedup_spans", "bm25_topk",
                 "mutual_information",
                 # round-7 multi-consumer frames: shingle/token/edge
                 # intermediates feeding 3-4 branches each
                 "ppjoin_pairs", "containment_pairs", "token_pmi",
                 "keyness_llr", "triangle_count", "hll_distinct",
                 # round-13: mining base/freq + modularity tagged
                 # persists (the 7x base-distinct recompute fix)
                 "association_rules", "item_cosine",
                 "graph_modularity"):
        plan = explain_str(em.queries()[name](spark, SF_ORACLE), "simple")
        assert "InMemoryTableScan" in plan, f"{name}: no cache in plan"


def test_bm25_single_corpus_scan(spark):
    """bm25_topk scans (and tokenizes) the documents parquet exactly
    once: the tokenized per_doc projection is persisted, so its three
    consumers (corpus stats, document frequencies, scored explode)
    read the InMemoryRelation instead of re-running the scan."""
    from padua_spark.extensions.text import bm25_topk
    from padua_spark.io_utils import unpersist_intermediates

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    out = bm25_topk(docs, "doc_id", "text", "hash join scan", k=5)
    plan = explain_str(out, "simple")
    # The plan STRING prints the cached relation's subtree (incl. its
    # FileScan) once per consumer; the scan executes once. The real
    # assertion is that every documents scan sits under an
    # InMemoryRelation — an uncached consumer would print a FileScan
    # with no InMemoryRelation wrapper and break the equality.
    n_scans = plan.count("documents.parquet")
    assert n_scans == plan.count("InMemoryRelation") == 3, plan
    assert plan.count("InMemoryTableScan") == 3, plan
    assert unpersist_intermediates(out) == 1


def test_exact_test_fold_plan_no_python(spark):
    """The exact-test family (Fisher here as the exemplar) is ONE
    aggregation to the 2x2 cell counts plus a JVM higher-order fold
    over the hypergeometric support — no Python eval anywhere in the
    physical plan, and the fact scan feeds exactly one
    partial+final HashAggregate pair."""
    from padua_spark.operators.stats import fisher_exact

    li = _li(spark)
    out = fisher_exact(
        li.withColumn("_exp", F.col("l_discount") > 0.05)
          .withColumn("_out", F.col("l_returnflag") == "R"),
        "_exp", "_out",
    )
    plan = explain_str(out)
    assert "EvalPython" not in plan and "InPandas" not in plan, plan
    assert has_partial_aggregate(out)
    simple = explain_str(out, "simple")
    # one aggregation = one partial + one final HashAggregate
    assert simple.count("HashAggregate") == 2, simple


def test_newton_fits_fixed_job_count(spark):
    """The SQL-twin Newton fits run EXACTLY one Spark job per
    iteration over the persisted base (plus constant setup): the job
    count grows by n_extra iterations, i.e. no per-iteration growth
    in plan depth or recomputation of the lineage."""
    import numpy as np

    from padua_spark.operators.ml import logistic_regression
    from padua_spark.operators.stats import cox_ph

    rng = np.random.RandomState(7)
    n = 300
    x1 = rng.normal(size=n)
    x2 = rng.normal(size=n)
    rows = [
        (float(a), float(b),
         float(rng.exponential(np.exp(-0.5 * a))),
         int(rng.random() < 0.7),
         int(1 / (1 + np.exp(-(a - b))) > rng.random()))
        for a, b in zip(x1, x2)
    ]
    df = spark.createDataFrame(rows, ["x1", "x2", "dur", "ev", "y"])
    sc = spark.sparkContext
    tracker = sc._jsc.sc().statusTracker()

    def jobs_for(tag, fn):
        sc.setJobGroup(tag, tag)
        fn()
        sc.setJobGroup("other", "other")
        return len(tracker.getJobIdsForGroup(tag))

    for fit, kw in (
        (lambda it: cox_ph(df, ["x1", "x2"], "dur", "ev",
                           n_iters=it).collect(), "cox"),
        (lambda it: logistic_regression(df, ["x1", "x2"], "y",
                                        n_iters=it).collect(), "logit"),
    ):
        # AQE splits one action into several jobs, so assert the
        # INVARIANT: jobs per extra iteration is a constant (no
        # lineage growth), by comparing two independent deltas
        n4 = jobs_for(f"{kw}4", lambda: fit(4))
        n8 = jobs_for(f"{kw}8", lambda: fit(8))
        n12 = jobs_for(f"{kw}12", lambda: fit(12))
        d1, d2 = n8 - n4, n12 - n8
        assert d1 == d2 and 0 < d1 <= 24, (kw, n4, n8, n12)


def test_stepped_helper_single_range_partition(spark, monkeypatch):
    """_stepped_running_counts (the shared backbone of ~20 rank/ECDF
    operators) introduces exactly ONE repartitionByRange per call on
    the large-domain path — the distributed two-pass cumsum never
    stacks range exchanges."""
    from padua_spark.operators.stats import _stepped_running_counts

    import padua_spark.operators.stats as _st_mod

    monkeypatch.setattr(_st_mod, "STEPPED_ROWS_PER_PARTITION", 1000)
    monkeypatch.setattr(_st_mod, "SMALL_ECDF_DOMAIN", 100)
    per = (
        _li(spark)
        .groupBy(F.col("l_extendedprice").alias("_v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    out = _stepped_running_counts(per, "_v", ["_c"])
    plan = explain_str(out)
    # the ranged frame is PERSISTED and its subtree prints once per
    # consumer (see test_bm25_single_corpus_scan): the range exchange
    # may appear several times in the STRING, but every occurrence
    # must sit under an InMemoryRelation — i.e. it executes at most
    # once, at cache materialization
    n_range = plan.count("rangepartitioning")
    assert 1 <= n_range <= plan.count("InMemoryRelation"), plan[:3000]


def test_markov_oracle_materialized_and_guard(spark):
    """The markov_attribution DuckDB twin must hint AS MATERIALIZED on
    its self-joining CTE ladder (plain CTEs are inlined and re-expand
    the base 2^n times), and the Spark side enforces its bounded
    driver-collect contract (max_states)."""
    import __spark_entry__ as em

    sql = em.oracle_sql()["markov_attribution"]
    assert "MATERIALIZED" in sql
    from padua_spark.operators.temporal import markov_attribution

    t = spark.createDataFrame(
        [("START", "a", 5), ("a", "CONV", 3), ("a", "NULL", 2)],
        ["src", "dst", "n"],
    )
    import pytest as _pt

    with _pt.raises(ValueError, match="max_states"):
        markov_attribution(t, max_states=1)


def test_round9_one_row_batteries_plan_shape(spark):
    """Round-9 agreement/calibration batteries: cronbachs_alpha is ONE
    partial+final aggregation pair (no window, no sort, no Python);
    icc_2_1 / weighted_kappa persist their bounded cells frame
    (InMemoryTableScan present) and stay JVM-side end-to-end."""
    import __spark_entry__ as em

    q = em.queries()
    plan = explain_str(q["cronbachs_alpha"](spark, SF_ORACLE), "simple")
    assert plan.count("HashAggregate") == 2, plan[:1500]
    assert "Window" not in plan and "Sort" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan
    for name in ("icc_2_1", "weighted_kappa"):
        p = explain_str(q[name](spark, SF_ORACLE), "simple")
        assert "InMemoryTableScan" in p, f"{name}: cells not cached"
        assert "Python" not in p and "ArrowEval" not in p, name


def test_round9_windows_are_bounded_frames(spark):
    """ece_calibration / gains_table use window functions ONLY over
    already-aggregated bounded frames (≤ n_bins / n_buckets rows):
    every Window node in the plan sits ABOVE a HashAggregate — no
    partitionless window ever touches a data-sized frame."""
    import __spark_entry__ as em

    q = em.queries()
    for name in ("ece_calibration", "gains_table"):
        plan = explain_str(q[name](spark, SF_ORACLE), "simple")
        lines = plan.splitlines()
        win_idx = [i for i, l in enumerate(lines) if "Window [" in l]
        assert win_idx, f"{name}: expected a window summary"
        for i in win_idx:
            below = "\n".join(lines[i:])
            # the window's INPUT subtree (printed below it) must
            # aggregate before the raw scan — bounded rows only
            assert "HashAggregate" in below, (
                f"{name}: window over an unaggregated frame\n"
                + plan[:2000]
            )


def test_acf_lag_windows_partition_by_group(spark):
    """The per-group ordered-window family's lag windows MUST carry
    the group key in their partition spec — a partitionless lag over
    the fact table would be a single-task global sort (the scale
    killer the BENCH_SF1 audit watches for)."""
    import __spark_entry__ as em

    q = em.queries()
    for name in ("acf_pacf", "durbin_watson", "runs_test",
                 "granger_causality"):
        plan = explain_str(q[name](spark, SF_ORACLE), "simple")
        for line in plan.splitlines():
            if "lag(" in line and "windowspecdefinition" in line:
                spec = line.split("windowspecdefinition", 1)[1]
                # partition columns print before the first ASC/DESC
                # order key; an empty partition spec starts with the
                # order column immediately — require the group key
                assert "l_returnflag" in spec.split("ASC")[0], (
                    f"{name}: partitionless lag window: {line[:200]}"
                )


def test_textrank_cache_and_truncation(spark):
    """textrank_keywords (re-included after the round-9 exemption):
    below BROADCAST_GRAPH_ROWS pagerank now FUSES the rank
    recurrence into one lazy plan — the final plan nests one
    BroadcastExchange per iteration boundary (k broadcast joins of
    the node-sized incoming frame into the cached contribution
    table; no localCheckpoint barrier, so NO Scan ExistingRDD), and
    the operator still tracks its three persisted intermediates
    (undirected edges, contribution table, nodes) for release."""
    import __spark_entry__ as em
    from padua_spark.io_utils import unpersist_intermediates

    out = em.queries()["textrank_keywords"](spark, SF_ORACLE)
    plan = explain_str(out, "simple")
    assert "Scan ExistingRDD" not in plan, plan[:1000]
    assert "BroadcastExchange" in plan, plan[:1000]
    assert "InMemoryTableScan" in plan, plan[:1000]
    out.limit(1).collect()
    assert unpersist_intermediates(out) == 3


def test_pagerank_small_path_is_one_fused_plan(spark, monkeypatch):
    """pagerank below BROADCAST_GRAPH_ROWS: the k-iteration
    recurrence compiles to ONE lazy plan — (k−1) broadcast joins of
    the incoming-mass frame plus the final node join (k total
    BroadcastExchanges, allowing AQE reuse to dedupe), every
    aggregation has a partial phase, no localCheckpoint RDD scan, no
    per-iteration node join of the data-sized frame. Above the
    threshold the canonical shuffle-join loop still checkpoints
    (Scan ExistingRDD present)."""
    import padua_spark.extensions.graph as graph
    from padua_spark.extensions.graph import pagerank

    edges = spark.range(30).select(
        (F.col("id") % 7).alias("src"),
        ((F.col("id") * 3 + 1) % 7).alias("dst"),
    )
    small = pagerank(edges, k_iters=3)
    plan = explain_str(small, "simple")
    assert "Scan ExistingRDD" not in plan, plan[:1500]
    assert plan.count("BroadcastExchange") >= 2, plan[:1500]
    monkeypatch.setattr(graph, "BROADCAST_GRAPH_ROWS", 0)
    big = pagerank(edges, k_iters=3)
    big_plan = explain_str(big, "simple")
    assert "Scan ExistingRDD" in big_plan, big_plan[:1500]
    # both paths agree numerically
    rs = {r["node"]: r["rank"] for r in small.collect()}
    rb = {r["node"]: r["rank"] for r in big.collect()}
    assert rs.keys() == rb.keys()
    for k in rs:
        assert abs(rs[k] - rb[k]) < 1e-12, (k, rs[k], rb[k])


def test_data_profile_expand_dial(spark):
    """data_profile's exact/approx dial (round-13 opt shape): the
    exact default computes the k distinct counts as k separate
    two-level aggregations broadcast-stitched onto the moments row —
    NO Expand node anywhere (the old multi-count_distinct compile
    replicated every input row k+1 times through both
    HashAggregates), and exact=False (approx_count_distinct
    sketches) stays a plain partial/final aggregation with no Expand
    and no joins. The approx estimates must agree with the exact
    counts within the documented HLL++ relative sd."""
    from padua_spark.extensions.quality import data_profile

    li = _li(spark).select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )
    exact_plan = explain_str(data_profile(li), "simple")
    assert "Expand" not in exact_plan, exact_plan[:1500]
    # the k 1-row distinct frames arrive as broadcast crosses; the
    # cached agg subtree prints once per union branch, so normalize
    # by the InMemoryRelation occurrence count
    assert exact_plan.count("BroadcastNestedLoopJoin") == (
        4 * exact_plan.count("InMemoryRelation")
    ), exact_plan[:1500]
    approx = data_profile(li, exact=False)
    approx_plan = explain_str(approx, "simple")
    assert "Expand" not in approx_plan, approx_plan[:1500]
    assert "PythonUDF" not in approx_plan
    # no Sort NODE (SortAggregate over zero grouping keys is fine and
    # sorts nothing; a standalone Sort would mean a global sort)
    assert not any(
        l.strip().lstrip("+-: ").startswith("Sort [")
        for l in approx_plan.splitlines()
    ), approx_plan[:1500]
    got_e = {
        r["column"]: r["n_distinct"]
        for r in data_profile(li).collect()
    }
    got_a = {
        r["column"]: r["n_distinct"] for r in approx.collect()
    }
    for c, nd in got_e.items():
        assert abs(got_a[c] - nd) <= max(4, 0.12 * nd), (c, nd, got_a[c])


def test_json_profile_approx_no_expand(spark):
    """json_profile exact=False: no Expand (single distinct per group
    never expands anyway, but the sketch path must also stay
    Expand-free and sort-free) and estimates near exact."""
    from padua_spark.extensions.quality import json_profile

    rows = [
        (i, '{"lang": "en", "score": "%d"}' % (i % 37),)
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["id", "meta"])
    approx = json_profile(df, "meta", exact=False)
    plan = explain_str(approx, "simple")
    assert "Expand" not in plan, plan[:1500]
    got = {r["key"]: r["n_distinct"] for r in approx.collect()}
    assert got["lang"] == 1
    assert abs(got["score"] - 37) <= 5


def test_regression_diagnostics_plan_shape(spark):
    """Round-10 regression-diagnostic battery: closed-form single/
    double aggregations with 1-row broadcast-backs — no Window node
    may touch a data-sized frame (any Window must sit above a
    HashAggregate), no Python crossing, no standalone global Sort
    node anywhere."""
    import __spark_entry__ as em

    q = em.queries()
    for name in ("breusch_pagan", "chow_test", "cooks_distance",
                 "mahalanobis_outliers"):
        plan = explain_str(q[name](spark, SF_ORACLE), "simple")
        lines = plan.splitlines()
        for i, l in enumerate(lines):
            # a Python crossing is allowed ONLY on a bounded
            # post-aggregate frame (chow's F survival rides the
            # 1-row statistic) — its input subtree must aggregate
            if "ArrowEvalPython" in l or "BatchEvalPython" in l:
                below = "\n".join(lines[i:])
                assert "HashAggregate" in below, (
                    f"{name}: Python over an unaggregated frame\n"
                    + plan[:2000]
                )
            if l.strip().lstrip("+-: ").startswith("Sort ["):
                below = "\n".join(lines[i:])
                assert "HashAggregate" in below, (
                    f"{name}: sort over an unaggregated frame\n"
                    + plan[:2000]
                )
            if "Window [" in l:
                below = "\n".join(lines[i:])
                assert "HashAggregate" in below, (
                    f"{name}: window over an unaggregated frame\n"
                    + plan[:2000]
                )


def test_var_roc_stepped_windows_bounded(spark):
    """value_at_risk / roc_points ride the shared stepped-cumsum:
    every Sort or Window in the plan must sit ABOVE a HashAggregate
    (the per-value count aggregation shrinks the frame to the
    DISTINCT-value domain first — at the oracle SF the helper's
    small-domain shortcut windows that bounded frame; at scale the
    repartitionByRange path takes over, pinned separately by
    test_stepped_helper_single_range_partition). A Sort or Window
    whose input subtree reaches the raw scan without aggregating
    would be the single-task global sort this family must never
    do."""
    import __spark_entry__ as em

    q = em.queries()
    for name in ("value_at_risk", "roc_points"):
        plan = explain_str(q[name](spark, SF_ORACLE), "simple")
        lines = plan.splitlines()
        hits = 0
        for i, l in enumerate(lines):
            stripped = l.strip().lstrip("+-: ")
            if stripped.startswith("Sort [") or "Window [" in l:
                hits += 1
                below = "\n".join(lines[i:])
                assert "HashAggregate" in below, (
                    f"{name}: sort/window over an unaggregated "
                    f"frame\n" + plan[:2000]
                )
        assert hits >= 1, f"{name}: expected a stepped pass\n{plan[:800]}"


def test_round11_window_families_partition_by_group(spark):
    """Round-11 ordered-window operators (kpss_level, dickey_fuller,
    cox_stuart_trend, pettitt_test, binary_segmentation): every lag /
    running-sum / row_number windowspec over the DATA-sized frame must
    carry the group key in its partition clause (the acf-family
    contract); median_ci's windows ride the AGGREGATED value-domain
    frame, asserted via the window-above-HashAggregate rule."""
    import __spark_entry__ as em

    q = em.queries()
    for name in ("kpss_level", "dickey_fuller", "cox_stuart_trend",
                 "pettitt_test", "binary_segmentation"):
        plan = explain_str(q[name](spark, SF_ORACLE), "simple")
        for line in plan.splitlines():
            if "windowspecdefinition" in line and (
                "lag(" in line or "row_number" in line
                or "sum(" in line
            ):
                spec = line.split("windowspecdefinition", 1)[1]
                head = spec.split("ASC")[0]
                assert (
                    "l_returnflag" in head or "_seg" in head
                    or "_b#" in head
                ), f"{name}: partitionless window: {line[:200]}"
    plan = explain_str(q["median_ci"](spark, SF_ORACLE), "simple")
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Window [" in l:
            below = "\n".join(lines[i:])
            assert "HashAggregate" in below, (
                "median_ci: window over an unaggregated frame\n"
                + plan[:1500]
            )


def test_windowed_monitor_build_shape_lint(spark):
    """Round-13 lint (VERDICT r12 item 7): the streaming window
    monitors must keep the one-stateful-aggregation shape. Two
    regressions shipped (and were fixed) in round 12 — a k-branch
    union of projections over one stateful agg re-plans the agg k
    times (windowed_gains_table 27.5->6.5 s after switching to ONE
    posexplode of a computed struct array), and a withColumn chain on
    a wide agg re-analyzes per call (windowed_binned_gini 28.6->6.2 s
    after one narrow select). This pins every windowed_* entry's
    optimized-plan Aggregate/Union node counts so the next monitor
    can't silently reintroduce either shape: a k-way union of
    re-planned aggregations shows up as agg≈k."""
    import re

    import __spark_entry__ as em

    # measured at the round-13 pin; a monitor may come in UNDER these
    PINNED = {
        "windowed_ddsketch": (2, 1),
        "windowed_fairness_check": (2, 1),
        "windowed_heavy_hitters": (3, 0),
        "windowed_novelty": (2, 0),
        "windowed_pinball_loss": (2, 1),
        "windowed_psi": (3, 0),
        "windowed_token_divergence": (3, 0),
    }
    DEFAULT = (1, 0)  # one stateful agg, no union — the target shape
    q = em.queries()
    monitors = sorted(n for n in q if n.startswith("windowed_"))
    assert len(monitors) >= 18
    for name in monitors:
        df = q[name](spark, SF_ORACLE)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        nagg = len(re.findall(r"\bAggregate \[", opt))
        nunion = len(re.findall(r"\bUnion\b", opt))
        max_agg, max_union = PINNED.get(name, DEFAULT)
        assert nagg <= max_agg and nunion <= max_union, (
            f"{name}: optimized plan has {nagg} Aggregate / "
            f"{nunion} Union nodes (pinned max {max_agg}/{max_union})"
            " — use one posexplode of a computed struct array instead"
            " of a k-branch union, and one narrow select off the wide"
            f" agg instead of a withColumn chain\n{opt[:1200]}"
        )


def test_scale_union_single_group_exchange(spark):
    """hurst_rs/dfa_hurst per-scale passes share ONE group-keyed
    exchange (round-14 reshape): the cached indexed frame hides its
    window partitioning (AQE-cached plan), so without the explicit
    group repartition every scale re-shuffled by (group, block) — 2
    exchanges per scale. Pin: no hashpartitioning on (group, _blk)
    anywhere; exactly one REPARTITION_BY_COL exchange feeding the
    scale windows."""
    import re

    import __spark_entry__ as em

    for name in ("hurst_rs", "dfa_hurst"):
        plan = explain_str(em.queries()[name](spark, SF_ORACLE),
                           "formatted")
        # [^\n]* (not [^)]*) so a nested key expression such as
        # cast(g#1 as bigint) cannot hide a (group, _blk) exchange
        blk_exch = re.findall(r"hashpartitioning\([^\n]*_blk", plan)
        assert not blk_exch, (
            f"{name}: per-scale (group, _blk) exchange reappeared "
            f"({len(blk_exch)} found)"
        )
        # No positive REPARTITION_BY_COL assertion: cold (cache
        # unmaterialized) plans show the explicit group repartition,
        # but when a previous run left the indexed frame materialized
        # in the CacheManager the cache exposes
        # hashpartitioning(group) and the optimizer elides the
        # now-redundant repartition entirely — zero exchanges,
        # strictly better. The invariant in both states is the
        # absence of per-scale (group, _blk) exchanges, asserted
        # above.
