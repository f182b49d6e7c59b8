"""Distributed graph primitives for dedup clustering.

The curation pipeline's near-dup stage emits candidate PAIRS; turning
pairs into true duplicate CLUSTERS (so one canonical doc survives per
cluster, not per pair) needs connected components over the candidate
graph. The reference has no graph surface at all — this is a
beyond-reference training-pipeline operator (driver north-star).

Scale posture: min-label propagation PLUS a pointer-jump (path-halving)
step each round — propagation alone needs O(graph diameter) rounds,
which silently under-converges on long chains; the jump step rewrites
each node's label to its label's label (monotone non-increasing), so
the distance covered per round doubles and total rounds are
O(log diameter) — the same bound as large-star/small-star (Kiveris et
al., "Connected Components in MapReduce and Beyond") with simpler
per-round plans (two hash joins + one hash aggregation). Each round
``localCheckpoint``s its (node, component) frame: the jump step
references the round's frame TWICE (once as data, once as the label
lookup table), so the logical plan would double per round — persist()
caches blocks but Catalyst still re-analyzes the full lineage, and the
doubled plan OOMs the driver within ~20 rounds. localCheckpoint
truncates lineage to the materialized blocks, keeping every round's
plan O(1). Convergence detection costs one count-sized job per round.
Non-convergence within ``max_iter`` raises instead of returning wrong
labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from padua_spark.io_utils import local_frame

#: Node (edge, for the triangle family) count at/below which the graph
#: operators broadcast that join side — 2M rows of (id, double) is a few
#: tens of MB — instead of the at-scale shuffle joins with per-round
#: ``localCheckpoint``. Tests set it to 0 to pin the at-scale plan.
BROADCAST_GRAPH_ROWS = 2_000_000


def _undirected_edges(edges, src_col, dst_col, v="_v") -> DataFrame:
    """The simple undirected edge set of ``edges``: every pair oriented
    ``_u`` = least / ``v`` = greatest endpoint, self-loops dropped,
    duplicates removed — the one symmetrisation behind the triangle,
    clustering, assortativity and spatial-autocorrelation operators."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("_u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias(v),
        )
        .where(F.col("_u") != F.col(v))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    small_graph_threshold: int = 100_000,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id reachable from the node — a
    deterministic canonical cluster label any engine agrees on.

    Convergence detection is free of frame-diffing: per-node labels
    only ever decrease, so the global ``sum(component)`` strictly
    decreases until fixpoint; an unchanged sum IS convergence.

    **Adaptive small-graph shortcut** (same discipline as the ECDF
    small-domain shortcut in ``stats``): the symmetrized edge list is
    persisted and counted first; at/below ``small_graph_threshold``
    edges the components are computed with driver-side union-find
    over the collected (bounded!) edge list — zero iteration jobs
    instead of one fused job per round, which on real dedup workloads
    is the common case: LSH candidate pairs are a vanishing fraction
    of the corpus (bench sf0.1: 256 pairs from 20k docs), while the
    per-round fixed cost (scheduling + localCheckpoint materialize)
    dominates regardless of data size. Pass ``0`` to force the
    distributed path (tests do). Labels are identical between paths:
    min-reachable-id is path-independent.

    Why not large-star/small-star (Kiveris et al.): its round bound
    equals the pointer-jump bound already used here (O(log n)), but
    each of its rounds re-shuffles the full EDGE list with skewed
    star-center keys, vs two hash joins on the (smaller) label frame
    here — and on the dedup workloads measured, convergence takes ONE
    round, so round count is not the binding cost; fixed per-round
    overhead is, which the shortcut removes outright.
    """
    # persist the symmetrized edge list: every iteration joins against
    # it, and without the persist each round would recompute the entire
    # upstream pipeline (e.g. the MinHash candidate generation) from
    # scratch — measured 4× on the dedup_clusters benchmark.
    # Symmetrize via ONE scan (explode of both orientations) instead of
    # union(edges, edges.swapped): a union references the upstream plan
    # twice, so materializing the persist would run the (expensive)
    # pair-generation pipeline twice — measured ~2.5s extra on the
    # dedup_clusters bench at sf0.1.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src).alias("_s"), F.col(dst).alias("_d")
                    ),
                    F.struct(
                        F.col(dst).alias("_s"), F.col(src).alias("_d")
                    ),
                )
            ).alias("_e")
        )
        .select("_e._s", "_e._d")
        .distinct()
        .persist()
    )
    n_edges = sym.count()  # materializes the persist; one scalar job
    if n_edges <= small_graph_threshold:
        # Driver-side union-find over the BOUNDED edge list (at most
        # small_graph_threshold rows by construction — the same
        # explicit-bound contract as the ml.py Gram-matrix guard).
        rows = sym.collect()
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for s, d in rows:
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rs] = rd
        comp_min: dict = {}
        for node in parent:
            r = find(node)
            m = comp_min.get(r)
            if m is None or node < m:
                comp_min[r] = node
        out_rows = sorted(
            (node, comp_min[find(node)]) for node in parent
        )
        from pyspark.sql.types import StructField, StructType

        node_type = sym.schema["_s"].dataType
        schema = StructType(
            [
                StructField("node", node_type),
                StructField("component", node_type),
            ]
        )
        result = local_frame(edges.sparkSession, out_rows, schema)
        sym.unpersist()
        return result
    # seed each node with min(node, neighbors) — algebraically the
    # result of the first propagation round, for free inside the same
    # aggregation that enumerates the node set (saves one full round).
    labels = (
        sym.groupBy("_s")
        .agg(F.min("_d").alias("_mn"))
        .select(
            F.col("_s").alias("node"),
            F.least(F.col("_s"), F.col("_mn")).alias("component"),
        )
        .localCheckpoint(eager=False)
    )
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    converged = prev_sum is None  # no edges → nothing to do
    for _ in range(max_iter):
        msgs = sym.join(
            labels, sym["_s"] == labels["node"]
        ).select(F.col("_d").alias("node"), F.col("component"))
        prop = (
            labels.union(msgs)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump (path halving): component ← label(component).
        # Every label value is itself a node (it's a min over node
        # ids), and a node's label only decreases, so the lookup is
        # total and monotone; chains collapse in O(log n) rounds.
        lut = prop.select(
            F.col("node").alias("_ln"), F.col("component").alias("_lc")
        )
        # localCheckpoint (not persist): truncates the logical plan so
        # the double self-reference above can't compound across rounds;
        # eager=False defers materialization to the convergence agg
        # below, so each round runs ONE job (materialize + sum fused)
        # instead of two — measured ~25% off the dedup_clusters bench.
        # Old rounds' blocks are dropped by the ContextCleaner once
        # unreferenced.
        new_labels = (
            prop.join(lut, prop["component"] == lut["_ln"], "left")
            .select(
                prop["node"],
                F.coalesce(lut["_lc"], prop["component"]).alias(
                    "component"
                ),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = new_labels.agg(F.sum("component")).collect()[0][0]
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    # the returned frame is persisted+materialized; the edge cache is
    # no longer needed (lineage stays valid for recompute-on-eviction)
    sym.unpersist()
    if not converged:
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations; raise max_iter"
        )
    return labels


def cluster_assignments(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Every row of ``df`` labeled with its duplicate-cluster id:
    the connected component over ``pairs`` when the id appears in any
    pair, else the id itself (singleton cluster). Output:
    ``df.columns + [cluster_id]``."""
    comp = connected_components(pairs, src=pair_a, dst=pair_b)
    return (
        df.join(comp, on=[df[id_col] == comp["node"]], how="left")
        .select(
            *[df[c] for c in df.columns],
            F.coalesce(comp["component"], df[id_col]).alias("cluster_id"),
        )
    )


def keep_best_per_cluster(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    quality_col: str,
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """The dedup KEEP step: per duplicate cluster, elect the canonical
    document — highest ``quality_col``, ties broken by ascending id —
    and report the cluster around it. Output: one row per cluster,
    ``(cluster_id, canonical_id, best_quality, cluster_size)``.

    Composes :func:`cluster_assignments` (pairs → components) with a
    single ``max_by``-shaped aggregation: the per-cluster argmax is a
    plain groupBy on ``cluster_id`` (partial aggregation applies — each
    map task reduces to one candidate row per cluster before the
    shuffle, so the exchange carries O(clusters · tasks) rows, never
    the corpus). No window sort needed: argmax-by-(quality, -id) is an
    associative/commutative MAX over an ordered pair, done here as a
    ``max(struct)`` whose struct field order IS the comparison order.

    The id tiebreak is encoded as ``-id`` inside the struct (struct
    comparison is lexicographic and all-ascending), so "max quality,
    then min id" is one max.
    """
    labeled = cluster_assignments(df, id_col, pairs)
    best = F.max(
        F.struct(
            F.col(quality_col).alias("q"),
            (-F.col(id_col)).alias("negid"),
        )
    )
    return (
        labeled.groupBy("cluster_id")
        .agg(
            best.alias("_best"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .select(
            "cluster_id",
            (-F.col("_best.negid")).alias("canonical_id"),
            F.col("_best.q").alias("best_quality"),
            "cluster_size",
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k_iters: int = 5,
    damping: float = 0.85,
    edges_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — importance
    propagation for link-graph curation (seed-quality spreading along
    citation/hyperlink edges; a beyond-reference training-pipeline
    operator like :func:`connected_components`).

    Semantics (documented precisely so any engine reproduces it):
    ``rank₀ = 1/N``;
    ``rank_{t+1}(v) = (1−d)/N + d·Σ_{u→v} rank_t(u)/outdeg(u)`` over
    DISTINCT edges, for exactly ``k_iters`` iterations. Dangling-node
    mass is dropped, not redistributed (the common practical
    simplification, e.g. GraphX staticPageRank) — ranks need not sum
    to 1.

    Scale shape: the (src, dst, outdeg) contribution table is built
    once, persisted (recorded on the result for
    ``io_utils.unpersist_intermediates``), and joined against the
    rank frame each iteration. N is one scalar count (driver-side,
    legitimate) — and it doubles as the join-strategy pivot: when
    ``n_nodes <= BROADCAST_GRAPH_ROWS`` the rank recurrence is
    FUSED into one lazy plan — ``rank_t(u) = base + d·in_t(u)`` is
    inlined into the contribution join, so each iteration is a
    broadcast join of the previous node-sized incoming-mass frame
    into the cached contribution table plus one map-side-combined
    dst aggregation (shuffle ≤ nodes × partitions rows, never
    edges); iteration 1 needs no join at all (uniform rank₀ is a
    literal). No per-iteration node join, no per-iteration
    checkpoint barrier: the whole k-iteration computation executes
    as ONE job over nested broadcast exchanges (each level has
    exactly one consumer, so lineage is linear in k and nothing
    recomputes — the plan-depth hazard only bites frames consumed
    twice per round, see connected_components). Above the threshold
    (billion-node graphs, where a rank broadcast would not fit) it
    falls back to the canonical shuffle-join plan — one shuffle per
    iteration on the dst key, with per-iteration
    ``localCheckpoint`` (eager=False) so the logical plan stays
    O(1) deep.

    Output: ``(node, rank)`` for every node appearing in the edges.
    Pass ``edges_distinct=True`` when the caller GUARANTEES the
    (src, dst) list is already duplicate-free (e.g. textrank's
    symmetrized canonical pairs) — skips the edge-dedup shuffle.
    """
    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    )
    cached = []
    if not edges_distinct:
        # e feeds FOUR consumers (outdeg, the contrib join's probe
        # side, and both branches of the nodes union) — without a
        # persist the caller's whole edge pipeline (often a fact-fact
        # join) re-runs per consumer. When the caller guarantees
        # distinct edges it also owns their caching (textrank passes
        # a union over its own persisted frame).
        e = e.distinct().persist()
        cached.append(e)
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
        .persist()
    )
    # node count BEFORE the contribution build (round-12 reorder): it
    # is both the rank base AND the join-strategy pivot — when the
    # graph is below the rank-broadcast threshold, the out-degree
    # frame (≤ n_nodes rows) is broadcast into the contribution join,
    # so the full edge list is never shuffled to build contrib
    # (measured: contrib stage 1.65→0.80 s on the sf0.1 trade graph).
    n_nodes = nodes.count()
    small = n_nodes <= BROADCAST_GRAPH_ROWS
    outdeg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_o"))
    eprobe = e
    if small:
        outdeg = F.broadcast(outdeg)
        # Small-graph iteration cost is task-count-bound, not
        # data-bound: e carries the shuffle.partitions layout (2x
        # after a symmetrizing union) of tiny partitions, and every
        # fused iteration re-scans that many cached tasks. Coalesce
        # the probe side to cores/4 — it scales with the cluster, so
        # a 1000-executor job keeps thousands of partitions while
        # local[32] drops 64 tiny tasks to 8 (measured -25% on the
        # iterate stage at sf0.1, tools/ppr_dissect.py round 13).
        eprobe = e.coalesce(
            max(1, e.sparkSession.sparkContext.defaultParallelism // 4)
        )
    contrib = eprobe.join(outdeg, on="_s").persist()
    if n_nodes == 0:
        from padua_spark.io_utils import track_cached

        empty = nodes.withColumn("rank", F.lit(0.0))
        return track_cached(empty, contrib, nodes, *cached)
    base = (1.0 - damping) / n_nodes
    from padua_spark.io_utils import track_cached

    if small and k_iters > 0:
        # fused plan: rank_t(u) = base + d·in_t(u) inlined into the
        # contribution join — no node join, no checkpoint barrier
        od = F.col("_o").cast("double")
        inc = contrib.groupBy(F.col("_d").alias("node")).agg(
            F.sum(F.lit(1.0 / n_nodes) / od).alias("_in")
        )
        for _ in range(k_iters - 1):
            rank_u = F.lit(base) + F.lit(damping) * F.coalesce(
                F.col("_in"), F.lit(0.0)
            )
            inc = (
                contrib.join(
                    F.broadcast(inc),
                    contrib["_s"] == inc["node"],
                    "left",
                )
                .select(
                    F.col("_d").alias("node"),
                    (rank_u / od).alias("_m"),
                )
                .groupBy("node")
                .agg(F.sum("_m").alias("_in"))
            )
        ranks = nodes.join(
            F.broadcast(inc), on="node", how="left"
        ).select(
            "node",
            (
                F.lit(base)
                + F.lit(damping)
                * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
        )
        return track_cached(ranks, contrib, nodes, *cached)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    for _ in range(k_iters):
        incoming = (
            contrib.join(ranks, contrib["_s"] == ranks["node"])
            .select(
                F.col("_d").alias("node"),
                (F.col("rank") / F.col("_o").cast("double")).alias("_m"),
            )
            .groupBy("node")
            .agg(F.sum("_m").alias("_in"))
        )
        ranks = (
            nodes.join(incoming, on="node", how="left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return track_cached(ranks, contrib, nodes, *cached)


def triangle_count(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    persist_oriented: bool = True,
) -> DataFrame:
    """Global triangle count and transitivity of an undirected graph
    via degree orientation (the MapReduce-era standard that makes the
    wedge join skew-proof): orient every edge from the (degree, id)-
    smaller endpoint to the larger, turning the graph into a DAG where
    each vertex's OUT-degree is O(sqrt(m)) regardless of how hot the
    original hubs were — so the wedge self-join ``(u→v)⋈(v→w)`` never
    explodes on a celebrity vertex, and every triangle is generated
    from exactly one wedge (its degree-smallest vertex).

    On the near-dup candidate graph this measures cluster cliquishness:
    transitivity ≈ 1 means candidates form tight duplicate cliques
    (LSH is finding real groups); low transitivity flags chainy,
    threshold-straddling candidate sets.

    Input rows are undirected edges (self-loops and duplicate/reversed
    pairs are cleaned first). Returns one row:
    ``(n_nodes, n_edges, n_wedges, n_triangles, transitivity)`` with
    ``transitivity = 3·triangles / wedges`` (NULL when wedge-free).

    Small-graph pivot (the pagerank/label_propagation lever): when the
    cleaned edge frame has at most :data:`BROADCAST_GRAPH_ROWS` rows
    (one count on the already-persisted frame — the edge count the
    output needs anyway), the degree/wedge/closing join sides are
    broadcast and the probe side coalesced to cores/4: a
    candidate-graph edge list is typically thousands of rows, and
    without the pivot its five shuffle joins schedule full-width
    exchanges of near-empty partitions. The at-scale path (above the
    threshold) is byte-identical to before.

    The pivot requires ``persist_oriented=True`` (the default): the
    gating count is only taken on the persisted frame — counting an
    UNPERSISTED edge frame would re-run the caller's whole upstream
    pipeline just to pick a join strategy, which costs more than the
    pivot saves. With ``persist_oriented=False`` the threshold is
    inert and the canonical shuffle-join plan always runs.
    """
    e = _undirected_edges(edges, src_col, dst_col)
    small = False
    if persist_oriented:
        # the cleaned edge frame feeds FOUR consumers (degree union x2,
        # the orientation join, the edge count); without a persist the
        # whole upstream candidate-generation pipeline re-runs per
        # consumer (measured 8s -> ~4s on the minhash graph at sf0.1)
        from pyspark import StorageLevel

        e = e.persist(StorageLevel.MEMORY_AND_DISK)
        small = e.count() <= BROADCAST_GRAPH_ROWS
    deg = (
        e.select(F.col("_u").alias("_x"))
        .unionAll(e.select(F.col("_v").alias("_x")))
        .groupBy("_x")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    du = deg.select(
        F.col("_x").alias("_u"), F.col("_deg").alias("_du")
    )
    dv = deg.select(
        F.col("_x").alias("_v"), F.col("_deg").alias("_dv")
    )
    eprobe = e
    if small:
        eprobe = e.coalesce(
            max(1, e.sparkSession.sparkContext.defaultParallelism // 4)
        )
    ranked = eprobe.join(
        F.broadcast(du) if small else du, on="_u"
    ).join(F.broadcast(dv) if small else dv, on="_v")
    fwd = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("_u") < F.col("_v"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("_u")).otherwise(F.col("_v")).alias("_s"),
        F.when(fwd, F.col("_v")).otherwise(F.col("_u")).alias("_d"),
    )
    if persist_oriented:
        from pyspark import StorageLevel

        oriented = oriented.persist(StorageLevel.MEMORY_AND_DISK)
    w1 = oriented.select(
        F.col("_s").alias("_a"), F.col("_d").alias("_b")
    )
    w2 = oriented.select(
        F.col("_s").alias("_b"), F.col("_d").alias("_c")
    )
    wedges = w1.join(
        F.broadcast(w2) if small else w2, on="_b"
    ).select("_a", "_b", "_c")
    # the orientation is a TOTAL order ((deg, id) ascending), so in a
    # wedge a→b→c we have a < b < c, and the closing edge — if it
    # exists — is necessarily oriented a→c: a plain equi semi-join,
    # never a disjunctive nested-loop
    closing = oriented.select(
        F.col("_s").alias("_a"), F.col("_d").alias("_c")
    )
    tri = wedges.join(
        F.broadcast(closing) if small else closing,
        on=["_a", "_c"], how="left_semi",
    )
    # open-wedge count for transitivity uses the UNDIRECTED wedge
    # count Σ_x deg(x)·(deg(x)-1)/2 — a one-pass aggregate over the
    # degree table, not the oriented wedge frame
    stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        (F.sum(F.col("_deg") * (F.col("_deg") - 1)) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_tri = tri.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    out = (
        stats.join(F.broadcast(n_edges))
        .join(F.broadcast(n_tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                3.0
                * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double"),
            ).alias("transitivity"),
        )
    )
    if persist_oriented:
        from padua_spark.io_utils import track_cached

        out = track_cached(out, oriented, e)
    return out


def kcore_peel(
    edges: DataFrame,
    k: int,
    n_rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by FIXED-ROUND peeling — the standard
    graph-curation primitive (keep the cohesive core of a link/
    co-occurrence graph; drop tendrils): each round computes degrees,
    keeps nodes with ``degree ≥ k``, and restricts edges to kept
    endpoints. With ``n_rounds`` at least the peeling depth the
    result IS the k-core; fewer rounds give the documented
    ``n_rounds``-step peel (the same fixed-schedule discipline as
    :func:`~padua_spark.operators.stats.cox_ph` — a deterministic
    relational program any engine reproduces).

    Per round: one map-side-combining degree aggregation + two
    semi-joins. Every round's edge frame has TWO consumers (the
    degree aggregation and the semi-join restriction), so the plan
    would DOUBLE per round — ``localCheckpoint`` (the
    :func:`connected_components` discipline, not ``persist``:
    Catalyst re-analyzes a persisted frame's full lineage, which is
    exponential here — measured 40 s → 3 s at sf0.1) truncates each
    round to its materialized blocks. Self-loops are dropped; the
    edge list is symmetrized and deduplicated first, so degrees
    count distinct neighbors. Output: surviving ``(node, degree)`` —
    the degree in the final restricted graph.
    """
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .where(F.col("_s") != F.col("_d"))
    )
    sym = e.unionByName(
        e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).distinct()
    cur = sym.localCheckpoint(eager=False)
    for _ in range(int(n_rounds)):
        deg = cur.groupBy("_s").agg(
            F.count(F.lit(1)).cast("bigint").alias("_deg")
        )
        keep = deg.where(F.col("_deg") >= F.lit(int(k))).select("_s")
        cur = (
            cur.join(keep, on="_s", how="left_semi")
            .join(
                keep.select(F.col("_s").alias("_d")),
                on="_d",
                how="left_semi",
            )
            .localCheckpoint(eager=False)
        )
    return (
        cur.groupBy(F.col("_s").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


def label_propagation(
    edges: DataFrame,
    n_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) with a DETERMINISTIC schedule: every node starts
    with its own id as label; each round every node adopts the most
    frequent label among its neighbors, ties broken toward the
    SMALLEST label; after the fixed ``n_rounds`` the (node, label)
    assignment is returned. The fixed synchronous schedule (no
    random order, no data-dependent stopping) makes the result an
    engine-reproducible relational program — the same discipline as
    :func:`kcore_peel` / :func:`~padua_spark.operators.stats.cox_ph`
    — at the cost of the classic caveat that a bipartite-ish graph
    may oscillate rather than converge (callers pick ``n_rounds``;
    communities on near-dup / co-occurrence graphs stabilize in a
    few rounds).

    Scale shape: per round ONE edge-label equi-join (labels frame is
    node-sized, edges dominate) + one map-side-combining
    (node, label) count + one argmax aggregation — all shuffles on
    the node key; no windows over data-sized frames, no driver
    collect. When the node count is at most
    :data:`BROADCAST_GRAPH_ROWS` (one count job up front — the
    :func:`pagerank` pivot) the label frame is BROADCAST into the
    per-round join so the symmetrized edge frame is never reshuffled;
    above it the canonical shuffle join runs. Each round's label
    frame is ``localCheckpoint``-ed (lineage truncation, the
    :func:`connected_components` lesson).
    Self-loops are dropped and the edge list symmetrized, so
    "neighbors" means distinct adjacent nodes. Output:
    ``(node, label)``.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).where(
        F.col("_s") != F.col("_d")
    )
    sym = (
        e.unionByName(
            e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = sym.select(F.col("_s").alias("_n")).distinct()
    small = nodes.count() <= BROADCAST_GRAPH_ROWS
    sprobe = sym
    if small:
        # Small-graph probe side: the symmetrized edge frame carries
        # the upstream shuffle's partition count, so every broadcast-
        # join round schedules that many tiny tasks. Coalesce to
        # cores/4 (the pagerank lever) — scales with the cluster,
        # no-op concern only below the broadcast threshold.
        sprobe = sym.coalesce(
            max(1, sym.sparkSession.sparkContext.defaultParallelism // 4)
        )
    labels = nodes.select("_n", F.col("_n").alias("_lbl"))
    for _ in range(int(n_rounds)):
        lside = labels.select(F.col("_n").alias("_s"), "_lbl")
        nb = (sprobe if small else sym).join(
            F.broadcast(lside) if small else lside, on="_s"
        ).select(F.col("_d").alias("_n"), "_lbl")
        cnt = nb.groupBy("_n", "_lbl").agg(
            F.count(F.lit(1)).cast("bigint").alias("_c")
        )
        labels = (
            cnt.groupBy("_n")
            .agg(
                F.max(
                    F.struct(
                        F.col("_c"),
                        (-F.col("_lbl")).alias("_neg"),
                    )
                ).alias("_top")
            )
            .select("_n", (-F.col("_top._neg")).alias("_lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select(
        F.col("_n").alias("node"), F.col("_lbl").alias("label")
    )


def link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_center_degree: int = 1000,
    min_common: int = 1,
) -> DataFrame:
    """Neighborhood link-prediction scores for non-adjacent node
    pairs at distance 2 — common-neighbor count, Jaccard coefficient,
    and Adamic-Adar (``Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w)``) — the
    classic missing-edge rankers (Liben-Nowell & Kleinberg 2003) a
    co-occurrence / interaction graph pipeline scores candidates
    with.

    Scale shape: candidate pairs come from ONE wedge self-join on
    the center node (the :func:`triangle_count` shape) — never an
    all-pairs product. The wedge join is quadratic in the CENTER's
    degree, so hubs are excluded by the explicit
    ``max_center_degree`` bound (the enforced-contract discipline:
    a celebrity hub contributes ~0 signal — its ``1/ln(deg)`` term
    is negligible and its Jaccard contribution tiny — but would
    dominate the shuffle; the default caps per-center fan-out at
    ~10⁶ pairs). Existing edges are removed with an anti-join;
    per-pair aggregation is map-side combining on the (u, v) key.
    Output: ``(u, v, common, jaccard, adamic_adar)`` with u < v,
    floats 6dp, restricted to ``common ≥ min_common``.
    """
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d")).where(
        F.col("_s") != F.col("_d")
    )
    sym = (
        e.unionByName(
            e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = sym.groupBy(F.col("_s").alias("_n")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_deg")
    )
    adj = (
        sym.join(
            deg.where(F.col("_deg") <= F.lit(int(max_center_degree)))
            .select(
                F.col("_n").alias("_s"),
                F.when(
                    F.col("_deg") > 1,
                    F.lit(1.0) / F.log(F.col("_deg").cast("double")),
                ).alias("_invlog"),
            ),
            on="_s",
        )
        .select(F.col("_s").alias("_w"), F.col("_d").alias("_nb"), "_invlog")
    )
    a = adj.select(
        F.col("_w"), F.col("_nb").alias("_u"), F.col("_invlog")
    )
    b = adj.select(F.col("_w"), F.col("_nb").alias("_v"))
    pairs = (
        a.join(b, on="_w")
        .where(F.col("_u") < F.col("_v"))
        .groupBy("_u", "_v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common"),
            F.sum("_invlog").alias("_aa"),
        )
        .where(F.col("common") >= F.lit(int(min_common)))
    )
    nonadj = pairs.join(
        sym.select(F.col("_s").alias("_u"), F.col("_d").alias("_v")),
        on=["_u", "_v"],
        how="left_anti",
    )
    return (
        nonadj.join(deg.select(F.col("_n").alias("_u"),
                               F.col("_deg").alias("_du")), on="_u")
        .join(deg.select(F.col("_n").alias("_v"),
                         F.col("_deg").alias("_dv")), on="_v")
        .select(
            F.col("_u").alias("u"),
            F.col("_v").alias("v"),
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("_du") + F.col("_dv") - F.col("common"))
                .cast("double"),
                6,
            ).alias("jaccard"),
            F.round("_aa", 6).alias("adamic_adar"),
        )
    )


def hits(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k_iters: int = 3,
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) — hub and authority
    scores over a directed edge list, the query-independent companion
    to :func:`pagerank` for bipartite curation graphs (which SOURCES
    reliably point at good documents; which documents are pointed at
    by good sources):

    ``h₀(u) = 1``;  per iteration
    ``a_t(v) = Σ_{u→v} h_{t−1}(u)`` then L2-normalized,
    ``h_t(u) = Σ_{u→v} a_t(v)`` then L2-normalized — exactly
    ``k_iters`` rounds over DISTINCT edges (power iteration on AᵀA /
    AAᵀ; fixed rounds keep it engine-reproducible and SQL-twinnable,
    the same contract as :func:`pagerank` / :func:`kcore_peel`).

    Scale shape: the distinct edge frame is persisted once and
    joined per half-step against a NODE-sized score frame. When the
    larger node side is at most :data:`BROADCAST_GRAPH_ROWS` rows
    (one count job up front — the :func:`pagerank` pivot) the score
    frames are BROADCAST, so the edge frame is never reshuffled: the
    only per-half-step shuffle is the map-side-combined partial sums
    of the aggregation. Above the threshold it falls back to the
    canonical one-shuffle-per-half-step hash join. Each L2 norm is a
    1-row aggregate broadcast back; each round ``localCheckpoint``s
    (eager=False) so the logical plan stays O(1) deep across rounds
    instead of nesting 2k joins.

    Output: ``(node, role, score)`` — one row per distinct source
    (``role='hub'``) and per distinct destination
    (``role='authority'``), node rendered as string (the two sides of
    a bipartite graph often have different key types), scores rounded
    to 6dp.
    """
    from padua_spark.io_utils import track_cached

    e = (
        edges.select(
            F.col(src).cast("string").alias("_s"),
            F.col(dst).cast("string").alias("_d"),
        )
        .where(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .distinct()
        .persist()
    )
    hubs = e.select("_s").distinct().withColumn("_h", F.lit(1.0))
    n_side = max(
        e.agg(
            F.count_distinct("_s").alias("_ns"),
            F.count_distinct("_d").alias("_nd"),
        ).collect()[0][:2]
    )
    small = n_side <= BROADCAST_GRAPH_ROWS
    eprobe = e
    if small:
        # Small-graph probe side: coalesce the persisted edge frame to
        # cores/4 so each broadcast half-step schedules a handful of
        # cached tasks instead of one per upstream shuffle partition
        # (the pagerank lever; cluster-scaled, gated on the broadcast
        # threshold).
        eprobe = e.coalesce(
            max(1, e.sparkSession.sparkContext.defaultParallelism // 4)
        )
    auths = None
    for _ in range(k_iters):
        a_raw = (
            (eprobe if small else e)
            .join(F.broadcast(hubs) if small else hubs, on="_s")
            .groupBy("_d")
            .agg(F.sum("_h").alias("_a"))
        )
        a_norm = a_raw.agg(
            F.sqrt(F.sum(F.col("_a") * F.col("_a"))).alias("_z")
        )
        auths = (
            a_raw.join(F.broadcast(a_norm))
            .select(
                "_d",
                F.when(F.col("_z") > 0, F.col("_a") / F.col("_z"))
                .otherwise(F.lit(0.0))
                .alias("_a"),
            )
            .localCheckpoint(eager=False)
        )
        h_raw = (
            (eprobe if small else e)
            .join(F.broadcast(auths) if small else auths, on="_d")
            .groupBy("_s")
            .agg(F.sum("_a").alias("_h"))
        )
        h_norm = h_raw.agg(
            F.sqrt(F.sum(F.col("_h") * F.col("_h"))).alias("_z")
        )
        hubs = (
            h_raw.join(F.broadcast(h_norm))
            .select(
                "_s",
                F.when(F.col("_z") > 0, F.col("_h") / F.col("_z"))
                .otherwise(F.lit(0.0))
                .alias("_h"),
            )
            .localCheckpoint(eager=False)
        )
    out = hubs.select(
        F.col("_s").alias("node"),
        F.lit("hub").alias("role"),
        F.round("_h", 6).alias("score"),
    ).unionByName(
        auths.select(
            F.col("_d").alias("node"),
            F.lit("authority").alias("role"),
            F.round("_a", 6).alias("score"),
        )
    )
    return track_cached(out, e)


def local_clustering(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-node local clustering coefficient of an undirected graph —
    ``cc(v) = 2·T(v) / (deg(v)·(deg(v)−1))`` where ``T(v)`` is the
    number of triangles through v: the node-level face of
    :func:`triangle_count`'s global transitivity ("which documents
    sit inside tight duplicate cliques vs chainy threshold
    straddlers" — the per-node triage the global number can't give).

    Same skew-proof degree-orientation plan as
    :func:`triangle_count` (every out-degree O(√m) after orienting
    edges along the total (degree, id) order, so no hub explodes the
    wedge join; each triangle generated exactly once), then each
    found triangle credits its THREE corners via one explode +
    count — still bounded by the triangle count, never the hub
    degree². Output: one row per node:
    ``(node, degree, n_triangles, clustering_coef)``, 6dp; NULL
    coefficient for degree < 2.

    Beyond the reference; standard per Watts & Strogatz 1998.
    Small-graph pivot as in :func:`triangle_count`: at most
    :data:`BROADCAST_GRAPH_ROWS` cleaned edges (one count on the
    already-persisted frame) broadcasts the degree/wedge/closing join
    sides and coalesces the probe side to cores/4; the at-scale path
    is unchanged.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    e = _undirected_edges(edges, src_col, dst_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    small = e.count() <= BROADCAST_GRAPH_ROWS
    deg = (
        e.select(F.col("_u").alias("_x"))
        .unionAll(e.select(F.col("_v").alias("_x")))
        .groupBy("_x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    du = deg.select(F.col("_x").alias("_u"), F.col("_deg").alias("_du"))
    dv = deg.select(F.col("_x").alias("_v"), F.col("_deg").alias("_dv"))
    eprobe = e
    if small:
        eprobe = e.coalesce(
            max(1, e.sparkSession.sparkContext.defaultParallelism // 4)
        )
    ranked = eprobe.join(
        F.broadcast(du) if small else du, on="_u"
    ).join(F.broadcast(dv) if small else dv, on="_v")
    fwd = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("_u") < F.col("_v"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("_u")).otherwise(F.col("_v")).alias("_s"),
        F.when(fwd, F.col("_v")).otherwise(F.col("_u")).alias("_d"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    w1 = oriented.select(F.col("_s").alias("_a"), F.col("_d").alias("_b"))
    w2 = oriented.select(F.col("_s").alias("_b"), F.col("_d").alias("_c"))
    wedges = w1.join(
        F.broadcast(w2) if small else w2, on="_b"
    ).select("_a", "_b", "_c")
    closing = oriented.select(
        F.col("_s").alias("_a"), F.col("_d").alias("_c")
    )
    tri = wedges.join(
        F.broadcast(closing) if small else closing,
        on=["_a", "_c"], how="left_semi",
    )
    per_node = (
        tri.select(
            F.explode(
                F.array(F.col("_a"), F.col("_b"), F.col("_c"))
            ).alias("_x")
        )
        .groupBy("_x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_t"))
    )
    joined = deg.join(
        F.broadcast(per_node) if small else per_node,
        on="_x", how="left",
    )
    t = F.coalesce(F.col("_t"), F.lit(0)).cast("bigint")
    d = F.col("_deg").cast("double")
    cc = F.when(
        F.col("_deg") >= 2, 2.0 * t.cast("double") / (d * (d - 1.0))
    )
    out = joined.select(
        F.col("_x").alias("node"),
        F.col("_deg").alias("degree"),
        t.alias("n_triangles"),
        F.round(cc, 6).alias("clustering_coef"),
    )
    return track_cached(out, e, deg, oriented)


def degree_assortativity(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Degree assortativity of an undirected graph — the Pearson
    correlation of endpoint degrees over edges (Newman 2002): do
    high-degree nodes attach to each other (r > 0, social-style
    cores) or to leaves (r < 0, hub-and-spoke)? On a near-dup
    candidate graph, strongly negative r flags star-shaped false-
    positive hubs (one template matching everything).

    Computed over each undirected edge once with the symmetric
    half-sums (equivalent to summing both directions):

    ``r = [S_xy/M − S̄²] / [S_sq/M − S̄²]`` with ``S_xy = Σ j·k``,
    ``S̄ = (Σ (j+k)/2)/M``, ``S_sq = (Σ (j²+k²)/2)/M`` — every
    ingredient an exact integer (half-sums ×2 kept integral) until
    the final divisions. ONE degree aggregation + one edge join +
    one scalar aggregation. Output 1 row: ``(n_nodes, n_edges,
    assortativity)``, 6dp; NULL on degree-regular graphs (zero
    variance).
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    e = _undirected_edges(edges, src_col, dst_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    deg = (
        e.select(F.col("_u").alias("_x"))
        .unionAll(e.select(F.col("_v").alias("_x")))
        .groupBy("_x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_deg"))
    )
    du = deg.select(F.col("_x").alias("_u"), F.col("_deg").alias("_j"))
    dv = deg.select(F.col("_x").alias("_v"), F.col("_deg").alias("_k"))
    dec = "decimal(38,0)"
    j_ = F.col("_j").cast(dec)
    k_ = F.col("_k").cast(dec)
    agg = (
        e.join(du, on="_u")
        .join(dv, on="_v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.sum(j_ * k_).alias("_sxy"),
            F.sum(j_ + k_).alias("_s2"),       # 2·Σ(j+k)/2
            F.sum(j_ * j_ + k_ * k_).alias("_ssq2"),  # 2·Σ(j²+k²)/2
        )
        .withColumn("_one", F.lit(1))
    )
    nn = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    ).withColumn("_one", F.lit(1))
    m = F.col("n_edges").cast("double")
    sxy = F.col("_sxy").cast("double")
    sbar = F.col("_s2").cast("double") / 2.0 / m
    ssq = F.col("_ssq2").cast("double") / 2.0 / m
    num = sxy / m - sbar * sbar
    den = ssq - sbar * sbar
    out = agg.join(F.broadcast(nn), on="_one").select(
        "n_nodes", "n_edges",
        F.round(F.when(den > 0, num / den), 6).alias("assortativity"),
    )
    return track_cached(out, e)


def modularity(
    edges: DataFrame,
    labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Newman modularity Q of a community assignment over an
    UNDIRECTED graph — the quality score for
    :func:`label_propagation`'s output (or any partition: domains,
    dedup clusters): how much denser are within-community edges than
    a degree-preserving random rewiring?

    ``Q = Σ_c [ e_c/m − (d_c/(2m))² ]`` with ``m`` the undirected
    edge count, ``e_c`` the edges with BOTH endpoints in community
    ``c``, and ``d_c`` the total degree of ``c``'s nodes (Newman &
    Girvan 2004, eq. 5). Self-loops and duplicate/reversed pairs are
    cleaned first; nodes missing from ``labels`` form an implicit
    community each (their edges count toward m and their degrees
    toward nothing within — documented, matches igraph's NaN-label
    drop).

    Scale shape: TWO broadcast-free hash joins of the canonical edge
    list against the node-sized label frame (one per endpoint), then
    one aggregation per community and one ≤|C|-row roll-up — no
    windows over data-sized frames, no collect. Output 1 row:
    ``(n_nodes, n_edges, n_communities, modularity)``, 6dp; NULL Q
    when the graph has no edges.

    Beyond the reference; standard per Newman & Girvan 2004.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .where(F.col("_u") != F.col("_v"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    lab = labels.select(
        F.col(node_col).alias("_n"), F.col(label_col).alias("_l")
    ).where(F.col("_n").isNotNull() & F.col("_l").isNotNull())
    lu = lab.select(F.col("_n").alias("_u"), F.col("_l").alias("_lu"))
    lv = lab.select(F.col("_n").alias("_v"), F.col("_l").alias("_lv"))
    # the label-tagged edge frame feeds the within-community count AND
    # both branches of the degree union — without a persist the two
    # label joins re-run per consumer (3x). Only the two label columns
    # survive downstream, so project before caching.
    tagged = (
        e.join(lu, on="_u", how="left")
        .join(lv, on="_v", how="left")
        .select("_lu", "_lv")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # within-community edge counts e_c (both endpoints labeled c)
    within = (
        tagged.where(
            F.col("_lu").isNotNull() & (F.col("_lu") == F.col("_lv"))
        )
        .groupBy(F.col("_lu").alias("_c"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("_ec"))
    )
    # community degree sums d_c over the symmetrized incidence
    deg = (
        tagged.select(F.col("_lu").alias("_c"))
        .unionAll(tagged.select(F.col("_lv").alias("_c")))
        .where(F.col("_c").isNotNull())
        .groupBy("_c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_dc"))
    )
    per_c = deg.join(within, on="_c", how="left").select(
        "_c",
        F.coalesce(F.col("_ec"), F.lit(0)).alias("_ec"),
        "_dc",
    )
    totals = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
    ).withColumn("_one", F.lit(1))
    n_nodes = (
        e.select(F.col("_u").alias("_n"))
        .unionAll(e.select(F.col("_v").alias("_n")))
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .withColumn("_one", F.lit(1))
    )
    md = F.col("n_edges").cast("double")
    contrib = per_c.withColumn("_one", F.lit(1)).join(
        F.broadcast(totals.select("_one", "n_edges")), on="_one"
    ).select(
        "_one",
        (
            F.col("_ec").cast("double") / md
            - (F.col("_dc").cast("double") / (2.0 * md))
            * (F.col("_dc").cast("double") / (2.0 * md))
        ).alias("_q"),
    )
    q = contrib.groupBy("_one").agg(
        F.sum("_q").alias("_qsum"),
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
    )
    out = (
        totals.select("_one", "n_edges")
        .join(F.broadcast(n_nodes), on="_one")
        .join(F.broadcast(q), on="_one", how="left")
        .select(
            "n_nodes", "n_edges",
            F.coalesce(F.col("n_communities"), F.lit(0)).alias(
                "n_communities"
            ),
            F.round(
                F.when(F.col("n_edges") > 0, F.col("_qsum")), 6
            ).alias("modularity"),
        )
    )
    return track_cached(out, e, tagged)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    k_iters: int = 5,
    damping: float = 0.85,
    edges_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration PERSONALIZED PageRank — importance relative to
    a seed set (Haveliwala 2002): the restart mass lands uniformly on
    ``seeds`` instead of everywhere, so scores answer "how close is
    this node to the trusted set?" — the TrustRank-style seed
    expansion behind link-graph curation (grow a whitelist from known
    good domains) and semi-supervised labeling.

    Semantics (documented precisely so any engine reproduces it):
    ``s(v) = 1/|S|`` for seed nodes, else 0; ``rank₀ = s``;
    ``rank_{t+1}(v) = (1−d)·s(v) + d·Σ_{u→v} rank_t(u)/outdeg(u)``
    over DISTINCT edges for exactly ``k_iters`` iterations; dangling
    mass dropped (the :func:`pagerank` convention). Seeds not present
    in the edge list still hold restart mass (they are unioned into
    the node set); ranks need not sum to 1.

    Scale shape: identical to :func:`pagerank` — persisted
    contribution table (with the seed flag FUSED onto its source
    column via one broadcast join at build time, so the restart-mass
    term needs no per-iteration seed lookup), one count for N/|S|;
    below :data:`BROADCAST_GRAPH_ROWS` nodes the rank recurrence is
    inlined into the contribution join (one broadcast join + one
    partial-agg shuffle per iteration, no node join, no checkpoint
    barrier — one fused job); above it the canonical shuffle join
    with per-iteration ``localCheckpoint`` (eager=False). Output:
    ``(node, rank, is_seed)``.

    Beyond the reference; standard per Haveliwala 2002 / Gyöngyi et
    al. 2004 (TrustRank).
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    )
    cached = []
    if not edges_distinct:
        e = e.distinct().persist()
        cached.append(e)
    sd = (
        seeds.select(F.col(seed_col).alias("node"))
        .where(F.col("node").isNotNull())
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .union(sd.select("node"))
        .distinct()
        .join(
            F.broadcast(sd.withColumn("_seed", F.lit(True))),
            "node",
            "left",
        )
        .select(
            "node",
            F.coalesce(F.col("_seed"), F.lit(False)).alias("is_seed"),
        )
        .persist()
    )
    # node/seed counts BEFORE the contribution build (round-12
    # reorder, the pagerank shape): when the graph is below the
    # rank-broadcast threshold the out-degree frame is broadcast into
    # the contribution join, so the edge list is never shuffled here.
    row = nodes.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("is_seed").cast("int")).alias("_ns"),
    ).collect()[0]
    n_nodes, n_seeds = row["_n"], row["_ns"] or 0
    small = n_nodes <= BROADCAST_GRAPH_ROWS
    outdeg = e.groupBy("_s").agg(F.count(F.lit(1)).alias("_o"))
    eprobe = e
    if small:
        outdeg = F.broadcast(outdeg)
        # cores/4 probe-side coalesce — same task-count lever as
        # :func:`pagerank` (measured -25% iterate at sf0.1, round 13)
        eprobe = e.coalesce(
            max(1, e.sparkSession.sparkContext.defaultParallelism // 4)
        )
    # seed flag fused onto the source column at build time: the
    # restart-mass term of every iteration reads it off the cached
    # contribution table instead of re-joining seeds per round
    contrib = (
        eprobe.join(outdeg, on="_s")
        .join(
            F.broadcast(
                sd.select(
                    F.col("node").alias("_s"),
                    F.lit(True).alias("_sseed"),
                )
            ),
            on="_s",
            how="left",
        )
        .select(
            "_s", "_d", "_o",
            F.coalesce(F.col("_sseed"), F.lit(False)).alias("_sseed"),
        )
        .persist()
    )
    if n_nodes == 0 or n_seeds == 0:
        empty = nodes.withColumn("rank", F.lit(0.0)).select(
            "node", "rank", "is_seed"
        )
        return track_cached(empty, contrib, nodes, sd, *cached)
    seed_mass = F.when(
        F.col("is_seed"), F.lit(1.0 / n_seeds)
    ).otherwise(F.lit(0.0))

    if small and k_iters > 0:
        # fused plan (the pagerank shape): rank_t(u) =
        # (1−d)·s(u) + d·in_t(u) inlined into the contribution join,
        # with s(u) read off the fused _sseed flag
        od = F.col("_o").cast("double")
        src_mass = F.when(
            F.col("_sseed"), F.lit(1.0 / n_seeds)
        ).otherwise(F.lit(0.0))
        # iteration 1: rank₀ = s, so only seed sources contribute
        inc = (
            contrib.where(F.col("_sseed"))
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum(F.lit(1.0 / n_seeds) / od).alias("_in"))
        )
        for _ in range(k_iters - 1):
            rank_u = F.lit(1.0 - damping) * src_mass + F.lit(
                damping
            ) * F.coalesce(F.col("_in"), F.lit(0.0))
            inc = (
                contrib.join(
                    F.broadcast(inc),
                    contrib["_s"] == inc["node"],
                    "left",
                )
                .select(
                    F.col("_d").alias("node"),
                    (rank_u / od).alias("_m"),
                )
                .groupBy("node")
                .agg(F.sum("_m").alias("_in"))
            )
        out = nodes.join(
            F.broadcast(inc), on="node", how="left"
        ).select(
            "node",
            (
                F.lit(1.0 - damping) * seed_mass
                + F.lit(damping)
                * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("rank"),
            "is_seed",
        )
        return track_cached(out, contrib, nodes, sd, *cached)

    ranks = nodes.withColumn("rank", seed_mass)
    for _ in range(k_iters):
        incoming = (
            contrib.join(ranks, contrib["_s"] == ranks["node"])
            .select(
                F.col("_d").alias("node"),
                (F.col("rank") / F.col("_o").cast("double")).alias(
                    "_m"
                ),
            )
            .groupBy("node")
            .agg(F.sum("_m").alias("_in"))
        )
        ranks = (
            nodes.join(incoming, on="node", how="left")
            .select(
                "node", "is_seed",
                (
                    F.lit(1.0 - damping) * seed_mass
                    + F.lit(damping)
                    * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    out = ranks.select("node", "rank", "is_seed")
    return track_cached(out, contrib, nodes, sd, *cached)


def edge_reciprocity(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Reciprocity of a directed graph — the fraction of directed
    edges whose reverse edge also exists (self-loops excluded,
    pinned): near 1 on mutual-interaction graphs (conversation,
    citation-exchange), near 0 on hierarchies/broadcasts. On the
    event-transition graph this separates oscillating UI loops
    (view↔click) from one-way funnels.

    Plan: one distinct over the projected edge pair, one
    LEFT SEMI self-join on the reversed key (never a full join — the
    probe side only checks existence), one count aggregation.
    Output 1 row: ``(n_edges, n_reciprocal, reciprocity)``, 6dp;
    reciprocity NULL on an empty graph.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    e = (
        edges.select(
            F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
        )
        .where(
            F.col("_s").isNotNull()
            & F.col("_d").isNotNull()
            & (F.col("_s") != F.col("_d"))
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    rev = e.select(
        F.col("_d").alias("_s"), F.col("_s").alias("_d")
    )
    recip = e.join(rev, on=["_s", "_d"], how="left_semi")
    counts = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    ).crossJoin(
        F.broadcast(
            recip.agg(
                F.count(F.lit(1)).cast("bigint")
                .alias("n_reciprocal")
            )
        )
    )
    out = counts.select(
        "n_edges", "n_reciprocal",
        F.round(
            F.when(
                F.col("n_edges") > 0,
                F.col("n_reciprocal").cast("double")
                / F.col("n_edges").cast("double"),
            ),
            6,
        ).alias("reciprocity"),
    )
    return track_cached(out, e)


def degree_powerlaw(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    d_min: int = 5,
) -> DataFrame:
    """Hill maximum-likelihood power-law exponent of the degree
    distribution — the scale-free-ness check for link/interaction
    graphs (α ≈ 2–3 on web/citation graphs; an α far outside, or a
    tiny tail, says the hub structure assumption behind
    degree-oriented algorithms is off):

    node degree = out-degree over the DISTINCT symmetrized-as-given
    edge list (callers pass both directions for undirected graphs —
    the :func:`pagerank` convention); the Hill estimator over the
    tail ``d ≥ d_min``: ``α = 1 + n_tail / Σ ln(d/d_min)`` with its
    asymptotic standard error ``(α−1)/√n_tail``.

    Plan: one degree aggregation (map-side combined), one moment
    aggregation over the NODE-sized degree frame. Output 1 row:
    ``(n_nodes, n_tail, d_min, mean_degree, max_degree, alpha_hill,
    alpha_se)``, 6dp; NULL α when the tail is empty or degenerate
    (all tail degrees = d_min).
    """
    dm = float(d_min)
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).where(
        F.col("_s").isNotNull() & F.col("_d").isNotNull()
    ).distinct()
    deg = e.groupBy("_s").agg(
        F.count(F.lit(1)).cast("bigint").alias("_deg")
    )
    d = F.col("_deg").cast("double")
    tail = d >= dm
    agg = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(tail.cast("int")).cast("bigint").alias("n_tail"),
        F.avg(d).alias("_mean"),
        F.max("_deg").alias("max_degree"),
        F.sum(F.when(tail, F.log(d / F.lit(dm)))).alias("_slog"),
    )
    nt = F.col("n_tail").cast("double")
    alpha = F.when(
        (F.col("n_tail") > 0) & (F.col("_slog") > 0),
        1.0 + nt / F.col("_slog"),
    )
    return agg.select(
        "n_nodes", "n_tail",
        F.lit(int(d_min)).cast("bigint").alias("d_min"),
        F.round("_mean", 6).alias("mean_degree"),
        "max_degree",
        F.round(alpha, 6).alias("alpha_hill"),
        F.round((alpha - 1.0) / F.sqrt(nt), 6).alias("alpha_se"),
    )


def katz_centrality(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k_iters: int = 5,
    alpha: float = 0.01,
    beta: float = 1.0,
    edges_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration Katz centrality — attenuated path counting:
    ``x_{t+1}(v) = β + α·Σ_{u→v} x_t(u)`` from ``x₀ = β`` for exactly
    ``k_iters`` iterations, i.e. ``x_k(v) = β·Σ_{j≤k} α^j·(#paths of
    length j into v)``. The walk-based influence measure that, unlike
    :func:`pagerank`, does NOT normalize by out-degree — a hub's
    influence passes whole to every neighbor, which is the right
    semantics for citation/endorsement graphs. Converges for
    ``α < 1/λ_max``; the fixed-k truncation is the engine contract
    (documented, same convention as :func:`pagerank`'s fixed k).

    Scale shape: identical to :func:`pagerank`'s — below
    :data:`BROADCAST_GRAPH_ROWS` nodes the recurrence is inlined as
    one broadcast join + one map-side-combined aggregation per
    iteration over the persisted (cores/4-coalesced) edge list;
    above it the canonical shuffle join with per-iteration
    ``localCheckpoint``. Iteration 1 needs no join at all:
    ``x₀ = β`` is constant, so ``in₁ = β·indeg``. Output:
    ``(node, katz)``.

    Beyond the reference; standard per Katz 1953.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    e = edges.select(
        F.col(src).alias("_s"), F.col(dst).alias("_d")
    )
    cached = []
    if not edges_distinct:
        e = e.distinct()
    nodes = (
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_nodes = nodes.count()
    small = n_nodes <= BROADCAST_GRAPH_ROWS
    eprobe = e
    if small:
        # same task-count lever as pagerank (round 13)
        eprobe = e.coalesce(
            max(1, e.sparkSession.sparkContext.defaultParallelism // 4)
        )
    contrib = eprobe.persist(StorageLevel.MEMORY_AND_DISK)
    cached.append(contrib)
    if n_nodes == 0 or k_iters <= 0:
        empty = nodes.withColumn("katz", F.lit(float(beta)))
        return track_cached(empty, nodes, *cached)

    # Iteration state lives in exact INTEGER nano-units (x·1e9 as
    # BIGINT; α, β quantized to 9dp once): float in-sums are
    # summation-order-dependent across engines/partitionings, and
    # five iterations amplify the last ulp past the 9dp output grid.
    # The attenuated message b + floor(a·x/S) is computed with the
    # overflow-free split a·(x DIV S) + (a·(x MOD S)) DIV S — every
    # op integer, so any engine (and any partitioning) produces
    # bit-identical centralities. Truncation bias ≤1e-9 per
    # iteration (documented micro-unit convention, as davies_bouldin).
    scale = 1_000_000_000
    a_num = int(round(float(alpha) * scale))
    b_units = int(round(float(beta) * scale))

    def _x_units(in_col: str):
        c = f"COALESCE({in_col}, CAST(0 AS BIGINT))"
        return F.expr(
            f"CAST({b_units} + {a_num} * ({c} DIV {scale})"
            f" + ({a_num} * ({c} % {scale})) DIV {scale} AS BIGINT)"
        )

    if small:
        # iteration 1: x0 = β constant → in₁(v) = β·indeg(v)
        inc = contrib.groupBy(F.col("_d").alias("node")).agg(
            (F.count(F.lit(1)) * F.lit(b_units))
            .cast("bigint").alias("_in")
        )
        for _ in range(k_iters - 1):
            inc = (
                contrib.join(
                    F.broadcast(inc),
                    contrib["_s"] == inc["node"],
                    "left",
                )
                .select(
                    F.col("_d").alias("node"),
                    _x_units("_in").alias("_m"),
                )
                .groupBy("node")
                .agg(F.sum("_m").cast("bigint").alias("_in"))
            )
        out = nodes.join(
            F.broadcast(inc), on="node", how="left"
        ).select(
            "node",
            (
                _x_units("_in").cast("double") / F.lit(float(scale))
            ).alias("katz"),
        )
        return track_cached(out, nodes, *cached)

    ranks = nodes.withColumn(
        "_xu", F.lit(b_units).cast("bigint")
    )
    for _ in range(k_iters):
        incoming = (
            contrib.join(ranks, contrib["_s"] == ranks["node"])
            .select(F.col("_d").alias("node"), F.col("_xu").alias("_m"))
            .groupBy("node")
            .agg(F.sum("_m").cast("bigint").alias("_in"))
        )
        ranks = (
            nodes.join(incoming, on="node", how="left")
            .select("node", _x_units("_in").alias("_xu"))
            .localCheckpoint(eager=False)
        )
    out = ranks.select(
        "node",
        (F.col("_xu").cast("double") / F.lit(float(scale))).alias("katz"),
    )
    return track_cached(out, nodes, *cached)


def rich_club_coefficient(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    degree_thresholds: list[int] | None = None,
) -> DataFrame:
    """Rich-club coefficient per degree threshold: among the nodes
    with degree > k, what fraction of the possible edges exist?
    ``φ(k) = 2·E_k / (N_k·(N_k−1))`` on the undirected deduped graph
    — the standard "do the hubs talk to each other" structure probe
    (φ rising with k = elite core; the topology signal behind
    spam-ring and citation-cartel screens).

    Plan: one symmetrized-distinct edge frame (persisted — it feeds
    the degree aggregation AND the annotated-edge count), one degree
    frame joined onto both endpoints, then ONE conditional aggregation
    producing every threshold's (N_k, E_k) in a single pass
    (compile-time threshold list → one posexplode of a computed
    struct array, never a k-branch union). Output one row per
    threshold: ``(degree_threshold, n_nodes, n_edges, phi)``, 6dp;
    NULL φ when N_k < 2.

    Beyond the reference; standard per Zhou & Mondragón 2004 /
    Colizza et al. 2006 (unnormalized φ — the null-model
    normalization needs rewiring simulations, out of engine scope and
    documented).
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    ks = degree_thresholds or [1, 2, 4, 8, 16, 32, 64]
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .where(
            F.col("_u").isNotNull() & F.col("_v").isNotNull()
            & (F.col("_u") != F.col("_v"))
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = (
        e.select(F.col("_u").alias("_x"))
        .unionAll(e.select(F.col("_v").alias("_x")))
        .groupBy("_x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nk = deg.agg(
        *[
            F.sum((F.col("_deg") > k).cast("bigint")).alias(f"_n{k}")
            for k in ks
        ]
    ).withColumn("_one", F.lit(1))
    du = deg.select(
        F.col("_x").alias("_u"), F.col("_deg").alias("_du")
    )
    dv = deg.select(
        F.col("_x").alias("_v"), F.col("_deg").alias("_dv")
    )
    ek = (
        e.join(du, on="_u")
        .join(dv, on="_v")
        .agg(
            *[
                F.sum(
                    (
                        F.least(F.col("_du"), F.col("_dv")) > k
                    ).cast("bigint")
                ).alias(f"_e{k}")
                for k in ks
            ]
        )
        .withColumn("_one", F.lit(1))
    )
    j = nk.join(F.broadcast(ek), on="_one")
    arr = F.array(
        *[
            F.struct(
                F.lit(k).cast("bigint").alias("degree_threshold"),
                F.col(f"_n{k}").alias("n_nodes"),
                F.col(f"_e{k}").alias("n_edges"),
            )
            for k in ks
        ]
    )
    rows = j.select(F.posexplode(arr).alias("_i", "_r")).select(
        "_r.degree_threshold", "_r.n_nodes", "_r.n_edges"
    )
    nd = F.col("n_nodes").cast("double")
    out = rows.select(
        "degree_threshold", "n_nodes", "n_edges",
        F.round(
            F.when(
                F.col("n_nodes") >= 2,
                2.0 * F.col("n_edges").cast("double")
                / (nd * (nd - 1.0)),
            ),
            6,
        ).alias("phi"),
    )
    return track_cached(out, e, deg)


def avg_neighbor_degree(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Average-neighbor-degree curve ``k_nn(k)`` on the undirected
    deduped graph — the standard assortative-mixing PROFILE behind
    the single :func:`assortativity` scalar: for each degree class k,
    the mean over k-degree nodes of their neighbors' mean degree.
    Rising curve = assortative (hubs talk to hubs), falling =
    disassortative (hub-and-spoke) — the shape distinguishes
    topologies the scalar coefficient averages away.

    Plan: one symmetrized-distinct edge frame (persisted — feeds the
    degree aggregation AND the neighbor join), the |V|-row degree
    frame joined onto both endpoints, a per-node mean of neighbor
    degrees, then ONE aggregation onto the bounded degree-class
    frame. Output one row per realized degree: ``(degree, n_nodes,
    avg_neighbor_degree)``, 6dp.

    Beyond the reference; standard per Pastor-Satorras et al. 2001.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_u"),
            F.greatest(F.col(src), F.col(dst)).alias("_v"),
        )
        .where(F.col("_u") != F.col("_v"))
        .distinct()
    )
    und = (
        e.select(F.col("_u").alias("_a"), F.col("_v").alias("_b"))
        .union(e.select(F.col("_v").alias("_a"), F.col("_u").alias("_b")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    deg = und.groupBy(F.col("_a").alias("_node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_deg")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # neighbor degrees: join degree onto the b endpoint. Within a
    # degree class every node divides by the SAME k, so the class
    # mean collapses to Σ(neighbor degrees) / (k·n_nodes) — exact
    # integers until ONE final division (engine-parity by
    # construction, no float averaging of averages).
    nbr = (
        und.join(
            deg.select(
                F.col("_node").alias("_b"),
                F.col("_deg").alias("_bdeg"),
            ),
            on="_b",
        )
        .groupBy("_a")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_adeg"),
            F.sum("_bdeg").cast("bigint").alias("_sbdeg"),
        )
    )
    out = nbr.groupBy(F.col("_adeg").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum("_sbdeg").cast("bigint").alias("_tot"),
    ).select(
        "degree", "n_nodes",
        F.round(
            F.col("_tot").cast("double")
            / (
                F.col("degree").cast("double")
                * F.col("n_nodes").cast("double")
            ),
            6,
        ).alias("avg_neighbor_degree"),
    )
    return track_cached(out, und, deg)
