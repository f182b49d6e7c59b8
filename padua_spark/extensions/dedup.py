"""Deduplication operators for large corpora.

Exact dedup is a hash aggregation on the dedup key; near-dup is
MinHash+LSH (shingle → minhash signature → banded bucket join), the
standard approach for trillion-token corpora — the candidate-pair join
touches only documents sharing an LSH bucket, never the full cross
product.

Hashing note: all hashes here are explicit polynomial/multiplicative
constructions over exact 64-bit integer arithmetic (not engine-builtin
hash functions), so signatures are reproducible across engines and
Spark versions — the same determinism contract as
``padua_spark.operators.imputation``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from padua_spark.io_utils import local_frame

# Modulus (prime, < 2^31) and per-permutation affine constants for
# MinHash; products stay inside int64.
MOD = 2147483647


def _affine_constants(n: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n hash permutations."""
    out = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        a = (state % (MOD - 2)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**63)
        b = state % MOD
        out.append((a, b))
    return out


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    keep_col: str,
    id_col: str | None = None,
) -> DataFrame:
    """Keep one row per dedup key — the one with the minimum
    ``keep_col`` (deterministic canonical choice). One shuffle on the
    key; no window sort needed.

    ``keep_col`` must be row-unique within each key group for a strict
    one-row-per-key guarantee; otherwise every row tied on the minimum
    survives the semi-join. When ties are possible, pass a row-unique
    ``id_col`` tiebreaker: the kept row is then the lexicographic
    minimum of ``(keep_col, id_col)`` and the semi-join runs on the
    unique id, so exactly one row per key survives.

    NULL ``keep_col`` rows are never chosen on either path (``F.min``
    skips NULLs; the tiebreaker path filters them before aggregating —
    struct ordering would otherwise sort NULLs first), so a key group
    whose keeps are all NULL is dropped entirely on both paths."""
    if id_col is None:
        keep = df.groupBy(*key_cols).agg(F.min(keep_col).alias(keep_col))
        return df.join(keep, on=[*key_cols, keep_col], how="left_semi")
    # internal agg alias must not collide with a key column name
    k = "_k"
    while k in key_cols:
        k += "_"
    keep = (
        df.where(F.col(keep_col).isNotNull())
        .groupBy(*key_cols)
        .agg(F.min(F.struct(keep_col, id_col)).alias(k))
        .select(*key_cols, F.col(f"{k}.{id_col}").alias(id_col))
    )
    return df.join(keep, on=[*key_cols, id_col], how="left_semi")


def dedup_groups(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Summary of duplicate groups: key → canonical id + group size."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("group_size"),
    )


def poly_hash(tokens: Column, base: int = 131, mod: int = MOD) -> Column:
    """Order-sensitive polynomial hash of a string array — exact integer
    arithmetic via ``aggregate`` over the codepoints of the joined
    string; reproducible everywhere."""
    s = F.concat_ws("", tokens)
    # drop empty-string chars (split of '' yields ['']): Spark ascii('')
    # is 0 but DuckDB ord('') is -1, so unfiltered empties diverge
    codes = F.transform(
        F.filter(F.split(s, ""), lambda ch: ch != ""),
        lambda ch: F.ascii(ch).cast("bigint"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * F.lit(base) + c) % F.lit(mod),
    )


def word_shingles(text: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a whitespace-tokenized text."""
    tokens = F.split(text, " ")
    n = F.size(tokens)
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tokens, i + F.lit(j)) for j in range(k)]
    )
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(F.sequence(F.lit(1), n - F.lit(k - 1)), shingle),
        ).otherwise(F.array(F.concat_ws(" ", tokens)))
    )


def minhash_signature(
    shingle_hashes: Column, num_hashes: int = 32, seed: int = 7
) -> Column:
    """MinHash signature: per permutation i, min over shingles of
    ``(a_i·h + b_i) mod M``."""
    consts = _affine_constants(num_hashes, seed)

    def _perm(a: int, b: int):
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MOD)

    sig = [
        F.array_min(F.transform(shingle_hashes, _perm(a, b)))
        for a, b in consts
    ]
    return F.array(*sig)


def token_hashes(text: Column, base: int = 131, mod: int = MOD) -> Column:
    """Per-token polynomial hash over the token's codepoints — each
    character is touched exactly once per document."""
    toks = F.split(text, " ")
    return F.transform(
        toks,
        lambda t: F.aggregate(
            F.transform(
                F.filter(F.split(t, ""), lambda ch: ch != ""),
                lambda ch: F.ascii(ch).cast("bigint"),
            ),
            F.lit(7).cast("bigint"),
            lambda acc, c: (acc * F.lit(base) + c) % F.lit(mod),
        ),
    )


def _window_hash(th: Column, i, k: int, mod: int = MOD) -> Column:
    """Hash of the k-token window starting at 1-based position ``i`` of
    the token-hash array ``th``: sum of th[i+j] * C^j mod ``mod``.

    Mod-reduce per term: each partial stays < mod + mod² ≈ 2^62, so any
    k is int64-overflow-safe (an unreduced sum of k terms up to mod²
    would wrap past 2^63 at k >= 4) and the result is bit-identical to
    exact arithmetic in any engine.
    """
    acc = F.lit(0).cast("bigint")
    for j in range(k):
        acc = (
            acc
            + F.element_at(th, i + F.lit(j))
            * F.lit((1000000007**j) % mod)
        ) % F.lit(mod)
    return acc


def _shingles_from_token_hashes(
    th: Column, k: int = 3, mod: int = MOD
) -> Column:
    """Distinct k-shingle hashes by *combining token hashes* (integer
    arithmetic only) rather than re-hashing shingle strings.

    IMPORTANT: ``th`` must be a materialized attribute (a column
    produced by a previous ``select``), not an inline expression —
    higher-order-function lambdas are interpreted (no whole-stage
    codegen, no common-subexpression elimination), so an inline subtree
    would be re-evaluated at every ``element_at`` reference.
    """
    n = F.size(th)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: _window_hash(th, i, k, mod),
            ),
        ).otherwise(F.array(F.element_at(th, 1)))
    )


def exploded_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """One row per (id, distinct shingle hash). The only interpreted
    higher-order-function work is the per-token hashing (one pass over
    the characters); everything downstream of the explode is
    whole-stage-codegen relational operators."""
    th = df.select(
        *(extra_cols or []),
        F.col(id_col),
        token_hashes(F.col(text_col)).alias("_th"),
    )
    sh = th.select(
        *(extra_cols or []),
        id_col,
        _shingles_from_token_hashes(F.col("_th"), k_shingle).alias("_sh"),
    )
    return sh.select(
        *(extra_cols or []),
        id_col,
        F.explode(F.col("_sh")).alias("shingle"),
    )


def shingle_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    num_hashes: int = 32,
    seed: int = 7,
) -> DataFrame:
    """(id, minhash signature) via explode + hash-aggregate.

    The per-permutation min runs as ``min((a_i·h + b_i) mod M)`` over
    exploded (id, shingle) rows — native codegen aggregates with
    map-side partial combine, instead of 32 interpreted array
    traversals per document. At 100 TB the partial aggregation collapses
    each document's shingles before any shuffle."""
    consts = _affine_constants(num_hashes, seed)
    exploded = exploded_shingles(df, id_col, text_col, k_shingle)
    h = F.col("shingle")
    mins = exploded.groupBy(id_col).agg(
        *[
            F.min((h * F.lit(a) + F.lit(b)) % F.lit(MOD)).alias(f"_m{i}")
            for i, (a, b) in enumerate(consts)
        ]
    )
    return mins.select(
        id_col,
        F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias("_sig"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 7,
    portable_keys: bool = False,
    persist_signatures: bool = True,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    Pipeline: token hashes → combined shingle hashes → minhash
    signature → ``bands`` band keys → explode (id, band, key) →
    self-join on (band, key). Only bucket collisions join — at 100 TB
    this is the difference between a feasible shuffle and an impossible
    O(n²) cross join. Estimated Jaccard = fraction of equal signature
    components, computed at join time so the shuffle never carries the
    signatures past the join.

    ``persist_signatures`` (default on) caches the per-document
    signature frame: Catalyst does not unify the two sides of the
    self-join (their projections differ above the aggregate, so
    ReuseExchange never fires), and without the cache the whole
    tokenize→shingle→minhash pipeline runs TWICE. The signature frame
    is num_hashes ints per document — orders of magnitude smaller than
    the corpus — so MEMORY_AND_DISK is safe at any scale. The entry
    stays lazy (persist marks, the first action materializes); pass
    ``False`` to keep the plan fully unmaterialized. The cached frame
    is recorded on the result — after consuming it, call
    ``io_utils.unpersist_intermediates(result)`` to free the blocks
    (long-lived sessions accumulate them otherwise).
    """
    rows_per_band = num_hashes // bands

    def _band_key(b: int):
        key = F.concat_ws(
            ",",
            F.lit(b),
            F.slice(F.col("_sig"), b * rows_per_band + 1, rows_per_band),
        )
        # engine-specific hash keeps shuffle keys small at scale;
        # portable_keys keeps the raw string so any SQL engine
        # reproduces the exact candidate set (oracle mode).
        return key if portable_keys else F.hash(key)

    sigs = shingle_signatures(
        df, id_col, text_col, k_shingle, num_hashes, seed
    )
    if persist_signatures:
        from pyspark import StorageLevel

        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    band_cols = [_band_key(b).alias(f"_band{b}") for b in range(bands)]
    banded = sigs.select(id_col, "_sig", *band_cols)
    exploded = banded.select(
        id_col,
        "_sig",
        F.explode(F.array(*[F.col(f"_band{b}") for b in range(bands)])).alias(
            "bucket"
        ),
    )
    left = exploded.select(
        F.col(id_col).alias("id_a"), F.col("_sig").alias("_sig_a"), "bucket"
    )
    right = exploded.select(
        F.col(id_col).alias("id_b"), F.col("_sig").alias("_sig_b"), "bucket"
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("_sig_a"), F.col("_sig_b"),
                           lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.size(F.col("_sig_a")).cast("double")
    )
    out = (
        left.join(right, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", est.alias("est_jaccard"))
        .distinct()
    )
    if persist_signatures:
        from padua_spark.io_utils import track_cached

        out = track_cached(out, sigs)
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    k_shingle: int = 3,
    hashed: bool = True,
    persist_shingles: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs within a
    blocking key (the quadratic-within-block baseline; use
    :func:`minhash_lsh_candidates` for the at-scale path).

    ``hashed=True`` (default) compares integer shingle hashes instead of
    shingle strings — ~10× cheaper set intersections at identical
    semantics up to 31-bit hash collisions (~1e-5 per pair), and the
    same exact arithmetic is reproducible in any SQL engine for oracle
    checks. ``hashed=False`` keeps raw string shingles.
    """
    if hashed:
        # Inverted-index (sparse) form: explode distinct shingle hashes,
        # self-join on (block, shingle) so only OVERLAPPING pairs meet,
        # count matches per pair → |intersection|; |union| from per-doc
        # distinct counts. Everything after tokenization is codegen
        # joins/aggregates; pairs with zero overlap never materialize.
        ex = exploded_shingles(
            df, id_col, text_col, k_shingle, extra_cols=block_cols
        )
        if persist_shingles:
            # the exploded frame feeds THREE consumers (both join sides
            # + per-doc sizes); caching trades shingle-frame storage
            # (spills to disk when large) for 3× tokenization compute
            from pyspark import StorageLevel

            ex = ex.persist(StorageLevel.MEMORY_AND_DISK)
        sizes = ex.groupBy(*block_cols, id_col).agg(
            F.count(F.lit(1)).alias("_n")
        )
        left = ex.select(
            *block_cols, F.col(id_col).alias("id_a"), "shingle"
        )
        right = ex.select(
            *block_cols, F.col(id_col).alias("id_b"), "shingle"
        )
        inter = (
            left.join(right, on=[*block_cols, "shingle"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy(*block_cols, "id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_inter"))
        )
        sa = sizes.select(
            *block_cols, F.col(id_col).alias("id_a"),
            F.col("_n").alias("_na")
        )
        sb = sizes.select(
            *block_cols, F.col(id_col).alias("id_b"),
            F.col("_n").alias("_nb")
        )
        out = inter.join(sa, on=[*block_cols, "id_a"]).join(
            sb, on=[*block_cols, "id_b"]
        )
        jac = F.col("_inter").cast("double") / (
            F.col("_na") + F.col("_nb") - F.col("_inter")
        ).cast("double")
        res = out.select(
            *block_cols, "id_a", "id_b", jac.alias("jaccard")
        )
        if persist_shingles:
            from padua_spark.io_utils import track_cached

            res = track_cached(res, ex)
        return res
    base = df.select(
        *block_cols,
        F.col(id_col),
        word_shingles(F.col(text_col), k_shingle).alias("_sh"),
    )
    left = base.select(
        *block_cols, F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a")
    )
    right = base.select(
        *block_cols, F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b")
    )
    pairs = left.join(right, on=block_cols).filter(
        F.col("id_a") < F.col("id_b")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    union = F.size(F.array_union("_sh_a", "_sh_b"))
    return pairs.select(
        *block_cols,
        "id_a",
        "id_b",
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_bits: int = 32,
) -> DataFrame:
    """Per-document SimHash over token hashes: bit b of the signature is
    1 when the majority of tokens (with multiplicity) have bit b set in
    their polynomial hash. Single map stage; engine-portable integer
    arithmetic (the same majority rule is SQL-expressible for oracles).
    """
    # n_bits array traversals per row (interpreted HOFs) measured FASTER
    # end-to-end than the explode + 33-conditional-sum hash aggregate:
    # the arrays stay cache-resident and the wide aggregate's codegen
    # compile alone cost ~6s cold. Signature compute is ~0.9s at sf0.1;
    # the candidate-pair join dominates this operator, not this stage.
    th = df.select(F.col(id_col), token_hashes(F.col(text_col)).alias("_th"))
    n = F.size(F.col("_th"))

    def _bit_set(mask: int):
        return lambda h: h.bitwiseAND(F.lit(mask)) != 0

    bit_cols = []
    for b in range(n_bits):
        mask = 1 << b
        pos = F.size(F.filter(F.col("_th"), _bit_set(mask)))
        bit_cols.append(
            F.when(pos * 2 >= n, F.lit(1)).otherwise(F.lit(0)).alias(
                f"_b{b}"
            )
        )
    staged = th.select(id_col, n.alias("_n"), *bit_cols)
    sig = F.lit(0).cast("bigint")
    for b in range(n_bits):
        sig = sig + F.col(f"_b{b}").cast("bigint") * F.lit(1 << b)
    return staged.select(F.col(id_col), sig.alias("simhash"))


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    max_hamming: int = 10,
    n_bits: int = 32,
    persist_signatures: bool = True,
) -> DataFrame:
    """Near-dup candidates by SimHash Hamming distance within blocks —
    per pair only one XOR + popcount, so the within-block quadratic is
    cheap; at full scale, block on simhash bands instead.

    ``persist_signatures`` caches the (block, id, simhash) frame so the
    token-hash bit-majority stage runs once instead of once per
    self-join side (Catalyst can't unify the differently-projected
    sides); one int64 per document, safe to cache at any scale."""
    sigs = df.select(*block_cols, F.col(id_col)).join(
        simhash_signatures(df, id_col, text_col, n_bits), on=id_col
    )
    if persist_signatures:
        from pyspark import StorageLevel

        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    left = sigs.select(
        *block_cols, F.col(id_col).alias("id_a"),
        F.col("simhash").alias("_sa")
    )
    right = sigs.select(
        *block_cols, F.col(id_col).alias("id_b"),
        F.col("simhash").alias("_sb")
    )
    hamming = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    out = (
        left.join(right, on=block_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            *block_cols, "id_a", "id_b", hamming.alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    if persist_signatures:
        from padua_spark.io_utils import track_cached

        out = track_cached(out, sigs)
    return out


def semdedup_prune(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023, arXiv
    2303.09540): cluster embeddings, elect one exemplar per cluster
    (highest cosine to its centroid), drop members too similar to the
    exemplar. Output: ``(id, cell, cos_centroid, cos_exemplar, keep)``.

    Relational shape instead of the paper's per-cluster pairwise
    matrix: comparing members to the cluster EXEMPLAR only is O(n)
    with a broadcast join of the (n_cells)-row exemplar table — no
    quadratic within-cluster blow-up, no corpus shuffle beyond the
    one aggregation that elects exemplars. Centroids are the
    deterministic IVF seeds (:func:`~padua_spark.extensions.similarity.
    ivf_centroids` with ``n_iter=0``), so the full pipeline is
    engine-reproducible and oracle-checkable.

    ``keep`` compares the 6dp-ROUNDED exemplar cosine against the
    threshold so a 1-ulp cross-engine dot-product difference can never
    flip the decision.
    """
    from padua_spark.extensions.similarity import (
        _as_double,
        dot,
        ivf_assign,
        ivf_centroids,
        l2_norm,
    )

    cents = ivf_centroids(df, id_col, vec_col, n_cells, n_iter=0)
    assigned = ivf_assign(df, id_col, vec_col, cents)
    withcos = assigned.join(F.broadcast(cents), on="cell").select(
        id_col,
        "cell",
        "_v",
        (
            dot(F.col("_v"), F.col("_c"))
            / (l2_norm(F.col("_v")) * l2_norm(F.col("_c")))
        ).alias("cos_centroid"),
    )
    # exemplar per cell: argmax (cos, -id) — one partial-aggregating
    # groupBy over n_cells groups, never a window sort of the corpus
    ex = (
        withcos.groupBy("cell")
        .agg(
            F.max(
                F.struct(
                    F.col("cos_centroid").alias("_cc"),
                    (-F.col(id_col)).alias("_negid"),
                )
            ).alias("_b")
        )
        .select("cell", (-F.col("_b._negid")).alias("_ex_id"))
    )
    ex_vec = ex.join(
        withcos.select(
            F.col(id_col).alias("_ex_id"), "cell",
            F.col("_v").alias("_ex_v"),
        ),
        on=["cell", "_ex_id"],
    )
    cos_ex = F.round(
        dot(F.col("_v"), F.col("_ex_v"))
        / (l2_norm(F.col("_v")) * l2_norm(F.col("_ex_v"))),
        6,
    )
    return withcos.join(F.broadcast(ex_vec), on="cell").select(
        F.col(id_col),
        "cell",
        F.round("cos_centroid", 6).alias("cos_centroid"),
        cos_ex.alias("cos_exemplar"),
        (
            (F.col(id_col) == F.col("_ex_id"))
            | (cos_ex < F.lit(float(threshold)))
        ).alias("keep"),
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-decontamination scan: for every corpus document, the
    fraction of its distinct k-shingles that appear anywhere in the
    ``benchmark`` set → ``(id, n_shingles, n_hit, contamination)``.
    Training pipelines drop (or flag) documents whose ratio exceeds a
    threshold before training, so eval sets stay unseen.

    Plan shape at 100 TB: eval benchmarks are small, so their distinct
    shingle set is BROADCAST and the corpus is never shuffled by
    shingle — one map-side hash join on the exploded corpus shingles,
    then a single partial-aggregating groupBy(id). Set
    ``broadcast_benchmark=False`` only when the benchmark side is
    genuinely large (falls back to a shuffle join on the shingle)."""
    c = exploded_shingles(corpus, id_col, text_col, k_shingle)
    b = (
        exploded_shingles(benchmark, id_col, text_col, k_shingle)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_benchmark:
        b = F.broadcast(b)
    joined = c.join(b, on="shingle", how="left")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.count("_hit").alias("n_hit"),
        (F.count("_hit").cast("double") / F.count(F.lit(1))).alias(
            "contamination"
        ),
    )


def positioned_window_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """One row per (id, pos, whash): EVERY k-token window of the text
    at its 1-based token position — NOT deduplicated, because span
    accounting needs positions. Documents with fewer than k tokens
    have no windows and are absent from the output.

    The token-hash array is staged as a materialized attribute before
    the window transform (interpreted-HOF no-CSE trap — see
    ``_shingles_from_token_hashes``)."""
    th = df.select(
        F.col(id_col), token_hashes(F.col(text_col)).alias("_th")
    )
    n = F.size(F.col("_th"))
    win = th.select(
        id_col,
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - F.lit(k - 1)),
                lambda i: F.struct(
                    i.cast("int").alias("pos"),
                    _window_hash(F.col("_th"), i, k).alias("whash"),
                ),
            ),
        )
        .otherwise(F.array().cast("array<struct<pos:int,whash:bigint>>"))
        .alias("_w"),
    )
    return win.select(id_col, F.explode("_w").alias("_e")).select(
        id_col,
        F.col("_e.pos").alias("pos"),
        F.col("_e.whash").alias("whash"),
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-document exact duplicated-substring statistics: a k-token
    window is *duplicated* iff its hash occurs more than once in the
    corpus (another document, or another position of the same one) —
    the span-level exact dedup of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (ACL 2022), re-expressed
    relationally instead of via a suffix array. The reference has no
    dedup surface at all (no tests/ or dedup code anywhere in
    /root/reference) — beyond-reference training-pipeline operator.

    Output: ``(id, n_windows, n_dup_windows, dup_fraction)``; documents
    shorter than k tokens are omitted (no windows to account).

    Plan shape at 100 TB: explode to (id, pos, whash), ONE shuffle
    hash-partitioned by whash for a count-over-window (partitionBy
    only — groups are identical-window runs, tiny by construction),
    then one partial-aggregating groupBy(id). The suffix-array
    formulation would need a global sort of every token; this needs
    two key-partitioned exchanges and no global order."""
    from pyspark.sql import Window

    w = positioned_window_hashes(df, id_col, text_col, k)
    cnt = F.count(F.lit(1)).over(Window.partitionBy("whash"))
    flagged = w.select(F.col(id_col), (cnt > F.lit(1)).alias("_dup"))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("_dup"), 1).otherwise(0)).alias(
                "n_dup_windows"
            ),
        )
        .withColumn(
            "dup_fraction",
            F.col("n_dup_windows").cast("double") / F.col("n_windows"),
        )
    )


def _uniq_col(df: DataFrame, base: str) -> str:
    """Internal column name guaranteed not to collide with ``df``'s
    schema (prefix-until-unique — same contract as curation's guard)."""
    name = base
    while name in df.columns:
        name = "_" + name
    return name


def novel_documents(
    new_df: DataFrame,
    seen_df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Incremental-ingestion dedup: the rows of ``new_df`` whose
    normalized-text fingerprint does NOT already occur in ``seen_df``,
    deduplicated within the new batch itself (minimum ``id_col`` per
    fingerprint wins). The merge step of a growing corpus: each
    snapshot lands, is deduped against itself, then anti-joined against
    everything already ingested.

    Scale shape: both sides fingerprint at scan level (one projection);
    the batch self-dedup is one hash aggregation + semi join; the
    "already seen" check is a LEFT ANTI join on the fingerprint — at
    100 TB the seen side is just (fingerprint) — one bigint column,
    shuffled once, prunable further with a bloom filter pushed to the
    scan. Output columns = ``new_df``'s, unchanged.

    The batch self-dedup is a ``row_number``-over-fingerprint window
    rather than agg + semi-join: the fingerprint is an expensive
    whole-text hash, and the two branches of a semi-join would each
    recompute it (no CSE across join branches); the window computes it
    ONCE, compiles to WindowGroupLimit (each map task pre-prunes to
    one row per fingerprint before the shuffle), and shuffles the
    batch a single time — measured ~2× on the novel_documents bench."""
    from pyspark.sql import Window

    from padua_spark.extensions.text import fingerprint

    fp = _uniq_col(new_df, "_fp")
    rn = _uniq_col(new_df, "_rn")
    batch = new_df.withColumn(fp, fingerprint(F.col(text_col)))
    w = Window.partitionBy(fp).orderBy(F.col(id_col).asc())
    canon = (
        batch.withColumn(rn, F.row_number().over(w))
        .where(F.col(rn) == 1)
        .drop(rn)
    )
    seen = seen_df.select(
        fingerprint(F.col(text_col)).alias(fp)
    ).distinct()
    return canon.join(seen, on=fp, how="left_anti").drop(fp)


def dedup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
    max_spans_per_doc: int = 100_000,
    persist_spans: bool = True,
) -> DataFrame:
    """C4-style duplicate-span removal (Raffel et al. discard repeated
    three-sentence spans corpus-wide; this is the corpus-agnostic
    fixed-``span_tokens``-token-block variant): every occurrence of a
    span that appears anywhere else in the corpus is dropped EXCEPT
    the first (ordered by (doc id, position)), and documents are
    reconstructed from their surviving spans.

    Token model: whitespace split, empty tokens dropped, spans rejoined
    with single spaces (documented normalization). The first-occurrence
    winner is the minimum of the exact integer key
    ``id·max_spans_per_doc + position`` — deterministic on any engine;
    ``max_spans_per_doc`` bounds position (raise it for megadocs).
    ``id_col`` must be numeric with ``|id|·max_spans_per_doc`` inside
    int64; for string ids, key by ``min(struct(id, pos))`` instead
    (loses the arithmetic-oracle form).

    Scale shape: one tokenize scan → span explode (JVM-side) → one
    groupBy(span) min-key aggregation (map-side partial) → a key join
    back → per-doc reconstruction groupBy. Shuffle keys are span
    strings; at extreme scale swap the span text for its polynomial
    hash (collision risk ~1e-5, like :func:`ngram_jaccard_pairs`).
    ``persist_spans`` (default on) caches the exploded span frame —
    its THREE consumers (winner election, the key join, per-doc
    totals) would otherwise each re-tokenize the corpus (the
    ``exploded_shingles`` finding); recorded on the result for
    ``io_utils.unpersist_intermediates``.

    Output: ``(id, text_dedup, n_kept, n_spans)`` for EVERY input doc
    (a fully-duplicate doc survives with empty text and n_kept = 0).
    """
    k = span_tokens
    toks = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != ""
    )
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    n_spans = F.ceil(F.size("_toks") / F.lit(k)).cast("int")
    span_arr = F.when(
        n_spans > 0,
        F.transform(
            F.sequence(F.lit(0), n_spans - 1),
            lambda b: F.concat_ws(
                " ", F.slice(F.col("_toks"), b * k + 1, k)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    spans = staged.select(
        F.col(id_col), F.posexplode(span_arr).alias("pos", "span")
    )
    # Runtime guard: a doc with MORE than max_spans_per_doc spans
    # (positions run 0..max-1, so exactly max spans is still
    # collision-free) would bleed into the next id's key space and
    # elect wrong winners SILENTLY — fail the job instead. The check
    # lives inside the key expression (always consumed), so it cannot
    # be pruned away and costs no extra aggregation pass.
    key = F.when(
        F.col("pos") < F.lit(max_spans_per_doc),
        F.col(id_col) * F.lit(max_spans_per_doc) + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.lit(
                "dedup_spans: a document has more than max_spans_per_doc "
                f"({max_spans_per_doc}) spans; raise max_spans_per_doc"
            )
        )
    )
    keyed = spans.select(F.col(id_col), "pos", "span", key.alias("_key"))
    if persist_spans:
        from pyspark import StorageLevel

        keyed = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    win = keyed.groupBy("span").agg(F.min("_key").alias("_first"))
    kept = keyed.join(win, on="span").where(F.col("_key") == F.col("_first"))
    rec = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "span"))
                ),
                lambda s: s["span"],
            ),
        ).alias("text_dedup"),
    )
    tot = keyed.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_spans"))
    out = (
        df.select(id_col)
        .join(rec, on=id_col, how="left")
        .join(tot, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        )
    )
    if persist_spans:
        from padua_spark.io_utils import track_cached

        out = track_cached(out, keyed)
    return out


def minhash_estimate_error(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 7,
) -> DataFrame:
    """MinHash calibration: for every LSH candidate pair, the signature
    estimate next to the EXACT shingle-set Jaccard and their absolute
    error — the acceptance check for (num_hashes, bands) before the
    estimate drives dedup thresholds (an uncalibrated sketch silently
    over- or under-merges).

    Scale shape: the candidate pairs come from the banded pipeline
    (never all-pairs); the exact Jaccard joins each pair end to its
    per-doc DISTINCT shingle-hash array (one projection of the same
    token-hash pass the signatures use) and computes
    ``|A∩B| / (|A|+|B|−|A∩B|)`` as per-row array algebra — exact
    integer set sizes, one IEEE division, engine-portable. Output:
    ``(id_a, id_b, est_jaccard, exact_jaccard, abs_err)``.
    """
    pairs = minhash_lsh_candidates(
        df, id_col, text_col, k_shingle, num_hashes, bands,
        seed=seed, portable_keys=True,
    )
    th = df.select(
        F.col(id_col), token_hashes(F.col(text_col)).alias("_th")
    )
    sh = th.select(
        id_col,
        _shingles_from_token_hashes(F.col("_th"), k_shingle).alias("_sh"),
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb")
    )
    joined = pairs.join(a, on="id_a").join(b, on="id_b")
    inter = F.size(F.array_intersect(F.col("_sha"), F.col("_shb")))
    union = F.size("_sha") + F.size("_shb") - inter
    exact = F.when(
        union > 0, inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))
    out = joined.select(
        "id_a",
        "id_b",
        "est_jaccard",
        exact.alias("exact_jaccard"),
        F.abs(F.col("est_jaccard") - exact).alias("abs_err"),
    )
    # minhash_lsh_candidates persists its signature frame and records
    # it on `pairs`; .join/.select drop the record, so re-attach it
    # here — otherwise callers can never free the persisted signatures.
    from padua_spark.io_utils import track_cached

    return track_cached(out, *getattr(pairs, "_padua_cached", ()))


def decontaminate_ngrams(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 13,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Exact n-gram decontamination (the GPT-3/PaLM eval-leak rule):
    flag every TRAIN document sharing at least one exact ``n_tokens``-
    token window with the EVAL set. Complements the fuzzy
    ``contamination_check`` (MinHash) with the strict membership test
    benchmark-decontamination requires.

    Scale shape: both sides use the integer token-hash windows of the
    dedup stack (:func:`token_hashes` + mod-reduced polynomial window
    hashes — one interpreted pass per character, everything after the
    explode is codegen relational). Documents shorter than
    ``n_tokens`` emit NO windows (strict semantics — the generic
    shingle fallback to a 1-token hash would fabricate matches
    between short docs). The eval n-gram set is distinct-reduced and
    (default) broadcast: eval benches are MBs against a 100 TB train
    corpus, so the train side never shuffles — one scan, one
    broadcast semi-ish join, one per-doc aggregation. Output: one row
    per contaminated train doc ``(id, n_shared_ngrams)``.
    """

    def _grams(df: DataFrame) -> DataFrame:
        th = df.select(
            F.col(id_col), token_hashes(F.col(text_col)).alias("_th")
        ).where(F.size("_th") >= n_tokens)
        sh = th.select(
            id_col,
            _shingles_from_token_hashes(
                F.col("_th"), n_tokens
            ).alias("_sh"),
        )
        return sh.select(id_col, F.explode("_sh").alias("shingle"))

    ev = _grams(eval_df).select("shingle").distinct()
    if broadcast_eval:
        ev = F.broadcast(ev)
    tr = _grams(train_df)
    return (
        tr.join(ev, on="shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("n_shared_ngrams"))
    )


def ppjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k_shingle: int = 3,
    persist_tokens: bool = True,
) -> DataFrame:
    """Exact Jaccard similarity join via PPJoin-style prefix filtering
    (Xiao et al., WWW'08): emit inverted-index postings ONLY for each
    document's rarest-first prefix, join prefixes, then verify the
    survivors exactly.

    This is the at-scale EXACT near-dup join (vs
    :func:`ngram_jaccard_pairs`, which indexes every shingle within a
    block, and :func:`minhash_lsh_candidates`, which is approximate):

    - **Prefix principle.** Under any global total order of tokens, two
      sets with ``jaccard >= t`` must share a token within their
      ``n - ceil(t*n) + 1`` prefixes — so only prefix postings (about
      ``(1-t)*n + 1`` per doc) are ever emitted to the join.
    - **Skew is structurally avoided.** Tokens are ordered by ascending
      document frequency (ties by token hash), so the high-df shingles
      that would form hot join keys sit at the END of the order and
      fall OUTSIDE most prefixes; the posting lists that do meet in the
      join are the rare-token ones, i.e. short.
    - **Length filter.** ``jaccard <= min(na,nb)/max(na,nb)``, so pairs
      with ``min/max < t`` are pruned before verification.
    - Verification joins candidates back to per-doc sorted shingle
      arrays (bounded by doc length) and computes
      ``|A∩B| / (na + nb - |A∩B|)`` exactly — output pairs are exact,
      never probabilistic.

    Determinism: the global order (document frequency, shingle hash) is
    a total order over a doc's distinct shingles, so prefixes — and
    therefore the candidate set and the exact-verified output — are
    engine-reproducible.

    Use a threshold exactly representable in binary (0.5, 0.75, ...)
    when cross-engine bit-parity of the prefix length matters:
    ``ceil(t*n)`` at non-representable ``t`` (e.g. 0.7) can differ by
    one from exact rational arithmetic, shortening a prefix and (only
    in that pathological case) dropping a borderline candidate.

    One shuffle for document frequencies, one per-doc window for prefix
    ranking, one (rare-key) join, one bounded-array verification join.
    Returns ``(id_a, id_b, jaccard)`` with ``jaccard >= threshold``.
    """
    from pyspark.sql import Window

    ex = exploded_shingles(df, id_col, text_col, k_shingle)
    if persist_tokens:
        # feeds document frequencies, prefix ranking, and the two
        # verification sides — persist once, spill-friendly
        from pyspark import StorageLevel

        ex = ex.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("_dfc"))
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    ranked = ex.join(dfreq, on="shingle").join(sizes, on=id_col)
    w = Window.partitionBy(id_col).orderBy("_dfc", "shingle")
    prefix = ranked.withColumn("_pos", F.row_number().over(w)).filter(
        F.col("_pos")
        <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
    )
    pa = prefix.select(
        F.col(id_col).alias("id_a"), "shingle",
        F.col("_n").alias("_na"), F.col("_pos").alias("_pa"),
    )
    pb = prefix.select(
        F.col(id_col).alias("id_b"), "shingle",
        F.col("_n").alias("_nb"), F.col("_pos").alias("_pb"),
    )
    # positional filter (the PPJoin refinement over All-Pairs): both
    # docs sort tokens by the SAME global order, so the min-(pos_a,
    # pos_b) prefix match IS the pair's first common token, and every
    # common token lies at or after it in BOTH suffixes:
    #   |A∩B| <= 1 + min(na - pos_a, nb - pos_b)
    # while jaccard >= t forces |A∩B| >= ceil(t/(1+t)·(na+nb)).
    # Pairs whose first match sits too deep are pruned BEFORE the
    # array-verification join — on near-dup-free corpora this kills
    # the bulk of the candidate set for the cost of one aggregate.
    first = (
        pa.join(pb, on="shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("_na", "_nb").cast("double")
                >= F.lit(threshold) * F.greatest("_na", "_nb")
            )
        )
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.min(F.struct("_pa", "_pb")).alias("_fm"))
    )
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold))
        * (F.col("_na") + F.col("_nb"))
    )
    cand = first.filter(
        1
        + F.least(
            F.col("_na") - F.col("_fm._pa"),
            F.col("_nb") - F.col("_fm._pb"),
        )
        >= alpha
    ).select("id_a", "id_b", "_na", "_nb")
    docsets = ex.groupBy(id_col).agg(
        F.sort_array(F.collect_list("shingle")).alias("_sh")
    )
    da = docsets.select(
        F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a")
    )
    db = docsets.select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
    jac = inter / (F.col("_na") + F.col("_nb") - inter)
    out = (
        cand.join(da, on="id_a")
        .join(db, on="id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )
    if persist_tokens:
        from padua_spark.io_utils import track_cached

        out = track_cached(out, ex)
    return out


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.75,
    k_shingle: int = 3,
    persist_tokens: bool = True,
) -> DataFrame:
    """Asymmetric containment join: ordered pairs (a, b), ``a != b``,
    with ``C(A,B) = |A∩B| / |A| >= threshold`` over distinct shingle
    sets — the quote / doc-inside-doc detector that a symmetric Jaccard
    join (:func:`ppjoin_pairs`) structurally misses: a 50-shingle doc
    fully embedded in a 5000-shingle doc has Jaccard ~0.01 but
    containment 1.0.

    Candidate generation is the one-sided prefix-filter adaptation of
    PPJoin: ``C(A,B) >= t`` forces ``|A∩B| >= ceil(t*na)``, so A's
    rarest-first prefix of ``na - ceil(t*na) + 1`` shingles must hit at
    least one of B's (fully indexed) shingles — probing with prefixes
    only keeps hot high-df shingles out of the probe side, so each
    join group is (tiny probe x posting list of a RARE token). The
    container side cannot be length-bounded (containment has no upper
    size constraint), so its index is full; the size filter
    ``nb >= ceil(t*na)`` still prunes before verification.
    Verification is exact over per-doc sorted shingle arrays.

    Returns ``(id_a, id_b, containment, jaccard)`` where ``id_a`` is
    the contained document. Same binary-exact-threshold caveat as
    :func:`ppjoin_pairs`.
    """
    from pyspark.sql import Window

    ex = exploded_shingles(df, id_col, text_col, k_shingle)
    if persist_tokens:
        from pyspark import StorageLevel

        ex = ex.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("_dfc"))
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    ranked = ex.join(dfreq, on="shingle").join(sizes, on=id_col)
    w = Window.partitionBy(id_col).orderBy("_dfc", "shingle")
    probe = (
        ranked.withColumn("_pos", F.row_number().over(w))
        .filter(
            F.col("_pos")
            <= F.col("_n") - F.ceil(F.lit(threshold) * F.col("_n")) + 1
        )
        .select(
            F.col(id_col).alias("id_a"), "shingle",
            F.col("_n").alias("_na"), F.col("_pos").alias("_pa"),
        )
    )
    wb = Window.partitionBy(id_col).orderBy("_dfc", "shingle")
    index = ranked.withColumn("_pos", F.row_number().over(wb)).select(
        F.col(id_col).alias("id_b"), "shingle",
        F.col("_n").alias("_nb"), F.col("_pos").alias("_pb"),
    )
    # positional filter (see ppjoin_pairs): the min-position probe
    # match is the pair's first common token, so
    # |A∩B| <= 1 + min(na - pos_a, nb - pos_b), while containment >= t
    # forces |A∩B| >= ceil(t*na)
    first = (
        probe.join(index, on="shingle")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (
                F.col("_nb").cast("double")
                >= F.ceil(F.lit(threshold) * F.col("_na"))
            )
        )
        .groupBy("id_a", "id_b", "_na", "_nb")
        .agg(F.min(F.struct("_pa", "_pb")).alias("_fm"))
    )
    cand = first.filter(
        1
        + F.least(
            F.col("_na") - F.col("_fm._pa"),
            F.col("_nb") - F.col("_fm._pb"),
        )
        >= F.ceil(F.lit(threshold) * F.col("_na"))
    ).select("id_a", "id_b", "_na", "_nb")
    docsets = ex.groupBy(id_col).agg(
        F.sort_array(F.collect_list("shingle")).alias("_sh")
    )
    da = docsets.select(
        F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a")
    )
    db = docsets.select(
        F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b")
    )
    inter = F.size(F.array_intersect("_sh_a", "_sh_b")).cast("double")
    out = (
        cand.join(da, on="id_a")
        .join(db, on="id_b")
        .withColumn("containment", inter / F.col("_na"))
        .withColumn(
            "jaccard", inter / (F.col("_na") + F.col("_nb") - inter)
        )
        .filter(F.col("containment") >= F.lit(threshold))
        .select("id_a", "id_b", "containment", "jaccard")
    )
    if persist_tokens:
        from padua_spark.io_utils import track_cached

        out = track_cached(out, ex)
    return out


def edit_distance_verify(
    df: DataFrame,
    id_col: str,
    text_col: str,
    candidates: DataFrame,
    max_chars: int = 2000,
) -> DataFrame:
    """Character-level verification of candidate pairs: Levenshtein
    distance + normalized similarity for each ``(id_a, id_b)`` row of
    ``candidates`` (typically the output of
    :func:`minhash_lsh_candidates` or :func:`simhash_candidates`).

    Shingle-set measures (Jaccard/containment) are order-insensitive;
    edit distance is the ORDER-SENSITIVE acceptance check — a document
    with the same vocabulary but reshuffled sentences scores high on
    Jaccard and low here.

    Scale shape: Levenshtein is O(n·m) per pair, so it must never run
    on all pairs — this operator only joins texts onto an
    already-banded candidate set (two hash joins) and truncates to the
    first ``max_chars`` characters (both engines' budget cap; the
    similarity denominator uses the TRUNCATED lengths so the metric
    stays a true [0,1] normalization of what was actually compared).
    The distance itself is the JVM builtin — no Python in the loop.

    Returns ``candidates`` + ``(edit_distance, edit_similarity)``.
    """
    texts = df.select(
        F.col(id_col),
        F.substring(F.col(text_col), 1, max_chars).alias("_txt"),
    )
    ta = texts.select(
        F.col(id_col).alias("id_a"), F.col("_txt").alias("_txt_a")
    )
    tb = texts.select(
        F.col(id_col).alias("id_b"), F.col("_txt").alias("_txt_b")
    )
    dist = F.levenshtein("_txt_a", "_txt_b").cast("bigint")
    denom = F.greatest(F.length("_txt_a"), F.length("_txt_b"))
    out = (
        candidates.join(ta, on="id_a")
        .join(tb, on="id_b")
        .withColumn("edit_distance", dist)
        .withColumn(
            "edit_similarity",
            F.when(
                denom > 0,
                1.0 - F.col("edit_distance").cast("double") / denom,
            ).otherwise(F.lit(1.0)),
        )
        .drop("_txt_a", "_txt_b")
    )
    return out


def longest_duplicated_substring(
    df: DataFrame,
    id_col: str,
    text_col: str,
    base: int = 1000000007,
    mod: int = MOD,
) -> DataFrame:
    """Corpus-wide LONGEST exact duplicated token-substring — the
    suffix-array capability of Lee et al.'s deduplicate-text-datasets
    (ACL 2022) re-expressed as a distributed binary search, so exact
    long-repeat detection no longer depends on a single window length
    (:func:`duplicate_spans`' fixed ``k``). Beyond-reference operator
    (the reference has no dedup surface at all).

    Semantics: tokens are ``split(text, ' ')`` (single-space model,
    empties preserved — normalize upstream); a substring is duplicated
    iff the same token run occurs at two distinct (doc, position)
    slots, within one document or across documents. Output is ONE row
    ``(max_len, n_dup_substrings, n_occurrences, substring)``:
    the maximum duplicated length, how many distinct substrings
    achieve it, the occurrence count of the lexicographically smallest
    of them, and that substring itself (``max_len = 0`` and NULL
    substring when the corpus has no repeat at all).

    Scale design — why not a suffix array: a distributed suffix sort
    globally orders every token position (a terabyte-scale total sort
    plus LCP pass). Instead: the predicate "∃ duplicated substring of
    length L" is MONOTONE in L, so binary search needs only
    ``log2(max_doc_tokens)`` probes, and each probe is O(1) per token
    position via prefix polynomial hashes:

    - ONE persisted frame of exploded positions ``(id, pos, prefix
      sums, inverse powers)`` — prefix ``P`` and the broadcast
      ``base^±pos mod m`` tables make every window hash
      ``H(s, L) = (P[s+L-1] − P_excl[s]) · base^{−s}`` a constant-time
      expression; no per-window O(L) work at any L.
    - per round: one bounded per-doc window pass (docs are bounded;
      the partition key is the doc id, never a global order) and a
      map-side-combining groupBy over a DOUBLE independent 31-bit
      hash pair — search probes carry no verification join at all
      (a spurious pair-collision needs ~2^62 window pairs), and the
      converged length is STRING-verified once at the end; if that
      astronomically-unlikely verification ever failed, a fully
      verified binary search over the remaining prefix re-derives the
      answer — collisions cost time, never correctness.

    The search is K-ARY, not binary: each round evaluates up to
    ``probes_per_round`` candidate lengths in ONE shared window pass
    (one ``lead()`` pair per length over the same persisted,
    pre-partitioned prefix frame, stacked into a tagged
    ``(length, h1, h2)`` frame), so the predicate narrows the
    interval by a factor of ``probes_per_round+1`` per round —
    ``log_{k+1}(max_doc_tokens)`` cluster-wide synchronization
    barriers instead of ``log_2`` (3 rounds vs 11 at nmax≈2000).
    Driver involvement is the O(log n) round loop itself (same
    discipline as the Lloyd iterations in ``ml.kmeans_quantized``);
    every per-round data pass is distributed. Intermediates are
    unpersisted before return; the result is a materialized 1-row
    frame.

    Int64 safety: per-term products stay < mod² ≈ 2^62; the un-reduced
    prefix sums grow ≤ n·mod, so documents up to ~2^32 tokens are
    overflow-safe.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    spark = df.sparkSession
    base_df = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
    )
    nmax_row = base_df.agg(
        F.max(F.size(F.split("_text", " ")))
    ).collect()[0]
    nmax = int(nmax_row[0] or 0)
    schema = (
        "max_len bigint, n_dup_substrings bigint, "
        "n_occurrences bigint, substring string"
    )
    if nmax == 0:
        return local_frame(spark, [(0, 0, 0, None)], schema)

    b1 = base % mod
    b2 = (base + 2) % mod  # independent second channel (mod prime)
    i1, i2 = pow(b1, mod - 2, mod), pow(b2, mod - 2, mod)
    pw = local_frame(
        spark,
        [
            (
                i,
                pow(b1, i, mod),
                pow(i1, i, mod),
                pow(b2, i, mod),
                pow(i2, i, mod),
            )
            for i in range(nmax)
        ],
        "pos int, _cp1 long, _ip1 long, _cp2 long, _ip2 long",
    )
    arr = base_df.select(
        "_id",
        token_hashes(F.col("_text"), base=131, mod=mod).alias("_a1"),
        token_hashes(F.col("_text"), base=137, mod=mod).alias("_a2"),
    )
    ex = arr.select(
        "_id", F.posexplode(F.arrays_zip("_a1", "_a2")).alias("pos", "_z")
    ).join(F.broadcast(pw), on="pos")
    t1 = (F.col("_z._a1") * F.col("_cp1")) % F.lit(mod)
    t2 = (F.col("_z._a2") * F.col("_cp2")) % F.lit(mod)
    w = Window.partitionBy("_id").orderBy("pos")
    p1, p2 = F.sum(t1).over(w), F.sum(t2).over(w)
    # Persist the prefix frame ALREADY hash-partitioned by doc and
    # sorted by (doc, pos): InMemoryRelation keeps outputPartitioning/
    # ordering, so each probe's per-doc lead() window reuses it and
    # elides its Exchange + Sort — one shuffle for ALL search rounds
    # instead of one per round (measured ~2x on the sf0.1 bench row).
    # This is the ONLY persisted frame; the token arrays for the final
    # verification come from a fresh (cheap, column-pruned) scan.
    ex = (
        ex.select(
            "_id",
            "pos",
            p1.alias("_pincl"),
            (p1 - t1).alias("_pexcl"),
            "_ip1",
            p2.alias("_pincl2"),
            (p2 - t2).alias("_pexcl2"),
            "_ip2",
        )
        .repartition("_id")
        .sortWithinPartitions("_id", "pos")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    toks = base_df.select(
        "_id", F.split(F.col("_text"), " ").alias("_toks")
    )

    def _window_hash(length: int, which: int = 1):
        pin, pex, ipw = (
            ("_pincl", "_pexcl", "_ip1")
            if which == 1
            else ("_pincl2", "_pexcl2", "_ip2")
        )
        lead = F.lead(pin, length - 1).over(w)
        d = (lead - F.col(pex)) % F.lit(mod)
        return (d * F.col(ipw)) % F.lit(mod)

    def _dup_substrings(length: int) -> DataFrame:
        """Distinct VERIFIED duplicated substrings of exactly
        ``length`` tokens, with occurrence counts."""
        wins = ex.select(
            "_id", "pos", _window_hash(length).alias("_h")
        ).where(F.col("_h").isNotNull())
        dup_h = (
            wins.groupBy("_h")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") > 1)
            .select("_h")
        )
        cands = wins.join(dup_h, on="_h").select("_id", "pos")
        subs = cands.join(toks, on="_id").select(
            F.concat_ws(
                " ", F.slice("_toks", F.col("pos") + 1, length)
            ).alias("_sub")
        )
        return (
            subs.groupBy("_sub")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > 1)
        )

    def _probe_multi(lengths: list[int]) -> set[int]:
        """The subset of ``lengths`` with a double-hash duplicate —
        ALL lengths share one window pass over the persisted prefix
        frame (one lead() pair per length) and one stacked
        (length, h1, h2) collision groupBy; no verification join on
        the search path. The hash columns are STAGED as plain columns
        before the array-of-structs explode (per the
        heavy-computed-array rule: a synthesized size()>0 filter must
        re-evaluate only cheap column refs, never the window
        expressions)."""
        hcols = ex.select(
            *[
                c
                for ln in lengths
                for c in (
                    _window_hash(ln, 1).alias(f"_h{ln}"),
                    _window_hash(ln, 2).alias(f"_g{ln}"),
                )
            ],
        )
        stacked = F.array(
            *[
                F.struct(
                    F.lit(ln).alias("_l"),
                    F.col(f"_h{ln}").alias("_h"),
                    F.col(f"_g{ln}").alias("_g"),
                )
                for ln in lengths
            ]
        )
        wins = (
            hcols.select(F.explode(stacked).alias("_lh"))
            .select(
                F.col("_lh._l").alias("_l"),
                F.col("_lh._h").alias("_h"),
                F.col("_lh._g").alias("_g"),
            )
            .where(F.col("_h").isNotNull())
        )
        hits = (
            wins.groupBy("_l", "_h", "_g")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") > 1)
            .select("_l")
            .distinct()
            .collect()
        )
        return {int(r["_l"]) for r in hits}

    def _kary_search(probe) -> int:
        """Monotone k-ary max search over [1, nmax] given a
        set-probe callable; returns 0 when probe(1) fails."""
        k = 7
        first = sorted(
            {1}
            | {
                min(nmax, 1 + ((nmax - 1) * i) // k)
                for i in range(1, k + 1)
            }
        )
        found = probe(first)
        if 1 not in found:
            return 0
        lo = max(found)
        above = [p for p in first if p > lo]
        hi = min(above) - 1 if above else nmax
        while lo < hi:
            span = hi - lo
            kk = min(k, span)
            probes = sorted(
                {
                    lo + max(1, (span * i) // (kk + 1))
                    for i in range(1, kk + 1)
                }
                | {hi}
            )
            found = probe(probes)
            good = [p for p in probes if p in found]
            lo = max(good) if good else lo
            bad = [p for p in probes if p not in found and p > lo]
            hi = min(bad) - 1 if bad else hi
        return lo

    lo = _kary_search(_probe_multi)
    if lo == 0:
        ex.unpersist()
        return local_frame(spark, [(0, 0, 0, None)], schema)
    final = _dup_substrings(lo)
    if len(final.take(1)) == 0:
        # A double-hash collision (≈ n²/2^62) inflated the converged
        # length: fall back to the fully STRING-VERIFIED search over
        # what remains below. Correctness never rests on the hashes.
        nmax = lo - 1
        if nmax == 0:
            ex.unpersist()
            return local_frame(spark, [(0, 0, 0, None)], schema)

        def _probe_verified(lengths: list[int]) -> set[int]:
            return {
                ln
                for ln in lengths
                if len(_dup_substrings(ln).take(1)) > 0
            }

        lo = _kary_search(_probe_verified)
        if lo == 0:
            ex.unpersist()
            return local_frame(spark, [(0, 0, 0, None)], schema)
        final = _dup_substrings(lo)
    n_distinct, chosen, n_occ = _lds_summarize(final)
    ex.unpersist()
    return local_frame(
        spark,
        [(lo, n_distinct, n_occ, chosen)], schema
    )


def _lds_summarize(final: DataFrame):
    """(count distinct, lexicographic-min substring, its count) from
    the verified dup-substring frame — two tiny aggregations over a
    frame that is small by construction (dup groups only)."""
    row = final.agg(
        F.count(F.lit(1)).alias("_k"),
        F.min(F.struct("_sub", "_n")).alias("_m"),
    ).collect()[0]
    return int(row["_k"]), row["_m"]["_sub"], int(row["_m"]["_n"])


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_doc_freq: int = 2,
    min_line_chars: int = 1,
) -> DataFrame:
    """C4-style boilerplate-line removal — strip the lines that repeat
    ACROSS documents (cookie banners, nav footers, license headers):
    a line (newline-delimited, compared after trim) appearing in more
    than ``max_doc_freq`` DISTINCT documents is dropped from every
    document; empty/short lines (< ``min_line_chars`` after trim) are
    never counted as boilerplate evidence but are preserved in place,
    so paragraph structure survives.

    Plan: one positional explode of the corpus lines, one distinct +
    count aggregation over (line → doc frequency) — vocabulary-sized,
    map-side combined — a LEFT join of the exploded lines against the
    frequent set (the frequent set is tiny by construction: only
    lines above the threshold), and one per-document reassembly via
    ``sort_array(collect_list(struct(pos, line)))`` (per-document
    state = that document's lines — never corpus-sized). Output:
    ``(id_col, clean_text, n_lines_kept, n_lines_removed)``;
    documents whose every line is boilerplate come back with an
    empty string, not a dropped row, and NULL-text documents come
    back with NULL ``clean_text`` (0/0 counts) — every input id
    survives.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    t = F.col(text_col)
    lines = (
        df.where(t.isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(F.split(t, "\n")).alias("_pos", "_line"),
        )
        .withColumn("_key", F.trim(F.col("_line")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    freq = (
        lines.where(F.length("_key") >= int(min_line_chars))
        .select("_id", "_key")
        .distinct()
        .groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") > int(max_doc_freq))
        .select("_key", F.lit(1).alias("_bp"))
    )
    flagged = lines.join(freq, on="_key", how="left")
    keep = F.col("_bp").isNull()
    out = (
        flagged.groupBy("_id")
        .agg(
            F.sum(keep.cast("int")).cast("bigint").alias(
                "n_lines_kept"
            ),
            F.sum((~keep).cast("int")).cast("bigint").alias(
                "n_lines_removed"
            ),
            F.sort_array(
                F.collect_list(
                    F.when(
                        keep,
                        F.struct(
                            F.col("_pos").alias("p"),
                            F.col("_line").alias("l"),
                        ),
                    )
                )
            ).alias("_kept"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.array_join(
                F.transform(F.col("_kept"), lambda s: s["l"]), "\n"
            ).alias("clean_text"),
            "n_lines_kept",
            "n_lines_removed",
        )
    )
    # NULL-text rows carry no lines but must survive the operator —
    # callers join back on id; dropping them would lose documents.
    nulls = df.where(t.isNull()).select(
        F.col(id_col),
        F.lit(None).cast("string").alias("clean_text"),
        F.lit(0).cast("bigint").alias("n_lines_kept"),
        F.lit(0).cast("bigint").alias("n_lines_removed"),
    )
    return track_cached(out.unionByName(nulls), lines)


def ngram_novelty(
    df: DataFrame,
    ref_df: DataFrame,
    id_col: str,
    text_col: str,
    n_tokens: int = 13,
    broadcast_ref: bool = True,
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus — the
    positive-face of :func:`decontaminate_ngrams`: what fraction of
    each document's distinct ``n_tokens``-token windows has the
    reference corpus NEVER seen? The curation score behind "is this
    batch new material or a rehash of what we already have?"
    (dedup-aware data valuation, freshness audits, crawl-round
    deltas).

    Scale shape: both sides reuse the dedup stack's integer
    token-hash windows (:func:`token_hashes` +
    :func:`_shingles_from_token_hashes` — one interpreted pass per
    character, codegen-relational after the explode). Documents
    shorter than ``n_tokens`` emit NO windows and are ABSENT from the
    output (the strict :func:`decontaminate_ngrams` convention). The
    reference window set is distinct-reduced and (default) broadcast
    — reference exemplar sets are small against a 100 TB corpus; pass
    ``broadcast_ref=False`` for a corpus-sized reference to get the
    shuffle hash join. One scan per side, one left join, one per-doc
    aggregation. Output: ``(id, n_ngrams, n_novel, novelty_rate)``
    per document with ≥ 1 window, rate 6dp.

    Beyond the reference; the exact-window complement of the
    self-similarity scores in this module.
    """

    def _grams(d: DataFrame) -> DataFrame:
        th = d.select(
            F.col(id_col), token_hashes(F.col(text_col)).alias("_th")
        ).where(F.size("_th") >= n_tokens)
        return th.select(
            id_col,
            F.explode(
                F.array_distinct(
                    _shingles_from_token_hashes(
                        F.col("_th"), n_tokens
                    )
                )
            ).alias("_sh"),
        )

    ref = (
        _grams(ref_df).select(F.col("_sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_ref:
        ref = F.broadcast(ref)
    tr = _grams(df)
    per = tr.join(ref, on="_sh", how="left").groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ngrams"),
        F.sum(F.col("_hit").isNull().cast("int")).cast("bigint")
        .alias("n_novel"),
    )
    return per.select(
        id_col, "n_ngrams", "n_novel",
        F.round(
            F.col("n_novel").cast("double")
            / F.col("n_ngrams").cast("double"),
            6,
        ).alias("novelty_rate"),
    )


def lsh_candidate_eval(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    threshold: float = 0.5,
    k_shingle: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Candidate-quality audit of MinHash LSH against the exact
    within-block n-gram Jaccard ground truth -- THE number to check
    before trusting a banding configuration at corpus scale ("at my
    (bands, rows-per-band) S-curve, what fraction of true >= tau
    duplicate pairs does LSH actually surface, and how much junk
    rides along?"):

    ``truth`` = exact pairs with Jaccard >= ``threshold`` (within the
    blocking key -- the evaluable region; LSH candidates OUTSIDE the
    blocks can't be labeled and are excluded, documented);
    ``recall = |cand INTERSECT truth| / |truth|``;
    ``precision = |cand INTERSECT truth| / |cand within blocks|``.

    Scale shape: composes the two independently-green machines --
    banded-bucket candidate generation (never quadratic) and the
    blocked exact Jaccard (bounded by the block sizes) -- plus one
    join on the canonical (id_lo, id_hi) pair key and ONE count
    aggregation. Output 1 row: ``(threshold, n_truth, n_candidates,
    n_hit, recall, precision)``, 6dp; NULL rates where the
    denominator is 0.
    """
    from padua_spark.io_utils import track_cached

    la, lb = "id_a", "id_b"
    exact = ngram_jaccard_pairs(
        df, id_col, text_col, block_cols, k_shingle=k_shingle
    )
    truth = exact.where(
        F.col("jaccard") >= float(threshold)
    ).select(
        F.least(F.col(la), F.col(lb)).alias("_i"),
        F.greatest(F.col(la), F.col(lb)).alias("_j"),
    ).persist()
    cand_raw = minhash_lsh_candidates(
        df, id_col, text_col, k_shingle=k_shingle,
        num_hashes=num_hashes, bands=bands, seed=seed,
    )
    # restrict candidates to the evaluable region: same block key
    blocks = df.select(
        F.col(id_col).alias("_bid"), *block_cols
    ).distinct()
    ba = blocks.select(
        F.col("_bid").alias("_i"),
        *[F.col(c).alias(f"_ka_{c}") for c in block_cols],
    )
    bb = blocks.select(
        F.col("_bid").alias("_j"),
        *[F.col(c).alias(f"_kb_{c}") for c in block_cols],
    )
    same_block = None
    for c in block_cols:
        cond = F.col(f"_ka_{c}") == F.col(f"_kb_{c}")
        same_block = cond if same_block is None else (same_block & cond)
    cand = (
        cand_raw.select(
            F.least(F.col(la), F.col(lb)).alias("_i"),
            F.greatest(F.col(la), F.col(lb)).alias("_j"),
        )
        .distinct()
        .join(ba, on="_i")
        .join(bb, on="_j")
        .where(same_block)
        .select("_i", "_j")
        .persist()
    )
    # The truth/candidate cardinalities stay COLUMNS (1-row aggregates
    # broadcast-crossed onto the 1-row hit count) instead of
    # driver-side .count() scalars: the whole audit then runs as ONE
    # job at the sink rather than two synchronous count barriers plus
    # the final job (round-13 opt; values bit-identical — counts are
    # exact integers either way).
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("_nt"))
    nc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("_nc"))
    hit = truth.join(cand, on=["_i", "_j"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("_h")
    )
    out = (
        hit.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nc))
        .select(
            F.lit(float(threshold)).alias("threshold"),
            F.col("_nt").alias("n_truth"),
            F.col("_nc").alias("n_candidates"),
            F.col("_h").alias("n_hit"),
            F.round(
                F.when(
                    F.col("_nt") > 0,
                    F.col("_h").cast("double")
                    / F.col("_nt").cast("double"),
                ),
                6,
            ).alias("recall"),
            F.round(
                F.when(
                    F.col("_nc") > 0,
                    F.col("_h").cast("double")
                    / F.col("_nc").cast("double"),
                ),
                6,
            ).alias("precision"),
        )
    )
    return track_cached(out, truth, cand)
