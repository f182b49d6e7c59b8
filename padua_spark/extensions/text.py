"""Text-analysis operators for corpus curation: token counting, quality
scoring, language ID, fingerprinting. All native column expressions —
no Python in the hot path."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from padua_spark.extensions.dedup import MOD

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately minimal and deterministic.
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "fr": ["le", "la", "et", "de", "un", "une", "est"],
    "es": ["el", "la", "y", "de", "un", "una", "es"],
    "de": ["der", "die", "das", "und", "ein", "ist", "von"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(F.trim(text), r"\s+")


def token_count(text: Column) -> Column:
    return F.when(
        F.length(F.trim(text)) == 0, F.lit(0)
    ).otherwise(F.size(tokens(text)))


def stopword_ratio(text: Column, stopwords: list[str]) -> Column:
    toks = tokens(F.lower(text))
    hits = F.size(
        F.filter(toks, lambda t: t.isin([F.lit(s) for s in stopwords]))
    )
    return hits.cast("double") / F.size(toks).cast("double")


def mean_token_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    return total.cast("double") / F.size(toks).cast("double")


def quality_score(df: DataFrame, text_col: str, id_cols: list[str],
                  stopwords: list[str] | None = None) -> DataFrame:
    """Length / mean-token-length / stopword-ratio quality features —
    the standard cheap pre-filters of a training-data pipeline.

    Tokenization is staged as its own projection so the split happens
    once per row — interpreted higher-order-function expressions do no
    common-subexpression elimination (see extensions/dedup.py note).
    """
    stopwords = stopwords or STOPWORDS["en"]
    t = F.col(text_col)
    staged = df.select(
        *id_cols,
        F.length(t).alias("n_chars_actual"),
        tokens(t).alias("_toks"),
        tokens(F.lower(t)).alias("_ltoks"),
    )
    toks, ltoks = F.col("_toks"), F.col("_ltoks")
    total_len = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    )
    hits = F.size(
        F.filter(ltoks, lambda x: x.isin([F.lit(s) for s in stopwords]))
    )
    return staged.select(
        *id_cols,
        "n_chars_actual",
        F.size(toks).alias("n_tokens"),
        (total_len.cast("double") / F.size(toks).cast("double")).alias(
            "mean_token_len"
        ),
        (hits.cast("double") / F.size(ltoks).cast("double")).alias(
            "stopword_ratio"
        ),
    )


def language_id(df: DataFrame, text_col: str, id_cols: list[str],
                profiles: dict[str, list[str]] | None = None,
                cjk_lang: str | None = "zh") -> DataFrame:
    """Language ID heuristic: score = stopword hits per language, plus
    (for ``cjk_lang``) the count of tokens starting with a CJK-unified
    codepoint — scripts without whitespace-delimited stopwords need a
    codepoint-class score. Prediction = argmax, ties broken by language
    code order. One projection; at scale this is a pure map stage."""
    profiles = profiles or STOPWORDS
    toks = tokens(F.lower(F.col(text_col)))

    def _hits(sw: list[str]):
        return lambda t: t.isin([F.lit(s) for s in sw])

    # one score expression per language; if a caller's profiles already
    # contain cjk_lang, its codepoint score ADDS to the stopword score
    # (two same-named alias columns would make score_<lang> ambiguous)
    score_exprs = {
        lang: F.size(F.filter(toks, _hits(sw)))
        for lang, sw in sorted(profiles.items())
    }
    if cjk_lang:
        cjk = F.size(
            F.filter(
                toks,
                lambda t: (F.ascii(t) >= 0x4E00) & (F.ascii(t) <= 0x9FFF),
            )
        )
        score_exprs[cjk_lang] = (
            score_exprs[cjk_lang] + cjk if cjk_lang in score_exprs else cjk
        )
    scored = df.select(
        *id_cols,
        *[e.alias(f"score_{lang}") for lang, e in sorted(score_exprs.items())],
    )
    langs = sorted(score_exprs)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit(None).cast("string")
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(
            pred
        )
    return scored.withColumn(
        "predicted_lang", F.when(best > 0, pred)
    )


def fingerprint(text: Column, mod: int = MOD, base: int = 131) -> Column:
    """Deterministic document fingerprint: polynomial rolling hash over
    the normalized (lowercased, space-collapsed) text — exact int64
    arithmetic, engine-portable."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    # empty-string chars filtered: Spark ascii('')=0 vs DuckDB ord('')=-1
    codes = F.transform(
        F.filter(F.split(norm, ""), lambda ch: ch != ""),
        lambda ch: F.ascii(ch).cast("bigint"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * F.lit(base) + c) % F.lit(mod),
    )


# GPT-2-style pretokenizer pattern, simplified to the subset that
# behaves identically under Java regex (Spark) and RE2 (DuckDB): no
# lookarounds, ASCII classes (\p{L} differs subtly across engines),
# and an EXPLICIT whitespace class — Java's \s includes \x0B (vertical
# tab) while RE2's does not, so \s itself is not portable.
# Pieces: contraction suffixes | space?+letters | space?+digits |
# space?+other-run | whitespace-run.
_WS = " \\t\\n\\x0B\\f\\r"
BPE_PATTERN = (
    "'(?:s|t|re|ve|m|ll|d)"
    "| ?[A-Za-z]+"
    "| ?[0-9]+"
    f"| ?[^A-Za-z0-9{_WS}]+"
    f"|[{_WS}]+"
)


def bpe_token_count(text: Column, pattern: str = BPE_PATTERN) -> Column:
    """BPE-ish token count: number of pretokenizer matches (the
    upper-bound proxy for BPE token count used in corpus budgeting —
    every BPE merge operates within one pretoken). Native
    ``regexp_count`` — one regex pass, no Python."""
    return F.coalesce(
        F.regexp_count(text, F.lit(pattern)), F.lit(0)
    ).cast("bigint")


# ---------------------------------------------------------------------------
# PII scrubbing — the redaction pass every training-data pipeline runs
# before tokenization. Patterns are restricted to the syntax subset
# Java regex (Spark) and RE2 (DuckDB/hyperscan-class engines) agree on:
# no backreferences, no lookaround — so the same rule set runs on any
# engine and the SQL twin is oracle-checkable. Pure regexp_replace
# chain: a scan-level projection, no shuffle, whole-stage codegen.
# ---------------------------------------------------------------------------

# order matters: URLs first (may contain @ and digits), then emails,
# then IPs, then generic phone-like digit runs (separators between
# every digit so it never crosses a redacted token)
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://\S+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d(?:[ ().-]{0,2}\d){7,14}", "<PHONE>"),
]


def scrub_pii(
    text: Column, patterns: list[tuple[str, str, str]] | None = None
) -> Column:
    """Redact PII-shaped substrings (URL, email, IPv4, phone-like digit
    runs) with typed placeholder tokens."""
    out = text
    for _, rx, repl in patterns or PII_PATTERNS:
        out = F.regexp_replace(out, rx, repl)
    return out


def scrub_pii_sql(
    expr: str, patterns: list[tuple[str, str, str]] | None = None
) -> str:
    """ANSI/DuckDB SQL twin of :func:`scrub_pii` (global-flag
    regexp_replace chain, same patterns, same order). Standard SQL
    string literals pass backslashes through verbatim — only quotes
    need escaping."""
    out = expr
    for _, rx, repl in patterns or PII_PATTERNS:
        sq = rx.replace("'", "''")
        out = f"regexp_replace({out}, '{sq}', '{repl}', 'g')"
    return out


def corpus_stats(
    df: DataFrame,
    text_col: str,
    group_cols: list[str],
    chars_col: str | None = None,
    approx: bool = False,
) -> DataFrame:
    """Per-group corpus report: doc count, total whitespace tokens,
    char-length mean and p50/p90 — the summary table a curation run
    publishes per (lang, source, snapshot).

    ``approx=True`` is the 100 TB path: ``percentile_approx`` is a
    mergeable sketch (map-side partial aggregation, no per-group value
    buffering); the default exact ``percentile`` buffers each group's
    values and is fine at report-sized group counts."""
    nchars = (
        F.col(chars_col) if chars_col else F.length(F.col(text_col))
    ).cast("double")
    pct = (
        (lambda c, p: F.percentile_approx(c, p, 10000))
        if approx
        else F.percentile
    )
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col(text_col))).alias("total_tokens"),
        F.avg(nchars).alias("avg_chars"),
        pct(nchars, 0.5).alias("p50_chars"),
        pct(nchars, 0.9).alias("p90_chars"),
    )


def token_frequencies(
    df: DataFrame,
    text_col: str,
    top_n: int | None = None,
    min_count: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus token-frequency table ``(token, n)`` — the input to
    tokenizer-vocab construction and frequency-based pruning.

    Scale shape: explode → hash aggregate with map-side partial combine
    (each task pre-counts its local tokens before the shuffle), then
    ``top_n`` as a global TakeOrderedAndProject (per-partition heap +
    driver merge, no full sort). Ties break by token text."""
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    out = (
        df.select(F.explode(toks).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if min_count > 1:
        out = out.where(F.col("n") >= F.lit(min_count))
    if top_n is not None:
        out = out.orderBy(F.col("n").desc(), F.col("token").asc()).limit(
            top_n
        )
    return out


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into ≤``max_tokens``-token chunks with
    ``overlap`` shared tokens between consecutive chunks — the
    context-window packing step before tokenization. Output one row per
    ``(id, chunk_idx, chunk, n_chunk_tokens)``; every token of the
    input appears in some chunk and the final chunk is never empty.

    Chunk count is exact integer arithmetic (no float ceil — engines
    disagree on negative division, so the formula stays non-negative):
    ``1 + (max(0, n - max_tokens) + stride - 1) div stride``. One
    projection + explode; rows multiply by the per-doc chunk count but
    the plan stays a pure map stage — no shuffle."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be < max_tokens")
    stride = max_tokens - overlap
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    n = F.size(F.col("_toks"))
    extra = F.greatest(F.lit(0), n - F.lit(max_tokens))
    n_chunks = F.lit(1) + F.floor(
        (extra + F.lit(stride - 1)) / F.lit(stride)
    ).cast("bigint")
    exploded = staged.select(
        id_col,
        "_toks",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), n_chunks - F.lit(1))
        ).alias("chunk_idx"),
    )
    piece = F.slice(
        F.col("_toks"),
        (F.col("chunk_idx") * F.lit(stride) + F.lit(1)).cast("int"),
        max_tokens,
    )
    return exploded.select(
        id_col,
        "chunk_idx",
        F.array_join(piece, " ").alias("chunk"),
        F.size(piece).alias("n_chunk_tokens"),
    )


def repetition_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    line_sep: str = "\n",
) -> DataFrame:
    """Gopher-style repetition quality signals per document (Rae et al.
    2021, "Scaling Language Models", Table A1 repetition filters):

    - ``dup_line_fraction``: fraction of lines that are repeats of an
      earlier-seen line (1 − distinct/total),
    - ``dup_line_char_fraction``: fraction of line characters sitting
      in lines that occur more than once,
    - ``top_bigram_fraction``: fraction of token-bigram occurrences
      taken by the single most frequent bigram (NULL when the document
      has fewer than two tokens).

    The reference has no text-quality surface (no such code anywhere
    in /root/reference) — beyond-reference training-pipeline operator.

    Plan shape at 100 TB: relational, not per-row O(L²) array lambdas —
    explode lines / bigrams, then two partial-aggregating groupBy
    passes ((id, unit) then (id)). Partial aggregation collapses each
    document's repeats map-side, so the shuffles carry near-distinct
    rows; everything is whole-stage-codegen built-ins."""
    lines = df.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.col(text_col), line_sep), lambda l: l != ""
            )
        ).alias("_line"),
    )
    per_line = lines.groupBy(id_col, "_line").agg(
        F.count(F.lit(1)).alias("_c")
    )
    chars = F.length(F.col("_line")) * F.col("_c")
    line_stats = per_line.groupBy(id_col).agg(
        F.sum("_c").alias("n_lines"),
        (
            F.lit(1.0)
            - F.count(F.lit(1)).cast("double") / F.sum("_c")
        ).alias("dup_line_fraction"),
        (
            F.sum(F.when(F.col("_c") > 1, chars).otherwise(0)).cast(
                "double"
            )
            / F.sum(chars)
        ).alias("dup_line_char_fraction"),
    )
    staged = df.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    )
    n = F.size(F.col("_toks"))
    bigrams = staged.select(
        id_col,
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(1)),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("_toks"), i),
                        F.element_at(F.col("_toks"), i + F.lit(1)),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("_bg"),
    )
    bg_stats = (
        bigrams.groupBy(id_col, "_bg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(
            (F.max("_c").cast("double") / F.sum("_c")).alias(
                "top_bigram_fraction"
            )
        )
    )
    return line_stats.join(bg_stats, on=id_col, how="left")


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int,
    tokens_col: str | None = None,
    num_buckets: int = 32,
    boundaries: list | None = None,
) -> DataFrame:
    """Concat-and-chunk training-sequence packing: documents are laid
    end-to-end in ``id_col`` order and cut into fixed ``budget``-token
    context windows (the standard GPT-style packing). Output per
    document: ``(id, n_tokens, token_offset, seq_first, seq_last)``
    where ``token_offset`` is the document's global starting token
    offset and ``seq_first/seq_last`` the window ids its tokens land
    in. Zero-token documents are dropped (they occupy no window).

    The reference has no packing/ordering surface — beyond-reference
    training-pipeline operator.

    Scale posture — a distributed prefix sum with ONE full-data
    shuffle, not a single-partition global window: the id axis is cut
    into order-aligned buckets at approximate id quantiles (one cheap
    column-pruned pre-job collecting ≤ ``num_buckets`` numbers; pass
    ``boundaries`` to skip it), local prefix sums run as a window
    partitioned by bucket (parallel across buckets, one hash
    exchange), each bucket's total falls out of that same window
    output (max of local cumsum + count — no second exchange: the
    groupBy(bucket) reuses the window's clustering), and the tiny
    (≤ ``num_buckets``-row) totals frame rolls into base offsets that
    broadcast-join back. The result is partitioning-INVARIANT: offsets
    depend only on the id order, not on bucket boundaries — boundaries
    only steer parallelism."""
    tok = (
        F.col(tokens_col)
        if tokens_col
        else token_count(F.col(text_col))
    )
    t = df.select(
        F.col(id_col), tok.cast("bigint").alias("n_tokens")
    ).where(F.col("n_tokens") > 0)
    if boundaries is None:
        qs = [i / num_buckets for i in range(1, num_buckets)]
        boundaries = (
            t.agg(
                F.percentile_approx(id_col, qs, 10000).alias("_q")
            ).first()[0]
            or []
        )
    boundaries = sorted(set(boundaries))
    # bucket = index of the first boundary above the id — a monotone
    # (order-aligned) function of id, as a codegen'd CASE chain
    b_expr: Column | None = None
    for i, b in enumerate(boundaries):
        cond = F.col(id_col) < F.lit(b)
        b_expr = (
            F.when(cond, i) if b_expr is None else b_expr.when(cond, i)
        )
    bucket = (
        F.lit(0) if b_expr is None else b_expr.otherwise(len(boundaries))
    )
    staged = t.select(id_col, "n_tokens", bucket.alias("_b"))
    wl = (
        Window.partitionBy("_b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = staged.select(
        id_col,
        "n_tokens",
        "_b",
        F.coalesce(F.sum("n_tokens").over(wl), F.lit(0)).alias("_loc"),
    )
    totals = loc.groupBy("_b").agg(
        F.max(F.col("_loc") + F.col("n_tokens")).alias("_tot")
    )
    wp = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "_b",
        F.coalesce(F.sum("_tot").over(wp), F.lit(0)).alias("_base"),
    )
    packed = loc.join(F.broadcast(offs), on="_b")
    offset = F.col("_loc") + F.col("_base")
    return packed.select(
        id_col,
        "n_tokens",
        offset.alias("token_offset"),
        F.floor(offset / F.lit(budget)).alias("seq_first"),
        F.floor(
            (offset + F.col("n_tokens") - F.lit(1)) / F.lit(budget)
        ).alias("seq_last"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    lowercase: bool = True,
) -> DataFrame:
    """Top-``k`` terms per document by TF-IDF — the keyword-extraction /
    topic-proxy step of corpus analysis. Output:
    ``(id, token, tf, doc_freq, tfidf, term_rank)``.

    Formula: ``tfidf = tf * ln(n_docs / doc_freq)`` with raw in-doc
    count as tf (no length normalization — rank-equivalent within a
    doc and exactly portable). Ties break by token text.

    Scale shape: explode -> hash-aggregate (map-side partial combine)
    for per-(doc, token) counts; document frequencies aggregate FROM
    that table (tokens already deduped per doc, no second pass over
    text); corpus size joins in as a broadcast one-row frame so the
    whole plan stays lazy (no driver count action); the per-doc top-k
    rank compiles to WindowGroupLimit — each map task prunes to its
    local k before the shuffle."""
    reserved = {"token", "tf", "doc_freq", "tfidf", "term_rank", "_n_docs"}
    if id_col in reserved:
        raise ValueError(
            f"id_col {id_col!r} collides with a tfidf output column"
        )
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("token"))
        .where(F.col("token") != "")
        .groupBy(id_col, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    ndocs = df.agg(
        F.count_distinct(F.col(id_col)).alias("_n_docs")
    )
    scored = (
        tf.join(dfreq, on="token")
        .join(F.broadcast(ndocs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * F.log(
                F.col("_n_docs").cast("double")
                / F.col("doc_freq").cast("double")
            ),
        )
    )
    # rank on the score rounded to 9dp: engines round ln() within 1 ulp
    # of each other, so two *different* (tf, doc_freq) pairs that are
    # mathematically equal (tf2·ln(N/a) = tf1·ln(N/b) has integer
    # solutions) could order differently on raw doubles; rounding makes
    # them exact ties and the token tiebreak resolves them identically
    # everywhere
    w = Window.partitionBy(id_col).orderBy(
        F.round(F.col("tfidf"), 9).desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .where(F.col("term_rank") <= F.lit(k))
        .select(id_col, "token", "tf", "doc_freq", "tfidf", "term_rank")
    )


def bigram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    lowercase: bool = True,
) -> DataFrame:
    """Self-trained bigram language-model score per document — the
    perplexity-proxy quality signal: documents whose word transitions
    are improbable under the corpus's own bigram statistics (boilerplate
    permutations, gibberish, wrong-language shards) score low.

    Two passes over the bigram table, both from one tokenization:
    pass 1 aggregates corpus bigram counts ``c(w1,w2)`` and context
    totals ``c(w1.)``; pass 2 joins them back to each document's
    bigrams and averages the add-one-smoothed conditional log
    probability ``ln((c(w1,w2)+1) / (c(w1.)+V))`` where ``V`` is the
    corpus vocabulary size. Documents with < 2 tokens get NULL.

    Scale shape: explode -> two hash aggregations (map-side combine) ->
    two token-keyed shuffle joins (vocabulary tables are shuffle-joined,
    not broadcast — at 100 TB the bigram table is itself large) -> one
    per-doc aggregation. V joins as a broadcast one-row frame; the plan
    is fully lazy. The counts are deliberately JOINED back rather than
    computed as count-over-(w1,w2) windows: windows shuffle every
    bigram INSTANCE to its key's task — a hot partition for skewed
    common bigrams — while the aggregate side combines map-side first
    and AQE splits any skewed join partition; the cost is re-deriving
    the bigram table per branch (no CSE across join branches), which
    is CPU, not shuffle."""
    t = F.col(text_col)
    staged = df.select(
        F.col(id_col),
        tokens(F.lower(t) if lowercase else t).alias("_toks"),
    )
    n = F.size(F.col("_toks"))
    bi = staged.select(
        id_col,
        F.explode(
            F.when(
                n >= 2,
                F.transform(
                    F.sequence(F.lit(1), n - F.lit(1)),
                    lambda i: F.struct(
                        F.element_at(F.col("_toks"), i).alias("w1"),
                        F.element_at(F.col("_toks"), i + F.lit(1)).alias(
                            "w2"
                        ),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
        ).alias("_bg"),
    ).select(id_col, F.col("_bg.w1").alias("w1"), F.col("_bg.w2").alias("w2"))
    bg_counts = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c12"))
    ctx_counts = bg_counts.groupBy("w1").agg(
        F.sum("_c12").alias("_c1")
    )
    vocab = staged.select(
        F.explode(F.col("_toks")).alias("token")
    ).where(F.col("token") != "").agg(
        F.count_distinct("token").alias("_v")
    )
    logp = F.log(
        (F.col("_c12").cast("double") + F.lit(1.0))
        / (F.col("_c1").cast("double") + F.col("_v").cast("double"))
    )
    return (
        bi.join(bg_counts, on=["w1", "w2"])
        .join(ctx_counts, on="w1")
        .join(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(logp).alias("mean_logp"),
        )
    )


def token_frequencies_by_group(
    df: DataFrame,
    group_cols: list[str],
    text_col: str,
    k: int,
    lowercase: bool = True,
) -> DataFrame:
    """Top-``k`` most frequent tokens per group (per-language/source
    vocabularies, domain-signature terms). Same explode + partial hash
    aggregation as :func:`token_frequencies`, but the per-group top-k
    rank compiles to WindowGroupLimit: each map task prunes to its
    local k rows per group before the shuffle, so the exchange carries
    O(groups·k·tasks) rows — never the full vocabulary. Ties by count
    break on token text."""
    reserved = {"token", "n", "token_rank"}
    bad = reserved.intersection(group_cols)
    if bad:
        raise ValueError(
            f"group_cols {sorted(bad)} collide with output columns"
        )
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    counts = (
        df.select(*group_cols, F.explode(toks).alias("token"))
        .where(F.col("token") != "")
        .groupBy(*group_cols, "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn("token_rank", F.row_number().over(w))
        .where(F.col("token_rank") <= F.lit(k))
    )


def source_token_divergence(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_n: int = 100,
    lowercase: bool = True,
) -> DataFrame:
    """Per-source KL divergence of token distributions against the
    whole corpus — the domain-drift / source-QA metric that tells a
    data pipeline which slice's language deviates (scanned PDFs,
    boilerplate farms, wrong-language feeds) before training on it.

    ``KL(source ‖ corpus) = Σ_t p_st · ln(p_st / q_t)`` restricted to
    the corpus-wide ``top_n`` tokens (deterministic top-k, ties by
    token text) — the restriction bounds the support identically in
    any engine and keeps q_t well away from zero. Absent tokens
    contribute 0 (the p·ln p limit).

    Scale shape: ONE tokenize/explode pass feeds both the per-(source,
    token) counts and (via re-aggregation of those partials, not a
    second scan) the corpus token counts; the top-n vocabulary is a
    tiny broadcast side. Output: ``(group, kl_divergence, n_tokens)``
    with n_tokens = source token total over the full vocabulary.
    """
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    per = (
        df.select(F.col(group_col).alias("grp"), F.explode(toks).alias(
            "token"
        ))
        .where(F.col("token") != "")
        .groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("n_st"))
        .persist()
    )
    corpus = per.groupBy("token").agg(F.sum("n_st").alias("n_t"))
    top = corpus.orderBy(
        F.col("n_t").desc(), F.col("token").asc()
    ).limit(top_n)
    totals = per.groupBy("grp").agg(F.sum("n_st").alias("n_s"))
    grand = per.agg(F.sum("n_st").alias("n_total"))
    joined = (
        per.join(F.broadcast(top), on="token")
        .join(F.broadcast(totals), on="grp")
        .join(F.broadcast(grand))
    )
    p = F.col("n_st").cast("double") / F.col("n_s").cast("double")
    q = F.col("n_t").cast("double") / F.col("n_total").cast("double")
    contrib = p * F.log(p / q)
    out = joined.groupBy("grp").agg(
        F.sum(contrib).alias("kl_divergence"),
        F.max("n_s").alias("n_tokens"),
    )
    from padua_spark.io_utils import track_cached

    return track_cached(
        out.select(
            F.col("grp").alias(group_col), "kl_divergence", "n_tokens"
        ),
        per,
    )


def char_entropy(
    df: DataFrame, id_cols: list[str], text_col: str
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution (in
    nats) — the cheap low-entropy detector for boilerplate, repeated
    padding, and degenerate generator output (entropy of English prose
    sits near 2.9–3.1 nats/char; keyboard mash and repeated characters
    fall far below).

    Codepoint-exact, case-sensitive, whitespace included. Plan: one
    character explode (JVM-side generator) → (doc, char) counts with
    map-side partials → per-doc entropy aggregation (second shuffle on
    the doc key), whole-stage codegen throughout. ``explode_outer``
    emits a NULL-char row for empty docs, so every input doc survives
    without a re-join against the input.

    Entropy is computed as ``ln(n) − (Σ c·ln c)/n`` — counts are
    integers, so the only per-char float work is one ``ln`` per
    DISTINCT character.

    Output: ``(*id_cols, n_chars, char_entropy)``; empty/NULL texts
    yield n_chars = 0 and NULL entropy.
    """
    chars = F.filter(
        F.split(F.coalesce(F.col(text_col), F.lit("")), ""),
        lambda c: c != "",
    )
    per = (
        df.select(*id_cols, F.explode_outer(chars).alias("_ch"))
        .groupBy(*id_cols, "_ch")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # the NULL row from explode_outer of an empty array carries no term
    term = F.when(
        F.col("_ch").isNotNull(),
        F.col("_c").cast("double") * F.log(F.col("_c").cast("double")),
    )
    agg = per.groupBy(*id_cols).agg(
        F.coalesce(
            F.sum(F.when(F.col("_ch").isNotNull(), F.col("_c"))),
            F.lit(0),
        ).alias("n_chars"),
        F.sum(term).alias("_s"),
    )
    nd = F.col("n_chars").cast("double")
    ent = F.when(
        F.col("n_chars") > 0, F.log(nd) - F.col("_s") / nd
    )
    return agg.select(
        *id_cols,
        "n_chars",
        ent.alias("char_entropy"),
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    lowercase: bool = True,
) -> DataFrame:
    """BM25 ranked retrieval over a document corpus (Robertson/Spärck
    Jones; beyond the reference — the lexical-search complement to the
    embedding ANN stack, used in curation for contamination lookup and
    retrieval-based dedup triage).

    ``score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))``
    over the query's distinct tokens, with the standard smoothed
    ``idf = ln(1 + (N − df + 0.5)/(df + 0.5))`` (always positive).
    Output: the top-``k`` rows ``(id, score, n_hits)`` ordered by
    (score desc, id) — ``n_hits`` = how many query tokens matched.

    Scale shape: the query's token set is a per-row LITERAL array, so
    per-doc term frequencies are pure scan-side array algebra (no
    corpus explode, no inverted-index shuffle): one projection emits
    (id, |d|, tiny hits array), one explode of ≤|q| hits per matching
    doc, one hash aggregation for document frequencies, a broadcast
    join of the |q|-row idf table + the 1-row corpus stats, a per-doc
    sum, and a TakeOrdered top-k. Non-matching docs are filtered
    before the explode, so the shuffled volume is bounded by
    matches·|q|, not corpus size.

    The tokenized projection ``per_doc`` has three consumers (the
    corpus-stats scalar, the document frequencies, and the scored
    explode) and Spark reuses no exchanges across differently-
    projected branches — so it is PERSISTED, and the corpus parquet
    is scanned (and tokenized) exactly ONCE per call (plan-tested).
    The persisted frame is (id, doc_len, ≤|q| tiny hit structs) per
    doc — a small fixed multiple of N rows, spill-safe, far below the
    corpus text itself. The persist is recorded on the returned frame
    (``unpersist_intermediates`` frees it).
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached
    q_toks = sorted(
        {t for t in (query.lower() if lowercase else query).split() if t}
    )
    if not q_toks:
        raise ValueError("bm25_topk: empty query")
    t = F.col(text_col)
    toks = F.filter(
        tokens(F.lower(t) if lowercase else t), lambda x: x != ""
    )
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    q_arr = F.array(*[F.lit(x) for x in q_toks])
    # hits: (token, tf) for query tokens present in the doc — built
    # per row over the |q|-sized literal array (the heavy _toks array
    # is a staged column; HOF lambdas get no CSE otherwise)
    hits = F.filter(
        F.transform(
            q_arr,
            lambda qt: F.struct(
                qt.alias("token"),
                F.size(F.filter(F.col("_toks"), lambda x: x == qt)).alias(
                    "tf"
                ),
            ),
        ),
        lambda h: h["tf"] > 0,
    )
    per_doc = staged.select(
        F.col(id_col),
        F.size("_toks").alias("_dl"),
        hits.alias("_hits"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    matches = per_doc.where(F.size("_hits") > 0)
    exploded = matches.select(
        id_col, "_dl", F.explode("_hits").alias("_h")
    ).select(
        id_col, "_dl",
        F.col("_h.token").alias("token"),
        F.col("_h.tf").alias("tf"),
    )
    corpus = per_doc.agg(
        F.count(F.lit(1)).alias("_n_docs"),
        F.avg(F.col("_dl").cast("double")).alias("_avgdl"),
    )
    dfreq = exploded.groupBy("token").agg(
        F.count(F.lit(1)).alias("_df")
    )
    nd = F.col("_n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (nd - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
    )
    idf_tbl = dfreq.crossJoin(F.broadcast(corpus)).select(
        "token", idf.alias("_idf"), "_avgdl"
    )
    scored = exploded.join(F.broadcast(idf_tbl), on="token")
    tf_d = F.col("tf").cast("double")
    norm = tf_d * (k1 + 1.0) / (
        tf_d
        + F.lit(k1)
        * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("_dl").cast("double") / F.col("_avgdl")
        )
    )
    # rank on the 6dp-ROUNDED score with the id tie-break: the raw
    # double differs across engines/summation orders by ulps, and a
    # top-k boundary must not depend on that (same convention as
    # ward_first_merge)
    out = (
        scored.groupBy(id_col)
        .agg(
            F.sum(F.col("_idf") * norm).alias("score"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .orderBy(F.round("score", 6).desc(), F.col(id_col))
        .limit(k)
    )
    return track_cached(out, per_doc)


def zipf_slope(
    df: DataFrame,
    text_col: str,
    top_n: int = 1000,
    lowercase: bool = True,
) -> DataFrame:
    """Zipf-law fit over the corpus frequency spectrum: OLS slope of
    ``ln(freq)`` on ``ln(rank)`` for the ``top_n`` most frequent
    tokens. Natural-language corpora sit near slope −1; a flat slope
    flags templated/boilerplate-heavy shards and a cliff flags
    synthetic/looping text — a cheap corpus-level quality gate next
    to the per-doc Gopher signals.

    Scale shape: :func:`token_frequencies` (explode → partial+final
    hash agg → TakeOrdered top_n) does all the data-sized work; the
    rank window and the 5 regression sums run over the BOUNDED
    ``top_n``-row frame (single-partition window over ≤ top_n rows at
    any corpus size — the constant-size exception the cumsum rule
    allows). Ranks tie-break by token text, deterministic on any
    engine. Output 1 row:
    ``(slope, intercept, r2, n_terms)``.
    """
    freqs = token_frequencies(
        df, text_col, top_n=top_n, lowercase=lowercase
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    ranked = freqs.select(
        F.log(F.row_number().over(w).cast("double")).alias("_x"),
        F.log(F.col("n").cast("double")).alias("_y"),
    )
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    nd = F.col("n_terms").cast("double")
    cov = nd * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    varx = nd * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    vary = nd * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = F.when(varx > 0, cov / varx)
    return agg.select(
        slope.alias("slope"),
        F.when(
            varx > 0,
            (F.col("_sy") - (cov / varx) * F.col("_sx")) / nd,
        ).alias("intercept"),
        F.when(
            (varx > 0) & (vary > 0), cov * cov / (varx * vary)
        ).alias("r2"),
        "n_terms",
    )


def hapax_stats(
    df: DataFrame,
    group_cols: list[str],
    text_col: str,
    lowercase: bool = True,
) -> DataFrame:
    """Per-group vocabulary richness: total token count, vocabulary
    size, hapax legomena count (tokens occurring exactly once),
    type-token ratio and hapax ratio — the lexical-diversity screen
    for corpus shards (machine-generated or heavily deduplicated
    shards show depressed hapax ratios; OCR-noise shards show
    inflated ones).

    Scale shape: one explode → (group, token) hash aggregation with
    map-side partial combine, then a per-group rollup — counts stay
    integers end to end, the two ratios are one IEEE division each.
    Output per group:
    ``(group_cols..., n_tokens, vocab_size, hapax_count,
    type_token_ratio, hapax_ratio)``.
    """
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    per_token = (
        df.select(*group_cols, F.explode(toks).alias("token"))
        .where(F.col("token") != "")
        .groupBy(*group_cols, "token")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    agg = per_token.groupBy(*group_cols).agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.count(F.when(F.col("_c") == 1, 1)).alias("hapax_count"),
    )
    return agg.select(
        *group_cols,
        "n_tokens",
        "vocab_size",
        "hapax_count",
        (
            F.col("vocab_size").cast("double")
            / F.col("n_tokens").cast("double")
        ).alias("type_token_ratio"),
        (
            F.col("hapax_count").cast("double")
            / F.col("vocab_size").cast("double")
        ).alias("hapax_ratio"),
    )


def token_pmi(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
    min_pair_count: int = 5,
    max_df_frac: float = 1.0,
    persist_tokens: bool = True,
) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring in the
    same document — the collocation / topic-coherence primitive
    (`pmi = ln(P(a,b) / (P(a)·P(b)))` over document presence, plus the
    [-1, 1]-normalized `npmi = pmi / -ln(P(a,b))`).

    The naive formulation is quadratic per document, so pruning comes
    FIRST, where it collapses the pair space rather than after:

    - ``min_count`` drops rare tokens before pairing;
    - ``max_df_frac`` drops stopword-grade tokens that appear in more
      than this fraction of documents — they dominate the per-doc
      quadratic blowup while carrying PMI ≈ 0 by construction (their
      presence is near-independent of everything);
    - ``min_pair_count`` bounds the output after aggregation.

    Cost shape: one token-df aggregation, one (doc, token)⋈(doc, token)
    self-join on the DOCUMENT key (per-doc quadratic in SURVIVING
    tokens only), one pair aggregation with map-side combine. All
    counts are presence counts (distinct per doc), so every statistic
    is an exact integer ratio — engine-reproducible.

    Returns ``(token_a, token_b, pair_count, count_a, count_b, pmi,
    npmi)`` with ``token_a < token_b``.
    """
    tok = (
        df.select(
            F.col(id_col).alias("_doc"),
            F.explode(
                F.array_distinct(tokens(F.col(text_col)))
            ).alias("_t"),
        )
        .where(F.col("_t") != "")
    )
    if persist_tokens:
        from pyspark import StorageLevel

        tok = tok.persist(StorageLevel.MEMORY_AND_DISK)
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("_nd")
    )
    dfreq = (
        tok.groupBy("_t")
        .agg(F.count(F.lit(1)).alias("_c"))
        .join(F.broadcast(n_docs))
        .where(
            (F.col("_c") >= F.lit(min_count))
            & (
                F.col("_c").cast("double")
                <= F.lit(max_df_frac) * F.col("_nd")
            )
        )
    )
    kept = tok.join(
        dfreq.select("_t", "_c", "_nd"), on="_t"
    )
    a = kept.select(
        "_doc",
        F.col("_t").alias("token_a"),
        F.col("_c").alias("count_a"),
        "_nd",
    )
    b = kept.select(
        "_doc",
        F.col("_t").alias("token_b"),
        F.col("_c").alias("count_b"),
    )
    pairs = (
        a.join(b, on="_doc")
        .where(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b", "count_a", "count_b", "_nd")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= F.lit(min_pair_count))
    )
    n = F.col("_nd").cast("double")
    p_ab = F.col("pair_count").cast("double") / n
    pmi = F.log(
        p_ab
        / (
            (F.col("count_a").cast("double") / n)
            * (F.col("count_b").cast("double") / n)
        )
    )
    out = pairs.select(
        "token_a",
        "token_b",
        "pair_count",
        "count_a",
        "count_b",
        pmi.alias("pmi"),
        # npmi is undefined when the pair occurs in EVERY document
        # (-ln(1) = 0); NULL beats an engine-dependent inf/NaN
        F.when(
            F.col("pair_count") < F.col("_nd"), pmi / -F.log(p_ab)
        ).alias("npmi"),
    )
    if persist_tokens:
        from padua_spark.io_utils import track_cached

        out = track_cached(out, tok)
    return out


def keyness_llr(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str,
    min_total: int = 5,
    persist_counts: bool = True,
) -> DataFrame:
    """Dunning log-likelihood keyness (G², 1993): which tokens are
    statistically over/under-represented in corpus A vs corpus B — the
    standard "what is distinctive about this source/split" diagnostic,
    sharper than raw frequency ratios for rare words because it is a
    proper likelihood-ratio test on the full 2×2 contingency table
    (token vs not-token, corpus A vs B):

    ``G2 = 2 Σ_cell O·ln(O/E)`` (0-count cells contribute 0),
    signed positive when the token's rate is higher in A.

    Token counts use multiplicity (occurrence counts, not document
    presence). Each side is one explode + aggregate with map-side
    combine; the vocabularies meet in a full outer join on token
    (vocab-sized); the two corpus totals are a 1-row broadcast.
    Totals ``n_a``/``n_b`` are TRUE corpus totals — aggregated from the
    merged count frame BEFORE the ``min_total`` vocabulary filter, so
    rare-token mass still contributes to the expected counts (Dunning's
    statistic over the full corpus, not the retained vocabulary). Every
    input to the arithmetic is an exact integer, so G² is
    engine-reproducible.

    Returns ``(token, count_a, count_b, llr)`` for tokens with
    ``count_a + count_b >= min_total``, ``llr`` signed.
    """

    def _counts(d: DataFrame, out: str) -> DataFrame:
        return (
            d.select(
                F.explode(tokens(F.col(text_col))).alias("token")
            )
            .where(F.col("token") != "")
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(out))
        )

    ca = _counts(df_a, "count_a")
    cb = _counts(df_b, "count_b")
    merged = ca.join(cb, on="token", how="full_outer").select(
        "token",
        F.coalesce("count_a", F.lit(0)).alias("count_a"),
        F.coalesce("count_b", F.lit(0)).alias("count_b"),
    )
    if persist_counts:
        from pyspark import StorageLevel

        # persisted PRE-filter: both the totals aggregation and the
        # retained-vocabulary branch consume it
        merged = merged.persist(StorageLevel.MEMORY_AND_DISK)
    totals = merged.agg(
        F.sum("count_a").cast("bigint").alias("_na"),
        F.sum("count_b").cast("bigint").alias("_nb"),
    )
    counts = merged.where(
        (F.col("count_a") + F.col("count_b")) >= F.lit(min_total)
    )
    j = counts.join(F.broadcast(totals))
    a = F.col("count_a").cast("double")
    b = F.col("count_b").cast("double")
    na, nb = F.col("_na").cast("double"), F.col("_nb").cast("double")
    c, d_ = na - a, nb - b
    n = na + nb

    def _term(obs, exp):
        return F.when(obs > 0, obs * F.log(obs / exp)).otherwise(
            F.lit(0.0)
        )

    g2 = 2.0 * (
        _term(a, na * (a + b) / n)
        + _term(b, nb * (a + b) / n)
        + _term(c, na * (c + d_) / n)
        + _term(d_, nb * (c + d_) / n)
    )
    out = j.select(
        "token",
        "count_a",
        "count_b",
        F.when(a / na >= b / nb, g2).otherwise(-g2).alias("llr"),
    )
    if persist_counts:
        from padua_spark.io_utils import track_cached

        out = track_cached(out, merged)
    return out


def heaps_law(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit — the corpus-health companion
    to :func:`zipf_slope`: distinct-vocabulary size grows as
    ``V(T) ≈ k·T^β`` in total tokens ``T`` (β ≈ 0.4–0.6 for natural
    text; β near 1 flags ID/noise-heavy corpora whose "vocabulary"
    never saturates, β near 0 flags template/boilerplate corpora).
    Fits ``log V = log k + β·log T`` by least squares over the
    per-document prefix curve in ``id_col`` order (one observation
    point per document). Output 1 row:
    ``(n_points, n_tokens, n_vocab, beta, log_k)`` with the totals as
    exact bigints and the fit coefficients rounded to 6dp.

    Tokens are the single-space model shared with the dedup family
    (``split(text, ' ')``).

    Scale shape — the prefix curve without a global sort: a token's
    first occurrence is ``min(doc)`` per distinct token (one
    aggregation), new-vocab counts per doc come from a second (tiny
    output) aggregation, per-doc token counts from a scan-side
    aggregation of the same exploded frame, and BOTH cumulative curves
    run in ONE distributed stepped-cumsum pass over the doc axis
    (:func:`operators.stats._stepped_running_counts` — repartitionByRange
    + local window + broadcast prefix offsets, never a partitionless
    data-sized window). The closed-form LS fit is a single 5-sum
    aggregation over the per-doc points.
    """
    from padua_spark.operators.stats import _stepped_running_counts

    # Stage the token array before the explode (heavy-computed-array
    # rule — the synthesized size()>0 filter must not re-split).
    staged = df.select(
        F.col(id_col).alias("_id"),
        F.split(F.col(text_col), " ").alias("_arr"),
    )
    toked = staged.select("_id", F.explode("_arr").alias("_t"))
    first = toked.groupBy("_t").agg(F.min("_id").alias("_id"))
    new_per_doc = first.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_cnew")
    )
    tok_per_doc = toked.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_ctok")
    )
    per = tok_per_doc.join(new_per_doc, on="_id", how="left").select(
        "_id",
        F.col("_ctok"),
        F.coalesce("_cnew", F.lit(0)).cast("bigint").alias("_cnew"),
    )
    stepped = _stepped_running_counts(per, "_id", ["_ctok", "_cnew"])
    pts = stepped.where(F.col("_ctok_run") > 0).select(
        F.log(F.col("_ctok_run").cast("double")).alias("_x"),
        F.log(F.col("_cnew_run").cast("double")).alias("_y"),
        F.col("_ctok_run").alias("_trun"),
        F.col("_cnew_run").alias("_vrun"),
    )
    agg = pts.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.max("_trun").cast("bigint").alias("n_tokens"),
        F.max("_vrun").cast("bigint").alias("n_vocab"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
    )
    nd = F.col("n_points").cast("double")
    beta = (nd * F.col("_sxy") - F.col("_sx") * F.col("_sy")) / (
        nd * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    )
    staged_fit = agg.select(
        "n_points", "n_tokens", "n_vocab",
        beta.alias("_beta"),
        ((F.col("_sy") - beta * F.col("_sx")) / nd).alias("_logk"),
    )
    out = staged_fit.select(
        "n_points",
        "n_tokens",
        "n_vocab",
        F.round("_beta", 6).alias("beta"),
        F.round("_logk", 6).alias("log_k"),
    )
    from padua_spark.io_utils import track_cached

    return track_cached(out, *getattr(stepped, "_padua_cached", ()))


def naive_bayes_token_classify(
    df_train: DataFrame,
    df_score: DataFrame,
    text_col: str,
    label_col: str,
    id_col: str,
    alpha: float = 1.0,
    max_classes: int = 64,
) -> DataFrame:
    """Multinomial naive Bayes text classifier — train AND score in
    one lazy plan: the classic scalable baseline for language/source/
    quality routing over a corpus (the model *is* a token-count
    aggregation, so Spark's map-side combine is the whole training
    cost; no iterations, no gradient state):

    ``log p(c|d) ∝ ln(N_c/N) + Σ_{t∈d} ln((n_{c,t} + α)/(T_c + αV))``

    with Laplace smoothing ``α``, vocabulary ``V`` from the training
    corpus, and unseen scoring tokens falling back to the class's
    smoothed-zero mass. Tokens are the shared single-space model
    (:func:`tokens`).

    Classes are discovered from the training frame with a bounded
    collect, enforced against ``max_classes`` (per-class conditional
    aggregation columns — the :func:`anderson_darling_ksamp` pattern
    — keep the token-count frame ONE row per token regardless of k).
    Plan: one explode+aggregate over train (vocab-sized result), a
    1-row broadcast of the class totals onto the scoring tokens, one
    LEFT join of scoring tokens against the vocab (unseen tokens keep
    their per-class fallback), one per-doc aggregation, argmax via a
    single struct-max (ties break to the lexicographically first
    class — deterministic on every engine).

    Output: ``(id_col, predicted, best_logp)`` — one row per scored
    document with a non-empty token list; ``best_logp`` rounded to
    6dp.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    classes = [
        r[0]
        for r in df_train.where(F.col(label_col).isNotNull())
        .select(label_col)
        .distinct()
        .limit(max_classes + 1)
        .collect()
    ]
    if len(classes) > max_classes:
        raise ValueError(
            f"naive_bayes_token_classify: more than {max_classes} "
            "classes in the training frame; raise max_classes "
            "deliberately if the label domain is genuinely that wide"
        )
    classes = sorted(classes, key=str)
    cols = [f"_c{i}" for i in range(len(classes))]
    tr = (
        df_train.where(
            F.col(label_col).isNotNull() & F.col(text_col).isNotNull()
        )
        .select(
            F.col(label_col).alias("_y"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .where(F.col("token") != "")
    )
    vocab = tr.groupBy("token").agg(
        *[
            F.count(F.when(F.col("_y") == c, 1)).alias(col)
            for c, col in zip(classes, cols)
        ]
    ).persist(StorageLevel.MEMORY_AND_DISK)
    totals = vocab.agg(
        F.count(F.lit(1)).alias("_v"),
        *[F.sum(col).alias(f"{col}_tot") for col in cols],
    )
    # class priors need DOCUMENT counts, not token counts
    priors = (
        df_train.where(
            F.col(label_col).isNotNull() & F.col(text_col).isNotNull()
        )
        .agg(
            F.count(F.lit(1)).alias("_nd"),
            *[
                F.count(F.when(F.col(label_col) == c, 1)).alias(
                    f"{col}_docs"
                )
                for c, col in zip(classes, cols)
            ],
        )
    )
    scalars = totals.join(F.broadcast(priors))
    sc = (
        df_score.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .where(F.col("token") != "")
    )
    joined = sc.join(vocab, on="token", how="left").join(
        F.broadcast(scalars)
    )
    al = F.lit(float(alpha))
    per_tok = [
        (
            F.log(
                F.coalesce(F.col(col), F.lit(0)).cast("double") + al
            )
            - F.log(
                F.col(f"{col}_tot").cast("double")
                + al * F.col("_v").cast("double")
            )
        ).alias(f"{col}_lp")
        for col in cols
    ]
    staged = joined.select("_id", *per_tok, *[
        (
            F.log(F.col(f"{col}_docs").cast("double"))
            - F.log(F.col("_nd").cast("double"))
        ).alias(f"{col}_prior")
        for col in cols
    ])
    agg = staged.groupBy("_id").agg(
        *[
            (
                F.sum(F.col(f"{col}_lp"))
                + F.first(F.col(f"{col}_prior"))
            ).alias(f"{col}_score")
            for col in cols
        ]
    )
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    F.col(f"{col}_score").alias("s"),
                    F.lit(-i).alias("negidx"),
                )
                for i, col in enumerate(cols)
            ]
        )
    )
    lookup = F.array(*[F.lit(str(c)) for c in classes])
    # stage the struct-max once (HOF/struct expressions get no CSE)
    out = agg.withColumn("_b", best).select(
        F.col("_id").alias(id_col),
        F.element_at(
            lookup, (-F.col("_b.negidx") + 1).cast("int")
        ).alias("predicted"),
        F.round(F.col("_b.s"), 6).alias("best_logp"),
    )
    return track_cached(out, vocab)


def readability_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Flesch reading ease + Flesch-Kincaid grade level — the
    standard readability pair for corpus quality slicing ("is this
    source mostly legalese?"), computed entirely scan-side (three
    regexp counts per document, zero shuffles, zero UDFs — whole-
    stage-codegen territory):

    ``flesch = 206.835 − 1.015·(W/S) − 84.6·(Y/W)``
    ``fk_grade = 0.39·(W/S) + 11.8·(Y/W) − 15.59``

    with W = token count (shared single-space model), S = sentence
    count (runs of ``[.!?]``, floored at 1 so headline-style docs
    don't divide by zero), and Y = the syllable APPROXIMATION used by
    every open implementation: vowel-group runs ``[aeiouy]+`` of the
    lowercased text, plus 1 for each vowel-less token (digits,
    acronyms) so every word counts at least one syllable. The
    heuristic is documented, deterministic, and engine-identical —
    not a linguistic claim.

    Output: ``(id_col, n_words, n_sentences, n_syllables, flesch,
    fk_grade)``; scores NULL for token-less documents, rounded 6dp.
    """
    t = F.col(text_col)
    toks = F.filter(tokens(t), lambda x: x != "")
    n_words = F.size(toks).cast("bigint")
    n_sent = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    vowel_groups = F.regexp_count(F.lower(t), F.lit("[aeiouy]+"))
    no_vowel = F.size(
        F.filter(toks, lambda x: ~x.rlike("[aeiouyAEIOUY]"))
    )
    n_syll = (vowel_groups + no_vowel).cast("bigint")
    staged = df.where(t.isNotNull()).select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    w = F.col("n_words").cast("double")
    s = F.col("n_sentences").cast("double")
    y = F.col("n_syllables").cast("double")
    return staged.select(
        id_col,
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.when(
                F.col("n_words") > 0,
                206.835 - 1.015 * (w / s) - 84.6 * (y / w),
            ),
            6,
        ).alias("flesch"),
        F.round(
            F.when(
                F.col("n_words") > 0,
                0.39 * (w / s) + 11.8 * (y / w) - 15.59,
            ),
            6,
        ).alias("fk_grade"),
    )


def tokenizer_stats(
    df: DataFrame,
    group_cols: list[str],
    text_col: str,
) -> DataFrame:
    """Per-group tokenizer fertility and compression diagnostics —
    the corpus-budgeting numbers a multilingual pipeline reads before
    fixing a token budget (CJK text yields far more BPE pretokens per
    whitespace word; a quality filter tuned on English token counts
    silently over-prunes it):

    ``fertility = BPE pretokens / whitespace tokens`` and
    ``chars_per_token = chars / BPE pretokens``,

    with the shared portable BPE pretokenizer (:data:`BPE_PATTERN`)
    and whitespace model (:func:`tokens`). ONE conditional
    aggregation of four exact integer sums per group — all scan-side
    regexp counts, zero shuffles beyond the group-by. Output:
    ``(groups..., n_docs, n_chars, n_ws_tokens, n_bpe_tokens,
    fertility, chars_per_token)``, ratios 6dp, NULL where the
    denominator is 0.
    """
    t = F.col(text_col)
    ws = F.size(F.filter(tokens(t), lambda x: x != "")).cast("bigint")
    bpe = bpe_token_count(t)
    agg = df.where(t.isNotNull()).groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length(t)).cast("bigint").alias("n_chars"),
        F.sum(ws).cast("bigint").alias("n_ws_tokens"),
        F.sum(bpe).cast("bigint").alias("n_bpe_tokens"),
    )
    return agg.select(
        *group_cols,
        "n_docs",
        "n_chars",
        "n_ws_tokens",
        "n_bpe_tokens",
        F.round(
            F.when(
                F.col("n_ws_tokens") > 0,
                F.col("n_bpe_tokens").cast("double")
                / F.col("n_ws_tokens").cast("double"),
            ),
            6,
        ).alias("fertility"),
        F.round(
            F.when(
                F.col("n_bpe_tokens") > 0,
                F.col("n_chars").cast("double")
                / F.col("n_bpe_tokens").cast("double"),
            ),
            6,
        ).alias("chars_per_token"),
    )


def token_distribution_divergences(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_n: int = 100,
    lowercase: bool = True,
) -> DataFrame:
    """Per-group Jensen-Shannon divergence and Hellinger distance of
    token distributions against the whole corpus — the SYMMETRIC,
    BOUNDED companions to :func:`source_token_divergence`'s KL (KL is
    unbounded and blows up on absent tokens; JS ≤ ln 2 and Hellinger
    ≤ 1 make slices comparable on one scale, the usual dashboard
    requirement):

    over the corpus-wide ``top_n`` token support (deterministic
    top-k, ties by token text) PLUS an explicit ``other`` bucket
    holding each side's residual tail mass ``1 − Σ_support``, so p
    and q are true distributions and both metrics treat tail mass
    identically. With ``m = (p+q)/2``: ``JS = ½·Σ p·ln(p/m) +
    ½·Σ q·ln(q/m)`` (nats; absent tokens contribute the exact
    ``½·q·ln 2`` limit via the explicit support grid) and
    ``H = √(1 − Σ √(p·q))``.

    Scale shape: ONE tokenize/explode pass feeds the per-(group,
    token) counts; the support grid is the (groups × top_n) cross of
    two broadcast-sized frames — absent cells exist with count 0, so
    the q-side mass is never silently dropped. Output: ``(group,
    js_divergence, hellinger, n_tokens)``, 6dp.
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    per = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(toks).alias("token"),
        )
        .where(F.col("token") != "")
        .groupBy("grp", "token")
        .agg(F.count(F.lit(1)).alias("n_st"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    corpus = per.groupBy("token").agg(F.sum("n_st").alias("n_t"))
    top = corpus.orderBy(
        F.col("n_t").desc(), F.col("token").asc()
    ).limit(top_n)
    totals = per.groupBy("grp").agg(F.sum("n_st").alias("n_s"))
    grand = per.agg(F.sum("n_st").alias("n_total"))
    grid = totals.crossJoin(F.broadcast(top)).join(
        F.broadcast(grand)
    )
    joined = grid.join(per, on=["grp", "token"], how="left").select(
        "grp",
        "n_s",
        F.coalesce("n_st", F.lit(0)).alias("n_st"),
        "n_t",
        "n_total",
    )
    p = F.col("n_st").cast("double") / F.col("n_s").cast("double")
    q = F.col("n_t").cast("double") / F.col("n_total").cast("double")
    m = (p + q) / 2.0
    js_term = (
        F.when(F.col("n_st") > 0, 0.5 * p * F.log(p / m)).otherwise(
            F.lit(0.0)
        )
        + 0.5 * q * F.log(q / m)
    )
    hel_term = F.sqrt(p * q)
    sums = joined.groupBy("grp").agg(
        F.sum(js_term).alias("_js_sup"),
        F.sum(hel_term).alias("_bc_sup"),
        F.sum(p).alias("_p_sup"),
        F.sum(q).alias("_q_sup"),
        F.max("n_s").alias("n_tokens"),
    )
    # Explicit 'other' bucket: each side's residual mass beyond the
    # top_n support enters BOTH divergences as one extra cell, so p
    # and q are true distributions and JS/Hellinger treat the tail
    # consistently (previously JS dropped it while Hellinger counted
    # it as total disagreement).
    p_o = F.greatest(F.lit(0.0), 1.0 - F.col("_p_sup"))
    q_o = F.greatest(F.lit(0.0), 1.0 - F.col("_q_sup"))
    m_o = (p_o + q_o) / 2.0
    js_o = (
        F.when(p_o > 0, 0.5 * p_o * F.log(p_o / m_o)).otherwise(0.0)
        + F.when(q_o > 0, 0.5 * q_o * F.log(q_o / m_o)).otherwise(
            0.0
        )
    )
    out = sums.select(
        "grp",
        F.round(F.col("_js_sup") + js_o, 6).alias("js_divergence"),
        F.round(
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    1.0 - (F.col("_bc_sup") + F.sqrt(p_o * q_o)),
                )
            ),
            6,
        ).alias("hellinger"),
        "n_tokens",
    )
    return track_cached(
        out.select(
            F.col("grp").alias(group_col),
            "js_divergence",
            "hellinger",
            "n_tokens",
        ),
        per,
    )


def textrank_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 2,
    min_chars: int = 4,
    k_iters: int = 5,
    damping: float = 0.85,
    top_k: int | None = None,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) — PageRank
    over the token co-occurrence graph: tokens that co-occur within
    ``window`` positions share an edge; central tokens are keywords.
    The graph-centrality upgrade of raw TF ranking (a term that
    bridges many contexts outranks one that merely repeats), built
    entirely from operators this repo already trusts.

    Semantics (pinned for engine reproducibility): tokens are the
    whitespace tokenization of the LOWERCASED text; tokens shorter
    than ``min_chars`` are dropped (the POS-filter stand-in) and the
    co-occurrence window slides over the FILTERED sequence — the
    original Mihalcea–Tarau convention. Pairs at sequence distance
    1..``window`` become a symmetrized DISTINCT edge list fed to
    :func:`~padua_spark.extensions.graph.pagerank` (fixed
    ``k_iters``, dangling mass dropped — same documented recurrence).

    Scale shape: the co-occurrence pairs come from ``window`` LEAD
    columns in ONE window pass over the per-document token sequence
    (one shuffle on the doc key — no self-join of the position frame
    at all), exploded to pairs IN THE SAME PASS (the lead frame has
    exactly one consumer, so it is never persisted or recomputed),
    and everything after is vocabulary-sized: one distinct to the
    canonical undirected edges, then :func:`pagerank` told the
    symmetrized list is already distinct (canonical src<dst edges and
    their reversals cannot collide), so its own edge-dedup shuffle is
    skipped. Output: ``(token, rank)`` (rank 9dp), optionally
    ``top_k`` by ``(rank DESC, token)``.
    """
    from pyspark import StorageLevel

    from padua_spark.extensions.graph import pagerank
    from padua_spark.io_utils import track_cached

    from pyspark.sql import Window

    t = F.col(text_col)
    staged = df.where(t.isNotNull()).select(
        F.col(id_col).alias("_doc"),
        tokens(F.lower(t)).alias("_arr"),
    )
    pos = staged.select(
        "_doc", F.posexplode("_arr").alias("_p", "_tok")
    ).where(F.length("_tok") >= int(min_chars))
    w = Window.partitionBy("_doc").orderBy(F.col("_p").asc())
    led = pos.select(
        F.col("_tok").alias("_ta"),
        *[
            F.lead("_tok", off).over(w).alias(f"_tb{off}")
            for off in range(1, int(window) + 1)
        ],
    )
    # Explode the window of lead columns to pairs in the SAME pass —
    # a per-offset union would consume the lead frame `window` times
    # (forcing a persist + materialization barrier); the tiny
    # (≤window)-element array stays inside codegen.
    pairs = led.select(
        "_ta",
        F.explode(
            F.filter(
                F.array(*[
                    F.col(f"_tb{off}")
                    for off in range(1, int(window) + 1)
                ]),
                lambda x: x.isNotNull(),
            )
        ).alias("_tb"),
    )
    # DISTINCT the undirected pairs BEFORE symmetrizing, and persist:
    # a union-based symmetrize references its upstream twice (the
    # round-4 connected-components finding), so without this the
    # whole co-occurrence pipeline would run twice.
    und = (
        pairs.where(F.col("_ta") != F.col("_tb"))
        .select(
            F.least(F.col("_ta"), F.col("_tb")).alias("src"),
            F.greatest(F.col("_ta"), F.col("_tb")).alias("dst"),
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sym = und.unionAll(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    ranks = pagerank(
        sym, "src", "dst", k_iters, damping, edges_distinct=True
    )
    out = ranks.select(
        F.col("node").alias("token"),
        F.round("rank", 9).alias("rank"),
    )
    if top_k is not None:
        out = out.orderBy(
            F.col("rank").desc(), F.col("token").asc()
        ).limit(int(top_k))
    cached = [und]
    cached.extend(getattr(ranks, "_padua_cached", ()))
    return track_cached(out, *cached)


def script_profile(
    df: DataFrame,
    text_col: str,
) -> DataFrame:
    """Per-document Unicode-script composition -- the mixed-script /
    wrong-corpus screen (a "Latin" crawl shard full of Cyrillic
    look-alikes, CJK boilerplate inside an English slice, the
    homoglyph-spoofing signal): fractions of characters in Latin,
    Cyrillic, Han, Arabic, plus digits and whitespace, and the
    residual ``other_frac``.

    Pure scan-level projections -- one regexp length difference per
    class, zero shuffles, codegen throughout (the same contract as
    gopher_rules). Character classes use Unicode script properties,
    which Java regex (``\\p{IsLatin}``) and RE2 (``\\p{Latin}``)
    both implement. Output: input + ``n_chars_sp, latin_frac,
    cyrillic_frac, han_frac, arabic_frac, digit_frac, space_frac,
    other_frac`` (NULL fractions for empty text).
    """
    t = F.col(text_col)
    n = F.length(t)

    def frac(pattern: str) -> Column:
        kept = F.length(F.regexp_replace(t, pattern, ""))
        return F.when(
            n > 0, (n - kept).cast("double") / n.cast("double")
        )

    classes = {
        "latin_frac": r"[\p{IsLatin}]",
        "cyrillic_frac": r"[\p{IsCyrillic}]",
        "han_frac": r"[\p{IsHan}]",
        "arabic_frac": r"[\p{IsArabic}]",
        "digit_frac": r"[0-9]",
        "space_frac": r"[\s]",
    }
    out = df.withColumn("n_chars_sp", n)
    acc = None
    for name, pat in classes.items():
        out = out.withColumn(name, F.round(frac(pat), 6))
        acc = F.col(name) if acc is None else acc + F.col(name)
    return out.withColumn(
        "other_frac",
        F.round(
            F.when(n > 0, F.greatest(F.lit(0.0), 1.0 - acc)), 6
        ),
    )


def mojibake_score(
    df: DataFrame,
    text_col: str,
) -> DataFrame:
    """Per-document encoding-damage score -- the mojibake screen for
    crawled corpora: counts of U+FFFD replacement characters, C0/C1
    control characters (tab/newline/CR excluded), and the classic
    UTF-8-read-as-Latin-1 artifact bigrams (U+00C3 followed by a
    Latin-1 range char; U+00E2 U+20AC), normalized per 1000
    characters. Each damaged character bills ONCE: the artifact
    bigram's second-byte range overlaps C1, so controls are counted
    on the text with artifact bigrams already stripped.

    Pure scan-level length differences, zero shuffles. Output: input
    + ``n_replacement, n_control, n_artifact, mojibake_per_kchar``
    (NULL rate for empty text).
    """
    t = F.col(text_col)
    n = F.length(t)

    def count(pattern: str) -> Column:
        return n - F.length(F.regexp_replace(t, pattern, ""))

    n_rep = count("\ufffd")
    # artifact bigrams: the replace strips 2 chars per hit
    art_pat = "(\u00c3[\u0080-\u00bf]|\u00e2\u20ac)"
    n_art = (count(art_pat) / F.lit(2)).cast("bigint")
    # C0/C1 controls on the ARTIFACT-STRIPPED text: the bigram's
    # second-byte range overlaps C1, so counting controls on the raw
    # text would bill one damaged bigram twice (artifact + control)
    stripped = F.regexp_replace(t, art_pat, "")
    n_ctl = F.length(stripped) - F.length(
        F.regexp_replace(
            stripped,
            "[\u0000-\u0008\u000b\u000c\u000e-\u001f"
            "\u007f\u0080-\u009f]",
            "",
        )
    )
    total = n_rep + n_ctl + n_art
    return (
        df.withColumn("n_replacement", n_rep.cast("bigint"))
        .withColumn("n_control", n_ctl.cast("bigint"))
        .withColumn("n_artifact", n_art)
        .withColumn(
            "mojibake_per_kchar",
            F.round(
                F.when(
                    n > 0,
                    total.cast("double") * 1000.0
                    / n.cast("double"),
                ),
                6,
            ),
        )
    )


def url_profile(
    df: DataFrame,
    url_col: str,
) -> DataFrame:
    """Per-row URL anatomy for crawl curation — the dedup/filter keys
    every web-scale pipeline groups by before anything else (domain
    quotas, tracking-param stripping, scheme/depth heuristics):

    ``scheme`` (lowercased), ``host`` (lowercased, port dropped),
    ``registered_domain`` (last two host labels — the pragmatic
    grouping key; a full public-suffix list is a lookup TABLE the
    caller can join on top), ``path_depth`` (non-empty path
    segments), ``n_query_params``, ``n_tracking_params``
    (``utm_*``/``gclid``/``fbclid``/``msclkid``/``mc_eid``), and
    ``clean_url`` with the query dropped entirely (the standard
    canonical dedup key).

    Pure scan-level regexp/split expressions — zero shuffles, zero
    UDFs, codegen throughout (the gopher_rules contract). NULL
    components where the URL lacks them; NULL row out for NULL in.
    """
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    authority = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    # strip userinfo then port
    host = F.lower(
        F.regexp_replace(
            F.regexp_replace(authority, r"^.*@", ""), r":\d+$", ""
        )
    )
    labels = F.split(host, r"\.")
    nlab = F.size(labels)
    reg_dom = F.when(
        nlab >= 2,
        F.concat_ws(
            ".",
            F.element_at(labels, -2),
            F.element_at(labels, -1),
        ),
    ).otherwise(F.when(host != "", host))
    path = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    seg = F.filter(F.split(path, "/"), lambda x: x != "")
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(F.split(query, "&"), lambda x: x != "")
    is_tracking = lambda x: (
        x.startswith("utm_")
        | x.startswith("gclid=")
        | x.startswith("fbclid=")
        | x.startswith("msclkid=")
        | x.startswith("mc_eid=")
    )
    clean = F.regexp_extract(u, r"^([^?#]*)", 1)
    empty_as_null = lambda c: F.when(c != "", c)
    return (
        df.withColumn("scheme", empty_as_null(scheme))
        .withColumn("host", empty_as_null(host))
        .withColumn("registered_domain", reg_dom)
        .withColumn(
            "path_depth",
            F.when(u.isNotNull(), F.size(seg)).cast("int"),
        )
        .withColumn(
            "n_query_params",
            F.when(u.isNotNull(), F.size(params)).cast("int"),
        )
        .withColumn(
            "n_tracking_params",
            F.when(
                u.isNotNull(),
                F.size(F.filter(params, is_tracking)),
            ).cast("int"),
        )
        .withColumn("clean_url", empty_as_null(clean))
    )


def rake_keywords(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stopwords: list[str] | None = None,
    min_phrase_tokens: int = 1,
    max_phrase_tokens: int = 6,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — the cheap,
    corpus-scale alternative to :func:`textrank_keywords`: candidate
    PHRASES are the maximal stopword-free token runs, each word is
    scored ``degree/frequency`` over the phrase corpus, and a
    phrase's score is the sum of its words' scores. Multi-word
    domain terms ("machine learning pipeline") surface directly —
    the thing token-level TextRank can't emit.

    Semantics (pinned for engine reproducibility): tokens are the
    whitespace tokenization of the LOWERCASED text; a phrase is a
    maximal run of non-stopword tokens (stopwords default to the
    shared English list, :data:`STOPWORDS`). Phrase boundaries are
    marked with an unprintable NUL sentinel, so printable characters
    inside tokens — including a literal ``|`` — never split a
    phrase; runs longer than
    ``max_phrase_tokens`` are DROPPED (boilerplate runs, the standard
    RAKE guard), shorter than ``min_phrase_tokens`` likewise. For a
    word occurrence in a phrase of length L: ``freq(w) += 1``,
    ``degree(w) += L`` (the original convention counts the word
    itself), ``score(w) = degree(w)/freq(w)``; ``score(phrase) =
    Σ_{w ∈ phrase} score(w)`` over the phrase's token MULTISET,
    summed in sorted-word order via an explicit fold so both engines
    add the same floats in the same order.

    Scale shape: phrase extraction is ONE scan-level expression
    (token array → stopword-marker map → re-split; no UDF, no window
    over positions), then everything is phrase/vocabulary-domain
    sized: one groupBy(word) for the stats, one groupBy(phrase) for
    the occurrence counts, one sorted-fold join for the scores. No
    data-sized windows, no driver collect. Output: one row per
    DISTINCT phrase ``(phrase, n_words, n_occurrences, score)``,
    score 6dp.

    Beyond the reference; standard per Rose, Engel, Cramer & Cowley
    2010 ("Automatic keyword extraction from individual documents").
    """
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    stop = stopwords if stopwords is not None else STOPWORDS["en"]
    t = F.col(text_col)
    toks = tokens(F.lower(t))
    # NUL is the phrase-boundary sentinel (unprintable, so a literal
    # '|' inside a token — markdown tables, 'a|b' — stays one token;
    # a token containing NUL itself would still split, the only
    # remaining edge and not realistic text).
    _sent = "\u0000"
    marked = F.transform(
        toks,
        lambda x: F.when(
            x.isin([F.lit(s) for s in stop]), F.lit(_sent)
        ).otherwise(x),
    )
    phrases_arr = F.filter(
        F.transform(
            F.split(F.array_join(marked, " "), _sent),
            lambda p: F.trim(p),
        ),
        lambda p: p != "",
    )
    ph = (
        df.where(t.isNotNull())
        .select(F.explode(phrases_arr).alias("phrase"))
        .where(
            (F.size(F.split(F.col("phrase"), " "))
             >= int(min_phrase_tokens))
            & (F.size(F.split(F.col("phrase"), " "))
               <= int(max_phrase_tokens))
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # word stats over ALL phrase instances: freq = occurrences,
    # degree = Σ phrase length per occurrence
    wstats = (
        ph.select(
            F.explode(F.split("phrase", " ")).alias("_w"),
            F.size(F.split("phrase", " ")).alias("_len"),
        )
        .groupBy("_w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_freq"),
            F.sum("_len").cast("bigint").alias("_deg"),
        )
        .select(
            "_w",
            (
                F.col("_deg").cast("double")
                / F.col("_freq").cast("double")
            ).alias("_wscore"),
        )
    )
    phc = ph.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    dwords = phc.select(
        "phrase", F.explode(F.split("phrase", " ")).alias("_w")
    )
    # sorted-word fold: collect the word scores per phrase, sort by
    # (word, score) and fold left — both engines add the same floats
    # in the same order (the multiset keeps duplicate words)
    scored = (
        dwords.join(wstats, on="_w")
        .groupBy("phrase")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("_w", "_wscore"))
            ).alias("_ws")
        )
        .select(
            "phrase",
            F.size("_ws").alias("n_words"),
            F.aggregate(
                "_ws",
                F.lit(0.0),
                lambda acc, e: acc + e["_wscore"],
            ).alias("_score"),
        )
    )
    out = phc.join(scored, on="phrase").select(
        "phrase", "n_words", "n_occurrences",
        F.round("_score", 6).alias("score"),
    )
    return track_cached(out, ph)


def code_prose_profile(
    df: DataFrame,
    text_col: str,
) -> DataFrame:
    """Per-document code-vs-prose signals — the format screen a mixed
    crawl needs before routing documents to code vs natural-language
    pipelines (dedup keys, quality rules, and tokenizers all differ):

    ``symbol_ratio`` (non-alphanumeric, non-whitespace chars / chars),
    ``digit_ratio``, ``brace_semicolon_per_kchar`` ({}[]();= per 1000
    chars), ``indent_line_rate`` (lines starting with a tab or ≥ 2
    spaces), ``keyword_hits`` (whole-token hits on a fixed
    cross-language keyword list: def/return/import/function/class/
    const/var/if/else/for/while), and a deterministic ``code_score``
    = the documented linear combination clamped to [0, 1]:
    ``min(1, 2·symbol_ratio + 10·indent_rate + keyword_hits/tokens +
    brace_per_kchar/50)`` — a transparent heuristic gate, not a
    trained model (swap in ``hashed_classifier_score`` for learned
    weights).

    Pure scan-level length differences and token filters — zero
    shuffles, zero UDFs (the :func:`mojibake_score` contract). NULL
    ratios for empty text. Output: input + the six columns.
    """
    t = F.col(text_col)
    n = F.length(t)

    def count(pattern: str) -> Column:
        return n - F.length(F.regexp_replace(t, pattern, ""))

    n_sym = count(r"[^A-Za-z0-9\s]")
    n_dig = count(r"[0-9]")
    n_brace = count(r"[{}\[\]();=]")
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    n_indent = F.size(
        F.filter(lines, lambda l: l.rlike(r"^(\t| {2,})"))
    )
    toks = tokens(F.lower(t))
    n_toks = F.size(toks)
    kw = [
        "def", "return", "import", "function", "class", "const",
        "var", "if", "else", "for", "while",
    ]
    n_kw = F.size(
        F.filter(toks, lambda x: x.isin([F.lit(k) for k in kw]))
    )
    nd = n.cast("double")
    sym_ratio = F.when(n > 0, n_sym.cast("double") / nd)
    dig_ratio = F.when(n > 0, n_dig.cast("double") / nd)
    brace_k = F.when(n > 0, n_brace.cast("double") * 1000.0 / nd)
    indent_rate = F.when(
        n_lines > 0, n_indent.cast("double") / n_lines.cast("double")
    )
    kw_rate = F.when(
        n_toks > 0, n_kw.cast("double") / n_toks.cast("double")
    )
    score = F.least(
        F.lit(1.0),
        2.0 * F.coalesce(sym_ratio, F.lit(0.0))
        + 10.0 * F.coalesce(indent_rate, F.lit(0.0))
        + F.coalesce(kw_rate, F.lit(0.0))
        + F.coalesce(brace_k, F.lit(0.0)) / 50.0,
    )
    return (
        df.withColumn("symbol_ratio", F.round(sym_ratio, 6))
        .withColumn("digit_ratio", F.round(dig_ratio, 6))
        .withColumn(
            "brace_semicolon_per_kchar", F.round(brace_k, 6)
        )
        .withColumn("indent_line_rate", F.round(indent_rate, 6))
        .withColumn("keyword_hits", n_kw.cast("bigint"))
        .withColumn(
            "code_score",
            F.round(F.when(n > 0, score), 6),
        )
    )


def good_turing(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_r: int = 10,
) -> DataFrame:
    """Good–Turing frequency-of-frequencies table — the classic
    smoothing/coverage estimate for a token corpus ("how much
    probability mass belongs to types we have NOT seen yet?", the
    question behind vocabulary-cutoff and corpus-growth decisions):

    For each observed count ``r``: ``N_r`` = number of types seen
    exactly r times, the Turing-discounted count
    ``r* = (r+1)·N_{r+1}/N_r`` and the smoothed per-type probability
    ``p_r = r*/N`` (NULL when ``N_{r+1} = 0`` — plain GT, no SGT
    regression fit, documented), plus the corpus-level unseen mass
    ``p₀ = N₁/N`` repeated per row.

    Scale shape: one token aggregation (data-sized shuffle), one
    count-of-counts aggregation to the COUNT-DOMAIN frame (≤ O(√N)
    distinct frequencies), a broadcast self-join for the r+1 lookup
    and a broadcast 1-row totals join. Output rows for
    ``r = 1..max_r``: ``(r, n_types, r_star, p_smoothed,
    total_tokens, total_types, p_unseen)``, 6dp (p's 9dp — they are
    tiny).

    Beyond the reference; standard per Good 1953 / Gale & Sampson
    1995 (simple Good-Turing, minus the log-linear tail fit).
    """
    from padua_spark.io_utils import track_cached

    t = F.col(text_col)
    toks = (
        df.where(t.isNotNull())
        .select(F.explode(tokens(F.lower(t))).alias("_tok"))
        .where(F.col("_tok") != "")
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_r"))
    )
    fof = toks.groupBy(F.col("_r").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types")
    ).persist()
    nxt = fof.select(
        (F.col("r") - 1).alias("r"),
        F.col("n_types").alias("_n_next"),
    )
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_types")).cast("bigint")
        .alias("_n_tok"),
        F.sum("n_types").cast("bigint").alias("_n_typ"),
        F.sum(F.when(F.col("r") == 1, F.col("n_types")))
        .cast("bigint").alias("_n1"),
    )
    r_star = (
        (F.col("r") + 1).cast("double")
        * F.col("_n_next").cast("double")
        / F.col("n_types").cast("double")
    )
    out = (
        fof.where(F.col("r") <= int(max_r))
        .join(F.broadcast(nxt), on="r", how="left")
        .join(F.broadcast(tot))
        .select(
            F.col("r").cast("bigint").alias("r"),
            "n_types",
            F.round(r_star, 6).alias("r_star"),
            F.round(
                r_star / F.col("_n_tok").cast("double"), 9
            ).alias("p_smoothed"),
            F.col("_n_tok").alias("total_tokens"),
            F.col("_n_typ").alias("total_types"),
            F.round(
                F.coalesce(F.col("_n1"), F.lit(0)).cast("double")
                / F.col("_n_tok").cast("double"),
                9,
            ).alias("p_unseen"),
        )
    )
    return track_cached(out, fof)


def dictionary_coverage(
    df: DataFrame,
    text_col: str,
    vocab: DataFrame,
    vocab_token_col: str = "token",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Out-of-vocabulary profile of a corpus against a reference
    vocabulary — the pre-tokenizer sanity check for a training mix
    ("what fraction of this source's tokens will the tokenizer/
    embedding table even recognize?"), per optional group:

    ``(groups..., n_tokens, n_oov, oov_rate, n_types, n_oov_types,
    oov_type_rate)`` — token-level OOV rate (occurrence-weighted) AND
    type-level (each distinct token once): a source can have a low
    token OOV but a long exotic tail, and the pair separates them.

    Scale shape: NO distinct aggregate (the multi-distinct Expand the
    committed survey warns about): one aggregation to the
    (group, token) count frame, one broadcast join against the
    vocabulary (reference vocabularies are tokenizer-sized, ≤ a few
    hundred k rows), one roll-up where ``n_types = count(*)`` and
    ``n_oov_types = Σ oov_flag`` fall out as plain sums. Tokens are
    lowercased whitespace tokens (the shared :func:`tokens`
    contract).

    Beyond the reference; the standard corpus-coverage audit.
    """
    group_cols = group_cols or []
    t = F.col(text_col)
    per_tok = (
        df.where(t.isNotNull())
        .select(
            *group_cols,
            F.explode(tokens(F.lower(t))).alias("_tok"),
        )
        .where(F.col("_tok") != "")
        .groupBy(*group_cols, "_tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    vb = vocab.select(
        F.lower(F.col(vocab_token_col)).alias("_tok")
    ).distinct().withColumn("_inv", F.lit(True))
    joined = per_tok.join(F.broadcast(vb), on="_tok", how="left")
    oov = F.col("_inv").isNull()
    agg = joined.groupBy(*group_cols).agg(
        F.sum("_c").cast("bigint").alias("n_tokens"),
        F.sum(F.when(oov, F.col("_c")).otherwise(0))
        .cast("bigint").alias("n_oov"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(oov.cast("int")).cast("bigint").alias("n_oov_types"),
    )
    return agg.select(
        *group_cols,
        "n_tokens", "n_oov",
        F.round(
            F.col("n_oov").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("oov_rate"),
        "n_types", "n_oov_types",
        F.round(
            F.col("n_oov_types").cast("double")
            / F.col("n_types").cast("double"),
            6,
        ).alias("oov_type_rate"),
    )


def vocabulary_coverage_curve(
    df: DataFrame,
    text_col: str,
    ks: tuple[int, ...] = (100, 1000, 10000, 100000),
) -> DataFrame:
    """Vocabulary coverage curve — what fraction of the corpus's
    token OCCURRENCES the top-k most frequent types cover, for each
    k ("how big must the vocab be before OOV is negligible?", the
    sizing companion to :func:`good_turing`'s unseen-mass and
    :func:`dictionary_coverage`'s fixed-vocab audit):

    types ranked by (count DESC, token ASC — pinned total order so
    the k-th boundary is deterministic under count ties);
    ``coverage(k) = Σ_{top k} count / Σ count``.

    Scale shape: one token aggregation, then everything lives on the
    COUNT-DOMAIN frame: per distinct count the number of types and
    their mass, a distributed stepped cumsum ordered by count
    descending, and ONE pass picking each k's boundary — the
    boundary count's ties are resolved by adding the exact number of
    boundary-type tokens taken in token order (plain arithmetic on
    the boundary row; no sort of the type table). Output per k:
    ``(k, n_types_used, covered_tokens, total_tokens, coverage)``,
    6dp.
    """
    from functools import reduce

    from padua_spark.io_utils import track_cached
    from padua_spark.operators.stats import _stepped_running_counts

    t = F.col(text_col)
    toks = (
        df.where(t.isNotNull())
        .select(F.explode(tokens(F.lower(t))).alias("_tok"))
        .where(F.col("_tok") != "")
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    # count-domain frame: per distinct count, #types and token mass;
    # per-type mass at the boundary count is the count itself
    per = toks.groupBy((-F.col("_c")).alias("_negc")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_ntypes"),
        F.sum("_c").cast("bigint").alias("_mass"),
    )
    stepped = _stepped_running_counts(
        per, "_negc", ["_ntypes", "_mass"]
    ).persist()
    branches = []
    for k in ks:
        k = int(k)
        # boundary row: the distinct count where the cumulative type
        # count first reaches k (or the last row when vocab < k)
        take_types = F.least(
            F.lit(k) - (F.col("_ntypes_run") - F.col("_ntypes")),
            F.col("_ntypes"),
        )
        # exactly ONE boundary row satisfies run >= k > run - ntypes
        covered = F.when(
            (F.col("_ntypes_run") >= k)
            & (F.col("_ntypes_run") - F.col("_ntypes") < k),
            (F.col("_mass_run") - F.col("_mass"))
            + take_types * (-F.col("_negc")),
        )
        agg = stepped.agg(
            F.max(covered).alias("_cov"),
            F.max("_mass_tot").alias("_tot"),
            F.max("_ntypes_tot").alias("_vtypes"),
        )
        branches.append(
            agg.select(
                F.lit(k).cast("bigint").alias("k"),
                F.least(F.lit(k).cast("bigint"), F.col("_vtypes"))
                .alias("n_types_used"),
                F.coalesce(F.col("_cov"), F.col("_tot"))
                .cast("bigint").alias("covered_tokens"),
                F.col("_tot").alias("total_tokens"),
                F.round(
                    F.coalesce(F.col("_cov"), F.col("_tot"))
                    .cast("double")
                    / F.col("_tot").cast("double"),
                    6,
                ).alias("coverage"),
            )
        )
    out = reduce(lambda a, b: a.unionAll(b), branches)
    return track_cached(out, stepped)


def lexical_constants(
    df: DataFrame,
    group_cols: list[str],
    text_col: str,
    lowercase: bool = True,
) -> DataFrame:
    """Classical lexical-richness constants per group — the
    length-robust companions to :func:`hapax_stats`'s raw TTR (TTR
    falls mechanically with corpus size; these were designed to
    cancel that, so they compare shards of DIFFERENT sizes —
    machine-generated text shows depressed K-adjusted diversity,
    template spam shows inflated repeat mass):

    with ``N`` tokens, ``V`` types, ``V_m`` types seen exactly m
    times and ``S₂ = Σ m²·V_m``: Yule's
    ``K = 10⁴·(S₂ − N)/N²`` (repeat-rate, size-invariant under the
    Poisson model), Yule's ``I = V²/(S₂ − V)`` (inverse of K up to
    scale), Herdan's ``C = ln V / ln N``, Guiraud's ``R = V/√N``,
    Honoré's ``H = 100·ln N / (1 − V₁/V)`` (hapax-sensitive; NULL
    when every type is a hapax — documented). Natural logs (pinned).

    Scale shape: one (group, token) aggregation with map-side
    combine, one count-of-counts roll-up to the COUNT-DOMAIN frame
    (≤ O(√N) rows per group), one aggregation — integers end to end
    until the final divisions. Output per group: ``(groups..., n_tokens,
    n_types, n_hapax, yules_k, yules_i, herdan_c, guiraud_r,
    honore_h)``, 6dp.

    Beyond the reference; standard per Yule 1944 / Herdan 1960 /
    Guiraud 1954 / Honoré 1979.
    """
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    per_token = (
        df.where(t.isNotNull())
        .select(*group_cols, F.explode(toks).alias("_tok"))
        .where(F.col("_tok") != "")
        .groupBy(*group_cols, "_tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_m"))
    )
    fof = per_token.groupBy(*group_cols, F.col("_m")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_vm")
    )
    agg = fof.groupBy(*group_cols).agg(
        F.sum(F.col("_m") * F.col("_vm")).cast("bigint")
        .alias("n_tokens"),
        F.sum("_vm").cast("bigint").alias("n_types"),
        F.sum(F.when(F.col("_m") == 1, F.col("_vm")))
        .cast("bigint").alias("_v1"),
        # decimal BEFORE the product: m can reach the corpus token
        # count, so m^2 overflows bigint at scale (the AD-statistic rule)
        F.sum(
            F.col("_m").cast("decimal(38,0)")
            * F.col("_m") * F.col("_vm")
        ).alias("_s2"),
    )
    nd = F.col("n_tokens").cast("double")
    vd = F.col("n_types").cast("double")
    v1 = F.coalesce(F.col("_v1"), F.lit(0)).cast("double")
    s2 = F.col("_s2").cast("double")
    k = F.when(nd > 0, 1e4 * (s2 - nd) / (nd * nd))
    i = F.when(s2 - vd > 0, vd * vd / (s2 - vd))
    c = F.when((nd > 1) & (vd > 0), F.log(vd) / F.log(nd))
    r = F.when(nd > 0, vd / F.sqrt(nd))
    h = F.when(
        (nd > 1) & (vd > 0) & (v1 < vd),
        100.0 * F.log(nd) / (1.0 - v1 / vd),
    )
    return agg.select(
        *group_cols, "n_tokens", "n_types",
        F.coalesce(F.col("_v1"), F.lit(0)).cast("bigint")
        .alias("n_hapax"),
        F.round(k, 6).alias("yules_k"),
        F.round(i, 6).alias("yules_i"),
        F.round(c, 6).alias("herdan_c"),
        F.round(r, 6).alias("guiraud_r"),
        F.round(h, 6).alias("honore_h"),
    )


def richness_estimators(
    df: DataFrame,
    group_cols: list[str],
    text_col: str,
    lowercase: bool = True,
    rare_cutoff: int = 10,
) -> DataFrame:
    """Nonparametric species-richness estimators per group — "how
    many DISTINCT types does the underlying population hold, given
    what this sample shows?" (vocabulary-size forecasting for corpus
    growth planning; the abundance-based cousins of
    :func:`good_turing`'s unseen-mass estimate):

    with ``V`` observed types, ``f_m`` types seen exactly m times:
    bias-corrected Chao1 ``= V + f₁(f₁−1)/(2(f₂+1))`` (defined even
    when f₂ = 0 — the pinned variant), first-order jackknife
    ``= V + f₁·(n−1)/n`` over n tokens, and ACE with rare cutoff 10:
    ``S_rare = Σ_{m≤10} f_m``, ``N_rare = Σ_{m≤10} m·f_m``,
    ``C = 1 − f₁/N_rare``,
    ``γ² = max(0, S_rare·Σ_{m≤10} m(m−1)f_m /(C·N_rare·(N_rare−1)) − 1)``,
    ``ACE = S_abund + S_rare/C + (f₁/C)·γ²`` (NULL when C = 0 — all
    rare types are hapaxes, documented).

    Same COUNT-DOMAIN plan as :func:`lexical_constants` (one token
    aggregation, one count-of-counts roll-up, one aggregation).
    Output per group: ``(groups..., n_tokens, n_types, f1, f2,
    chao1, jackknife1, ace)``, 6dp.

    Beyond the reference; standard per Chao 1984 / Chao & Lee 1992 /
    Burnham & Overton 1978.
    """
    rc = int(rare_cutoff)
    t = F.col(text_col)
    toks = tokens(F.lower(t) if lowercase else t)
    per_token = (
        df.where(t.isNotNull())
        .select(*group_cols, F.explode(toks).alias("_tok"))
        .where(F.col("_tok") != "")
        .groupBy(*group_cols, "_tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_m"))
    )
    fof = per_token.groupBy(*group_cols, F.col("_m")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_vm")
    )
    m = F.col("_m")
    vm = F.col("_vm")
    rare = m <= rc
    agg = fof.groupBy(*group_cols).agg(
        F.sum(m * vm).cast("bigint").alias("n_tokens"),
        F.sum(vm).cast("bigint").alias("n_types"),
        F.coalesce(
            F.sum(F.when(m == 1, vm)), F.lit(0)
        ).cast("bigint").alias("f1"),
        F.coalesce(
            F.sum(F.when(m == 2, vm)), F.lit(0)
        ).cast("bigint").alias("f2"),
        F.coalesce(
            F.sum(F.when(rare, vm)), F.lit(0)
        ).cast("bigint").alias("_srare"),
        F.coalesce(
            F.sum(F.when(rare, m * vm)), F.lit(0)
        ).cast("bigint").alias("_nrare"),
        F.coalesce(
            F.sum(F.when(rare, m * (m - 1) * vm)), F.lit(0)
        ).cast("bigint").alias("_mm1"),
    )
    nd = F.col("n_tokens").cast("double")
    vd = F.col("n_types").cast("double")
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    chao1 = vd + f1 * (f1 - 1.0) / (2.0 * (f2 + 1.0))
    jack1 = vd + f1 * (nd - 1.0) / nd
    srare = F.col("_srare").cast("double")
    nrare = F.col("_nrare").cast("double")
    mm1 = F.col("_mm1").cast("double")
    cace = 1.0 - f1 / nrare
    gamma2 = F.greatest(
        F.lit(0.0),
        srare * mm1 / (cace * nrare * (nrare - 1.0)) - 1.0,
    )
    sabund = vd - srare
    ace = F.when(
        (nrare > 1) & (cace > 0),
        sabund + srare / cace + (f1 / cace) * gamma2,
    )
    return agg.select(
        *group_cols, "n_tokens", "n_types", "f1", "f2",
        F.round(chao1, 6).alias("chao1"),
        F.round(jack1, 6).alias("jackknife1"),
        F.round(ace, 6).alias("ace"),
    )


def readability_battery2(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Second readability battery — the five character/length-based
    indices that need NO syllable model (Coleman–Liau, ARI, LIX, RIX)
    plus Gunning Fog (which reuses the documented vowel-group
    syllable heuristic of :func:`readability_scores`); together with
    Flesch/FK this covers every index a corpus-quality slicer
    routinely reports:

    ``CLI  = 0.0588·L − 0.296·S − 15.8``  (L = letters per 100 words,
    S = sentences per 100 words);
    ``ARI  = 4.71·(alnum/W) + 0.5·(W/sent) − 21.43``;
    ``LIX  = W/sent + 100·(long words ≥ 7 chars)/W``;
    ``RIX  = long words / sentences``;
    ``FOG  = 0.4·(W/sent + 100·complex/W)`` (complex = tokens with
    ≥ 3 vowel-group syllables, lowercased).

    Shared conventions: whitespace tokens (:func:`tokens`), sentence
    count = runs of ``[.!?]`` floored at 1, letters = ``[A-Za-z]``,
    alnum = ``[A-Za-z0-9]`` — all scan-side regexp counts, zero UDFs,
    zero shuffles. Output: ``(id_col, n_words, n_sentences,
    n_letters, n_long_words, n_complex_words, coleman_liau, ari, lix,
    rix, gunning_fog)``, 6dp, NULL scores for token-less documents.

    Beyond the reference; standard formulas per Coleman & Liau 1975,
    Senter & Smith 1967 (ARI), Björnsson 1968 (LIX/RIX), Gunning
    1952.
    """
    t = F.col(text_col)
    toks = F.filter(tokens(t), lambda x: x != "")
    n_words = F.size(toks).cast("bigint")
    n_sent = F.greatest(
        F.regexp_count(t, F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    n_letters = F.regexp_count(t, F.lit("[A-Za-z]")).cast("bigint")
    n_alnum = F.regexp_count(t, F.lit("[A-Za-z0-9]")).cast("bigint")
    n_long = F.size(
        F.filter(toks, lambda x: F.length(x) >= 7)
    ).cast("bigint")
    n_complex = F.size(
        F.filter(
            toks,
            lambda x: F.regexp_count(
                F.lower(x), F.lit("[aeiouy]+")
            ) >= 3,
        )
    ).cast("bigint")
    staged = df.where(t.isNotNull()).select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_letters.alias("n_letters"),
        n_alnum.alias("_n_alnum"),
        n_long.alias("n_long_words"),
        n_complex.alias("n_complex_words"),
    )
    w = F.col("n_words").cast("double")
    s = F.col("n_sentences").cast("double")
    le = F.col("n_letters").cast("double")
    al = F.col("_n_alnum").cast("double")
    lg = F.col("n_long_words").cast("double")
    cx = F.col("n_complex_words").cast("double")
    ok = F.col("n_words") > 0
    # scores carry a +1e-9 nudge before the 6dp round: the small-
    # integer ratios land EXACTLY on 6dp midpoints (e.g. ari
    # 17.3840625), where Spark's decimal HALF_UP and DuckDB's
    # float-multiply round disagree; the nudge (identical double in
    # both engines, far below the 5e-7 half-grid) moves every
    # midpoint off the boundary the same way in both.
    eps = F.lit(1e-9)
    return staged.select(
        id_col, "n_words", "n_sentences", "n_letters",
        "n_long_words", "n_complex_words",
        F.round(
            F.when(
                ok,
                0.0588 * (100.0 * le / w)
                - 0.296 * (100.0 * s / w) - 15.8,
            ) + eps,
            6,
        ).alias("coleman_liau"),
        F.round(
            F.when(ok, 4.71 * (al / w) + 0.5 * (w / s) - 21.43)
            + eps,
            6,
        ).alias("ari"),
        F.round(
            F.when(ok, w / s + 100.0 * lg / w) + eps, 6
        ).alias("lix"),
        F.round(F.when(ok, lg / s) + eps, 6).alias("rix"),
        F.round(
            F.when(ok, 0.4 * (w / s + 100.0 * cx / w)) + eps, 6
        ).alias("gunning_fog"),
    )


def burrows_delta(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_m: int = 50,
) -> DataFrame:
    """Burrows' Delta stylometric distance between group profiles —
    the standard authorship-attribution measure ("which sources write
    alike?") applied to corpus slices: z-score the per-group RELATIVE
    frequencies of the corpus's ``top_m`` most frequent tokens, then
    ``Δ(a,b) = mean_t |z_a(t) − z_b(t)|`` over those marker tokens.

    Plan: one (group, token) count aggregation off the lowercased
    whitespace tokens; the top-m marker list by corpus frequency
    (ties broken by token — deterministic) is a ≤m-row broadcast;
    per-token mean/sd across the k group profiles ride the m×k frame
    (missing group-token cells count as frequency 0 via the k-row
    group-total broadcast cross); pairs come from a bounded m×k²
    self-join. sd uses ddof=1 across groups; tokens with sd = 0 are
    dropped from the mean (documented). Output one row per unordered
    group pair: ``(group_a, group_b, n_markers, delta)``, 6dp.

    Beyond the reference; standard per Burrows 2002 / Argamon 2008.
    """
    t = F.col(text_col)
    toks = F.filter(tokens(F.lower(t)), lambda x: x != "")
    base = (
        df.where(t.isNotNull() & F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("_g"), toks.alias("_toks"))
        .select("_g", F.explode("_toks").alias("_tok"))
    )
    counts = base.groupBy("_g", "_tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    counts = counts.persist(StorageLevel.MEMORY_AND_DISK)
    top = (
        counts.groupBy("_tok")
        .agg(F.sum("_c").alias("_tot"))
        .orderBy(F.desc("_tot"), F.asc("_tok"))
        .limit(top_m)
        .select("_tok")
    )
    gtot = counts.groupBy("_g").agg(
        F.sum("_c").cast("double").alias("_gt")
    )
    # dense m×k grid (missing cells = 0) via bounded cross of the two
    # small frames, then left join of the observed counts
    grid = F.broadcast(top).crossJoin(F.broadcast(gtot))
    freq = grid.join(counts, on=["_tok", "_g"], how="left").select(
        "_tok", "_g",
        (
            F.coalesce(F.col("_c"), F.lit(0)).cast("double")
            / F.col("_gt")
        ).alias("_f"),
    )
    stats = freq.groupBy("_tok").agg(
        F.avg("_f").alias("_mu"),
        F.stddev_samp("_f").alias("_sd"),
    )
    z = freq.join(F.broadcast(stats), on="_tok").where(
        F.col("_sd") > 0
    ).select(
        "_tok", "_g",
        ((F.col("_f") - F.col("_mu")) / F.col("_sd")).alias("_z"),
    )
    za = z.select(
        F.col("_tok"), F.col("_g").alias("group_a"),
        F.col("_z").alias("_za"),
    )
    zb = z.select(
        F.col("_tok"), F.col("_g").alias("group_b"),
        F.col("_z").alias("_zb"),
    )
    pairs = (
        za.join(zb, on="_tok")
        .where(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_markers"),
            F.avg(F.abs(F.col("_za") - F.col("_zb"))).alias("_d"),
        )
    )
    out = pairs.select(
        "group_a", "group_b", "n_markers",
        F.round("_d", 6).alias("delta"),
    )
    return track_cached(out, counts)


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_gram: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_doc_chars: int = 4096,
    max_docs_per_fp: int = 50,
) -> DataFrame:
    """MOSS-style winnowing fingerprint candidates: per document,
    hash every ``k_gram``-char shingle of the lowercased text, slide
    a ``window`` of consecutive hashes, keep each window's minimum
    (rightmost on ties — the MOSS guarantee rule), dedupe the
    selected (hash, position) fingerprints, then emit document pairs
    sharing ≥ ``min_shared`` fingerprint hashes. Guarantees any
    shared substring of length ≥ ``k_gram + window − 1`` is caught —
    the positional, contiguous-match complement to MinHash (which
    models bag-of-shingles Jaccard, not contiguity).

    Portable hash: the repo's shared polynomial char-code fold
    ``h = fold(7, c → (131·h + ord(c)) mod 2³¹−1)`` over each
    k-gram's code points (the :mod:`dedup` MinHash convention — both
    engines evaluate the identical integer recurrence), packed with
    the position into one integer key ``h·2²¹ + (2²¹−1−pos)``
    (≤ 2⁵² — exact in BIGINT) so ONE ``min`` over the rolling window
    — and a HUB GUARD: fingerprint hashes carried by more than
    ``max_docs_per_fp`` documents are dropped before the self-join
    (boilerplate phrases shared corpus-wide would otherwise square
    the join; the same bucket-cap discipline as the LSH candidates)
    implements min-hash-then-rightmost-pos; documents are truncated
    to ``max_doc_chars`` (documented bound — makes pos < 2²¹ safe and
    the per-doc shingle count bounded). Plan: posexplode of the
    shingle positions, one per-doc ordered rolling-window ``min``
    (bounded partitions — a document's shingles, never the corpus),
    distinct, then a bucket self-join on the fingerprint hash (the
    LSH-candidates shape — never all pairs). Output:
    ``(id_a, id_b, n_shared)``.

    Beyond the reference; standard per Schleimer, Wilkerson & Aiken
    2003 (SIGMOD).

    The k-gram hashes are NOT computed as one O(k) fold per position
    (an interpreted higher-order-function fold per position — ~n·k
    lambda evaluations per document, the measured 60-70%% of the
    operator's wall at k=20): the fold ``h ← (131·h + c) mod M`` is a
    linear recurrence, so every position's hash is reconstructed
    EXACTLY from one per-document prefix pass. With
    ``G(i) = Σ_{j≤i} c_j·131^{i−j} mod M`` (the fold seeded at 0),

    ``H(p) = (G(p+k−1) + (7 − G(p−1))·131^k) mod M``

    — algebraically identical to the per-position fold (same residue,
    same [0, M) representative, exact in int64: every factor is
    < 2³¹, every product < 2⁶²). ``G`` itself comes from a windowed
    running sum: ``G(i) = 131^i · Σ_{j≤i} (c_j·131^{−j} mod M) mod M``
    using the modular inverse of 131 (M = 2³¹−1 is prime), with the
    power tables ``131^j`` / ``131^{−j}`` (j ≤ max_doc_chars) as one
    constant array literal each. Everything per-position is then O(1)
    JVM-native window arithmetic in the SAME single per-document sort
    as the winnowing rolling min — no interpreted fold, no per-position
    array slice.
    """
    from pyspark.sql import Window as W

    from padua_spark.extensions.dedup import MOD

    t = F.substring(F.lower(F.col(text_col)), 1, max_doc_chars)
    codes = F.transform(
        F.filter(F.split(F.col("_t"), ""), lambda c: c != ""),
        lambda c: F.ascii(c).cast("long"),
    )
    pow131 = [1] * (max_doc_chars + 1)
    for j in range(1, max_doc_chars + 1):
        pow131[j] = (pow131[j - 1] * 131) % MOD
    inv131 = pow(131, MOD - 2, MOD)
    powinv = [1] * (max_doc_chars + 1)
    for j in range(1, max_doc_chars + 1):
        powinv[j] = (powinv[j - 1] * inv131) % MOD
    b_k = pow131[k_gram] if k_gram <= max_doc_chars else pow(
        131, k_gram, MOD
    )
    rows = (
        df.where(
            F.col(text_col).isNotNull()
            & (F.length(F.col(text_col)) >= k_gram)
        )
        .select(F.col(id_col).alias("_id"), t.alias("_t"))
        .select("_id", codes.alias("_codes"))
        .where(F.size("_codes") >= k_gram)
        .select("_id", F.posexplode("_codes").alias("_i", "_c"))
        .select("_id", (F.col("_i") + 1).alias("_pos"), F.col("_c"))
    )
    w_ord = W.partitionBy("_id").orderBy("_pos")
    w_run = w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    # One PARSED literal per power table: F.lit(list) converts
    # element-by-element (~4097 py4j round trips per table — measured
    # 4.2 s of pure driver time for the pair), while the parsed
    # array(...) string is the identical array<int> AST (verified:
    # same analyzed plan, same dtype) in ONE round trip.
    powinv_arr = F.expr("array(" + ",".join(map(str, powinv)) + ")")
    pow131_arr = F.expr("array(" + ",".join(map(str, pow131)) + ")")
    # c_j·131^{−j} mod M, running-summed exactly in int64 (≤ n·M <
    # 2⁴³), reduced once, re-scaled by 131^i → the seed-0 prefix fold
    wv = (
        F.col("_c") * F.element_at(powinv_arr, F.col("_pos") + 1)
    ) % F.lit(MOD)
    g = (
        F.element_at(pow131_arr, F.col("_pos") + 1)
        * (F.sum(wv).over(w_run) % F.lit(MOD))
    ) % F.lit(MOD)
    staged = rows.select("_id", "_pos", g.alias("_g"))
    h = F.pmod(
        F.lead("_g", k_gram - 1).over(w_ord)
        + (F.lit(7) - F.lag("_g", 1, 0).over(w_ord)) * F.lit(b_k),
        F.lit(MOD),
    )
    key = F.when(
        h.isNotNull(),
        h * F.lit(2 ** 21) + (F.lit(2 ** 21 - 1) - F.col("_pos")),
    )
    win = w_ord.rowsBetween(0, window - 1)
    fps = (
        staged.select("_id", "_pos", key.alias("_key"))
        .select("_id", F.min("_key").over(win).alias("_sel"))
        .where(F.col("_sel").isNotNull())
        .distinct()
        .select(
            "_id", F.shiftright("_sel", 21).alias("_fh")
        )
        .distinct()
    )
    from pyspark import StorageLevel

    from padua_spark.io_utils import track_cached

    fps_c = fps.persist(StorageLevel.MEMORY_AND_DISK)
    rare = fps_c.groupBy("_fh").agg(
        F.count(F.lit(1)).alias("_nd")
    ).where(F.col("_nd") <= max_docs_per_fp).select("_fh")
    kept = fps_c.join(rare, on="_fh")
    a = kept.select(F.col("_id").alias("id_a"), "_fh")
    b = kept.select(F.col("_id").alias("id_b"), "_fh")
    pairs = (
        a.join(b, on="_fh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return track_cached(pairs, fps_c)


def dunning_keywords(
    df: DataFrame,
    group_col: str,
    text_col: str,
    top_m: int = 10,
    min_count: int = 5,
) -> DataFrame:
    """Dunning log-likelihood (G²) keyword extraction per group — the
    corpus-COMPARISON keyword measure (which tokens characterize THIS
    slice against the rest?) that :func:`rake_keywords` /
    :func:`textrank_keywords` (single-document salience) do not
    answer; the standard choice for small-vs-large corpus contrast
    because, unlike χ², G² stays calibrated on sparse counts
    (Dunning 1993).

    2×2 per (group, token): ``a`` in-group count, ``b`` rest count,
    group/rest totals; ``G² = 2·Σ O·ln(O/E)`` over the four cells
    (0·ln0 = 0), reported only for OVERREPRESENTED tokens
    (``a/E_a > 1``). Keep the ``top_m`` per group by G², ties by
    token (deterministic).

    Plan: one lowercased-token explode + (group, token) aggregation;
    token totals via a window over the (token) key of the SMALL
    (group × token) frame — never a second corpus scan; group totals
    are a k-row broadcast; top-m via one rank window per group.
    Counts are exact integers; G² is one closed-form double
    expression. Output ≤ k·top_m rows: ``(group, token, n_in_group,
    n_rest, g2)``, 6dp.

    Beyond the reference; standard per Dunning 1993.
    """
    t = F.col(text_col)
    toks = F.filter(tokens(F.lower(t)), lambda x: x != "")
    base = (
        df.where(t.isNotNull() & F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("_g"), toks.alias("_toks"))
        .select("_g", F.explode("_toks").alias("_tok"))
    )
    gt = base.groupBy("_g", "_tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("_a0")
    )
    wt = Window.partitionBy("_tok")
    wg = Window.partitionBy("_g")
    tot = gt.agg(
        F.sum("_a0").cast("bigint").alias("_alltot")
    )
    staged = gt.select(
        "_g", "_tok", "_a0",
        F.sum("_a0").over(wt).cast("bigint").alias("_toktot"),
        F.sum("_a0").over(wg).cast("bigint").alias("_gtot"),
    ).crossJoin(F.broadcast(tot))
    a = F.col("_a0").cast("double")
    b = (F.col("_toktot") - F.col("_a0")).cast("double")
    c = (F.col("_gtot") - F.col("_a0")).cast("double")
    nall = F.col("_alltot").cast("double")
    d = nall - a - b - c
    ea = (a + b) * (a + c) / nall
    eb = (a + b) * (b + d) / nall
    ec = (c + d) * (a + c) / nall
    ed = (c + d) * (b + d) / nall

    def _term(o, e):
        return F.when(o > 0, o * F.log(o / e)).otherwise(F.lit(0.0))

    g2 = 2.0 * (
        _term(a, ea) + _term(b, eb) + _term(c, ec) + _term(d, ed)
    )
    dec = "decimal(38,0)"
    over = (
        F.col("_a0").cast(dec) * F.col("_alltot").cast(dec)
        > F.col("_toktot").cast(dec) * F.col("_gtot").cast(dec)
    )
    scored = staged.where(
        (F.col("_a0") >= min_count) & over
    ).withColumn("_g2", F.round(g2, 6))
    wr = Window.partitionBy("_g").orderBy(
        F.col("_g2").desc(), F.col("_tok").asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(wr))
        .where(F.col("_rk") <= top_m)
        .select(
            F.col("_g").alias("group"),
            F.col("_tok").alias("token"),
            F.col("_a0").alias("n_in_group"),
            (F.col("_toktot") - F.col("_a0")).cast("bigint").alias(
                "n_rest"
            ),
            F.col("_g2").alias("g2"),
            F.col("_rk").cast("int").alias("rank"),
        )
    )
