"""Text-analysis operators over a document corpus (north-star extension).

All pure Catalyst expressions (split/regexp/length/md5 …) — no Python
per row, so these run at full codegen speed over 100 TB of text. The
`documents` test table (doc_id, text, lang, source, n_chars) is the
reference corpus.
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cached_expr

from .projection import with_columns

#: Tiny per-language stopword marker sets for the heuristic language ID.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "a"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "la"),
    "es": ("el", "y", "de"),
}

#: Per-language quality-threshold overrides for :func:`quality_rules`
#: (the Gopher paper's per-language tables, in miniature): the default
#: stopword floor uses an ENGLISH stopword list, so non-English text
#: must not be gated on it; German's compounding pushes mean token
#: length up; undetermined-language text gets a stricter repetition
#: bar instead. Shared literal between the Spark operator and the
#: generated oracle SQL (q144).
GOPHER_LANG_PROFILES: dict[str, dict[str, float]] = {
    "en": {"min_stopword_ratio": 0.05},
    "de": {"min_stopword_ratio": 0.0, "min_avg_token_len": 3.0},
    "fr": {"min_stopword_ratio": 0.0},
    "es": {"min_stopword_ratio": 0.0},
    "und": {"min_stopword_ratio": 0.0, "min_distinct_ratio": 0.4},
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization → array<string> (drops empty tokens)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def gram_array(toks: Column, n: int) -> Column:
    """Word n-grams (space-joined, duplicates KEPT) from a MATERIALIZED
    token-array column.

    ``toks`` must be a plain column reference (the token array aliased
    in its own upstream select), never an inline tokenize expression:
    the assembly references ``toks`` n times per gram via element_at,
    and Spark re-evaluates an inline subtree at every reference inside
    a higher-order lambda — measured 7-60× slowdowns on the ngram
    queries (q104/q105, sf0.1) before this rule. ``sequence(a, b)``
    DESCENDS when b < a, so the upper bound is clamped to ≥1 and the
    short-doc case masked to an empty array."""
    k = F.size(toks) - (n - 1)

    def gram_at(i: Column) -> Column:
        parts: list[Column] = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.element_at(toks, i + j))
        return F.concat(*parts)

    grams = F.transform(F.sequence(F.lit(1), F.greatest(k, F.lit(1))), gram_at)
    return F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def char_count(text: Column) -> Column:
    return F.length(text).cast("long")


def avg_token_length(text: Column) -> Column:
    """Mean token length — (chars − separators) / tokens, guarded."""
    n = token_count(text)
    total = F.aggregate(
        F.transform(tokens(text), lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return F.when(n > 0, total.cast("double") / n).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alphanumeric/space."""
    stripped = F.regexp_replace(text, r"[A-Za-z0-9\s]", "")
    return F.when(
        F.length(text) > 0, F.length(stripped).cast("double") / F.length(text)
    ).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = ("the", "a", "and", "of", "to")) -> Column:
    """Fraction of tokens that are stopwords (quality signal)."""
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    n = F.size(toks)
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score: penalize very short docs, high
    punctuation and stopword-free (unnatural) text. Deterministic
    arithmetic only, so it is oracle-checkable."""
    n = token_count(text)
    length_component = F.least(n.cast("double") / 100.0, F.lit(1.0))
    punct_component = 1.0 - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    return F.round(0.5 * length_component + 0.5 * punct_component, 6)


def lang_id(text: Column) -> Column:
    """Marker-stopword language guess; 'und' (undetermined) when no
    marker set wins. Word-boundary containment via LIKE on a
    space-padded lowered text — identical semantics in ANSI SQL."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    out = F.lit("und")
    # Build a chained CASE, first language with any marker hit wins in
    # the declared order (deterministic).
    expr = None
    for lang, markers in LANG_MARKERS.items():
        cond = None
        for m in markers:
            c = padded.contains(f" {m} ")
            cond = c if cond is None else (cond | c)
        branch = (lang, cond)
        if expr is None:
            expr = F.when(branch[1], branch[0])
        else:
            expr = expr.when(branch[1], branch[0])
    return expr.otherwise(out)


#: GPT-2-style pre-tokenizer pattern, restricted to constructs shared by
#: Java regex and RE2 (no lookahead): contractions, space-prefixed
#: letter/digit runs, punctuation runs, whitespace runs.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"

#: Polynomial rolling-hash parameters. B·M and M² stay far below 2^63,
#: so the fold never overflows a BIGINT on any engine (DuckDB errors on
#: BIGINT overflow; Java would silently wrap — both avoided).
ROLLING_HASH_BASE = 1000003
ROLLING_HASH_MOD = (1 << 31) - 1


def bpe_token_count(text: Column) -> Column:
    """Subword-ish token count: number of BPE_ISH_PATTERN matches.

    Approximates a BPE pre-tokenizer's fragment count (the unit LLM
    token budgets are measured in) without a vocab file. Pure
    `regexp_extract_all` → codegen; oracle: DuckDB
    ``len(regexp_extract_all(text, pattern))`` (verified identical,
    incl. unicode + empty docs)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_ISH_PATTERN), 0)).cast("long")


def rolling_hash_fingerprint(text: Column) -> Column:
    """Order-sensitive polynomial rolling hash over lowered tokens:
    ``h = fold(acc·B + md5_32(token) mod M) mod M``.

    Unlike `fingerprint` (md5 of the whole normalized text), this is
    incrementally computable over a token stream and is the building
    block for content-defined chunking. Token hash = first 8 hex chars
    of md5 (the one hash both engines compute identically); the fold is
    a sequential `aggregate`, deterministic on any partitioning since
    it is per-row."""
    m = F.lit(ROLLING_HASH_MOD)
    tok_hash = lambda t: F.pmod(  # noqa: E731
        F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long"), m
    )
    return F.aggregate(
        F.transform(tokens(F.lower(text)), tok_hash),
        F.lit(0).cast("long"),
        lambda acc, h: F.pmod(acc * ROLLING_HASH_BASE + h, m),
    )


#: (pattern, replacement) pairs for PII scrubbing. Kept to constructs
#: Java regex and RE2 (DuckDB) interpret identically: character
#: classes, non-capturing groups, bounded repetition, ASCII \b.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\+?[0-9]{1,2}[ .-]?)?(?:\([0-9]{3}\)|[0-9]{3})[ .-][0-9]{3}[ .-][0-9]{4}\b",
     "<PHONE>"),
    (r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
)


def scrub_pii(
    text: Column, patterns: tuple[tuple[str, str], ...] = PII_PATTERNS
) -> Column:
    """Redact PII-shaped spans (emails, phone numbers, IPv4 addresses)
    with typed placeholders — the mandatory cleaning pass before text
    enters a training corpus. A chain of global `regexp_replace`
    (pure codegen, zero Python); order matters (emails first, so the
    phone pattern never sees user@host digits)."""
    out = text
    for pat, repl in patterns:
        out = F.regexp_replace(out, pat, repl)
    return out


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
    overlap: int = 16,
    tokens_col: str | None = None,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window packing primitive of an LLM training pipeline.

    Tokenizes once, derives the 1-based chunk start positions
    ``sequence(1, greatest(n_tokens - overlap, 1), chunk_size -
    overlap)`` (every token is covered; the final chunk absorbs the
    tail instead of emitting a sub-overlap fragment), then
    ``posexplode`` — the whole thing is one narrow projection + one
    generator, NO shuffle and no Python: chunking 100 TB is a map-only
    job. Returns (id, chunk_id, n_chunk_tokens, chunk_text).

    With ``tokens_col`` set, chunks a PRE-TOKENIZED array column (e.g.
    :func:`bpe_encode`'s ``bpe_tokens``) instead of whitespace-splitting
    ``text_col`` — context windows measured in tokenizer tokens."""
    if overlap >= chunk_size:
        raise ValueError("overlap must be < chunk_size")
    stride = chunk_size - overlap
    # Tokenize in its own projection; deriving `starts` from the raw
    # tokenizer expression instead of the aliased column would
    # re-tokenize every document (same CSE trap as tf_idf_top_terms).
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.size("__toks") - overlap, F.lit(1)),
        F.lit(stride),
    )
    tok_expr = (
        F.col(tokens_col) if tokens_col is not None else tokens(F.col(text_col))
    )
    return (
        df.select(F.col(id_col), tok_expr.alias("__toks"))
        .select(F.col(id_col), "__toks", starts.alias("__starts"))
        .select(
            F.col(id_col),
            F.posexplode("__starts").alias("chunk_id", "__start"),
            F.col("__toks"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.size(F.slice("__toks", F.col("__start"), chunk_size))
            .cast("long")
            .alias("n_chunk_tokens"),
            F.array_join(
                F.slice("__toks", F.col("__start"), chunk_size), " "
            ).alias("chunk_text"),
        )
        .filter(F.col("n_chunk_tokens") > 0)
    )


def compute_bucket_cuts(
    df: DataFrame, id_col: str, n_buckets: int
) -> list[float]:
    """The ``n_buckets - 1`` global ``id_col`` quantile cut points the
    two-level prefix sum buckets on — ONE eager ``approxQuantile``
    driver job over the bare id column. Compute once and pass to every
    ``pack_sequences`` / ``token_budget_sample`` stage of a composed
    pipeline via ``bucket_cuts=`` so N stages cost one quantile scan,
    not N (VERDICT r8 item 4). Requires a NUMERIC id column (the
    single-window path accepts any orderable type)."""
    _require_numeric_id(df, id_col, "compute_bucket_cuts")
    probs = [i / n_buckets for i in range(1, n_buckets)]
    return df.select(F.col(id_col)).stat.approxQuantile(
        id_col, probs, 0.001
    )


def _require_numeric_id(df: DataFrame, id_col: str, caller: str) -> None:
    """The bucketed cumsum cuts on id quantiles, which Spark only
    computes for numeric columns — fail with a clear operator-level
    error instead of approxQuantile's (ADVICE r8)."""
    dtype = df.schema[id_col].dataType.simpleString()
    numeric = {
        "tinyint", "smallint", "int", "bigint", "float", "double",
    }
    if dtype not in numeric and not dtype.startswith("decimal"):
        raise ValueError(
            f"{caller}: n_buckets requires a numeric id column for the "
            f"quantile cut points; {id_col!r} is {dtype}. Use the "
            "single-window path (n_buckets=None) or cast the id."
        )


def _group_running_total(
    df: DataFrame,
    n_tok,
    id_col: str,
    group_col: str,
    n_buckets: int | None,
    cut_points: list[float] | None = None,
) -> DataFrame:
    """(id, group, n_tokens, running_total) — the exact per-group
    running cumsum in ``id_col`` order, as either one window per group
    key (default) or the TWO-LEVEL prefix sum (``n_buckets``): global
    id-quantile cut points split each group into contiguous id-range
    buckets, local (group, bucket) cumsums spread a hot group over
    ``n_buckets`` reducers, and a broadcast G×B offset table lifts the
    local totals to the exact global running total. Identical output
    either way (pytest-pinned) — only the physical partitioning
    changes. Shared by :func:`pack_sequences` and
    :func:`token_budget_sample`, the two group-cumsum operators whose
    hot group key (English ≈ half a real corpus) would otherwise pin
    one reducer at 100 TB.

    The bucketed path runs ONE eager ``approxQuantile`` driver job at
    plan-construction time and requires a NUMERIC ``id_col`` (validated
    with a clear error — ADVICE r8); pass precomputed ``cut_points``
    (:func:`compute_bucket_cuts`) to skip the scan entirely when
    several pack/budget stages compose over the same id column."""
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        n_tok.alias("n_tokens"),
    )
    if n_buckets is None or n_buckets <= 1:
        if cut_points is not None and n_buckets is None:
            # n_buckets <= 1 is the DOCUMENTED single-window fallback
            # (cuts legitimately unused there); only a missing
            # n_buckets next to explicit cuts is a caller mistake.
            raise ValueError(
                "bucket_cuts given but n_buckets is not set — the cut "
                "points would be silently discarded and the cumsum "
                "would fall back to the skew-prone single-window path; "
                "pass n_buckets alongside bucket_cuts"
            )
        w = (
            Window.partitionBy(group_col)
            .orderBy(id_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return base.withColumn("running_total", F.sum("n_tokens").over(w))
    _require_numeric_id(df, id_col, "_group_running_total")
    if cut_points is not None:
        cuts = list(cut_points)
    else:
        probs = [i / n_buckets for i in range(1, n_buckets)]
        # Quantiles over the bare id column — never evaluates n_tok.
        cuts = df.select(F.col(id_col)).stat.approxQuantile(
            id_col, probs, 0.001
        )
    lit_cuts = F.array(*[F.lit(float(x)) for x in cuts])
    idc = F.col(id_col).cast("double")
    bucket = F.when(idc.isNull(), F.lit(-1)).otherwise(
        F.size(F.filter(lit_cuts, lambda x: x < idc))
    )
    staged = base.withColumn("__bkt", bucket)
    w1 = (
        Window.partitionBy(group_col, "__bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = staged.withColumn("__local", F.sum("n_tokens").over(w1))
    # Bucket totals reuse the (group, bucket) exchange the window
    # just created; the offset cumsum runs over G×B rows only.
    w2 = (
        Window.partitionBy(group_col)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        staged.groupBy(group_col, "__bkt")
        .agg(F.sum("n_tokens").alias("__tot"))
        .withColumn(
            "__off",
            F.coalesce(F.sum("__tot").over(w2), F.lit(0)).cast("long"),
        )
        .select(
            F.col(group_col).alias("__g"),
            F.col("__bkt").alias("__b"),
            "__off",
        )
    )
    joined = staged.join(
        F.broadcast(off),
        F.col(group_col).eqNullSafe(F.col("__g"))
        & (F.col("__bkt") == F.col("__b")),
    )
    return joined.select(
        F.col(id_col),
        F.col(group_col),
        F.col("n_tokens"),
        (F.col("__local") + F.col("__off")).cast("long").alias(
            "running_total"
        ),
    )


def token_budget_sample(
    df: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    n_buckets: int | None = None,
    bucket_cuts: list[float] | None = None,
) -> DataFrame:
    """Deterministic per-group token-budget sampling: walk each group's
    documents in ``id_col`` order and keep every document that STARTS
    within the budget (the first overshooting document is kept, so the
    budget is always reached when the corpus allows). The running total
    is one window cumsum per group — a single shuffle at any scale, and
    the orderBy is per-group inside the window, never global. This is
    the "cap each language at N tokens" mixing step of corpus
    assembly. ``n_buckets`` switches to the two-level prefix sum
    (:func:`_group_running_total`) when one group dominates the corpus;
    that path requires a NUMERIC ``id_col`` and runs one eager
    ``approxQuantile`` driver job at plan-construction time — pass
    ``bucket_cuts`` (:func:`compute_bucket_cuts`) to share one scan
    across composed stages."""
    n_tok = token_count(F.col(text_col))
    return _group_running_total(
        df, n_tok, id_col, group_col, n_buckets, cut_points=bucket_cuts
    ).filter(F.col("running_total") - F.col("n_tokens") < budget_tokens)


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text. Identical in DuckDB:
    ``md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))``."""
    normalized = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.md5(normalized)


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass projection of the full text-feature set.

    The per-feature Column functions each re-run the tokenizer, but the
    whole projection is a single narrow codegen stage with zero shuffle
    — A/B at sf0.1 shows it 1.7× faster than the tokenize-once
    explode+agg+join variant (`text_stats_exploded`), whose shuffle
    overhead dominates at typical web-document lengths.
    """
    t = F.col(text_col)
    return with_columns(
        df,
        {
            "n_tokens": token_count(t),
            "n_chars_computed": char_count(t),
            "avg_token_len": avg_token_length(t),
            "punct_ratio": punct_ratio(t),
            "stopword_ratio": stopword_ratio(t),
            "quality": quality_score(t),
            "lang_pred": lang_id(t),
            "fp": fingerprint(t),
        },
    )


def text_stats_exploded(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopwords: tuple[str, ...] = ("the", "a", "and", "of", "to"),
) -> DataFrame:
    """Same feature set as `text_stats`, tokenizing each document ONCE.

    Token-level stats (count, total length, stopword hits) come from
    explode + one aggregation (map-side partial agg collapses to one
    row per doc before the shuffle), joined back to the text-level
    regex features on ``id_col``; derived ratios are computed from the
    aggregated counters. Identical values to `text_stats`.

    Measured at sf0.1 this LOSES to the one-pass projection (median
    0.82s vs 0.48s): two extra shuffles beat 4× tokenizer savings at
    ~1 KB docs. Use only for corpora with very long documents, where
    per-row regex cost dominates shuffle cost.
    """
    from .dedup import _ensure_parallelism

    base = _ensure_parallelism(df)
    t = F.col(text_col)

    tok = base.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(tokens(F.lower(t))).alias("tk"),
    )
    tok_aggs = tok.groupBy("__id").agg(
        F.count("tk").alias("n_tokens"),  # explode_outer null row → 0 for empty docs
        F.coalesce(F.sum(F.length("tk")), F.lit(0)).cast("long").alias("__tok_chars"),
        F.count(F.when(F.col("tk").isin(*stopwords), 1)).alias("__stop_hits"),
    )

    text_level = with_columns(
        base,
        {
            "n_chars_computed": char_count(t),
            "punct_ratio": punct_ratio(t),
            "lang_pred": lang_id(t),
            "fp": fingerprint(t),
        },
    )
    # one row per doc on BOTH sides — not broadcastable at scale; the
    # equi-join shuffles (id, 3 longs) and AQE may still broadcast when
    # the corpus is actually small.
    joined = text_level.join(tok_aggs, text_level[id_col] == tok_aggs["__id"], "left")
    n = F.col("n_tokens")
    avg_len = F.when(n > 0, F.col("__tok_chars").cast("double") / n).otherwise(0.0)
    stop_ratio = F.when(n > 0, F.col("__stop_hits").cast("double") / n).otherwise(0.0)
    quality = F.round(
        0.5 * F.least(n.cast("double") / 100.0, F.lit(1.0))
        + 0.5 * (1.0 - F.least(F.col("punct_ratio") * 5.0, F.lit(1.0))),
        6,
    )
    return joined.select(
        *df.columns,
        "n_chars_computed",
        "punct_ratio",
        "lang_pred",
        "fp",
        n.cast("long").alias("n_tokens"),
        avg_len.alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def tf_idf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF:
    ``(cnt / doc_len) * ln((N + 1) / (df + 1))``, rounded to 6 digits
    BEFORE ranking so ties resolve identically on every engine (then by
    term ascending). Returns (id, term, tfidf, rn).

    Distributed shape, scale-safe at 100 TB: tokenize-once explode —
    carrying the document length along from the token array itself
    (``size(tokens)``; identical to the window-sum of per-term counts,
    but computed in the map phase for free, saving a whole shuffle +
    WindowExec over the grouped table) → one (id, term) count
    aggregation (map-side partials), document frequency as an UNORDERED
    window count keyed on term, corpus size N as a broadcast 1-row
    cross join, top-k as a per-id ranking window. No collect, no
    all-pairs anything; the only wide rows are (id, term, cnt).
    """
    # The token array gets its own projection so `size` and `explode`
    # share ONE evaluation — inlining the tokenizer expression into both
    # consumers re-tokenizes every document twice (measured 3× slower
    # at sf0.1).
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    tok = base.select(
        "id",
        F.size("__toks").cast("long").alias("__doc_len"),
        F.explode("__toks").alias("term"),
    )
    tf = tok.groupBy("id", "term").agg(
        F.count("*").alias("cnt"), F.max("__doc_len").alias("doc_len")
    )
    sized = tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = sized.crossJoin(F.broadcast(n_docs)).select(
        "id",
        "term",
        F.round(
            (F.col("cnt").cast("double") / F.col("doc_len"))
            * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("id").alias(id_col),
            "term",
            "tfidf",
            F.col("rn").cast("long").alias("rn"),
        )
    )


def unigram_loglik(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """CCNet-style language-model quality proxy: per-document mean
    log10 probability of its tokens under the corpus's OWN unigram
    distribution. Low scores flag gibberish / rare-token soup; high
    scores flag natural, common-word text — the standard cheap LM
    filter when a real perplexity model isn't available.

    Determinism (oracle-checkable): per-token log-probs are quantized
    to integer micro-units (ROUND(log10(cnt/N)·1e6) AS BIGINT, the
    q92 quantized-mean pattern), so the per-document SUM is exact
    integer arithmetic — bit-identical across partitionings and
    engines; the final mean divides once.

    Scale shape: tokenize once → explode_outer (empty docs survive) →
    ONE token-key shuffle builds the vocabulary (output bounded by
    vocab size, not corpus size) → vocab broadcast back onto the token
    stream (map-side, no second shuffle of the stream) → ONE id-key
    shuffle of a single integer partial per doc. At 100 TB the vocab
    for whitespace tokens is millions of rows — still broadcastable;
    beyond that, drop the hint and AQE picks a shuffled join.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    tok = base.select("id", F.explode_outer("__toks").alias("token"))
    vocab = (
        tok.filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    total = vocab.select(F.sum("cnt").alias("n_total"))
    vocab_q = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.round(
            F.log10(F.col("cnt").cast("double") / F.col("n_total")) * 1_000_000.0
        )
        .cast("long")
        .alias("__logp_q"),
    )
    per_doc = (
        tok.join(F.broadcast(vocab_q), "token", "left")
        .groupBy("id")
        .agg(
            F.count("token").cast("long").alias("n_tokens"),
            F.coalesce(F.sum("__logp_q"), F.lit(0)).cast("long").alias("__sum_q"),
        )
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.col("__sum_q").cast("double") / 1_000_000.0 / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_logp"),
    )


def bigram_loglik(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram LM quality proxy — :func:`unigram_loglik` one order up
    (closer to the KenLM filter CCNet actually ships): per-document
    mean log10 probability under the corpus's own bigram model,
    ``P(w_i | w_{i-1}) = cnt(w_{i-1} w_i) / cnt(w_{i-1})``, with the
    first token scored by its unigram probability. Gibberish with
    plausible unigrams but improbable transitions scores low here while
    passing the unigram filter.

    Because the corpus is scored under its own counts, every observed
    bigram is in the model — no backoff path is needed, and the
    quantized-integer trick (per-term ROUND(log10·1e6) AS BIGINT)
    keeps the per-document sum exact across partitionings and engines.

    Scale shape (two-stream form; a first/grams/out join chain was 6×
    slower — 7 re-scans + a sort-merge join at sf0.1): BOTH count
    tables come from ONE exploded (kind, key) stream — 'u' rows are
    tokens, 'b' rows are bigrams — so the vocabulary build is a single
    corpus-sized shuffle whose output is vocab-bounded; its aggregate
    is consumed three ways (N, prefix counts, score rows) off the same
    exchange. The quantized score table (union of unigram and bigram
    rows) broadcasts onto a second exploded stream holding each
    document's scored positions (first token + its bigrams), and ONE
    id-key shuffle of an integer partial finishes — the document's
    n_tokens IS that stream's row count (1 + (n−1)). At 100 TB the
    score table may outgrow a broadcast — drop the hint and AQE picks
    a shuffled join; the shape is otherwise unchanged.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    base = base.select("id", "__toks", gram_array(F.col("__toks"), 2).alias("__bi"))

    def tag(kind, arr):
        return F.transform(
            arr, lambda x: F.struct(F.lit(kind).alias("kind"), x.alias("key"))
        )

    counts = (
        base.select(
            F.explode(F.concat(tag("u", F.col("__toks")), tag("b", F.col("__bi")))).alias(
                "s"
            )
        )
        .select("s.kind", "s.key")
        .groupBy("kind", "key")
        .agg(F.count("*").alias("cnt"))
    )
    uni = counts.filter(F.col("kind") == "u")
    n_total = uni.select(F.sum("cnt").alias("n_total"))
    uni_q = uni.crossJoin(F.broadcast(n_total)).select(
        "kind",
        "key",
        F.round(F.log10(F.col("cnt").cast("double") / F.col("n_total")) * 1e6)
        .cast("long")
        .alias("__q"),
    )
    # log10 P(cur | prev) quantized: each bigram keyed with its prefix
    # unigram count (broadcast — vocab-bounded).
    bi_q = (
        counts.filter(F.col("kind") == "b")
        .withColumn("__prev", F.split_part(F.col("key"), F.lit(" "), F.lit(1)))
        .join(
            F.broadcast(
                uni.select(F.col("key").alias("__prev"), F.col("cnt").alias("u_cnt"))
            ),
            "__prev",
        )
        .select(
            "kind",
            "key",
            F.round(F.log10(F.col("cnt").cast("double") / F.col("u_cnt")) * 1e6)
            .cast("long")
            .alias("__q"),
        )
    )
    score = uni_q.unionByName(bi_q)
    # Scored positions per document: the first token (slice keeps the
    # empty-doc case an empty array — no ANSI out-of-bounds) + every
    # bigram; explode_outer keeps empty docs as a NULL row.
    scored = base.select(
        "id",
        F.explode_outer(
            F.concat(F.slice(tag("u", F.col("__toks")), 1, 1), tag("b", F.col("__bi")))
        ).alias("s"),
    ).select("id", "s.kind", "s.key")
    per_doc = (
        scored.join(F.broadcast(score), ["kind", "key"], "left")
        .groupBy("id")
        .agg(
            F.count("key").cast("long").alias("n_tokens"),
            F.coalesce(F.sum("__q"), F.lit(0)).cast("long").alias("__sum_q"),
        )
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.col("__sum_q").cast("double") / 1e6 / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_logp"),
    )


def dsir_importance(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): score every document by how much its
    unigram distribution looks like a TARGET subset of the corpus
    versus the corpus as a whole — the standard cheap way to upsample
    "wikipedia-like" text out of a web crawl without a trained
    classifier. Per-token weight is ``log p_target(t) − log p_corpus(t)``
    with add-1 smoothing over the corpus vocabulary (so tokens unseen
    in the target get a finite negative weight); a document's score is
    the mean weight of its tokens.

    Determinism (oracle-checkable): per-token log-ratios are quantized
    to integer micro-units exactly like :func:`unigram_loglik`, so the
    per-document SUM is exact integer arithmetic on any partitioning
    or engine.

    Scale shape: tokenize once → explode_outer → ONE token-key shuffle
    computes BOTH distributions (corpus count + conditional target
    count in the same aggregate — the target pass is free) → vocab
    broadcast back onto the token stream → ONE id-key shuffle of one
    integer partial per doc. Identical cost to unigram_loglik.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        target_pred.alias("__is_target"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    tok = base.select(
        "id", "__is_target", F.explode_outer("__toks").alias("token")
    )
    vocab = (
        tok.filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(
            F.count("*").alias("c_cnt"),
            F.sum(F.when(F.col("__is_target"), 1).otherwise(0)).alias("t_cnt"),
        )
    )
    totals = vocab.select(
        F.sum("c_cnt").alias("c_total"),
        F.sum("t_cnt").alias("t_total"),
        F.count("*").alias("v_size"),
    )
    vocab_q = vocab.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(
            (
                F.log10(
                    (F.col("t_cnt") + 1).cast("double")
                    / (F.col("t_total") + F.col("v_size")).cast("double")
                )
                - F.log10(
                    (F.col("c_cnt") + 1).cast("double")
                    / (F.col("c_total") + F.col("v_size")).cast("double")
                )
            )
            * 1_000_000.0
        )
        .cast("long")
        .alias("__w_q"),
    )
    per_doc = (
        tok.join(F.broadcast(vocab_q), "token", "left")
        .groupBy("id")
        .agg(
            F.count("token").cast("long").alias("n_tokens"),
            F.coalesce(F.sum("__w_q"), F.lit(0)).cast("long").alias("__sum_q"),
        )
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.col("__sum_q").cast("double") / 1_000_000.0 / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("importance"),
    )


def vocabulary(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 1000
) -> DataFrame:
    """Corpus vocabulary: the top-``k`` case-folded tokens with total
    occurrences, document frequency, and a deterministic rank
    (occurrences desc, token asc) — the prep table for tokenizer/BPE
    training and stopword discovery.

    Scale shape: tokenize once → explode → (token, id) partial
    aggregation (map-side combine collapses within-doc repeats) →
    token aggregation. Both exact counts come from the SAME two-level
    aggregation — no countDistinct rewrite, no extra shuffle. The
    global ranking first takes top-k via orderBy+limit
    (TakeOrderedAndProject: k rows per partition, never a full sort),
    then ranks only those k rows in one tiny window."""
    toked = df.select(
        F.col(id_col).alias("id"), tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    tok = toked.select("id", F.explode("__toks").alias("token"))
    per_doc = tok.groupBy("token", "id").agg(F.count("*").alias("__n"))
    vocab = per_doc.groupBy("token").agg(
        F.sum("__n").cast("long").alias("n_occurrences"),
        F.count("*").cast("long").alias("doc_freq"),
    )
    top = vocab.orderBy(
        F.col("n_occurrences").desc(), F.col("token").asc()
    ).limit(k)
    # The ranking window sees only the ≤k post-limit rows, so a single
    # partition is the intended shape; partitioning on the constant
    # pmod(occurrences, 1) (non-foldable, always 0) keeps WindowExec
    # from logging its all-data-to-one-partition warning on every run.
    w = Window.partitionBy(
        F.pmod(F.col("n_occurrences"), F.lit(1))
    ).orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """First BPE merge iteration (Sennrich et al. 2016) over the
    corpus: corpus-weighted counts of adjacent character pairs inside
    case-folded tokens — the candidate table a byte-pair tokenizer
    trainer greedily merges from. Returns the top ``k`` pairs as
    (pair, pair_count, n_token_types): total weighted occurrences and
    how many distinct token types contain the pair.

    Scale shape: the pair explosion runs over the DISTINCT token
    vocabulary (bounded by vocab size, not corpus size) with each
    token's corpus count attached — the token-key shuffle that builds
    the vocab is the only corpus-sized exchange; the pair aggregation
    shuffles vocab-sized integer partials and top-k is
    TakeOrderedAndProject. Iterating merges (the full BPE trainer)
    repeats this plan on a re-segmented vocab — each round is this
    same bounded shape.
    """
    tok = df.select(
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    )
    vocab = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    pair_arr = F.when(
        F.length("token") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length("token") - 1),
            lambda i: F.col("token").substr(i, F.lit(2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    pairs = vocab.select("token", "cnt", F.explode(pair_arr).alias("pair"))
    agg = pairs.groupBy("pair").agg(
        F.sum("cnt").alias("pair_count"),
        F.countDistinct("token").alias("n_token_types"),
    )
    return agg.orderBy(F.col("pair_count").desc(), F.col("pair").asc()).limit(k)


#: Unit separator for BPE segmentation strings (ASCII 31 — cannot
#: appear in whitespace-split tokens, which contain no control chars
#: after the \\s+ split).
_BPE_SEP = "\x1f"


def bpe_learn_merges(
    df: DataFrame, n_merges: int = 8, text_col: str = "text",
    batch_size: int = 1, batch_stats: dict | None = None,
) -> DataFrame:
    """Iterative BPE merge LEARNING (Sennrich et al. 2016's trainer —
    VERDICT r9 item 4): :func:`bpe_pair_counts` is one candidate
    round; this runs the full greedy loop — N times: count adjacent
    unit pairs corpus-weighted, merge the argmax pair everywhere,
    re-segment — and emits the rank-ordered merge table
    (merge_rank, a, b, pair_count) that :func:`bpe_encode` consumes.

    Representation that makes the loop engine-exact: each token's
    segmentation is a STRING with every unit wrapped in ASCII-31
    separators (``⟂u1⟂⟂u2⟂…``), so applying one merge is ONE literal
    ``replace(seg, ⟂a⟂⟂b⟂, ⟂ab⟂)`` — and literal string replace is
    left-to-right non-overlapping in Spark and ANSI SQL alike, which
    IS the BPE merge rule (``aaa`` + (a,a) → ``aa a``, never ``a aa``).
    The full-wrap makes unit boundaries unambiguous (a unit ending in
    ``a`` can never fake a pair match). Ties break (count DESC, a ASC,
    b ASC) — a total order, so the learned table is deterministic and
    the oracle twin (q162: the same chain as generated DuckDB CTEs)
    checks it exactly. Pair counts include overlapping occurrences
    (``aaa`` contributes (a,a) twice), matching the reference trainer's
    ``get_stats`` convention.

    Scale shape: one corpus-sized token shuffle builds the vocab; every
    iteration after that runs on the VOCAB-sized (cnt, seg) frame —
    one pair aggregation (bounded by vocab size) + one broadcast of the
    single winning pair + one map-only replace. Per-iteration
    ``localCheckpoint`` keeps the lazily-chained plan linear (the
    ivf_recenter_loop lesson); like the connected-components queries,
    the N rounds are driver-paced jobs, so the operator measures
    scheduler latency at bench SF — it is excluded from BENCH like
    q83/q158.

    Stops early (fewer than ``n_merges`` rows) only when no adjacent
    pair remains anywhere — a degenerate fully-merged corpus.

    ``batch_size`` (VERDICT r16 item 4 — the driver-paced-per-merge
    fix): apply up to M merges per Spark round, PROVABLY equal to the
    sequential trainer. Per round the top ``batch_size + 1`` pairs are
    collected (k-bounded) and a batch is accepted as the longest
    PREFIX of the sorted order such that (a) no two accepted pairs
    share a unit symbol, (b) no accepted pair's CONCATENATION equals
    an already-existing unit symbol or another accepted concat —
    initial units are single characters, so the existing multi-char
    symbols are exactly the concats of previously learned merges, a
    set this trainer already holds — and (c) every accepted pair
    after the first counts STRICTLY above the first non-accepted
    pair. Why that equals sequential: merging a pair never increases
    any other existing pair's count, symbol-disjoint pairs' counts
    are untouched, a merge-created pair (x, ab)/(ab, y) inherits
    count ≤ its destroyed neighbour (x, a)/(b, y) — a NON-prefix pair
    (a is taken), so ≤ the cut count < every later accepted pair's
    count — and the concat-collision guard (b) is what makes those
    created pairs NEW keys rather than silent boosts to existing
    ones; strictness (c) also settles the tie-break (a created
    symbol's string could otherwise win the lexicographic tie). So
    at each sequential step the next accepted pair is still the
    global argmax with its recorded count. ``batch_size=1`` is
    byte-identical to the sequential loop (q162's oracle anchor); a
    32k-merge production vocabulary drops from 32k driver-paced
    rounds toward 32k/M. ``batch_stats`` (diagnostic): when a dict is
    passed it is filled with {"rounds", "batch_sizes"}."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    s = _BPE_SEP
    tok = df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
    # A token CONTAINING the separator would make its own chars
    # ambiguous against unit boundaries — exclude such tokens from the
    # trainer (mirrored in the q162 oracle); ASCII 31 never occurs in
    # sane text, so this is a well-definedness guard, not a data loss.
    vocab = (
        tok.filter(~F.col("token").contains(s))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("token")),
        lambda i: F.col("token").substr(i, F.lit(1)),
    )
    state = vocab.select(
        "cnt",
        F.concat(F.lit(s), F.array_join(chars, s + s), F.lit(s)).alias("seg"),
    ).localCheckpoint(eager=True)

    learned: list[tuple[int, str, str, int]] = []
    created_syms: set[str] = set()
    round_sizes: list[int] = []
    while len(learned) < int(n_merges):
        units = F.split(
            cached_expr("substring(seg, 2, length(seg) - 2)"), s + s
        )
        pair_arr = F.when(
            F.size(units) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(units) - 1),
                lambda i: F.struct(
                    F.element_at(units, i).alias("a"),
                    F.element_at(units, i + F.lit(1)).alias("b"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        want = min(int(batch_size), int(n_merges) - len(learned))
        top = (
            state.select("cnt", F.explode(pair_arr).alias("pr"))
            .groupBy(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
            .orderBy(
                F.col("pair_count").desc(), F.col("a").asc(), F.col("b").asc()
            )
            .limit(want + 1)
            .collect()
        )
        if not top:
            break
        # Longest symbol-disjoint collision-free PREFIX, capped at the
        # batch budget; the first row NOT accepted (budget, overlap,
        # concat collision, or list end) sets the cut count for the
        # strictness shrink below. The first pair is ALWAYS accepted
        # (it is the sequential argmax by definition) — but if its
        # concat collides, the batch ends right after it (a size-1
        # round IS the sequential step).
        accepted: list = []
        seen_syms: set[str] = set()
        batch_concats: set[str] = set()
        cut = None
        for r in top:
            a, b, cat = r["a"], r["b"], r["a"] + r["b"]
            if accepted and (
                len(accepted) >= want
                or a in seen_syms or b in seen_syms
                or a in batch_concats or b in batch_concats
                or cat in created_syms or cat in batch_concats
                or batch_concats & created_syms
            ):
                cut = int(r["pair_count"])
                break
            accepted.append(r)
            seen_syms.update((a, b))
            batch_concats.add(cat)
        if cut is not None:
            # Pairs after the first must count STRICTLY above the cut
            # — ties could otherwise be stolen by a merge-created
            # symbol under the lexicographic tie-break (docstring).
            while len(accepted) > 1 \
                    and int(accepted[-1]["pair_count"]) <= cut:
                accepted.pop()
        round_sizes.append(len(accepted))
        for r in accepted:
            learned.append(
                (len(learned), r["a"], r["b"], int(r["pair_count"]))
            )
            created_syms.add(r["a"] + r["b"])
        seg_col = F.col("seg")
        for r in accepted:
            seg_col = F.replace(
                seg_col,
                F.lit(s + r["a"] + s + s + r["b"] + s),
                F.lit(s + r["a"] + r["b"] + s),
            )
        state = (
            state.select("cnt", seg_col.alias("seg"))
            .localCheckpoint(eager=True)
        )
        if cut is None and len(accepted) < want:
            # The pair list itself ran dry mid-batch — nothing left.
            break
    if batch_stats is not None:
        batch_stats["rounds"] = len(round_sizes)
        batch_stats["batch_sizes"] = round_sizes
    return df.sparkSession.createDataFrame(
        learned, "merge_rank long, a string, b string, pair_count long"
    )


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a LEARNED byte-pair-encoding merge list (Sennrich et al.
    2016; the greedy min-rank loop GPT-2's encoder uses) — the step
    q123's pair counts train toward. Each case-folded whitespace word
    starts as its character sequence; while any adjacent unit pair is
    in the merge table, the LOWEST-rank pair present is merged at all
    its occurrences (left-to-right), then the word is re-scanned — a
    later merge can expose an earlier-rank pair, which sequential
    one-pass-per-merge application would miss. Segmentation is
    lossless: concatenating a word's units reproduces the word.

    Returns (id, bpe_tokens array<string>, n_tokens, n_bpe_tokens):
    the real tokenizer token stream and its count, so budget/packing
    operators (q101/q102/q113) can run on tokenizer tokens instead of
    whitespace words (feed ``n_bpe_tokens`` to
    :func:`pack_sequences`'s ``n_tokens_col``, or ``bpe_tokens`` to
    :func:`chunk_tokens`'s ``tokens_col``).

    The merge loop is data-dependent iteration per word — not
    expressible as bounded Catalyst HOFs — so this is an Arrow-batched
    ``mapInPandas`` edge (the UDF policy's sanctioned escape hatch,
    like the media codecs and the GEMM kernel). Encodings are memoized
    per DISTINCT word within each Arrow batch: natural text repeats
    words heavily, so the Python loop runs per vocab word, not per
    token. No shuffle — encoding 100 TB is map-only.
    """
    ranks = {tuple(m): i for i, m in enumerate(merges)}

    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:
        pass

    def _encode_word(word: str, cache: dict) -> list[str]:
        got = cache.get(word)
        if got is not None:
            return got
        units = list(word)
        while len(units) > 1:
            best_rank, best_pair = None, None
            for i in range(len(units) - 1):
                r = ranks.get((units[i], units[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_pair = r, (units[i], units[i + 1])
            if best_pair is None:
                break
            a, b = best_pair
            out: list[str] = []
            i = 0
            while i < len(units):
                if i < len(units) - 1 and units[i] == a and units[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(units[i])
                    i += 1
            units = out
        cache[word] = units
        return units

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            cache: dict = {}
            toks_col, nt, nb = [], [], []
            for text in pdf["__text"]:
                words = [w for w in (text or "").lower().split() if w]
                units: list[str] = []
                for w in words:
                    units.extend(_encode_word(w, cache))
                toks_col.append(units)
                nt.append(len(words))
                nb.append(len(units))
            yield pd.DataFrame(
                {
                    "id": pdf["__id"],
                    "bpe_tokens": toks_col,
                    "n_tokens": nt,
                    "n_bpe_tokens": nb,
                }
            )

    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("bpe_tokens", ArrayType(StringType()), False),
            StructField("n_tokens", LongType(), False),
            StructField("n_bpe_tokens", LongType(), False),
        ]
    )
    narrow = df.select(
        F.col(id_col).cast("long").alias("__id"), F.col(text_col).alias("__text")
    )
    # The CPU-heavy Python stage must not serialize on a single small
    # scan split (the bench testdata is one row group per file) — same
    # guard as dedup._ensure_parallelism: a no-op at real scale where
    # the source already has thousands of splits.
    from .dedup import _ensure_parallelism

    narrow = _ensure_parallelism(narrow)
    out = narrow.mapInPandas(encode, schema=schema)
    return out.withColumnRenamed("id", id_col)


def distinct_token_ratio(text: Column) -> Column:
    """distinct tokens / total tokens — low values flag boilerplate or
    keyword-stuffed documents (Gopher-style repetition signal).
    Case-folded so it agrees with top_token_share / stopword_ratio on
    what a repeated token is ('The the THE' → ratio 1/3, not 1.0)."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    return F.when(
        n > 0, F.size(F.array_distinct(toks)).cast("double") / n
    ).otherwise(F.lit(0.0))


def _max_run_length(sorted_arr: Column) -> Column:
    """Longest equal-element run in a SORTED array, via a single linear
    fold (equal values are adjacent after the sort, so max run length ==
    max element frequency). The fold's lambda only touches its
    accumulator and the current element, so the array argument is
    evaluated exactly once however it was produced."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def step(acc: Column, t: Column) -> Column:
        # prev == t is NULL for the first token → otherwise(1) starts
        # the first run without an explicit isNotNull guard.
        run = F.when(acc["prev"] == t, acc["run"] + F.lit(1).cast("long")).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["best"])


def top_token_share(text: Column) -> Column:
    """Share of the single most frequent token (case-folded).

    Computed as the longest equal-run over the sorted token array: one
    array_sort plus a single linear fold — O(n log n) per row instead
    of the naive O(distinct × tokens) nested scan, so adversarial
    token-soup documents (50k distinct tokens) cost a per-row sort, not
    ~10^9 string compares. No shuffle, no Python; embarrassingly
    parallel at corpus scale."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    top = _max_run_length(F.array_sort(toks))
    return F.when(n > 0, top.cast("double") / n).otherwise(F.lit(0.0))


def quality_rules(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 30,
    max_tokens: int = 50_000,
    min_avg_token_len: float = 2.0,
    max_avg_token_len: float = 10.0,
    min_stopword_ratio: float = 0.01,
    min_distinct_ratio: float = 0.30,
    max_top_token_share: float = 0.20,
    lang_col: str | None = None,
    lang_profiles: dict[str, dict[str, float]] | None = None,
) -> DataFrame:
    """Gopher/C4-style rule-based quality filter (one map-only pass).

    Emits the per-document signals and a ``keep`` verdict: token-count
    bounds, mean-token-length bounds, stopword presence, repetition
    (distinct-token ratio, top-token dominance). Every signal is a
    single division of exactly-computed integers, so the doubles are
    bit-identical across engines and the filter is oracle-checkable.

    With ``lang_profiles`` (+ ``lang_col`` naming an existing language
    column, e.g. :func:`lang_id` materialized upstream), each threshold
    becomes a CASE over the language: ``{"de": {"min_avg_token_len":
    3.0}, ...}`` overrides just the named thresholds for that language,
    falling back to the keyword defaults otherwise — the Gopher paper's
    per-language threshold tables (stopword ratio and token length
    differ structurally across languages; an English stopword floor
    rejects most German text). Still a pure-Catalyst map; the CASE is
    mirrored 1:1 in ANSI SQL, so the gate stays oracle-checkable.

    Scale: pure Catalyst projections — predicate-pushdown friendly, no
    shuffle, no UDFs; at 100 TB this is a straight map over the scan.
    Tokenizes ONCE per case-form (raw + lowered arrays materialized in
    their own select); the five signals then read the arrays — the
    helper-per-signal form re-tokenized the document five times.
    """
    if lang_profiles and lang_col is None:
        raise ValueError("lang_profiles requires lang_col")

    defaults = {
        "min_tokens": min_tokens,
        "max_tokens": max_tokens,
        "min_avg_token_len": min_avg_token_len,
        "max_avg_token_len": max_avg_token_len,
        "min_stopword_ratio": min_stopword_ratio,
        "min_distinct_ratio": min_distinct_ratio,
        "max_top_token_share": max_top_token_share,
    }

    def thr(name: str) -> Column:
        if not lang_profiles:
            return F.lit(defaults[name])
        expr = None
        for lang in sorted(lang_profiles):
            v = lang_profiles[lang].get(name, defaults[name])
            cond = F.col(lang_col) == lang
            expr = (
                F.when(cond, F.lit(v)) if expr is None else expr.when(cond, F.lit(v))
            )
        return expr.otherwise(F.lit(defaults[name]))
    t = F.col(text_col)
    base = df.select(
        "*", tokens(t).alias("__toks"), tokens(F.lower(t)).alias("__ltoks")
    )
    toks, ltoks = F.col("__toks"), F.col("__ltoks")
    n = F.size(toks)
    nl = F.size(ltoks)
    total_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    stop_hits = F.size(
        F.filter(ltoks, lambda x: x.isin("the", "a", "and", "of", "to"))
    )
    signals = {
        "n_tokens": n.cast("long"),
        "mean_token_len": F.when(n > 0, total_len.cast("double") / n).otherwise(
            F.lit(0.0)
        ),
        "stopword_frac": F.when(nl > 0, stop_hits.cast("double") / nl).otherwise(
            F.lit(0.0)
        ),
        "distinct_ratio": F.when(
            nl > 0, F.size(F.array_distinct(ltoks)).cast("double") / nl
        ).otherwise(F.lit(0.0)),
        "top_token_frac": F.when(
            nl > 0, _max_run_length(F.array_sort(ltoks)).cast("double") / nl
        ).otherwise(F.lit(0.0)),
    }
    out = base.select(
        *df.columns, *[expr.alias(name) for name, expr in signals.items()]
    )
    keep = (
        (F.col("n_tokens") >= thr("min_tokens"))
        & (F.col("n_tokens") <= thr("max_tokens"))
        & (F.col("mean_token_len") >= thr("min_avg_token_len"))
        & (F.col("mean_token_len") <= thr("max_avg_token_len"))
        & (F.col("stopword_frac") >= thr("min_stopword_ratio"))
        & (F.col("distinct_ratio") >= thr("min_distinct_ratio"))
        & (F.col("top_token_frac") <= thr("max_top_token_share"))
    )
    return out.withColumn("keep", keep)


def ngram_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Duplicate word-n-gram fraction per document.

    ``dup_frac = (total n-grams − distinct n-grams) / total`` — the
    Gopher "duplicate n-gram" repetition signal. Three chained
    projections: tokenize ONCE, assemble the gram list from the
    materialized array (see gram_array — inlining the tokenizer into
    the gram lambda re-tokenized per element, 9.5 s → sub-second at
    sf0.1), then count. Never exploded: total and distinct counts are
    array ops, so the whole operator is map-only with no shuffle at
    any corpus size."""
    toked = df.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("__toks")
    )
    base = toked.select(
        F.col(id_col), gram_array(F.col("__toks"), n).alias("__grams")
    )
    total = F.size("__grams").cast("long")
    distinct = F.size(F.array_distinct("__grams")).cast("long")
    return base.select(
        F.col(id_col),
        total.alias("n_ngrams"),
        distinct.alias("n_distinct"),
        F.when(total > 0, (total - distinct).cast("double") / total)
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def pack_sequences(
    df: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
    n_tokens_col: str | None = None,
    n_buckets: int | None = None,
    bucket_cuts: list[float] | None = None,
) -> DataFrame:
    """Contiguous sequence packing: assign each document to the
    training pack it STARTS in, walking each group's documents in
    ``id_col`` order with a running token total — ``pack_id =
    floor((running_total - n_tokens) / budget_tokens)``.

    This is the window-cumsum formulation of context-window packing
    (one shuffle per group key, no sequential driver loop): a pack may
    overflow ``budget_tokens`` by at most one document's tokens minus
    one (the straggler that starts inside the budget finishes past
    it), which is the standard approximation used when packing is done
    as a data-parallel pass rather than a per-pack first-fit loop.
    Documents longer than the budget occupy their own pack span.
    Returns (id, group, n_tokens, running_total, pack_id) — feed the
    assignment to ``chunk_tokens``/a collector to emit the physical
    packed sequences.

    ``n_tokens_col``: reuse a token count an upstream stage already
    computed (tokenize-once rule — a quality gate has usually counted
    tokens already) instead of re-tokenizing ``text_col``.

    ``n_buckets``: the 100 TB skew lever. The default single-window
    cumsum serializes each group key on ONE reducer — on a real corpus
    where English is half the data, that reducer holds half the corpus.
    With ``n_buckets=B`` the cumsum becomes a TWO-LEVEL prefix sum:
    one ``approxQuantile`` pass picks B global ``id_col`` cut points
    (contiguous id ranges, so per-group bucket order == id order), each
    (group, bucket) computes its LOCAL running total on its own reducer
    — the hot group now spreads over B reducers — and a per-group
    cumulative bucket-offset table (G×B rows, broadcast) lifts local
    totals to the exact global running total. Output is IDENTICAL to
    the single-window path (pytest-pinned): the offsets are exact
    sums, only the physical partitioning changes. Cost: one extra
    driver-side quantile job + a broadcast join — noise next to
    un-serializing the hottest key in the corpus. The bucketed path
    requires a NUMERIC ``id_col`` (clear error otherwise) and the
    quantile job runs EAGERLY at plan-construction time; pass
    ``bucket_cuts`` (:func:`compute_bucket_cuts`) to reuse one scan
    across composed pack/budget stages.
    """
    n_tok = (
        F.col(n_tokens_col).cast("long")
        if n_tokens_col is not None
        else token_count(F.col(text_col))
    )
    running = _group_running_total(
        df, n_tok, id_col, group_col, n_buckets, cut_points=bucket_cuts
    )
    return running.withColumn(
        "pack_id",
        F.floor(
            (F.col("running_total") - F.col("n_tokens"))
            / F.lit(budget_tokens)
        ).cast("long"),
    )


def dedup_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 32,
) -> DataFrame:
    """C4-style duplicate-span removal (Raffel et al. 2020 §2.2 dedupe
    every three-sentence span; spans here are NON-overlapping
    ``chunk_size``-token windows since the synthetic corpus has no
    sentence boundaries): keep only the corpus-wide FIRST occurrence —
    lowest (doc_id, chunk_id) — of every exact chunk text, then
    reassemble each document from its surviving chunks in order.

    Returns one row per input document: (id, n_chunks, n_kept_chunks,
    text_deduped); a fully-duplicated document comes back with
    n_kept_chunks = 0 and empty text (the caller's filter decides
    whether to drop it).

    Scale shape: chunking is the map-only generator of
    :func:`chunk_tokens`; the first-occurrence rank is ONE window
    shuffle keyed on the chunk text (equivalently its fingerprint —
    at 100 TB hash the chunk first so the shuffle key is 16 bytes,
    not the text); reassembly is the groupBy(id) shuffle with an
    array_sort on (chunk_id) structs — per-document state only, no
    driver collection anywhere.
    """
    chunks = chunk_tokens(
        df, text_col=text_col, id_col=id_col, chunk_size=chunk_size, overlap=0
    )
    w = Window.partitionBy("chunk_text").orderBy(id_col, "chunk_id")
    flagged = chunks.withColumn("__rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct(F.col("chunk_id"), F.col("chunk_text"))
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept_chunks"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["chunk_text"],
            ),
            " ",
        ).alias("text_deduped"),
    )


def _merge_positions_to_spans(
    hits: DataFrame, k: int, min_len: int, id_col: str
) -> DataFrame:
    """(id, pos) duplicate-evidence positions → merged token spans.
    Each position covers tokens [pos, pos+k-1]; overlapping/adjacent
    windows merge via gaps-and-islands (a new span starts when the
    position gap exceeds k — window ends are monotone in pos, so the
    running-max interval merge reduces to a lag comparison)."""
    w = Window.partitionBy("id").orderBy("pos")
    flagged = hits.withColumn(
        "__brk",
        F.when(F.col("pos") - F.lag("pos").over(w) > k, 1).otherwise(0),
    )
    islands = flagged.withColumn("__isl", F.sum("__brk").over(w))
    return (
        islands.groupBy("id", "__isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("long").alias("span_end"),
        )
        .withColumn("span_len", (F.col("span_end") - F.col("span_start") + 1))
        .filter(F.col("span_len") >= min_len)
        .select(
            F.col("id").alias(id_col), "span_start", "span_end", "span_len"
        )
    )


def duplicate_spans(
    df: DataFrame,
    k: int = 8,
    min_len: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    hashed: bool = False,
    scope: str = "cross_doc",
    skew_safe: bool = False,
    tokens_col: str | None = None,
) -> DataFrame:
    """Substring-level (duplicate-span) detection — the Lee et al. 2021
    ("Deduplicating Training Data Makes Language Models Better")
    exact-substring pass, re-expressed as k-gram rolling matches instead
    of a suffix array: any run of ≥ ``min_len`` consecutive tokens that
    also appears in an EARLIER document is a duplicate span. Unlike the
    q114 chunk dedup (fixed 50-token boundaries), a span straddling any
    chunk boundary is still caught: every token position starts its own
    k-gram, so a shared substring of length L ≥ k yields L−k+1
    consecutive matching positions regardless of alignment.

    Method: positional k-grams per document → grams seen in ≥2 distinct
    documents keep their MIN doc id (the keeper retains its text; every
    other document's matching positions are duplicate evidence) →
    per-document interval merge of the overlapping [pos, pos+k−1]
    windows (gaps-and-islands: a new span starts when the position gap
    exceeds k) → spans shorter than ``min_len`` tokens are dropped.
    ``scope`` selects what counts as a duplicate:

    - ``"cross_doc"`` (default): grams shared by ≥2 documents; the
      MIN-id document keeps its text, every other document's matching
      positions are evidence. Within-document repetition is NOT
      flagged — this removes cross-document plagiarism/boilerplate.
    - ``"within_doc"``: positions whose gram occurred EARLIER in the
      SAME document — the C4-style within-document repetition excision
      (q104 only *flags* the dup fraction; this locates the spans, and
      :func:`excise_duplicate_spans` removes all but each first
      occurrence). Other documents are irrelevant, so the shuffle key
      is (id, gram) — perfectly spread, no cross-doc hot keys at all.

    Returns (doc_id, span_start, span_end, span_len): 0-based inclusive
    TOKEN indices into the whitespace tokenization, one row per merged
    span of a non-keeper document.

    Scale shape: ONE gram-keyed shuffle — keeper and cross-doc flags
    are unordered window aggregates over the gram key, not an
    aggregate-plus-join-back (A/B'd at sf0.1: 0.8s vs 1.9s warm — the
    join-back shape shuffles the gram stream twice because the partial
    agg and the probe side carry different payloads and can't share
    the exchange). Then one id-keyed window over MATCHED positions
    only (duplicate evidence, not the corpus). A boilerplate gram
    shared by M docs concentrates M (id,pos) rows on one reducer —
    linear unordered aggregation, no blow-up, but pre-filter known
    boilerplate upstream if M reaches corpus scale. With
    ``hashed=True`` the shuffle key is ``xxhash64`` of the gram
    (8 bytes) instead of the k-token string — the 100 TB path (cf.
    q70's bkey note); a 64-bit collision could merge two unrelated
    grams into a span, which is why the oracle-checked default stays
    on strings. ``skew_safe=True`` swaps the gram window for an
    aggregate-plus-join-back: ~2.4× slower on balanced data (the gram
    stream shuffles twice) but the per-gram reduction happens in
    MAP-SIDE PARTIALS, so a boilerplate gram appearing in 10^8 docs
    cannot pin one reducer — choose it when the corpus carries known
    mega-frequency boilerplate with no upstream filter. Identical
    output (pytest-pinned).

    ``min_len`` defaults to ``2*k`` (a single-gram match never excises
    on its own — the span must extend past one window, mirroring the
    reference practice of verifying LSH candidates before acting).

    ``tokens_col``: run the pass over a PRE-TOKENIZED array column
    (e.g. :func:`bpe_encode`'s ``bpe_tokens``) instead of whitespace-
    splitting ``text_col`` — Lee et al.'s dedup thresholds are defined
    over TOKENIZER tokens, and this aligns the span indices with the
    token stream budgets/packing already consume. Gram keys are the
    space-joined token windows (injective: tokens never contain
    spaces), so semantics are identical to pre-joining the array —
    only the tokenization source changes.
    """
    if min_len is None:
        min_len = 2 * k
    base = df.select(
        F.col(id_col).alias("id"),
        (
            F.col(tokens_col) if tokens_col is not None
            else tokens(F.col(text_col))
        ).alias("__toks"),
    )
    gram = F.col("gram")
    grams = (
        base.select(
            "id",
            F.posexplode_outer(gram_array(F.col("__toks"), k)).alias(
                "pos", "gram"
            ),
        )
        # _outer + null filter on the GENERATED column: keeps
        # InferFiltersFromGenerate from re-inlining the whole gram
        # build below the projection (the q127 19s lesson).
        .filter(gram.isNotNull())
    )
    if hashed:
        grams = grams.select("id", "pos", F.xxhash64(gram).alias("gram"))
    if scope == "cross_doc" and skew_safe:
        dup = (
            grams.groupBy("gram")
            .agg(F.min("id").alias("__keeper"), F.max("id").alias("__mx"))
            .filter(F.col("__mx") > F.col("__keeper"))
            .select("gram", "__keeper")
        )
        hits = (
            grams.join(dup, "gram")
            .filter(F.col("id") != F.col("__keeper"))
            .select("id", "pos")
        )
    elif scope == "cross_doc":
        # min != max over the gram partition <=> present in >= 2
        # distinct docs — no countDistinct, no join-back.
        wg = Window.partitionBy("gram")
        hits = (
            grams.withColumn("__keeper", F.min("id").over(wg))
            .withColumn("__mx", F.max("id").over(wg))
            .filter(
                (F.col("__mx") > F.col("__keeper"))
                & (F.col("id") != F.col("__keeper"))
            )
            .select("id", "pos")
        )
    elif scope == "within_doc":
        # A position repeats iff an earlier position of the same doc
        # holds the same gram: min-pos over (id, gram) < pos.
        wig = Window.partitionBy("id", "gram")
        hits = (
            grams.withColumn("__first", F.min("pos").over(wig))
            .filter(F.col("pos") > F.col("__first"))
            .select("id", "pos")
        )
    else:
        raise ValueError(f"unknown scope {scope!r}")
    return _merge_positions_to_spans(hits, k, min_len, id_col)


def gram_hash_stream(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional k-gram hash stream: (id, pos, gram) with ``gram`` the
    ``xxhash64`` of the space-joined k tokens — the 8-byte shuffle-key
    form of the :func:`duplicate_spans` gram build (same explode-outer
    guard)."""
    base = df.select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("__toks")
    )
    return (
        base.select(
            "id",
            F.posexplode_outer(gram_array(F.col("__toks"), k)).alias(
                "pos", "gram"
            ),
        )
        .filter(F.col("gram").isNotNull())
        .select("id", "pos", F.xxhash64("gram").alias("gram"))
    )


def gram_index(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct k-gram hashes of a corpus — the persistable state table
    behind incremental substring-level dedup (streaming/corpus.py):
    one ``gram`` BIGINT column, O(corpus tokens) rows before
    distinct. The substring analogue of the MinHash banded index."""
    return gram_hash_stream(df, k, text_col, id_col).select("gram").distinct()


def duplicate_spans_vs_index(
    df: DataFrame,
    index: DataFrame | None,
    k: int = 5,
    min_len: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate spans of ``df`` against BOTH itself (cross-doc,
    hashed — :func:`duplicate_spans` semantics) and a persisted
    :func:`gram_index` of previously-landed content: any position
    whose gram hash is in the index is duplicate evidence (the landed
    corpus is the keeper by arrival), merged with the within-batch
    evidence before the interval merge. This is the incremental form
    of exact-substring dedup: the index grows with the corpus, each
    new shard pays one gram equi-join against it.

    Scale note: the index join is the heaviest of the three streaming
    screens (the index is corpus-token-sized — the honest cost of
    substring-level guarantees; Lee et al.'s suffix array is larger).
    Pass a BUCKETED index (``streaming/corpus.py`` with
    ``span_dedup["n_buckets"]``) and the join needs no index-side
    exchange at all — the bucketed scan satisfies the join's
    distribution and only the batch-sized probe shuffles; the plain
    parquet path instead relies on compaction's range clustering.
    """
    if min_len is None:
        min_len = 2 * k
    grams = gram_hash_stream(df, k, text_col, id_col)
    wg = Window.partitionBy("gram")
    hits = (
        grams.withColumn("__keeper", F.min("id").over(wg))
        .withColumn("__mx", F.max("id").over(wg))
        .filter(
            (F.col("__mx") > F.col("__keeper"))
            & (F.col("id") != F.col("__keeper"))
        )
        .select("id", "pos")
    )
    if index is not None:
        idx_hits = grams.join(
            index.select("gram"), on="gram", how="left_semi"
        ).select("id", "pos")
        hits = hits.unionByName(idx_hits).dropDuplicates(["id", "pos"])
    return _merge_positions_to_spans(hits, k, min_len, id_col)


def excise_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_spans: bool = True,
    tokens_col: str | None = None,
    emit_tokens: bool = False,
) -> DataFrame:
    """Excise a precomputed span table — (doc_id, span_start,
    span_end[, ...]) token ranges — from ``df`` and reassemble each
    document: (doc_id, clean_text, n_tokens, n_removed), one row per
    INPUT document. The reassembly half of
    :func:`excise_duplicate_spans`, usable with any span source
    (:func:`duplicate_spans`, :func:`duplicate_spans_vs_index`).

    ``tokens_col`` excises from a pre-tokenized array column (span
    indices must come from the SAME tokenization — pair it with
    :func:`duplicate_spans`'s ``tokens_col``). With
    ``emit_tokens=True`` the surviving tokens come back as a
    ``clean_tokens`` array instead of a space-joined ``clean_text`` —
    the right output when the tokens are tokenizer units (BPE) whose
    concatenation is not whitespace-delimited text."""
    sp_arr = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    if broadcast_spans:
        sp_arr = F.broadcast(sp_arr)
    base = df.select(
        F.col(id_col),
        (
            F.col(tokens_col) if tokens_col is not None
            else tokens(F.col(text_col))
        ).alias("__toks"),
    ).join(sp_arr, on=id_col, how="left")
    sps = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<span_start:long,span_end:long>>"),
    )
    kept = F.filter(
        F.col("__toks"),
        lambda t, i: ~F.exists(
            sps, lambda s: (i >= s["span_start"]) & (i <= s["span_end"])
        ),
    )
    out_col = (
        kept.alias("clean_tokens")
        if emit_tokens
        else F.array_join(kept, " ").alias("clean_text")
    )
    return base.select(
        F.col(id_col),
        out_col,
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).cast("long").alias("n_removed"),
    )


def excise_duplicate_spans(
    df: DataFrame,
    k: int = 8,
    min_len: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    scope: str = "cross_doc",
    broadcast_spans: bool = True,
    tokens_col: str | None = None,
    emit_tokens: bool = False,
    hashed: bool = False,
) -> DataFrame:
    """Remove every :func:`duplicate_spans` span from its document and
    reassemble the remaining tokens in order (the q114 reassembly
    shape) — one row per INPUT document: (doc_id, clean_text, n_tokens,
    n_removed). Under ``scope="cross_doc"`` keeper documents come back
    untouched, so exactly one copy of every duplicated substring
    survives the corpus-wide pass; under ``scope="within_doc"`` each
    document keeps the FIRST occurrence of its repeated runs.

    Scale shape: the span table rolls up to one array per AFFECTED doc
    (id shuffle of duplicate evidence only) and joins back onto the
    corpus; excision itself is a map-only indexed array filter. With
    ``broadcast_spans=True`` (default) the join is a broadcast — the
    corpus is never shuffled, correct while affected docs are the
    minority. On a corpus where duplication is pervasive (web crawl
    before any dedup), set it False so the join-strategy choice falls
    to Catalyst/AQE instead of forcing an oversized broadcast.
    ``hashed`` passes through to :func:`duplicate_spans` — the 8-byte
    gram shuffle key (measured ~20% faster on the q153 BPE-token pass,
    where the token stream is ~3× denser than words).
    """
    spans = duplicate_spans(
        df, k=k, min_len=min_len, text_col=text_col, id_col=id_col,
        scope=scope, tokens_col=tokens_col, hashed=hashed,
    )
    return excise_spans(
        df, spans, text_col=text_col, id_col=id_col,
        broadcast_spans=broadcast_spans, tokens_col=tokens_col,
        emit_tokens=emit_tokens,
    )


#: The phrase pseudo-term's name in :func:`phrase_bm25_topk_from_postings`
#: — contains a NUL, so :func:`tokens` can never emit it.
_PHRASE_TERM = "\x00phrase"


def bm25_topk(
    df: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval (Robertson & Zaragoza 2009): top-``k`` documents
    for a bag of query terms under Okapi BM25 with the Lucene idf
    (``ln(1 + (N - df + 0.5)/(df + 0.5))``) — the lexical-retrieval
    baseline every RAG / hard-negative-mining pipeline needs next to
    the embedding top-k (q28/q122).

    Determinism (oracle-checkable): scoring goes through
    :func:`_bm25_score`, whose integer/quantized arithmetic is
    bit-identical across partitionings and engines (the q106 pattern).

    Scale shape: tokenize once → the token stream is filtered to the
    query terms BEFORE the (id, term) aggregation, so the only
    corpus-sized work is the scan + map-side filter; doc lengths ride
    the same tokenized projection as an integer aggregate; df/idf is a
    query-terms-sized table broadcast back; top-k is
    TakeOrderedAndProject. At 100 TB this is one filtered shuffle of
    matched postings — the classic impact-ordered retrieval shape.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    ).select(
        "id",
        F.size("__toks").cast("long").alias("dl"),
        F.filter("__toks", lambda t: F.array_contains(terms, t)).alias("__hits"),
    )
    stats = base.select(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    # explode_outer + null filter, NOT explode: InferFiltersFromGenerate
    # would push size(__hits) > 0 below the projection with the whole
    # tokenizer+filter expression re-inlined (see winnowing_fingerprints).
    tf = (
        base.select("id", "dl", F.explode_outer("__hits").alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("id", "dl", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    return _bm25_topk_tail(
        _bm25_per_doc(_bm25_score(tf, dfreq, stats, k1, b)),
        k, id_col, "n_terms",
    )


def _bm25_score(
    tf: DataFrame, dfreq: DataFrame, stats: DataFrame, k1: float, b: float
) -> DataFrame:
    """The one quantized BM25 kernel: every BM25 ranking in this module
    scores its (doc, term) pairs here, so the full-scan, postings,
    pruned and phrase variants are bit-identical to each other and to
    their DuckDB twins. ``tf`` carries (id, dl, term, tf) rows,
    ``dfreq`` (term, df) rows and ``stats`` the one (n_docs, sum_dl)
    row; returns (id, tf, __score_q).

    idf is quantized to integer micro-units per term, and the
    per-(doc, term) score is assembled from INTEGER tf / dl / N / Σdl
    in a fixed expression order and quantized again, so a BIGINT sum
    of ``__score_q`` is order-free."""
    # stats is consumed ONCE; n_docs and sum_dl ride the tiny idf table
    # into the scoring join.
    idf_q = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        "n_docs",
        "sum_dl",
        F.round(
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * 1e6
        )
        .cast("long")
        .alias("__idf_q"),
    )
    return tf.join(F.broadcast(idf_q), "term").select(
        "id",
        "tf",
        F.round(
            (F.col("__idf_q").cast("double") / 1e6)
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1 * (1.0 - b))
                + F.lit(k1 * b)
                * (F.col("dl") * F.col("n_docs")).cast("double")
                / F.col("sum_dl")
            )
            * 1e6
        )
        .cast("long")
        .alias("__score_q"),
    )


def _bm25_per_doc(scored: DataFrame) -> DataFrame:
    """(id, n_terms, __sum_q): the per-document BIGINT sum of
    :func:`_bm25_score` rows."""
    return scored.groupBy("id").agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("__score_q").cast("long").alias("__sum_q"),
    )


def _bm25_topk_tail(
    per_doc: DataFrame, k: int, id_col: str, *cols: str
) -> DataFrame:
    """The shared BM25 top-k: (id_col, *cols, score) by score desc, id
    asc, k rows, with score = ``__sum_q`` micro-units as a double."""
    return (
        per_doc.select(
            F.col("id").alias(id_col),
            *cols,
            (F.col("__sum_q").cast("double") / 1e6).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _lexicon_stats(
    lexicon: DataFrame, terms: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Global BM25 statistics from the ingest lexicon state
    (``{out}_lexicon``): the one-row (n_docs, sum_dl) frame and the
    (term, df) rows of ``terms``. Replayed-batch duplicate partials
    are removed by the (batch_id, token) dedup the state layout
    guarantees exact."""
    lex = lexicon.dropDuplicates(["batch_id", "token"])
    stats = lex.filter(F.col("token").isNull()).agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
    )
    dfreq = (
        lex.filter(F.col("token").isin(*terms))
        .groupBy(F.col("token").alias("term"))
        .agg(F.sum("df").cast("long").alias("df"))
    )
    return stats, dfreq


def _postings_tf(postings: DataFrame, terms: list[str]) -> DataFrame:
    """(id, dl, term, tf) rows of the inverted postings state for
    ``terms``. The token IN-filter reaches the (bucket-pruned) parquet
    scan; replayed-batch duplicates are removed by the (batch_id,
    token, doc_id) dedup."""
    return (
        postings.filter(F.col("token").isin(*terms))
        .dropDuplicates(["batch_id", "token", "doc_id"])
        .select(
            F.col("doc_id").alias("id"),
            F.col("dl"),
            F.col("token").alias("term"),
            F.col("tf"),
        )
    )


def bm25_topk_from_postings(
    postings: DataFrame,
    lexicon: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`bm25_topk` answered ENTIRELY from ingest state
    (``ingest_documents_stream(maintain_postings=True)``) — zero corpus
    reads at query time. Global statistics (N, Σdl, per-term df) come
    from the incremental ``{out}_lexicon`` partials; the per-document
    side (tf, dl) comes from the INVERTED POSTINGS state
    ``{out}_postings`` filtered to the query terms. The token filter
    reaches the parquet scan as a pushed IN-predicate — and with
    ``postings_n_buckets`` the state is a bucketed-on-token table, so
    the scan PRUNES to the buckets the query terms hash to: read cost
    tracks the query terms' posting lists, not the corpus. That is
    the classical search-engine query shape (term-bounded inverted
    index probe) expressed as a Spark plan.

    Exactness: lexicon and postings rows are integer partials of
    exactly the quantities :func:`bm25_topk` aggregates one-shot, each
    landed doc counted once, and both paths score through
    :func:`_bm25_score` — so the ranking is bit-identical to the batch
    computation (pinned in tests and by the q178/q184 oracle twins)."""
    tlist = [str(t) for t in query_terms]
    return _bm25_topk_tail(
        _bm25_terms_per_doc(postings, lexicon, tlist, k1, b),
        k, id_col, "n_terms",
    )


def bm25_topk_wand(
    postings: DataFrame,
    lexicon: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    common_df_frac: float = 0.10,
    max_candidate_df: int = 5_000_000,
    prune_stats: dict | None = None,
) -> DataFrame:
    """:func:`bm25_topk_from_postings` with PROVABLY-SAFE impact-ordered
    pruning (MaxScore, Turtle & Flood 1995; WAND, Broder et al. 2003 —
    VERDICT r15 item 1): a query containing a high-df ("the"-class)
    term no longer scores and doc-aggregates that term's corpus-sized
    posting list for k rows. The result is EXACTLY the unpruned top-k
    (same schema, same ties) — pinned by the q188 twin being q184's
    own SQL and the pruned==unpruned pytest.

    The two-pass Spark shape of the classical document-at-a-time
    pruning:

    1. **Rare pass.** Terms with df ≤ ``common_df_frac``·N are scored
       fully (their posting lists are small — that IS what rare
       means); the k-th best PARTIAL sum θ₀ lower-bounds the true k-th
       best total, because per-term scores are non-negative (the +1
       idf form) and partial ≤ total.
    2. **Essential split.** Every term's max impact U_t is computed
       from the lexicon's (max_tf, min_dl) impact partials under the
       CURRENT global stats — the BM25 tf-component is increasing in
       tf and decreasing in dl, so g(max_tf, min_dl) bounds every
       posting of t without reading its list; U is quantized with a
       k1-derived micro-unit slack (⌈0.5·(k1+1)⌉+3 — the worst-case
       idf-rounding error 0.5·g < 0.5·(k1+1) plus the score-rounding
       half-unit plus the floor unit, ADVICE r16: a constant +8 only
       dominated for k1 ≲ 12) that dominates both rounding directions
       for every legal k1.
       Common terms are moved (df-descending, greedily) into the
       NON-ESSENTIAL set while ΣU stays strictly below θ₀: a document
       matching ONLY non-essential terms scores ≤ ΣU < θ₀ ≤ k docs'
       totals, so it can never enter the top-k — even on ties, the
       inequality is strict.
    3. **Exact pass.** Candidates = docs with ≥1 ESSENTIAL posting
       (bounded by Σ_{t∈E} df_t, known from the lexicon before any
       scan). Essential postings are scored and per-doc partials
       aggregated; then the classical SECOND MaxScore bound (Turtle &
       Flood's document test — VERDICT r16 item 2) drops every
       candidate whose essential partial + ΣU over the non-essential
       set is still < θ₀ BEFORE the common-term lists are touched:
       such a doc's total ≤ partial + ΣU < θ₀ ≤ the true k-th best
       total, strictly, so it can never enter the top-k even on ties.
       Non-essential posting lists are read ONCE and semi-joined
       (broadcast) to the SURVIVING candidate list — the common
       term's corpus-sized list is filtered map-side and never
       doc-shuffled. Survivors' scores include every matched term, so
       values, n_terms and ties are bit-identical to the unpruned
       plan.

    Whenever pruning is not provably safe (no common term, fewer than
    k rare-pass docs, ΣU ≥ θ₀ for every split, or a NULL impact
    partial from a mixed-schema lexicon) the function DELEGATES to
    :func:`bm25_topk_from_postings` — correctness never depends on
    the heuristics. Driver-side collects are bounded: one stats row,
    ≤|terms| lexicon rows, k rare-pass rows. The pass-2 candidate
    list is broadcast only while Σ_{t∈E} df_t ≤ ``max_candidate_df``
    (known from the lexicon BEFORE any postings scan); above that the
    candidate set is no longer small by construction — an
    all-medium-frequency query on a huge corpus — and the function
    delegates rather than risk a corpus-scale broadcast (ADVICE r16).

    Requires a lexicon with the (max_tf, min_dl) impact columns
    (``ingest_documents_stream(maintain_postings=True)`` writes them;
    older states must re-ingest or fall back to the unpruned query).

    ``prune_stats``: test/diagnostic hook — when a dict is passed it
    is filled in place with {"delegated", "essential",
    "non_essential", "n_essential_docs", "n_candidates"}; counting
    the two small frames costs two extra jobs, so leave it None in
    production paths.
    """
    import math

    tlist = sorted({str(t) for t in query_terms})
    lex = lexicon.dropDuplicates(["batch_id", "token"])
    if "max_tf" not in lexicon.columns:
        raise ValueError(
            "bm25_topk_wand needs the lexicon impact partials "
            "(max_tf, min_dl); this state predates them — re-ingest or "
            "use bm25_topk_from_postings"
        )
    # ONE driver job for both the global-stats row (token IS NULL —
    # its own group under groupBy) and the per-term impact partials:
    # the old shape collected them as two sequential jobs, pure fixed
    # latency at query time (r18 §1 — every wand call is collect-paced).
    # Sums over the null group aggregate exactly the rows the old
    # token-IS-NULL filter saw; token rows carry n_docs=sum_dl=0 and
    # the null row carries df=cnt=0, so the split below is lossless.
    srows = (
        lex.filter(
            F.col("token").isNull() | F.col("token").isin(*tlist)
        )
        .groupBy("token")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.max("max_tf").cast("long").alias("max_tf"),
            F.min("min_dl").cast("long").alias("min_dl"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("sum_dl").cast("long").alias("sum_dl"),
        )
        .collect()
    )
    null_row = next((r for r in srows if r["token"] is None), None)
    n_docs = (null_row["n_docs"] if null_row is not None else 0) or 0
    sum_dl = (null_row["sum_dl"] if null_row is not None else 0) or 0
    trows = [r for r in srows if r["token"] is not None]
    def full() -> DataFrame:
        if prune_stats is not None:
            prune_stats["delegated"] = True
        return bm25_topk_from_postings(
            postings, lexicon, query_terms, k=k, k1=k1, b=b, id_col=id_col
        )

    # A NULL impact partial means the state mixes pre-impact batches
    # (built before max_tf/min_dl existed) — F.max over null-padded
    # batches would UNDERESTIMATE the true bound and prune wrongly;
    # the ingest guard refuses to create such a mix, but a hand-
    # assembled dir can still present one. Delegate: the unpruned
    # query needs no impact columns (ADVICE r16 medium).
    if any(r["max_tf"] is None or r["min_dl"] is None for r in trows):
        return full()
    info = {
        r["token"]: (int(r["df"]), int(r["max_tf"]), int(r["min_dl"]))
        for r in trows
    }
    # Terms absent from the corpus contribute no postings in either
    # plan — drop them from the split bookkeeping.
    present = [t for t in tlist if t in info and info[t][0] > 0]
    seed = [
        t for t in present
        if info[t][0] <= common_df_frac * max(n_docs, 1)
    ]
    if present and not seed:
        seed = [min(present, key=lambda t: (info[t][0], t))]
    if not present or set(seed) == set(present) or n_docs == 0:
        return full()
    # Slack must dominate the two rounding steps for ANY caller k1:
    # idf_q rounding contributes ≤0.5·g < 0.5·(k1+1) micro-units,
    # score_q rounding ≤0.5, the floor ≤1 (ADVICE r16 low — the old
    # constant 8 was only safe for k1 ≲ 12).
    slack = int(math.ceil(0.5 * (k1 + 1.0))) + 3

    def _max_impact_q(t: str) -> int:
        df_t, max_tf, min_dl = info[t]
        idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        g = (max_tf * (k1 + 1.0)) / (
            max_tf + k1 * (1.0 - b) + k1 * b * (min_dl * n_docs) / sum_dl
        )
        return int(math.floor(idf * g * 1e6)) + slack

    # Pass 1: rare terms only — the k-th best partial sum is θ₀.
    rare_topk = (
        _bm25_terms_per_doc(postings, lexicon, seed, k1, b)
        .orderBy(F.col("__sum_q").desc(), F.col("id").asc())
        .limit(k)
        .collect()
    )
    if len(rare_topk) < k:
        return full()
    theta0 = int(rare_topk[-1]["__sum_q"])
    non_essential: list[str] = []
    acc = 0
    for t in sorted(
        (t for t in present if t not in set(seed)),
        key=lambda t: (-info[t][0], t),
    ):
        u = _max_impact_q(t)
        if acc + u < theta0:
            non_essential.append(t)
            acc += u
    if not non_essential:
        return full()
    essential = [t for t in present if t not in set(non_essential)]
    # The pass-2 candidate list is bounded by Σ_{t∈E} df_t — known
    # from the lexicon BEFORE any postings scan. If the essential set
    # is itself corpus-scale (an all-medium-frequency query), the
    # broadcast below would be the OOM risk the pruning exists to
    # avoid — delegate instead (ADVICE r16 low).
    if sum(info[t][0] for t in essential) > int(max_candidate_df):
        return full()
    # Pass 2: score the essential postings, aggregate per-doc
    # partials, and apply the per-candidate MaxScore document test —
    # partial + ΣU(non-essential) < θ₀ ⇒ skip (provably outside the
    # top-k; see docstring step 3). Only SURVIVORS' ids reach the
    # non-essential lists, broadcast-semi-join filtered map-side (the
    # pushed filter on the common terms' postings), never
    # doc-shuffled whole.
    ess_part = _bm25_terms_per_doc(postings, lexicon, essential, k1, b)
    cand = ess_part.filter(F.col("__sum_q") + F.lit(int(acc)) >= theta0)
    if prune_stats is not None:
        prune_stats.update(
            delegated=False,
            essential=list(essential),
            non_essential=list(non_essential),
            n_essential_docs=ess_part.count(),
            n_candidates=cand.count(),
        )
    ne_part = _bm25_terms_per_doc(
        postings, lexicon, non_essential, k1, b, only_ids=cand.select("id")
    ).select(
        "id",
        F.col("n_terms").alias("__ne_n"),
        F.col("__sum_q").alias("__ne_q"),
    )
    per_doc = cand.join(ne_part, on="id", how="left").select(
        "id",
        (
            F.col("n_terms") + F.coalesce(F.col("__ne_n"), F.lit(0))
        ).cast("long").alias("n_terms"),
        (
            F.col("__sum_q") + F.coalesce(F.col("__ne_q"), F.lit(0))
        ).cast("long").alias("__sum_q"),
    )
    return _bm25_topk_tail(per_doc, k, id_col, "n_terms")


def boolean_and_topk_from_postings(
    postings: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Conjunctive boolean retrieval from the INVERTED POSTINGS state:
    documents containing EVERY query term, ranked by total matched
    term frequency (ties by id), k rows max — the classical AND-query
    plan: per-term posting-list reads (pushed IN-filter + bucket
    pruning, like :func:`bm25_topk_from_postings`), one doc-keyed
    aggregation whose distinct-term count implements the intersection,
    zero corpus reads. Returns (id_col, n_terms, total_tf, score)
    with score = total_tf as a double (a stable surface with the BM25
    variants). Replayed-batch duplicates removed by the (batch_id,
    token, doc_id) dedup."""
    tlist = [str(t) for t in query_terms]
    hits = (
        postings.filter(F.col("token").isin(*tlist))
        .dropDuplicates(["batch_id", "token", "doc_id"])
        .groupBy("doc_id")
        .agg(
            F.countDistinct("token").cast("long").alias("n_terms"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .filter(F.col("n_terms") == len(set(tlist)))
    )
    return (
        hits.select(
            F.col("doc_id").alias(id_col),
            "n_terms",
            "total_tf",
            F.col("total_tf").cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def phrase_topk_from_postings(
    postings: DataFrame,
    phrase_terms: tuple[str, ...],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT-PHRASE retrieval from POSITIONAL postings (VERDICT r15
    item 2 — the second classical retrieval primitive after q184's
    term queries): documents containing the tokens of ``phrase_terms``
    at CONSECUTIVE offsets, ranked by occurrence count (ties by id),
    zero corpus reads. Requires a postings state built with
    ``ingest_documents_stream(postings_positions=True)`` — each
    (token, doc) row then carries its ascending 0-based offsets array.

    The classical positional-intersection plan as Catalyst
    expressions: per candidate doc, the phrase's start offsets are
    ``P(t₁) ∩ (P(t₂) − 1) ∩ … ∩ (P(tₙ) − (n−1))`` — one
    ``array_intersect`` chain over the per-term positions arrays
    (repeated phrase tokens reuse the same array at different
    shifts), no re-tokenization, no text column anywhere in the plan.

    Scale shape: the token IN-filter reaches the pruned bucket scan
    exactly as q184's (read cost tracks the phrase terms' posting
    lists); candidates are docs carrying ALL distinct phrase tokens
    (one doc-keyed aggregation of the matched postings, the q187
    countDistinct intersection); the offset intersection is per-row
    array arithmetic. Positions are exact integer facts of the landed
    corpus, so the occurrence count is oracle-exact (q189's DuckDB
    twin re-derives it from the text one-shot). Returns (id_col,
    n_occurrences, score) with score = n_occurrences as double (the
    q187 stable-surface convention)."""
    ph = _phrase_occurrences(postings, phrase_terms, "phrase_topk")
    return (
        ph.select(
            F.col("doc_id").alias(id_col),
            "n_occurrences",
            F.col("n_occurrences").cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _phrase_occurrences(
    postings: DataFrame, phrase_terms: tuple[str, ...], caller: str
) -> DataFrame:
    """The positional phrase-intersection kit shared by
    :func:`phrase_topk_from_postings` and
    :func:`phrase_bm25_topk_from_postings`: (doc_id, dl,
    n_occurrences) rows for every doc containing the CONSECUTIVE
    phrase at least once — the ``array_intersect`` chain over
    offset-shifted per-term positions arrays described on the former.
    ``dl`` rides along from the matched postings (every row of a doc
    carries the same dl) so the BM25 composition never rejoins."""
    terms = [str(t) for t in phrase_terms]
    if len(terms) < 2:
        raise ValueError(f"{caller}_from_postings needs >= 2 terms")
    if "positions" not in postings.columns:
        raise ValueError(
            f"{caller}_from_postings needs POSITIONAL postings — "
            "re-ingest with postings_positions=True"
        )
    distinct = sorted(set(terms))
    cands = (
        postings.filter(F.col("token").isin(*distinct))
        .dropDuplicates(["batch_id", "token", "doc_id"])
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("token", "positions"))
            ).alias("__pm"),
            F.countDistinct("token").alias("__nt"),
            F.max("dl").cast("long").alias("dl"),
        )
        .filter(F.col("__nt") == len(distinct))
    )

    def _shifted(term: str, off: int):
        # factory — a 2-parameter HOF lambda would bind the ARRAY INDEX
        # as its second argument (pyspark's (element, index) form), so
        # the shift must be closed over via a helper per offset
        return F.transform(
            F.element_at(F.col("__pm"), F.lit(term)), lambda p: p - off
        )

    starts = F.element_at(F.col("__pm"), F.lit(terms[0]))
    for i, t in enumerate(terms[1:], start=1):
        starts = F.array_intersect(starts, _shifted(t, i))
    return cands.select(
        "doc_id",
        "dl",
        F.size(starts).cast("long").alias("n_occurrences"),
    ).filter(F.col("n_occurrences") > 0)


def proximity_topk_from_postings(
    postings: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    max_span: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """UNORDERED PROXIMITY retrieval from POSITIONAL postings — the
    third classical positional primitive after exact terms (q184) and
    exact phrase (q189): documents containing ALL the distinct query
    terms, ranked by their MINIMAL SPAN (the tightest window, in token
    offsets from first to last, covering one occurrence of every
    term; Indri's unordered-window operator). Tighter span ranks
    first, ties by id; ``max_span`` filters to docs whose best window
    is at most that many offsets wide. Zero corpus reads.

    Minimal span is the classical single-pass quantity computed as
    Catalyst array algebra: flatten each term's positions into a
    (pos, term_index) struct array, sort by position, and fold ONE
    ``F.aggregate`` over it maintaining the latest-seen position per
    term — whenever all n terms have been seen, the tightest window
    ending at the current occurrence is pos − min(latest), and the
    running least() over those is the minimal span (every minimal
    window ends at some occurrence). Per-doc cost is O(L·n) with L =
    the doc's matched-occurrence count (VERDICT r16 item 7 — safe
    even when a high-df term lands in a proximity query). The token
    IN-filter reaches the pruned bucket scan exactly as q184's.
    Positions are exact integer facts, so the span is oracle-exact
    (q192's twin re-derives it one-shot from the text). Returns
    (id_col, min_span, n_matched) ordered by span asc, id asc."""
    out = _proximity_spans(postings, query_terms, "proximity_topk")
    out = out.select(
        F.col("doc_id").alias(id_col), "min_span", "n_matched"
    )
    if max_span is not None:
        out = out.filter(F.col("min_span") <= int(max_span))
    return out.orderBy(
        F.col("min_span").asc(), F.col(id_col).asc()
    ).limit(k)


def _proximity_spans(
    postings: DataFrame, query_terms: tuple[str, ...], caller: str
) -> DataFrame:
    """The positional minimal-covering-span kit shared by
    :func:`proximity_topk_from_postings` and
    :func:`proximity_bm25_topk_from_postings`: (doc_id, dl, min_span,
    n_matched) rows for every doc containing ALL the distinct query
    terms — the single-pass O(L·n) fold described on the former."""
    terms = [str(t) for t in query_terms]
    distinct = sorted(set(terms))
    n = len(distinct)
    if n < 2:
        raise ValueError(f"{caller}_from_postings needs >= 2 "
                         "distinct terms")
    if "positions" not in postings.columns:
        raise ValueError(
            f"{caller}_from_postings needs POSITIONAL postings — "
            "re-ingest with postings_positions=True"
        )
    cands = (
        postings.filter(F.col("token").isin(*distinct))
        .dropDuplicates(["batch_id", "token", "doc_id"])
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("token", "positions"))
            ).alias("__pm"),
            F.countDistinct("token").alias("__nt"),
            F.sum(F.size("positions")).cast("long").alias("__nm"),
            F.max("dl").cast("long").alias("dl"),
        )
        .filter(F.col("__nt") == n)
    )

    def _tag(term: str, idx: int):
        # factory — the HOF arity trap (a defaulted second lambda arg
        # binds the array index, not the closure)
        return F.transform(
            F.element_at(F.col("__pm"), F.lit(term)),
            lambda p: F.struct(
                p.alias("pos"), F.lit(idx).alias("t")
            ),
        )

    tagged = F.array_sort(
        F.flatten(F.array(*[_tag(t, i) for i, t in enumerate(distinct)]))
    )
    with_tagged = cands.select(
        "doc_id", "dl", "__nm", tagged.alias("__tg")
    )
    # Classical O(L·n) single-pass minimal cover (VERDICT r16 item 7 —
    # replaces the per-start O(L²·n) scan): walk the position-sorted
    # occurrences once, maintaining the LATEST position of each term
    # index; whenever every term has been seen, the tightest window
    # ENDING at the current occurrence is pos − min(last-seen), and
    # every minimal window ends at some occurrence with its start at
    # the minimum of the then-latest positions — so folding least()
    # over the walk visits each minimal window. One F.aggregate, O(n)
    # work per element (the last-seen rewrite + its min). Positions
    # are unique per doc, so array_sort's order is position order
    # regardless of the struct tiebreak.
    def _step(acc, x):
        last2 = F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: F.when(
                i == x["t"], x["pos"].cast("long")
            ).otherwise(F.element_at(acc["last"], i + 1)),
        )
        covered = ~F.exists(last2, lambda e: e.isNull())
        cand_span = x["pos"].cast("long") - F.array_min(last2)
        # least() skips nulls, so the first covered window seeds best.
        best2 = F.when(
            covered, F.least(acc["best"], cand_span)
        ).otherwise(acc["best"])
        return F.struct(last2.alias("last"), best2.alias("best"))

    init = F.struct(
        F.array_repeat(F.lit(None).cast("long"), n).alias("last"),
        F.lit(None).cast("long").alias("best"),
    )
    return with_tagged.select(
        "doc_id",
        "dl",
        F.aggregate(F.col("__tg"), init, _step)["best"]
        .cast("long").alias("min_span"),
        F.col("__nm").alias("n_matched"),
    )


def phrase_bm25_topk_from_postings(
    postings: DataFrame,
    lexicon: DataFrame,
    phrase_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    phrase_weight: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25-WEIGHTED exact-phrase ranking (VERDICT r16 item 3 —
    production positional retrieval ranks matches by BM25, not by raw
    occurrence count): documents containing the CONSECUTIVE phrase
    (the :func:`phrase_topk_from_postings` positional-intersection
    kit), ranked by the phrase terms' BM25 sum PLUS ``phrase_weight``×
    the BM25 of the PHRASE AS A PSEUDO-TERM — tf = the doc's phrase
    occurrence count, df = the number of phrase-matching docs, the
    same dl/global stats, the same saturation curve (the
    Indri/Galago-style weighted-#od composition, Metzler & Croft
    2005). The terms and the pseudo-term both score through
    :func:`_bm25_score`, so the result is EXACT against a
    DuckDB twin that re-derives occurrences and scores one-shot from
    the text. Zero corpus reads: occurrences from positional
    postings, term stats from the lexicon, phrase df as a one-row
    in-plan aggregate (broadcast, never collected). Query cost tracks
    the phrase terms' posting lists. Returns (id_col, n_occurrences,
    score) by score desc, id asc, k rows."""
    ph = _phrase_occurrences(postings, phrase_terms, "phrase_bm25_topk")
    distinct = sorted({str(t) for t in phrase_terms})
    stats, dfreq = _lexicon_stats(lexicon, distinct)
    per_doc = _bm25_per_doc(
        _bm25_score(_postings_tf(postings, distinct), dfreq, stats, k1, b)
    )
    # The phrase as one more term for the kernel, under a name the
    # tokenizer can never produce: tf = the doc's occurrence count,
    # df = the number of phrase-matching docs (a one-row in-plan
    # aggregate, broadcast, never collected).
    phrase = F.lit(_PHRASE_TERM).alias("term")
    phs = _bm25_score(
        ph.select(
            F.col("doc_id").alias("id"),
            "dl",
            phrase,
            F.col("n_occurrences").alias("tf"),
        ),
        ph.agg(F.count("*").cast("long").alias("df")).select(phrase, "df"),
        stats,
        k1,
        b,
    )
    return _bm25_topk_tail(
        phs.join(per_doc, "id").select(
            "id",
            F.col("tf").alias("n_occurrences"),
            (
                F.col("__sum_q")
                + F.lit(int(phrase_weight)) * F.col("__score_q")
            ).alias("__sum_q"),
        ),
        k, id_col, "n_occurrences",
    )


def proximity_bm25_topk_from_postings(
    postings: DataFrame,
    lexicon: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    prox_weight: int = 1,
    max_span: int | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25-WEIGHTED unordered-proximity ranking (VERDICT r16 item 3,
    :func:`phrase_bm25_topk_from_postings`'s sibling): documents
    containing ALL distinct query terms (the
    :func:`proximity_topk_from_postings` minimal-covering-span kit),
    ranked by the terms' BM25 sum PLUS ``prox_weight``× an integer
    span boost ``1000000 DIV (min_span + 1)`` — the classical
    inverse-span proximity reward (Rasolofo & Savoy 2003; Büttcher
    2006) quantized to the pipeline's micro-units, so a tighter
    window adds up to one full score unit and the whole ranking stays
    EXACT against the one-shot DuckDB twin (integer division in both
    engines). ``max_span`` optionally gates candidacy. Zero corpus
    reads; cost tracks the query terms' posting lists. Returns
    (id_col, min_span, n_matched, score) by score desc, id asc."""
    spans = _proximity_spans(postings, query_terms, "proximity_bm25_topk")
    if max_span is not None:
        spans = spans.filter(F.col("min_span") <= int(max_span))
    distinct = sorted({str(t) for t in query_terms})
    per_doc = _bm25_terms_per_doc(postings, lexicon, distinct, k1, b)
    boost_q = cached_expr(
        "CAST(1000000 AS BIGINT) DIV (CAST(min_span AS BIGINT) + 1)"
    )
    return _bm25_topk_tail(
        spans.join(per_doc, spans["doc_id"] == per_doc["id"]).select(
            "id",
            "min_span",
            "n_matched",
            (
                F.col("__sum_q") + F.lit(int(prox_weight)) * boost_q
            ).alias("__sum_q"),
        ),
        k, id_col, "min_span", "n_matched",
    )


def _bm25_terms_per_doc(
    postings: DataFrame,
    lexicon: DataFrame,
    terms: list[str],
    k1: float,
    b: float,
    only_ids: DataFrame | None = None,
) -> DataFrame:
    """Per-doc quantized BM25 partials (id, n_terms, __sum_q) over the
    given terms, from postings + lexicon state. ``only_ids`` (an
    ``id`` frame) restricts the postings to those docs by a broadcast
    left-semi join before scoring — WAND's pass-2 candidate filter."""
    stats, dfreq = _lexicon_stats(lexicon, terms)
    tf = _postings_tf(postings, terms)
    if only_ids is not None:
        tf = tf.join(F.broadcast(only_ids), on="id", how="left_semi")
    return _bm25_per_doc(_bm25_score(tf, dfreq, stats, k1, b))


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003, the MOSS algorithm): hash every ``k``-token gram, slide a
    ``w``-gram window over the hash sequence, and select each window's
    MINIMUM hash — guaranteeing any shared run of ``w + k - 1`` tokens
    between two documents yields at least one shared fingerprint, at
    ~2/(w+1) of the grams stored. Returns the distinct selected
    fingerprints, one row per (id, fingerprint).

    Documents shorter than ``w`` grams keep their global minimum (one
    window covering everything); documents with fewer than ``k`` tokens
    have no grams and yield no rows.

    The gram hash is :func:`~..operators.dedup.md5_hash32` — the one
    hash both engines compute identically, so the fingerprint SET is
    oracle-exact. Scale shape: ENTIRELY map-side — gram hashing, the
    sliding window-min, and the per-doc distinct are all array
    expressions over the materialized hash array (O(n_grams·w) work
    per doc, never the text), and only the ~2/(w+1)-sized fingerprint
    set is exploded; the operator adds NO shuffle at any corpus size.
    Two traps shaped this: a windowed-aggregate draft paid an id-keyed
    shuffle of every gram (4.9 s vs 0.8 s warm at sf0.1), and a plain
    ``posexplode`` let InferFiltersFromGenerate push a
    ``size(grams) > 0`` filter below the projections with the ENTIRE
    gram+tokenizer expression re-inlined per element (19 s) —
    ``explode_outer`` + a null filter on the generated column keeps
    the tokenize-once projection chain intact.
    """
    from .dedup import md5_hash32

    base = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    g = base.select("id", gram_array(F.col("__toks"), k).alias("__grams"))
    h = g.select(
        "id", F.transform("__grams", lambda x: md5_hash32(x)).alias("__hashes")
    )
    n = F.size("__hashes")
    wins = (
        F.when(
            n >= w,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n - (w - 1), F.lit(1))),
                lambda i: F.array_min(F.slice(F.col("__hashes"), i, w)),
            ),
        )
        .when(n > 0, F.array(F.array_min("__hashes")))
        .otherwise(F.array().cast("array<long>"))
    )
    return (
        h.select("id", F.array_distinct(wins).alias("__fps"))
        .select(
            F.col("id").alias(id_col),
            F.explode_outer("__fps").alias("fingerprint"),
        )
        .filter(F.col("fingerprint").isNotNull())
    )


def winnowing_overlap_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MOSS-style overlap detection: document pairs sharing at least
    ``min_shared`` winnowing fingerprints, with the shared count —
    plagiarism / boilerplate / near-dup evidence that is positional
    (a shared fingerprint pins a shared token RUN), unlike the
    bag-of-shingles MinHash estimate (q40).

    Scale shape: the pair build is a fingerprint-keyed self-equi-join
    (the q27/q42 blocking pattern — never all-pairs); a fingerprint
    shared by m documents fans out to m(m-1)/2 pairs, so at 100 TB pass
    ``max_bucket_size`` to drop degenerate boilerplate fingerprints
    (the q40 cap policy; None here keeps the oracle exact). The pair
    aggregation shuffles (id_a, id_b) integer partials only.
    """
    fps = winnowing_fingerprints(
        df, k=k, w=w, text_col=text_col, id_col=id_col
    )
    if max_bucket_size is not None:
        cap = Window.partitionBy("fingerprint")
        fps = fps.withColumn("__sz", F.count("*").over(cap)).filter(
            F.col("__sz") <= max_bucket_size
        )
    a = fps.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fps.select(F.col(id_col).alias("id_b"), "fingerprint")
    pairs = a.join(b, "fingerprint").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def source_divergence(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (in bits) between the unigram
    token distributions of every pair of corpus sources — the
    mixture-design diagnostic behind source weighting (q115/q116):
    near-zero JSD says two sources are interchangeable; high JSD says
    they contribute distinct text. Returns one row per unordered source
    pair: (source_a, source_b, n_shared_tokens, jsd_bits).

    JSD(P,Q) = ½KL(P‖M) + ½KL(Q‖M), M = ½(P+Q). Tokens present in
    only one source contribute exactly ½·p (their log ratio is
    log2 2 = 1), so the shared-token join plus each side's UNSHARED
    probability mass — computed as 1 − Σ shared p — is the whole sum;
    no full-outer join is needed.

    Determinism: per-token JSD contributions and shared masses are
    quantized to integer nano-units and summed as BIGINT (the q106
    pattern) — the only floats in flight are per-row, never
    order-dependent aggregates.

    Scale shape: ONE corpus-sized (group, token) aggregation (map-side
    combine collapses repeats); everything after is vocab×sources
    bounded — the totals broadcast back, and the pair build is a
    token-keyed self-equi-join producing ≤ |sources|²/2 rows per token.
    """
    tok = df.select(
        F.col(group_col).alias("g"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    )
    counts = tok.groupBy("g", "token").agg(F.count("*").cast("long").alias("cnt"))
    totals = counts.groupBy("g").agg(F.sum("cnt").cast("long").alias("total"))
    c = counts.join(F.broadcast(totals), "g")
    a = c.select(
        F.col("g").alias("source_a"),
        "token",
        F.col("cnt").alias("ca"),
        F.col("total").alias("ta"),
    )
    b = c.select(
        F.col("g").alias("source_b"),
        "token",
        F.col("cnt").alias("cb"),
        F.col("total").alias("tb"),
    )
    pa = F.col("ca").cast("double") / F.col("ta")
    pb = F.col("cb").cast("double") / F.col("tb")
    m = (pa + pb) / F.lit(2.0)
    shared = (
        a.join(b, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.round(
                (
                    F.lit(0.5) * pa * F.log2(pa / m)
                    + F.lit(0.5) * pb * F.log2(pb / m)
                )
                * 1e9
            )
            .cast("long")
            .alias("__jsd_q"),
            F.round(pa * 1e9).cast("long").alias("__pa_q"),
            F.round(pb * 1e9).cast("long").alias("__pb_q"),
        )
    )
    agg = shared.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_shared_tokens"),
        F.sum("__jsd_q").cast("long").alias("__sum_jsd_q"),
        F.sum("__pa_q").cast("long").alias("__sum_pa_q"),
        F.sum("__pb_q").cast("long").alias("__sum_pb_q"),
    )
    return agg.select(
        "source_a",
        "source_b",
        "n_shared_tokens",
        (
            (
                F.col("__sum_jsd_q").cast("double")
                + F.lit(0.5) * (F.lit(2e9) - F.col("__sum_pa_q") - F.col("__sum_pb_q"))
            )
            / 1e9
        ).alias("jsd_bits"),
    )


def trigram_backoff_loglik(
    df: DataFrame,
    train_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    backoff: float = 0.4,
) -> DataFrame:
    """Trigram LM with stupid backoff (Brants et al. 2007) — the web-
    scale LM scoring recipe: the model is counted on the TRAIN slice
    (``train_pred``), every document is scored held-out, and unseen
    higher-order grams back off with a fixed ``backoff`` penalty per
    level instead of a normalized discount:

      S(w|u v) = cnt(uvw)/cnt(uv)          if the trigram was seen
               = 0.4·cnt(vw)/cnt(v)        elif the bigram was seen
               = 0.4²·cnt(w)/N             elif the unigram was seen
               = 0.4³/N                    (OOV floor)

    with the analogous one- and two-level rules for the first two
    positions. Because the model is held-out, backoff genuinely fires
    on eval-side novel grams (unlike q125's self-scored bigram where
    every observed gram is in the model). Per-position scores are
    quantized to integer micro-units (the q106 pattern) so the
    per-document mean is engine-exact.

    Scale shape: the three count tables come from ONE exploded train
    stream each (vocab-bounded outputs); context counts ride each
    table via a prefix join at vocab scale. Scoring is the corpus-
    sized position stream (one struct per token, map-only) left-joined
    against the three BROADCAST score tables, then ONE id-keyed
    integer-partial shuffle. At 100 TB drop the broadcast hints and
    the same plan degrades to shuffled equi-joins.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        train_pred.alias("__is_train"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    train_toks = base.filter(F.col("__is_train")).select("__toks")

    # Three independent vocab builds, NOT the q125 single (kind, key)
    # stream: A/B'd at sf0.1 — the tagged-union stream was ~35% SLOWER
    # warm (3.9 s vs 2.9 s; the concat of three struct arrays per doc
    # plus one fat string-struct shuffle costs more than three narrow
    # parallel shuffles). q125's lesson applied to a JOIN CHAIN of
    # per-doc partials, not independent count builds.
    def grams(n):
        if n == 1:
            src = train_toks.select(F.explode_outer("__toks").alias("key"))
        else:
            src = train_toks.select(
                gram_array(F.col("__toks"), n).alias("__g")
            ).select(F.explode_outer("__g").alias("key"))
        return (
            src.filter(F.col("key").isNotNull())
            .groupBy("key")
            .agg(F.count("*").cast("long").alias("cnt"))
        )

    uni = grams(1)
    bi = grams(2)
    tri = grams(3)
    n_total = uni.select(F.sum("cnt").cast("long").alias("n_total"))
    # Context counts ride each table: tri carries cnt(prefix bigram),
    # bi carries cnt(first unigram). Vocab-scale joins.
    tri_t = tri.withColumn(
        "__ctx", F.regexp_replace("key", r" [^ ]+$", "")
    ).join(
        F.broadcast(bi.select(F.col("key").alias("__ctx"), F.col("cnt").alias("ctx_cnt"))),
        "__ctx",
    ).select(F.col("key").alias("k3"), F.col("cnt").alias("tri_cnt"),
             F.col("ctx_cnt").alias("tri_ctx"))
    bi_t = bi.withColumn(
        "__ctx", F.split_part(F.col("key"), F.lit(" "), F.lit(1))
    ).join(
        F.broadcast(uni.select(F.col("key").alias("__ctx"), F.col("cnt").alias("ctx_cnt"))),
        "__ctx",
    ).select(F.col("key").alias("k2"), F.col("cnt").alias("bi_cnt"),
             F.col("ctx_cnt").alias("bi_ctx"))
    uni_t = uni.crossJoin(F.broadcast(n_total)).select(
        F.col("key").alias("k1"), F.col("cnt").alias("uni_cnt"), "n_total"
    )

    # Position stream: one struct per token with its (k3, k2, k1) keys;
    # k3/k2 are NULL at the first positions.
    def tok_at(i):
        return F.element_at(F.col("__toks"), i)

    pos_struct = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("__toks"), F.lit(1))),
        lambda i: F.struct(
            F.when(i >= 3, F.concat(tok_at(i - 2), F.lit(" "), tok_at(i - 1),
                                    F.lit(" "), tok_at(i))).alias("k3"),
            F.when(i >= 2, F.concat(tok_at(i - 1), F.lit(" "), tok_at(i))).alias("k2"),
            tok_at(i).alias("k1"),
        ),
    )
    scored = (
        base.select(
            "id",
            F.explode_outer(
                F.when(F.size("__toks") > 0, pos_struct).otherwise(
                    F.array().cast(
                        "array<struct<k3:string,k2:string,k1:string>>"
                    )
                )
            ).alias("s"),
        )
        .select("id", "s.k3", "s.k2", "s.k1")
        .join(F.broadcast(tri_t), "k3", "left")
        .join(F.broadcast(bi_t), "k2", "left")
        .join(F.broadcast(uni_t.drop("n_total")), "k1", "left")
        .crossJoin(F.broadcast(n_total))
    )
    b1, b2, b3 = backoff, backoff * backoff, backoff ** 3
    ratio_tri = F.col("tri_cnt").cast("double") / F.col("tri_ctx")
    ratio_bi = F.col("bi_cnt").cast("double") / F.col("bi_ctx")
    ratio_uni = F.col("uni_cnt").cast("double") / F.col("n_total")
    p = (
        F.when(F.col("k3").isNotNull() & F.col("tri_cnt").isNotNull(), ratio_tri)
        .when(F.col("k3").isNotNull() & F.col("bi_cnt").isNotNull(),
              F.lit(b1) * ratio_bi)
        .when(F.col("k3").isNotNull() & F.col("uni_cnt").isNotNull(),
              F.lit(b2) * ratio_uni)
        .when(F.col("k3").isNotNull(), F.lit(b3) / F.col("n_total"))
        .when(F.col("k2").isNotNull() & F.col("bi_cnt").isNotNull(), ratio_bi)
        .when(F.col("k2").isNotNull() & F.col("uni_cnt").isNotNull(),
              F.lit(b1) * ratio_uni)
        .when(F.col("k2").isNotNull(), F.lit(b2) / F.col("n_total"))
        .when(F.col("uni_cnt").isNotNull(), ratio_uni)
        .otherwise(F.lit(b1) / F.col("n_total"))
    )
    per_pos = scored.select(
        "id",
        F.when(F.col("k1").isNotNull(),
               F.round(F.log10(p) * 1e6).cast("long")).alias("__q"),
    )
    per_doc = per_pos.groupBy("id").agg(
        F.count("__q").cast("long").alias("n_tokens"),
        F.coalesce(F.sum("__q"), F.lit(0)).cast("long").alias("__sum_q"),
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.when(F.col("n_tokens") > 0,
               F.col("__sum_q").cast("double") / 1e6 / F.col("n_tokens"))
        .otherwise(F.lit(0.0))
        .alias("mean_logp"),
    )


def pack_efficiency(
    df: DataFrame,
    budget_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "lang",
) -> DataFrame:
    """Packing-efficiency report over :func:`pack_sequences`: one row
    per (group, pack) with its document count, token total, and fill
    ratio vs the budget. Fill > 1 marks the overflow packs (the
    straggler document that starts inside the budget finishes past
    it); a tail of fill ≪ 1 packs means the corpus order fragments
    badly and a length-aware sort would tighten wasted context-window
    tokens. Integer aggregates + one ratio — engine-exact.

    Scale shape: the pack assignment's group-keyed window shuffle is
    reused by the aggregation (same key); nothing else moves.
    """
    packs = pack_sequences(
        df, budget_tokens, text_col=text_col, id_col=id_col,
        group_col=group_col,
    )
    return (
        packs.groupBy(group_col, "pack_id")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
        )
        .withColumn(
            "fill",
            F.col("sum_tokens").cast("double") / F.lit(float(budget_tokens)),
        )
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution (bits)
    plus the length-normalized variant ``entropy / log2(n_tokens)`` —
    the repetition/diversity quality signal: near-0 normalized entropy
    is token soup ('spam spam spam…'), near-1 is maximally diverse.
    Complements the Gopher ratios (q103) with a single
    information-theoretic number.

    Entirely map-side: per-token counts come from array ops over the
    materialized token array (O(n·distinct) per document — documents
    are bounded, the corpus is not), no explode and NO shuffle at any
    corpus size. Per-token terms are quantized to nano-units and
    summed with an integer fold, so the result is engine-exact.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    # Per-DISTINCT-token occurrence counts materialized ONCE (the
    # O(n·distinct) pass); the entropy fold then runs over small ints.
    counted = base.select(
        "id",
        F.size("__toks").cast("long").alias("n_tokens"),
        F.transform(
            F.array_distinct(F.col("__toks")),
            lambda t: F.size(F.filter(F.col("__toks"), lambda x: x == t))
            .cast("long"),
        ).alias("__cnts"),
    )
    n = F.col("n_tokens")
    contrib = F.transform(
        F.col("__cnts"),
        lambda c: F.round(
            -(c.cast("double") / n) * F.log2(c.cast("double") / n) * 1e9
        ).cast("long"),
    )
    ent_q = F.aggregate(contrib, F.lit(0).cast("long"), lambda acc, v: acc + v)
    ent = ent_q.cast("double") / 1e9
    return counted.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.size("__cnts").cast("long").alias("n_distinct"),
        F.when(n > 0, ent).otherwise(F.lit(0.0)).alias("entropy_bits"),
        F.when(
            (n > 1) & (F.size("__cnts") > 1),
            # Quantized: JVM and libm log2 differ in the last ulp, so
            # the raw ratio hash-mismatches the oracle at 1e-16.
            F.round(ent / F.log2(n.cast("double")) * 1e9) / 1e9,
        )
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    )


def distribution_shift(
    df_a: DataFrame,
    df_b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Jensen-Shannon divergence (bits) between the unigram token
    distributions of two corpora — :func:`source_divergence` for one
    explicit pair: returns ONE row (n_tokens_a, n_tokens_b,
    n_shared_tokens, jsd_bits). The drift primitive: score an incoming
    batch against the landed corpus, a new crawl snapshot against the
    last, a filtered corpus against its input.

    Same quantized-integer determinism and scale shape as q129: one
    (token) aggregation per side (map-side combined, vocab-bounded
    output), a token-keyed equi-join of the two vocabularies, and the
    unshared mass closed in constant time via 1 − Σ shared p. Two
    corpora with NO shared tokens still return a row (jsd = 1 bit).

    At 100 TB, don't rescan a corpus to drift-check every batch: keep
    a rolled (token, cnt) summary (streaming/corpus.py maintain_vocab)
    and call :func:`distribution_shift_from_counts` on it.
    """
    return distribution_shift_from_counts(
        token_counts(df_a, text_col), token_counts(df_b, text_col)
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus (token, cnt) table — ONE map-side-combined aggregation;
    the mergeable summary unit behind vocabulary / drift / LM state
    (partials from different slices re-aggregate with a plain SUM)."""
    return (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def distribution_shift_from_counts(
    counts_a: DataFrame, counts_b: DataFrame
) -> DataFrame:
    """:func:`distribution_shift` over pre-aggregated (token, cnt)
    tables — the form that scales: the corpus side is a rolled summary
    (KBs–MBs) that is NEVER rescanned from text. Inputs may carry
    unmerged partials (duplicate token rows); they are re-aggregated
    here, so appended summary tables work as-is."""
    def norm(c, side):
        c = c.groupBy("token").agg(
            F.sum("cnt").cast("long").alias(f"c{side}")
        )
        return c.crossJoin(
            F.broadcast(
                c.select(F.sum(f"c{side}").cast("long").alias(f"t{side}"))
            )
        )

    a, b = norm(counts_a, "a"), norm(counts_b, "b")
    pa = F.col("ca").cast("double") / F.col("ta")
    pb = F.col("cb").cast("double") / F.col("tb")
    m = (pa + pb) / F.lit(2.0)
    shared = a.join(b, "token").select(
        F.col("ta"),
        F.col("tb"),
        F.round(
            (F.lit(0.5) * pa * F.log2(pa / m) + F.lit(0.5) * pb * F.log2(pb / m))
            * 1e9
        )
        .cast("long")
        .alias("__jsd_q"),
        F.round(pa * 1e9).cast("long").alias("__pa_q"),
        F.round(pb * 1e9).cast("long").alias("__pb_q"),
    )
    # Totals must survive the empty-join case: take them from the
    # (always 1-row) per-side aggregates, not the joined rows.
    ta = a.select(
        F.coalesce(F.first("ta"), F.lit(0)).cast("long").alias("n_tokens_a")
    ).crossJoin(
        b.select(
            F.coalesce(F.first("tb"), F.lit(0)).cast("long").alias("n_tokens_b")
        )
    )
    agg = shared.agg(
        F.count("*").cast("long").alias("n_shared_tokens"),
        F.coalesce(F.sum("__jsd_q"), F.lit(0)).cast("long").alias("__sum_jsd_q"),
        F.coalesce(F.sum("__pa_q"), F.lit(0)).cast("long").alias("__sum_pa_q"),
        F.coalesce(F.sum("__pb_q"), F.lit(0)).cast("long").alias("__sum_pb_q"),
    )
    return ta.crossJoin(agg).select(
        "n_tokens_a",
        "n_tokens_b",
        "n_shared_tokens",
        (
            (
                F.col("__sum_jsd_q").cast("double")
                + F.lit(0.5)
                * (F.lit(2e9) - F.col("__sum_pa_q") - F.col("__sum_pb_q"))
            )
            / 1e9
        ).alias("jsd_bits"),
    )


def ccnet_buckets(
    df: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """CCNet's head/middle/tail corpus partitioning (Wenzek et al.
    2020, "CCNet: Extracting High Quality Monolingual Datasets"):
    rank each language's documents by their LM quality proxy
    (:func:`unigram_loglik` — the corpus's own unigram distribution)
    and split them into ``n_buckets`` equal-count tiers with NTILE —
    bucket 1 ("head") is the most natural text, the last bucket
    ("tail") the gibberish end. Downstream recipes train on head+middle
    or weight buckets differently; this emits the per-(lang, bucket)
    report that drives that decision: (lang, bucket, n_docs,
    n_tokens_total, min_logp, max_logp).

    Determinism (oracle-checkable): the LM score is q106's
    integer-micro-unit-exact mean log10 probability (empty docs score
    0.0 — never NULL, so tier ordering has no null-placement
    ambiguity), NTILE orders by (has-tokens DESC, mean_logp DESC,
    id ASC) — the leading has-tokens key sinks empty/token-less
    documents to the TAIL end (their sentinel 0.0 would otherwise
    outrank every real document's strictly-negative score and put the
    worst docs in the head tier) — and every aggregate is an integer
    count/sum or an exact min/max selection.

    Scale shape: the loglik pass is q106's (one vocab shuffle, vocab
    broadcast back, one id shuffle); the tiering adds ONE window over
    (lang) — per-language, not global, so no single-reducer global
    sort — and one (lang, bucket) aggregation with map-side partials.
    """
    scores = unigram_loglik(df, text_col=text_col, id_col=id_col)
    tagged = scores.join(df.select(F.col(id_col), lang_col), on=id_col)
    w = Window.partitionBy(lang_col).orderBy(
        (F.col("n_tokens") > 0).desc(),
        F.col("mean_logp").desc(),
        F.col(id_col).asc(),
    )
    return (
        tagged.withColumn("bucket", F.ntile(n_buckets).over(w))
        .groupBy(lang_col, F.col("bucket").cast("long").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens_total"),
            F.min("mean_logp").alias("min_logp"),
            F.max("mean_logp").alias("max_logp"),
        )
    )


def unigram_loglik_from_counts(
    df: DataFrame,
    counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`unigram_loglik` scored against an EXTERNAL unigram model
    given as a (token, cnt) table — the form that composes with the
    streaming vocabulary summary (score arriving documents under the
    corpus-so-far model) or any reference-corpus counts (DSIR-style
    target models). Unseen tokens are Laplace-smoothed:
    ``p(t) = (cnt(t)+1) / (N+V+1)`` with V the model's vocabulary size
    (the dsir_importance convention), so OOV-heavy gibberish scores
    low instead of −∞.

    Same quantized-integer exactness and scale shape as
    :func:`unigram_loglik`: the model collapses to quantized per-token
    log-probs and broadcasts; the corpus side is one explode + one
    id-keyed integer shuffle. ``counts`` may carry unmerged partials
    (appended summary tables work as-is)."""
    model = counts.groupBy("token").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    stats = model.select(
        F.sum("cnt").cast("long").alias("n_total"),
        F.count("*").cast("long").alias("v_size"),
    )
    model_q = model.crossJoin(F.broadcast(stats)).select(
        "token",
        "n_total",
        "v_size",
        F.round(
            F.log10(
                (F.col("cnt") + F.lit(1)).cast("double")
                / (F.col("n_total") + F.col("v_size") + F.lit(1))
            )
            * 1e6
        )
        .cast("long")
        .alias("__logp_q"),
    )
    base = df.select(
        F.col(id_col).alias("id"),
        tokens(F.lower(F.col(text_col))).alias("__toks"),
    )
    tok = base.select("id", F.explode_outer("__toks").alias("token"))
    scored = tok.join(F.broadcast(model_q), "token", "left").crossJoin(
        F.broadcast(stats.select(
            F.col("n_total").alias("__nt"), F.col("v_size").alias("__vs")
        ))
    )
    oov_q = F.round(
        F.log10(
            F.lit(1.0) / (F.col("__nt") + F.col("__vs") + F.lit(1))
        )
        * 1e6
    ).cast("long")
    per_doc = scored.groupBy("id").agg(
        F.count("token").cast("long").alias("n_tokens"),
        F.coalesce(
            F.sum(
                F.when(F.col("token").isNotNull(),
                       F.coalesce(F.col("__logp_q"), oov_q))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("__sum_q"),
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_tokens",
        F.when(
            F.col("n_tokens") > 0,
            F.col("__sum_q").cast("double") / 1e6 / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_logp"),
    )
