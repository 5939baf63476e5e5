"""Deduplication operators for training-data pipelines (north-star).

Five strategies, ordered by cost/recall trade-off. All avoid the O(n²)
all-pairs comparison except within tiny candidate buckets:

 - exact: hash-groupBy on a normalized fingerprint — one shuffle.
 - minhash_lsh: shingles → MinHash signatures → banded LSH buckets →
   pair generation within buckets only (standard MMDS ch.3 scheme).
 - simhash: 64-bit simhash from token hashes; near-dups share the
   value under small Hamming distance, surfaced via band keys.
 - ngram_jaccard: exact Jaccard over n-gram shingle sets computed by
   explode + equi-join (no cross join; shuffle is on shingle hash).
 - embedding near-dup: see similarity.py (cosine over LSH buckets).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cached_expr

from .text import fingerprint


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per normalized-text fingerprint.

    groupBy on md5(normalized text) — a single hash-partitioned shuffle
    of (fp, id) pairs, never the full text. At 100 TB, project the two
    columns first so the shuffle moves ~50 bytes/row.
    """
    fp = fingerprint(F.col(text_col)).alias("fp")
    keep = (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


def duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Fingerprint → (count, first id) per duplicate group."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("first_id"))
    )


# ---------------------------------------------------------------------------
# Shingling (shared by MinHash / Jaccard)
# ---------------------------------------------------------------------------

def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """n-word shingles (distinct) from a MATERIALIZED token-array
    column — see text.gram_array for why ``toks`` must be a plain
    column reference, not an inline tokenize expression (re-evaluation
    per element_at reference inside the lambda). Shingles are assembled
    with ``element_at`` + ``concat`` — measured 2.6× faster than
    ``concat_ws(slice(...))``, which copies a sub-array per shingle.
    Documents shorter than ``n`` tokens yield an empty set."""
    from .text import gram_array

    return F.array_distinct(gram_array(toks, n))


def _lower_tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def word_shingles(text: Column, n: int = 3) -> Column:
    """n-word shingles as an array of distinct strings, tokenizing
    inline. ONLY for single-consumer expressions over short docs (unit
    tests, oracle anchors): the inline tokenizer is re-evaluated at
    every element_at reference — engine operators must materialize the
    token array first and call shingles_from_tokens."""
    return shingles_from_tokens(_lower_tokens(text), n)


def _ensure_parallelism(df: DataFrame, min_fraction: float = 0.5) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    source has too few splits for a CPU-heavy stage.

    The driver testdata is one row group per parquet file, so scans run
    single-task; shingling/hashing there would serialize on one core. At
    real scale a 100 TB source already has thousands of splits and this
    is a no-op — the guard costs one plan inspection, never a job."""
    target = df.sparkSession.sparkContext.defaultParallelism
    # queryExecution().toRdd() reports the same partition count as
    # df.rdd but skips PySpark's Python-RDD conversion layer (an extra
    # analysis pass + pickle-serializer plan): 1.07 s → 0.19 s per
    # probe at sf0.1 (r17). Decision and values are unchanged. It is
    # a private py4j surface, so degrade to the public (slow) probe
    # rather than raising if a Spark upgrade moves it.
    try:
        n_parts = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        n_parts = df.rdd.getNumPartitions()
    if n_parts < max(2, int(target * min_fraction)):
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# Skew-bounded bucket pair generation (shared by MinHash / SimHash / LSH)
# ---------------------------------------------------------------------------

def _bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    payload_cols: list[str],
    max_bucket_size: int | None,
) -> DataFrame:
    """Candidate pairs from per-bucket self-joins, skew-bounded.

    Buckets with ≤ ``max_bucket_size`` members generate exact all-pairs
    (cost Σ|bucket|²). Oversized buckets — the degenerate-corpus case,
    e.g. millions of identical docs landing in one band bucket at
    100 TB — switch to a STAR join: every member links to the bucket's
    min-id representative, O(|bucket|) instead of O(|bucket|²). For
    dedup this preserves exactly what matters (every member stays
    connected to the keeper via the representative) while bounding the
    worst task; only member↔member links inside an oversized bucket are
    elided. ``None`` disables the guard (oracle anchors use this so the
    SQL twin stays expressible).

    Expects an ``id`` column; returns (bucket_cols..., id_a, id_b,
    {p}_a, {p}_b ...) with id_a < id_b. The guard adds ONE ordered
    window (row_number + count over the bucket key, sharing a single
    sort) on the same shuffle the pair join already needs — measured
    ~0.4 s over the unguarded join at sf0.1, vs ~1.8 s for the r2
    split-filter-union shape it replaces (three consumers of the banded
    subplan, a second min/min_by window carrying the signature payload
    onto every row, and a Union both double the codegen size and defeat
    per-consumer work sharing; VERDICT r2 item #1).
    """

    def side(df: DataFrame, suffix: str) -> DataFrame:
        cols = [
            F.col("id").alias(f"id_{suffix}"),
            *[F.col(p).alias(f"{p}_{suffix}") for p in payload_cols],
        ]
        if max_bucket_size is not None:
            cols.append(F.col("__rn").alias(f"__rn_{suffix}"))
            if suffix == "a":
                cols.append(F.col("__bsize"))
        return df.select(*bucket_cols, *cols)

    if max_bucket_size is None:
        a, b = side(banded, "a"), side(banded, "b")
        return a.join(b, on=list(bucket_cols)).filter(F.col("id_a") < F.col("id_b"))

    # Single self-join with a compound post-equi condition instead of a
    # small/star split + union: rank every row within its bucket by id
    # (one sort by (bucket, id), shared by both window expressions and
    # reused by the join), then
    #   - bucket ≤ cap  → exact all-pairs  (id_a < id_b), and
    #   - bucket > cap  → STAR join: only rn_a = 1 (the min-id
    #     representative, whose payload rides its own join side — no
    #     min_by carry) pairs with every other member, O(|bucket|).
    # Both join sides share the banded subplan, so AQE stage reuse
    # computes the signatures and the bucket exchange once. (A
    # broadcast-agg variant — aggregate oversized keys, broadcast
    # anti-join — was A/B'd SLOWER at sf0.1, 8.0 s vs 4.8 s warm: the
    # broadcast materializes in a separate job that recomputes the
    # signatures below it.)
    w = Window.partitionBy(*bucket_cols).orderBy("id")
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    sized = banded.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__bsize", F.count("*").over(wall)
    )
    a, b = side(sized, "a"), side(sized, "b")
    keep = (
        (F.col("__bsize") <= max_bucket_size) & (F.col("id_a") < F.col("id_b"))
    ) | (
        (F.col("__bsize") > max_bucket_size)
        & (F.col("__rn_a") == 1)
        & (F.col("__rn_b") > 1)
    )
    return (
        a.join(b, on=list(bucket_cols))
        .filter(keep)
        .drop("__rn_a", "__rn_b", "__bsize")
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------

def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature as a single Column expression: per hash
    function i, min over shingles of xxhash64(shingle, seed=i).

    WARNING — evaluation cost: the outer ``transform`` re-evaluates its
    lambda body per hash function, so anything non-trivial inside
    ``shingles`` is recomputed ``num_hashes`` times per row (measured 64×
    slowdown at sf0.1). Use :func:`minhash_signatures` (explode + one
    aggregation) for corpus-scale signature computation; this Column
    form is for ad-hoc single-doc use only."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(shingles, lambda s: F.xxhash64(s, i))
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig) MinHash signatures via the distributed shape that is
    fast at any scale: explode shingles (computed ONCE per doc), hash
    each (shingle, seed) in the aggregate projection, per-seed MIN with
    map-side partial aggregation — one shuffle of 8·num_hashes bytes
    per doc. Docs with no shingles get an all-null signature and are
    dropped (they cannot be near anything under Jaccard)."""
    sh = (
        _ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            _lower_tokens(F.col(text_col)).alias("__toks"),
        )
        .select(
            "id",
            F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias(
                "shingle"
            ),
        )
    )
    # Expression trees via ONE server-side parse per column (r17: the
    # per-seed Column builders cost ~8 py4j round trips each — ~0.5 s
    # of pure driver time per call at num_hashes=64). Identical trees.
    mins = [
        cached_expr(f"min(xxhash64(shingle, {i}))").alias(f"__m{i}")
        for i in range(num_hashes)
    ]
    sig = cached_expr(
        "array(" + ",".join(f"__m{i}" for i in range(num_hashes)) + ")"
    )
    return sh.groupBy("id").agg(*mins).select("id", sig.alias("sig"))


def _band_signatures(docs: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, sig) → (id, sig, band, bucket): one row per (doc, band),
    bucket = xxhash64 of that band's signature slice. The banded form
    is both the self-join input (minhash_dedup_pairs) and the
    persistable index layout (minhash_index)."""
    rows_per_band = num_hashes // bands
    return docs.select(
        "id",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows/bands = 64/16 = 4 rows per band → catches Jaccard ≳ 0.5 with
    high probability. The only shuffle is the groupBy on (band, band
    hash); pairs are generated inside buckets, so cost is Σ|bucket|²,
    not n² — and buckets beyond ``max_bucket_size`` degrade to a linear
    star join on the min-id representative (see :func:`_bucket_pairs`),
    so a degenerate corpus (millions of identical docs in one bucket)
    cannot produce a quadratic straggler task. Returns (id_a, id_b,
    est_jaccard) with id_a < id_b, est_jaccard = matching-signature
    fraction.
    """
    docs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n)
    banded = _band_signatures(docs, num_hashes, bands)
    cand = _bucket_pairs(banded, ["band", "bucket"], ["sig"], max_bucket_size)
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        cand.select("id_a", "id_b", est.alias("est_jaccard"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Persistable banded MinHash index: (id, sig, band, bucket).

    Build once over the corpus, land as parquet (ideally
    ``write_range_clustered`` on ``bucket``), then screen each
    arriving shard with :func:`query_minhash_index` — the
    incremental-ingestion shape: the 100 TB corpus is signed ONCE;
    each new shard costs only its own signatures plus an equi-join
    against the index.

    ``max_bucket_size`` caps rows kept per (band, bucket) to the
    lowest-ids (one ordered window): a degenerate bucket (millions of
    identical docs) keeps enough representatives to witness any
    duplicate-of-bucket query while bounding the index row count —
    same philosophy as _bucket_pairs' star degrade.
    """
    banded = _band_signatures(
        minhash_signatures(df, text_col, id_col, num_hashes, shingle_n),
        num_hashes,
        bands,
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bucket").orderBy("id")
        banded = (
            banded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
        )
    return banded


def query_minhash_index(
    index: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate screening of a new shard against a prebuilt
    :func:`minhash_index` (SAME num_hashes/bands/shingle_n — the hash
    family is deterministic, so signatures computed today join
    signatures persisted months ago).

    Returns (query_id, index_id, est_jaccard ≥ threshold): one row per
    (new doc, indexed doc) candidate that shares any band bucket, with
    est_jaccard the matching-signature fraction. The only shuffle of
    the index is the (band, bucket) equi-join it was laid out for; the
    shard side is small by definition.
    """
    q = _band_signatures(
        minhash_signatures(new_docs, text_col, id_col, num_hashes, shingle_n),
        num_hashes,
        bands,
    )
    joined = q.alias("q").join(
        index.select(
            F.col("id").alias("__xid"),
            F.col("sig").alias("__xsig"),
            "band",
            "bucket",
        ),
        on=["band", "bucket"],
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(
                    F.col("sig"), F.col("__xsig"), lambda x, y: (x == y).cast("int")
                ),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        joined.select(
            F.col("id").alias("query_id"),
            F.col("__xid").alias("index_id"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["query_id", "index_id"])
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash_from_votes(vote_cols: list[Column], bits: int = 64) -> Column:
    """Assemble the signed-BIGINT simhash from per-bit vote columns
    (bit i set iff vote_i > 0; bit 63 is the sign bit)."""
    out = F.lit(0).cast("long")
    for i, vote in enumerate(vote_cols):
        out = out.bitwiseOR(
            F.when(
                vote > 0, F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        )
    return out


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """(id, sh) SimHash values via explode + ONE aggregation — the
    corpus-scale path (the Column form below re-evaluates the token
    hashing per bit, 64× the work). Per-bit ±1 votes are 64 SUM
    aggregates over the exploded token rows, combined map-side; the
    shuffle carries 64 longs per doc. Token-less docs drop out."""
    # NB no _ensure_parallelism here: token hashing is cheap arithmetic
    # and the 64-sum aggregation already spreads across reducers — the
    # extra shuffle measured slower (3.1s vs 2.1s at sf0.1).
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
        ).alias("t"),
    ).select("id", F.xxhash64(F.col("t")).alias("h"))
    # Per-bit vote / bit-assembly expressions via ONE server-side parse
    # per column (r17: the Column builders cost ~2 s of pure driver
    # time per call at bits=64). Identical trees, integer-exact.
    votes = [
        cached_expr(
            f"sum(CASE WHEN ((shiftright(h, {i}) & CAST(1 AS BIGINT)) = 1) "
            "THEN 1 ELSE -1 END)"
        ).alias(f"__v{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy("id").agg(*votes)
    sh = "CAST(0 AS BIGINT)"
    for i in range(bits):
        bit = (
            f"{1 << i}L"
            if i < 63
            else "shiftleft(CAST(1 AS BIGINT), 63)"
        )
        sh = (
            f"{sh} | CASE WHEN (__v{i} > 0) THEN CAST({bit} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
        )
    return agg.select("id", cached_expr(sh).alias("sh"))


def simhash(text: Column, bits: int = 64) -> Column:
    """64-bit SimHash from token xxhash64 values, as a signed BIGINT.

    For each bit position, sum +1/-1 over tokens by that bit of the
    token hash; the sign of the sum sets the output bit. Pure
    higher-order-function fold — no UDF.

    WARNING — the per-bit fold re-evaluates the token-hash array once
    per bit (64× work); use :func:`simhash_signatures` for corpus-scale
    computation. Kept for single-expression use.
    """
    toks = F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # Per-bit vote: sum of ±1 across token hashes. Bit positions are
    # Python ints (shift amounts must be literals), so this unrolls to
    # `bits` aggregate expressions — all map-side, single pass.
    def bit_vote(i: int):
        # NB: a plain `lambda acc, h, i=i:` would break here — PySpark
        # derives the lambda-variable count from the function arity, so
        # the defaulted third arg would be bound to a lambda variable.
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(
                F.shiftright(h, i).bitwiseAND(F.lit(1).cast("long")) == 1, 1
            ).otherwise(-1),
        )

    out = F.lit(0).cast("long")
    for i in range(bits):
        vote = bit_vote(i)
        out = out.bitwiseOR(
            F.when(vote > 0, F.lit(1 << i if i < 63 else -(1 << 63)).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    return out


def _simhash_bands(docs: DataFrame, band_bits: int) -> DataFrame:
    """(id, sh) → (id, sh, band, key): one row per (doc, 16-bit band of
    the simhash) — the self-join input and the persistable index
    layout (simhash_index)."""
    bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    return docs.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sh"), b * band_bits)
                        .bitwiseAND(F.lit(mask).cast("long"))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", "bb.band", "bb.key")


def simhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Persistable banded SimHash index: (id, sh, band, key) — the
    SimHash twin of :func:`minhash_index`. Same incremental contract:
    sign the corpus once, screen each new shard with
    :func:`query_simhash_index`; xxhash64 token hashing is
    deterministic, so values persisted earlier join values computed
    later. Bucket rows capped at the ``max_bucket_size`` lowest ids."""
    banded = _simhash_bands(simhash_signatures(df, text_col, id_col), band_bits)
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "key").orderBy("id")
        banded = (
            banded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
        )
    return banded


def query_simhash_index(
    index: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate screening of a new shard against a prebuilt
    :func:`simhash_index` (same band_bits). Returns (query_id,
    index_id, hamming ≤ max_hamming); candidates are docs sharing any
    16-bit band, so Hamming ≤ 3 over 4 bands is guaranteed caught."""
    q = _simhash_bands(
        simhash_signatures(new_docs, text_col, id_col), band_bits
    )
    joined = q.join(
        index.select(
            F.col("id").alias("__xid"), F.col("sh").alias("__xsh"), "band", "key"
        ),
        on=["band", "key"],
    )
    return (
        joined.select(
            F.col("id").alias("query_id"),
            F.col("__xid").alias("index_id"),
            F.bit_count(F.col("sh").bitwiseXOR(F.col("__xsh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["query_id", "index_id"])
    )


def _compact_banded_index(
    spark,
    path: str,
    bucket_cols: list[str],
    max_bucket_size: int | None = 1024,
    num_files: int | None = None,
    prefer_ids: DataFrame | None = None,
) -> None:
    """Rewrite an append-grown banded index into a bounded, clustered
    layout. Incremental ingestion (streaming/corpus.py) appends one
    small parquet file per micro-batch and applies ``max_bucket_size``
    only per batch, so over time (a) the directory fragments into
    thousands of tiny files and (b) a hot (band, bucket) grows past the
    cap, defeating the query-join fan-out bound. Compaction restores
    both invariants:

      1. drop exact duplicate rows (benign retry appends),
      2. re-apply the GLOBAL per-bucket cap (lowest ids win — the same
         deterministic rule the per-batch cap uses, so a capped bucket
         keeps the same representatives compaction after compaction),
      3. rewrite range-clustered on the bucket key so footer min/max
         prune per-bucket lookups.

    The rewrite goes to a sibling temp dir first and is swapped in with
    directory renames — readers never observe a half-written index
    (crash mid-swap is repaired by sources.state.recover_interrupted_
    swap on the next ingest start). On a real cluster this is a
    table-format job (Delta OPTIMIZE); here it is the same operation
    expressed on plain parquet.
    """
    from ..sources.state import TMP_SUFFIX, atomic_swap_dirs
    from ..sources.writers import write_range_clustered

    idx = spark.read.parquet(path).dropDuplicates(["id", *bucket_cols])
    idx = _cap_index_buckets(idx, bucket_cols, max_bucket_size, prefer_ids)
    write_range_clustered(
        idx, path.rstrip("/") + TMP_SUFFIX, bucket_cols[-1], num_files=num_files
    )
    atomic_swap_dirs(path)


def _cap_index_buckets(
    idx: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int | None,
    prefer_ids: DataFrame | None = None,
) -> DataFrame:
    """Apply the global per-bucket cap to an index frame. Default rule:
    lowest ids win (identical to a fresh build). With ``prefer_ids``
    (one id column — e.g. the LANDED corpus under group tracking,
    ADVICE r9), preferred rows win the cap FIRST, lowest-id within each
    class: a group-tracking index also holds DROPPED docs' rows, and a
    dropped doc with a lower id must not evict a landed survivor's
    witness row from a hot bucket — that would silently lower
    cross-batch screen recall relative to non-tracking mode. Still
    deterministic given the preferred set."""
    if max_bucket_size is None:
        return idx
    if prefer_ids is not None:
        pref = (
            prefer_ids.select(
                F.col(prefer_ids.columns[0]).alias("id")
            )
            .distinct()
            .withColumn("__pref", F.lit(0))
        )
        # No broadcast hint: the preferred set is the landed corpus's
        # ids — corpus-sized, so AQE must stay free to pick a shuffle
        # join. Compaction is the offline path; one id-keyed exchange
        # of the index here is the honest cost of the ordering.
        idx = idx.join(pref, on="id", how="left").withColumn(
            "__pref", F.coalesce(F.col("__pref"), F.lit(1))
        )
        order = [F.col("__pref").asc(), F.col("id").asc()]
    else:
        order = [F.col("id").asc()]
    w = Window.partitionBy(*bucket_cols).orderBy(*order)
    return (
        idx.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_bucket_size)
        .drop("__rn", "__pref")
    )


def compact_minhash_index(
    spark, path: str, max_bucket_size: int | None = 1024,
    num_files: int | None = None,
    prefer_ids: DataFrame | None = None,
) -> None:
    """Compact a persisted :func:`minhash_index` directory in place
    (columns id/sig/band/bucket). Query results are unchanged for any
    bucket under the cap; over-cap buckets keep the lowest-id
    representatives, identical to a fresh full build. ``prefer_ids``
    (landed corpus under group tracking) win the cap first — see
    :func:`_cap_index_buckets`."""
    _compact_banded_index(
        spark, path, ["band", "bucket"], max_bucket_size, num_files,
        prefer_ids,
    )


def compact_simhash_index(
    spark, path: str, max_bucket_size: int | None = 1024,
    num_files: int | None = None,
    prefer_ids: DataFrame | None = None,
) -> None:
    """Compact a persisted :func:`simhash_index` directory in place
    (columns id/sh/band/key)."""
    _compact_banded_index(
        spark, path, ["band", "key"], max_bucket_size, num_files,
        prefer_ids,
    )


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Near-dup candidates whose 64-bit SimHash agrees on at least one
    16-bit band (Hamming-distance ≤ 3 is guaranteed caught with 4
    bands). Oversized band buckets degrade to a linear star join (see
    :func:`_bucket_pairs`) so identical-doc floods cannot go quadratic.
    Returns (id_a, id_b, hamming)."""
    docs = simhash_signatures(df, text_col, id_col)
    banded = _simhash_bands(docs, band_bits)
    cand = _bucket_pairs(banded, ["band", "key"], ["sh"], max_bucket_size)
    return (
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Oracle-checkable MinHash (md5-derived hash family, cross-engine exact)
# ---------------------------------------------------------------------------

#: Mersenne prime for the universal hash family (a·h + b) mod P.
#: h < 2^32 and a < P < 2^31 keep a·h + b < 2^63 — no overflow under
#: ANSI arithmetic on either engine, so results are bit-exact BIGINTs.
#: P must be SMALL relative to a·h (here a·h/P ~ 2^31): an earlier
#: P = 2^61 − 1 made a·h + b wrap AT MOST ONCE, a near-monotone
#: transform under which most of the 64 functions picked the same
#: argmin shingle — signatures matched 64/64 for docs sharing one
#: shingle and est_jaccard was no estimator at all (caught by the q130
#: calibration surface; max |est−exact| was 0.99, now ≤ ~0.15).
MINHASH_PRIME = (1 << 31) - 1


def minhash_params(num_hashes: int = 64, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients shared by the Spark operator
    and the generated oracle SQL."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME) | 1, rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def md5_hash32(col: Column) -> Column:
    """First 32 bits of md5 as a BIGINT — the one keyed-ish hash both
    Spark and DuckDB compute identically (cf. text.rolling_hash_
    fingerprint). Oracle: ``CAST(concat('0x', substr(md5(x),1,8)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def minhash_dedup_pairs_oracle(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_est: float = 0.4,
) -> DataFrame:
    """Banded MinHash LSH whose every step is reproducible in ANSI SQL.

    Same distributed shape as :func:`minhash_dedup_pairs` (explode
    shingles once → per-seed MIN with map-side partials → band keys →
    in-bucket pair join), but the hash family is md5_hash32 + universal
    hashing instead of seeded xxhash64, and the band bucket key is the
    sub-signature rendered as a string (at scale you'd hash it — the
    xxhash64 variant does; pair sets are identical absent 64-bit
    collisions). This is the correctness anchor for the fast path.
    """
    params = minhash_params(num_hashes)
    rows_per_band = num_hashes // bands
    sh = _ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    ).select(
        # Reduce h below P BEFORE the family: md5_hash32 spans [0, 2^32)
        # while (a·h+b) mod P is universal only over Z_P — without this,
        # two shingles congruent mod P collide under ALL 64 functions
        # (ADVICE r6). Mirrored in the oracle's `% P` on the same CTE.
        "id", (md5_hash32(F.col("shingle")) % F.lit(MINHASH_PRIME)).alias("h")
    )
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"__m{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = (
        sh.groupBy("id")
        .agg(*mins)
        .select("id", F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig"))
    )
    banded = sig.select(
        "id",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).withColumn(
        "bkey",
        F.concat_ws(",", F.slice(F.col("sig"), F.col("band") * rows_per_band + 1, rows_per_band)),
    )
    a, b = banded.alias("a"), banded.alias("b")
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: (x == y).cast("int")),
                lambda v: v == 1,
            )
        ).cast("double")
        / F.lit(float(num_hashes))
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            est.alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= min_est)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_dedup_pairs_oracle(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    max_hamming: int = 8,
) -> DataFrame:
    """SimHash near-dup candidates whose every step is reproducible in
    ANSI SQL (correctness anchor for the xxhash64 fast path).

    The 64 token-hash bits come from two md5-derived 32-bit halves
    (bit i < 32 from half 1, else half 2) — verified bit-identical
    across engines, including arithmetic shift-right + mask on the
    signed simhash and bit_count(xor) Hamming distance. Same explode →
    64-SUM-votes → banded self-join shape as
    :func:`simhash_dedup_pairs`; the ``max_hamming`` filter bounds the
    in-bucket output (candidates beyond it are LSH noise anyway).
    """
    bits = 64
    tok = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
        ).alias("t"),
    ).select(
        "id",
        md5_hash32(F.col("t")).alias("h1"),
        F.conv(F.substring(F.md5(F.col("t")), 9, 8), 16, 10).cast("long").alias("h2"),
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright(F.col("h1") if i < 32 else F.col("h2"), i % 32)
                .bitwiseAND(F.lit(1).cast("long"))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"__v{i}")
        for i in range(bits)
    ]
    sig = (
        tok.groupBy("id")
        .agg(*votes)
        .select(
            "id",
            _simhash_from_votes([F.col(f"__v{i}") for i in range(bits)], bits).alias("sh"),
        )
    )
    bands = bits // band_bits
    mask = (1 << band_bits) - 1
    banded = sig.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sh"), b * band_bits)
                        .bitwiseAND(F.lit(mask).cast("long"))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", "bb.band", "bb.key")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


# ---------------------------------------------------------------------------
# Connected components (pair sets → duplicate groups)
# ---------------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
    salt: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate GROUPS: returns
    (id, comp) where ``comp`` is the minimum id reachable in the pair
    graph — the canonical keeper for every document in the cluster.
    Vertices are the ids appearing in ``pairs`` (documents with no
    duplicate pair are their own trivial group and are omitted).

    Iterative min-label propagation: each round every vertex takes the
    min of its own label and its neighbours' labels (one shuffle join +
    one aggregation per round), converging in O(component diameter)
    rounds — dedup clusters are near-cliques from LSH banding, so this
    is 2-3 rounds in practice. Each round ends in ``localCheckpoint``
    to truncate the growing lineage (an iterative plan would otherwise
    recompile/replay from scratch every round), and the loop exits on a
    converged round (no label changed). If the loop exhausts
    ``max_iter`` without converging (a > ``max_iter``-diameter chain),
    a ``RuntimeError`` is raised rather than silently returning partial
    labels — a wrong keeper list would drive deletion decisions
    (ADVICE r2). For high-diameter graphs use
    :func:`connected_components_alternating` — O(log² n) rounds
    regardless of diameter.

    ``salt``: skew guard for power-law duplicate graphs (the realistic
    corpus case — one boilerplate cluster with a million members makes
    its hub a hot join key). The per-round label gather becomes a
    :func:`~.joins.salted_join` on ``dst``: the hub's edge rows spread
    over ``salt`` reducers at the cost of replicating the (id, comp)
    label table ×salt — labels are 2 longs/vertex, so the replication
    is cheap relative to the edge shuffle it de-skews. Labels are
    identical with or without salting (pinned in
    tests/test_skew_guards.py).

    ``stats``: optional dict; on return ``stats["rounds"]`` holds the
    converged round count (observability for the at-scale tuning
    question "how many shuffles did this corpus cost").
    """
    from .joins import salted_join

    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    for rounds in range(1, max_iter + 1):
        label_side = labels.withColumnRenamed("id", "dst")
        if salt is not None:
            gathered = salted_join(edges, label_side, on=["dst"], salt=salt)
        else:
            gathered = edges.join(label_side, on="dst")
        nbr = gathered.select(F.col("src").alias("id"), F.col("comp"))
        new_labels = (
            labels.unionByName(nbr).groupBy("id").agg(F.min("comp").alias("comp"))
        ).localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            if stats is not None:
                stats["rounds"] = rounds
            return labels
    raise RuntimeError(
        f"connected_components did not converge within max_iter={max_iter} "
        "rounds (component diameter exceeds max_iter). Raise max_iter or "
        "use connected_components_alternating, which converges in "
        "O(log^2 n) rounds regardless of diameter."
    )


def connected_components_alternating(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — the 100 TB path for HIGH-DIAMETER graphs, where
    :func:`connected_components`'s min-label propagation needs
    O(diameter) rounds. Returns (id, comp) like
    :func:`connected_components`; comp is the component's minimum id.

    Each round is two edge rewrites, each one shuffle + one unordered
    window min over the gather key:

     - large-star: every node links its LARGER neighbours to the
       minimum of its neighbourhood (min computed over both edge
       directions);
     - small-star: edges oriented child=max → parent=min; every node
       links its smaller neighbours (and itself) to its minimum parent.

    Both rewrites strictly shrink star height, so the edge set reaches
    the fixed point — stars rooted at each component's minimum — in
    O(log² n) rounds for ANY topology (a 1000-node path converges in
    ~8 rounds where label propagation needs 1000; pinned by a property
    test). Per-round cost is O(|E|) shuffled bytes; ``localCheckpoint``
    truncates the iterative lineage exactly as in
    :func:`connected_components`.

    Convergence is tested on the edge set itself: oriented from the
    larger id to the smaller, it is the fixed point exactly when it is
    a star forest — no node is both a child and a parent, and no child
    has two parents (one more round would map it to itself). That is
    one aggregation job, run on the input (an empty edge set, or one
    of disjoint pairs — the common micro-batch — needs no round) and
    on each round's output, so the loop stops on the round that
    produced the stars rather than re-deriving them to compare.
    """
    edges = (
        pairs.select(
            F.greatest(id_a, id_b).alias("u"), F.least(id_a, id_b).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def labels(edges: DataFrame) -> DataFrame:
        # Fixed point = stars (child, root): labels are the star edges
        # plus each root labelling itself.
        return edges.select(F.col("u").alias("id"), F.col("v").alias("comp")).unionByName(
            edges.select(F.col("v").alias("id"), F.col("v").alias("comp")).distinct()
        )

    def is_star_forest(edges: DataFrame) -> bool:
        # Per node: how many parents it has as a child, and whether it
        # is anyone's parent.
        roles = (
            edges.select(
                F.col("u").alias("n"), F.lit(1).alias("c"), F.lit(0).alias("p")
            )
            .unionByName(
                edges.select(
                    F.col("v").alias("n"), F.lit(0).alias("c"), F.lit(1).alias("p")
                )
            )
            .groupBy("n")
            .agg(F.sum("c").alias("c"), F.max("p").alias("p"))
        )
        bad = (F.col("c") > 1) | ((F.col("c") > 0) & (F.col("p") > 0))
        return roles.filter(bad).limit(1).count() == 0

    w = Window.partitionBy("u")
    rounds = 0
    while not is_star_forest(edges):
        if rounds == max_iter:
            raise RuntimeError(
                f"connected_components_alternating did not converge within "
                f"max_iter={max_iter} rounds — unexpected for any graph with "
                f"fewer than ~2^{max_iter // 2} nodes; raise max_iter."
            )
        rounds += 1
        # Large-star: gather over both directions; m = min(N(u) ∪ {u});
        # emit (v, m) for the strictly-larger neighbours v.
        nbrs = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        large = (
            nbrs.withColumn("m", F.least(F.min("v").over(w), F.col("u")))
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # Small-star: orient child=max → parent=min; m = min parent;
        # relink every parent (and the child itself) to m.
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        small = oriented.withColumn("m", F.min("v").over(w))
        edges = (
            small.select("u", F.col("m").alias("v"))
            .unionByName(
                small.filter(F.col("v") != F.col("m")).select(
                    F.col("v").alias("u"), F.col("m").alias("v")
                )
            )
            .distinct()
            .localCheckpoint()
        )
    if stats is not None:
        stats["rounds"] = rounds
    return labels(edges)


def update_components(
    state: DataFrame | None,
    new_edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """INCREMENTAL connected components (VERDICT r8 item 5): merge a
    batch of new duplicate-pair edges into an existing ``(id, comp)``
    labelling WITHOUT re-running CC over the full edge history. Returns
    the updated full ``(id, comp)`` state with the same invariant as
    :func:`connected_components` / the alternating variant: ``comp`` is
    the minimum id reachable in the union of all edges ever merged —
    so chaining ``update_components`` over any partition of an edge set
    lands on exactly the labelling a one-shot CC over the whole set
    produces (pytest-pinned).

    The trick that keeps this cheap: new edges are LIFTED onto the
    component graph first — each endpoint maps to its current comp (or
    itself if unseen) via one broadcast-or-hash join against the state
    — and CC runs only on the lifted COMPONENT graph, whose size is
    bounded by the batch's edge count, never the corpus. Because every
    existing comp label is already the min id of its member set, the
    min-label of a merged group of comps is the global min id of the
    merged member set: relabelling is exact without touching members.

    Scale shape: one equi-join of the (batch-sized) edge list against
    the state per endpoint, an O(log²)-round CC over the batch-sized
    comp graph, then one broadcast join of the (comp-graph-sized)
    relabel map over the state. The state rewrite is map-only; at
    100 TB, land it bucketed on ``comp`` (or append relabel rows with
    a version column and fold on a compaction cadence) — the streaming
    wiring in :mod:`..streaming.corpus` rewrites it crash-safely via
    the same atomic directory swap as the other state tables.

    Vertices never seen in any edge stay out of the state (their group
    is trivially themselves), matching the batch operators. Ids must be
    globally unique across batches — comp labels ARE ids.
    """
    edges = (
        new_edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if state is None:
        return connected_components_alternating(edges, "a", "b")
    relabel = _lift_and_relabel(state, edges)
    # Existing members follow their comp's relabel (map-only join);
    # comp-graph vertices (old comps + new ids) take their new label.
    remapped = (
        state.join(
            F.broadcast(relabel), state["comp"] == F.col("__old"), "left"
        )
        .select("id", F.coalesce("__new", "comp").alias("comp"))
    )
    fresh = relabel.select(
        F.col("__old").alias("id"), F.col("__new").alias("comp")
    ).join(state.select("id"), on="id", how="left_anti")
    return remapped.unionByName(fresh)


def _lift_and_relabel(state: DataFrame, edges: DataFrame) -> DataFrame:
    """Shared core of the incremental CC update: lift each (a, b) edge
    endpoint onto its current component representative (itself when
    unseen), run alternating CC on the lifted COMP graph only, and
    return the eager (__old, __new) relabel map — batch-sized, never
    corpus-sized."""
    sa = state.select(F.col("id").alias("a"), F.col("comp").alias("ra"))
    sb = state.select(F.col("id").alias("b"), F.col("comp").alias("rb"))
    lifted = (
        edges.join(sa, on="a", how="left")
        .join(sb, on="b", how="left")
        .select(
            F.coalesce("ra", "a").alias("a"),
            F.coalesce("rb", "b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    relabel = connected_components_alternating(lifted, "a", "b")
    return relabel.select(
        F.col("id").alias("__old"), F.col("comp").alias("__new")
    ).localCheckpoint(eager=True)


def update_components_delta(
    state: DataFrame | None,
    new_edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """The APPEND-ONLY form of :func:`update_components`: instead of
    the full post-merge state, return only the ``(id, comp)`` rows that
    are NEW or whose label CHANGED — the delta to append to a
    versioned state table whose read is latest-version-per-id.

    This is the 100 TB shape for per-batch group maintenance: the full
    rewrite :func:`update_components` implies is O(corpus) writes per
    micro-batch; the delta is O(batch + affected members) — new
    vertices plus the members of components the batch actually merged.
    Resolving reads (``max_by(comp, ver)`` per id) stay shuffle-free
    when the state table is BUCKETED on ``id`` (see
    ``streaming.corpus.ingest_documents_stream``'s
    ``components_n_buckets``). Replay-idempotent: a replayed batch
    re-derives the identical delta, and duplicate appends collapse
    under latest-wins. ``resolve(state ∪ delta)`` ==
    ``update_components(state, edges)`` (pytest-pinned).
    """
    edges = (
        new_edges.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    if state is None:
        return connected_components_alternating(edges, "a", "b")
    relabel = _lift_and_relabel(state, edges)
    changed = relabel.filter(F.col("__old") != F.col("__new"))
    members = (
        state.join(F.broadcast(changed), state["comp"] == F.col("__old"))
        .select("id", F.col("__new").alias("comp"))
    )
    fresh = relabel.select(
        F.col("__old").alias("id"), F.col("__new").alias("comp")
    ).join(state.select("id"), on="id", how="left_anti")
    return members.unionByName(fresh)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard via explode + equi-join (oracle-checkable)
# ---------------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_col: str | None = None,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact Jaccard similarity over distinct n-gram shingle sets.

    Shape: explode shingles → per-doc set sizes as a window count (same
    lineage, no cached intermediate) → self-equi-join on the shingle →
    count intersections per pair → Jaccard = |∩| / (|A|+|B|−|∩|).
    ``block_col`` restricts candidates to equal blocking keys.

    Skew guard: a shingle is a join key, so a shingle appearing in f
    docs contributes f² candidate rows — one boilerplate phrase shared
    by millions of docs is a quadratic hot key at 100 TB.
    ``max_doc_freq`` drops shingles whose document frequency exceeds it
    *before* the join (sizes are computed over the filtered universe, so
    the result is exact Jaccard over the low-frequency shingle sets);
    per-shingle candidate work is then bounded by max_doc_freq². None
    keeps fully exact semantics (the oracle-checked default).

    Both self-join sides share an identical sub-plan, so Catalyst's
    exchange reuse computes the shingle table once — no persist, no
    cache-ownership leak across calls in long-lived sessions.
    """
    sh = (
        _ensure_parallelism(df)
        .select(
            F.col(id_col).alias("id"),
            *([F.col(block_col).alias("blk")] if block_col else []),
            _lower_tokens(F.col(text_col)).alias("__toks"),
        )
        .select(
            "id",
            *(["blk"] if block_col else []),
            F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias(
                "shingle"
            ),
        )
    )
    if max_doc_freq is not None:
        w_sh = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count("*").over(w_sh))
            .filter(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    sh = sh.withColumn("setsize", F.count("*").over(Window.partitionBy("id")))
    a, b = sh.alias("a"), sh.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id"))
    if block_col:
        cond = cond & (F.col("a.blk") == F.col("b.blk"))
    inter = (
        a.join(b, cond)
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count("*").alias("n_inter"),
            F.first(F.col("a.setsize")).alias("size_a"),
            F.first(F.col("b.setsize")).alias("size_b"),
        )
    )
    return (
        inter.select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# Train/eval decontamination
# ---------------------------------------------------------------------------

def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Flag training documents that share word n-grams with an eval set
    (GPT-3/PaLM-style benchmark decontamination; default 13-grams).

    Per training document emits the distinct-n-gram count, how many of
    those n-grams also occur anywhere in the eval corpus, the
    contaminated fraction, and a ``contaminated`` verdict
    (``hit_grams >= min_hits``).

    Scale shape: the eval side collapses to DISTINCT n-grams and is
    broadcast (benchmark suites are MBs against a 100 TB training
    corpus), so the training side is a map-only explode → broadcast
    semi-match → re-aggregate on the id — ONE shuffle of only the id
    partials, no shuffle of the exploded n-gram stream and no skew
    surface (a hot n-gram multiplies rows only by its eval-side
    presence, which is 1 after DISTINCT). For an eval side too large to
    broadcast, drop the hint and the same plan degrades to a shuffled
    equi-join on the n-gram.

    Reference parity: none — the reference has no dedup surface at all;
    this extends SURVEY.md §2's north-star dedup family.
    """
    ev_grams = (
        eval_df.select(_lower_tokens(F.col(text_col)).alias("__toks"))
        .select(F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("gram"))
        .distinct()
        .withColumn("__hit", F.lit(1).cast("long"))
    )
    # Single pass over the training side: tokenize once, materialize the
    # gram array once, carry its size through explode_outer (empty/short
    # docs survive as a null gram), broadcast-match, re-aggregate on id.
    exploded = (
        _ensure_parallelism(train)
        .select(
            F.col(id_col).alias("id"),
            _lower_tokens(F.col(text_col)).alias("__toks"),
        )
        .select("id", shingles_from_tokens(F.col("__toks"), n).alias("__grams"))
        .select(
            "id",
            F.size("__grams").cast("long").alias("n_grams"),
            F.explode_outer("__grams").alias("gram"),
        )
    )
    per_doc = (
        exploded.join(F.broadcast(ev_grams), "gram", "left")
        .groupBy("id")
        .agg(
            F.first("n_grams").alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("hit_grams"),
        )
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_grams",
        "hit_grams",
        F.when(
            F.col("n_grams") > 0, F.col("hit_grams").cast("double") / F.col("n_grams")
        )
        .otherwise(F.lit(0.0))
        .alias("hit_frac"),
        (F.col("hit_grams") >= min_hits).alias("contaminated"),
    )


def minhash_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    min_est: float = 0.2,
) -> DataFrame:
    """Sketch-quality calibration: for every banded-LSH candidate pair,
    the MinHash ESTIMATE next to the EXACT shingle Jaccard and their
    absolute error — the in-engine answer to "how much do I trust the
    sketch?" that turns the q40 pipeline's threshold into a measured
    quantity (the recall floors in tests/test_recall_quality.py measure
    *which* pairs surface; this measures *how well* their similarity is
    estimated).

    Every value is engine-exact without quantization: the estimate is
    matches/num_hashes (a dyadic rational), the exact Jaccard is an
    integer-ratio double (|A∩B| / (|A|+|B|−|A∩B|)), and the error is
    one IEEE subtraction of the two.

    Scale shape: candidates come from the banded equi-join (never
    all-pairs); the exact-Jaccard check joins the candidate list back
    to the per-doc distinct-shingle stream on (id, shingle) — the
    post-LSH verification pass a production near-dup pipeline runs
    anyway, costing one shingle-keyed shuffle of the CANDIDATES' docs
    only, not the corpus (the candidate semi-join prunes the stream).
    """
    cand = minhash_dedup_pairs_oracle(
        df,
        text_col=text_col,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        min_est=min_est,
    )
    shd = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), shingle_n)).alias("shingle"),
    )
    sizes = shd.groupBy("id").agg(F.count("*").cast("long").alias("n"))
    sa = shd.select(F.col("id").alias("id_a"), "shingle")
    sb = shd.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        cand.select("id_a", "id_b")
        .join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    out = (
        cand.join(inter, ["id_a", "id_b"], "left")
        .withColumn("n_inter", F.coalesce(F.col("n_inter"), F.lit(0)))
        .join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
    )
    exact = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    return out.select(
        "id_a",
        "id_b",
        "est_jaccard",
        exact.alias("exact_jaccard"),
        F.abs(F.col("est_jaccard") - exact).alias("abs_err"),
    )


def eval_contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """The reverse view of :func:`ngram_contamination`: per EVAL
    document, how compromised it is by the training corpus — distinct
    n-gram count, how many of those n-grams occur anywhere in training,
    the compromised fraction, and how many DISTINCT training documents
    share at least one n-gram. ``ngram_contamination`` answers "which
    training docs must I drop"; this answers "which benchmark items are
    already burned and by how much" — the audit table a decontamination
    run reports.

    Scale shape: the eval side (benchmark-sized) collapses to distinct
    per-doc n-grams and is BROADCAST onto the training gram stream, so
    the 100 TB side is explode → broadcast semi-match, and only the
    matching (eval_id, gram, train_id) hits — bounded by eval size ×
    contamination, not corpus size — are deduplicated and aggregated.
    No full train-side distinct ever happens.
    """
    ev_base = eval_df.select(
        F.col(id_col).alias("eid"),
        _lower_tokens(F.col(text_col)).alias("__toks"),
    ).select("eid", shingles_from_tokens(F.col("__toks"), n).alias("__grams"))
    ev_docs = ev_base.select(
        "eid", F.size("__grams").cast("long").alias("n_grams")
    )
    ev_grams = ev_base.select("eid", F.explode("__grams").alias("gram"))
    tr_grams = (
        _ensure_parallelism(train)
        .select(
            F.col(id_col).alias("tid"),
            _lower_tokens(F.col(text_col)).alias("__toks"),
        )
        .select("tid", F.explode_outer(shingles_from_tokens(F.col("__toks"), n)).alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    hits = (
        tr_grams.join(F.broadcast(ev_grams), "gram")
        .select("eid", "gram", "tid")
        .distinct()
    )
    agg = hits.groupBy("eid").agg(
        F.countDistinct("gram").cast("long").alias("hit_grams"),
        F.countDistinct("tid").cast("long").alias("n_train_docs"),
    )
    return (
        ev_docs.join(agg, "eid", "left")
        .select(
            F.col("eid").alias(id_col),
            "n_grams",
            F.coalesce("hit_grams", F.lit(0)).cast("long").alias("hit_grams"),
            F.when(
                F.col("n_grams") > 0,
                F.coalesce("hit_grams", F.lit(0)).cast("double") / F.col("n_grams"),
            )
            .otherwise(F.lit(0.0))
            .alias("hit_frac"),
            F.coalesce("n_train_docs", F.lit(0)).cast("long").alias("n_train_docs"),
            (F.coalesce("hit_grams", F.lit(0)) >= min_hits).alias("compromised"),
        )
    )


def source_minhash_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """Source-level corpus overlap from MERGED MinHash signatures: each
    source's signature is the element-wise MIN over every shingle hash
    it contains, and a pair's estimated shingle-set Jaccard is the
    fraction of matching signature positions. The point is sketch
    MERGEABILITY — min is associative and commutative, so at 100 TB
    the per-source signature reduces with map-side partial mins to
    |sources| × num_hashes longs, and comparing two petabyte-scale
    sources costs 64 integer equality checks. Pairs with zero matching
    positions (est 0) are absent from the output.

    Same md5/universal family as q70 (cross-engine exact). The pair
    build is a (position, value) equi-join on the exploded signatures
    — |sources| × num_hashes rows — never a cross join.
    """
    params = minhash_params(num_hashes)
    sh = (
        _ensure_parallelism(df)
        .select(
            F.col(group_col).alias("g"),
            _lower_tokens(F.col(text_col)).alias("__toks"),
        )
        .select(
            "g",
            F.explode(shingles_from_tokens(F.col("__toks"), shingle_n)).alias(
                "shingle"
            ),
        )
        # h reduced below P — see minhash_dedup_pairs_oracle (universal
        # family domain; mirrored in the q139 oracle).
        .select("g", (md5_hash32(F.col("shingle")) % F.lit(MINHASH_PRIME)).alias("h"))
    )
    mins = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"__m{i}"
        )
        for i, (a, b) in enumerate(params)
    ]
    sig = sh.groupBy("g").agg(*mins).select(
        "g", F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig")
    )
    posed = sig.select("g", F.posexplode("sig").alias("i", "m"))
    a = posed.select(F.col("g").alias("source_a"), "i", "m")
    b = posed.select(F.col("g").alias("source_b"), "i", "m")
    return (
        a.join(b, ["i", "m"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_matching"))
        .withColumn(
            "est_jaccard", F.col("n_matching") / F.lit(float(num_hashes))
        )
    )
