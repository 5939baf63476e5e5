"""Streaming corpus ingestion (north-star extension).

Incremental training-data ingestion: replay document files as a
stream, gate each micro-batch through the Gopher/C4 quality rules
(map-only — fully streaming-safe), and land survivors in a parquet
corpus with CROSS-BATCH exact dedup: each batch drops texts whose
fingerprint is already in the landed corpus before appending (the
anti-join runs inside foreachBatch, where batch semantics apply).

This is the ingestion pattern a 100 TB pipeline runs continuously:
new crawl shards arrive → cheap quality filter at wire speed → only
never-seen content is appended. State lives in the output table itself
(its fingerprint column), not in the streaming state store, so the
query restarts cheaply and the dedup horizon is the whole corpus, not
a watermark.

Reference parity: none — the reference has no streaming code at all
(SURVEY.md §2i); this composes our own quality_rules + fingerprint
operators with Structured Streaming.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import fingerprint, quality_rules
from ..session import apply_runtime_confs


def documents_file_schema(spark: SparkSession, path_dir: str):
    """Probe the parquet footers under ``path_dir`` for the stream
    schema (driver-side batch read, no job) — same vintage-proofing as
    events.events_file_schema. Works on a shard directory or a single
    ``documents.parquet``."""
    apply_runtime_confs(spark)
    doc_file = os.path.join(path_dir, "documents.parquet")
    target = doc_file if os.path.exists(doc_file) else path_dir
    return spark.read.parquet(target).schema


def read_documents_stream(
    spark: SparkSession, path_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream replaying document shards as they land.

    On a driver scale-factor directory the glob narrows to
    ``documents.parquet`` so sibling tables with other schemas aren't
    picked up; on a dedicated shard directory every parquet replays."""
    apply_runtime_confs(spark)
    doc_only = os.path.exists(os.path.join(path_dir, "documents.parquet"))
    return (
        spark.readStream.schema(documents_file_schema(spark, path_dir))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "documents.parquet" if doc_only else "*.parquet")
        .parquet(path_dir)
    )


def _state_table_name(path: str, prefix: str) -> str:
    """Deterministic catalog name for a bucketed state table at
    ``path`` — the default in-memory catalog does not survive
    sessions, so every ingest run re-registers the definition over the
    (persistent) files."""
    import hashlib

    h = hashlib.md5(path.rstrip("/").encode()).hexdigest()[:10]
    return f"{prefix}_{h}"


def _gram_table_name(gram_dir: str) -> str:
    return _state_table_name(gram_dir, "gram_index")


def _minhash_table_name(index_dir: str) -> str:
    return _state_table_name(index_dir, "minhash_index")


def _register_bucketed_state(
    spark: SparkSession,
    path: str,
    tbl: str,
    schema_ddl: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> str:
    """(Re)register an external bucketed table definition over
    ``path``. Metadata-only: files written by earlier runs carry their
    bucket id in the file name, so a re-created definition with the
    SAME bucket count maps them correctly (the ``_BUCKET_SPEC`` marker
    guards the count)."""
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    sort = f"SORTED BY ({', '.join(sort_cols)}) " if sort_cols else ""
    spark.sql(
        f"CREATE TABLE {tbl} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({', '.join(bucket_cols)}) {sort}"
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
    )
    return tbl


def _register_gram_table(spark: SparkSession, gram_dir: str, n_buckets: int) -> str:
    return _register_bucketed_state(
        spark, gram_dir, _gram_table_name(gram_dir), "gram BIGINT",
        ["gram"], n_buckets, sort_cols=["gram"],
    )


def _append_bucketed(
    df: DataFrame,
    tbl: str,
    n_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Append to a bucketed state table, one file per bucket: the
    repartition uses the SAME murmur3 hash as the bucket spec, so each
    task holds exactly one bucket (vs tasks × buckets files)."""
    writer = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("append").format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(tbl)


def _rewrite_bucketed_state(
    spark: SparkSession,
    path: str,
    tbl: str,
    idx: DataFrame,
    n_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
    pq_spec: str | None = None,
) -> None:
    """Bucketed compaction rewrite: land the rewritten table in the
    swap-in dir via a throwaway EXTERNAL table definition (dropping it
    keeps the files), ride the ``_BUCKET_SPEC`` marker along so the
    swap is all-or-nothing, swap directories crash-safely, and refresh
    the live definition's stale file listing.

    ``pq_spec`` (codebook rotation): write THIS fingerprint into the
    swap-in dir instead of copying the current one — the new marker
    then lands atomically WITH the re-encoded codes; a crash on either
    side of the swap leaves codes and fingerprint paired."""
    import shutil

    from ..sources.state import TMP_SUFFIX, atomic_swap_dirs

    path = path.rstrip("/")
    tmp = path + TMP_SUFFIX
    tmp_tbl = tbl + "__compacting"
    spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
    shutil.rmtree(tmp, ignore_errors=True)
    writer = (
        idx.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("overwrite").format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.option("path", tmp).saveAsTable(tmp_tbl)
    spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
    with open(os.path.join(tmp, "_BUCKET_SPEC"), "w") as f:
        f.write(str(n_buckets))
    # Any other spec marker (e.g. the PQ codebook fingerprint on a
    # codes-only embedding state) rides the swap the same way — a
    # compaction must never strip the guards on its own files.
    if pq_spec is not None:
        with open(os.path.join(tmp, "_PQ_SPEC"), "w") as f:
            f.write(pq_spec)
    else:
        spec_path = os.path.join(path, "_PQ_SPEC")
        if os.path.exists(spec_path):
            shutil.copy(spec_path, os.path.join(tmp, "_PQ_SPEC"))
    if os.path.exists(path):
        atomic_swap_dirs(path)
    else:  # healing a crash that lost the very first index write
        os.rename(tmp, path)
        shutil.rmtree(path + "__precompact", ignore_errors=True)
    if spark.catalog.tableExists(tbl):
        spark.catalog.refreshTable(tbl)


def compact_minhash_index_bucketed(
    spark: SparkSession,
    path: str,
    n_buckets: int,
    max_bucket_size: int | None = 1024,
    prefer_ids: DataFrame | None = None,
) -> None:
    """Bucketed-table variant of
    :func:`~..operators.dedup.compact_minhash_index`: same semantics —
    drop benign duplicate appends, re-apply the GLOBAL per-(band,
    bucket) cap with lowest ids winning (``prefer_ids`` — the landed
    corpus under group tracking — win first, ADVICE r9) — but the
    rewrite preserves the (band, bucket) bucket layout so the
    per-batch screen join stays free of an index-side exchange."""
    from ..operators.dedup import _cap_index_buckets

    idx = spark.read.parquet(path).dropDuplicates(["id", "band", "bucket"])
    idx = _cap_index_buckets(
        idx, ["band", "bucket"], max_bucket_size, prefer_ids
    )
    _rewrite_bucketed_state(
        spark, path, _minhash_table_name(path), idx, n_buckets,
        ["band", "bucket"],
    )


def _check_bucket_marker(
    state_dir: str, n_buckets: int, index_name: str = "bucketed state table"
) -> None:
    """Refuse to reinterpret files bucketed at a different count —
    bucket ids live in file names, so a mismatched declared count would
    silently mis-route rows at join time (no engine-side check).
    ``index_name`` names the table in the error (this guard protects
    the gram, MinHash, and embedding state tables alike — ADVICE r8)."""
    marker = os.path.join(state_dir, "_BUCKET_SPEC")
    if os.path.exists(marker):
        with open(marker) as f:
            prev = int(f.read().strip())
        if prev != n_buckets:
            raise ValueError(
                f"{index_name} at {state_dir} was bucketed into {prev} "
                f"buckets; cannot reopen with n_buckets={n_buckets} — "
                "recompact the table before changing the bucket count"
            )


def _write_bucket_marker(state_dir: str, n_buckets: int) -> None:
    """Idempotent marker write. Called at REGISTRATION time (before the
    first data append), so a crash mid-first-batch can never leave
    bucketed files on disk without the spec that guards their
    reinterpretation (ADVICE r8)."""
    os.makedirs(state_dir, exist_ok=True)
    marker = os.path.join(state_dir, "_BUCKET_SPEC")
    if not os.path.exists(marker):
        with open(marker, "w") as f:
            f.write(str(n_buckets))


def read_postings(spark: SparkSession, out_dir: str) -> DataFrame:
    """Open the ``{out_dir}_postings`` inverted-postings state the way
    it was written: as the registered BUCKETED-on-token table when a
    ``_BUCKET_SPEC`` marker exists (so `token IN (...)` filters prune
    to the matching buckets at scan time), else a plain parquet read.
    Re-registers the external table definition if this session hasn't
    (catalog is in-memory; files are not)."""
    postings_dir = out_dir.rstrip("/") + "_postings"
    marker = os.path.join(postings_dir, "_BUCKET_SPEC")
    if os.path.exists(marker):
        with open(marker) as f:
            n_buckets = int(f.read().strip())
        tbl = _state_table_name(postings_dir, "postings")
        if not spark.catalog.tableExists(tbl):
            sample = spark.read.parquet(postings_dir)
            id_ddl = sample.schema["doc_id"].dataType.simpleString()
            pos_ddl = (
                ", positions ARRAY<INT>"
                if "positions" in sample.columns
                else ""
            )
            _register_bucketed_state(
                spark, postings_dir, tbl,
                f"batch_id BIGINT, token STRING, doc_id {id_ddl}, "
                f"tf BIGINT, dl BIGINT{pos_ddl}",
                ["token"], n_buckets, sort_cols=["token"],
            )
        return spark.table(tbl)
    return spark.read.parquet(postings_dir)


def _has_parquet(path: str) -> bool:
    return os.path.isdir(path) and any(
        n.endswith(".parquet") for n in os.listdir(path)
    )


def resolve_components(versioned: DataFrame) -> DataFrame:
    """Latest-wins read of the append-only VERSIONED components state
    (``components_n_buckets`` mode): (id, comp) with each id's
    highest-``ver`` label. Over the id-BUCKETED table this groupBy
    needs no exchange — the bucketed scan already satisfies the hash
    distribution (pytest plan pin)."""
    return versioned.groupBy("id").agg(
        F.max_by("comp", "ver").alias("comp")
    )


def _read_state_dir(spark: SparkSession, path: str):
    """Landed-state read that treats ONLY a missing/empty path as
    'no state yet'. Any other failure (permissions, corrupt footer)
    must fail the batch — swallowing it would silently disable dedup
    and land duplicates."""
    from pyspark.errors import AnalysisException

    if not os.path.exists(path):
        return None
    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "UNABLE_TO_INFER_SCHEMA" in str(exc):
            return None
        raise


def _components_setup(
    spark: SparkSession,
    comp_dir: str,
    track_components: bool,
    components_n_buckets: int | None,
    id_ddl: str,
) -> tuple[int, str | None]:
    """Shared registration + mode guard for a duplicate-group state dir
    (document and embedding ingests alike). Returns (cb, comp_tbl).
    The two layouts are NOT interchangeable: the versioned bucketed
    table holds multiple rows per id (latest-wins), the rewrite layout
    exactly one. The ``_BUCKET_SPEC`` marker doubles as the mode flag —
    refuse a silent switch either way (a plain reopen of a versioned
    table would read stale duplicate labels as state)."""
    cb = int(components_n_buckets or 0) if track_components else 0
    marker = os.path.join(comp_dir, "_BUCKET_SPEC")
    if cb:
        _check_bucket_marker(comp_dir, cb, "components state")
        if _has_parquet(comp_dir) and not os.path.exists(marker):
            raise ValueError(
                f"components state at {comp_dir} was maintained in "
                "plain-rewrite layout; cannot reopen with "
                "components_n_buckets — remove or migrate the state"
            )
        comp_tbl = _register_bucketed_state(
            spark, comp_dir, _state_table_name(comp_dir, "components"),
            f"`id` {id_ddl}, `comp` {id_ddl}, `ver` bigint",
            ["id"], cb,
        )
        _write_bucket_marker(comp_dir, cb)
        return cb, comp_tbl
    if track_components and os.path.exists(marker):
        raise ValueError(
            f"components state at {comp_dir} is a versioned bucketed "
            "table (multiple rows per id); cannot reopen in "
            "plain-rewrite mode — pass the original components_n_buckets"
        )
    return 0, None


def _merge_component_state(
    spark: SparkSession,
    comp_dir: str,
    comp_tbl: str | None,
    cb: int,
    comp_edges: DataFrame,
    batch_id: int,
    id_dtype,
    compact_every: int | None = None,
    auto_compact_files: int | None = None,
) -> None:
    """Merge one batch's (pinned) duplicate-pair edges into the group
    state — the shared write path behind ``track_components`` on both
    ingests. Versioned-bucketed mode appends only the delta and folds
    on the compaction cadence; rewrite mode swaps the full relabelled
    state in crash-safely. Call BEFORE the corpus append (see the
    document ingest's ordering rationale).

    Auto-compaction policy (VERDICT r9 item 6): the versioned layout
    appends one file set per batch and grows without bound if no
    ``compact_every`` cadence was configured, so the fold ALSO fires
    whenever the state dir's data-file count exceeds
    ``auto_compact_files`` (default ``8 * cb`` — about eight appended
    versions per bucket). Folding is a pure physical rewrite
    (latest-wins per id — exactly what :func:`resolve_components`
    reads), so labels are identical with or without it; the rewrite
    rides the same crash-safe swap as every other state table."""
    from ..operators.dedup import update_components, update_components_delta
    from ..sources.state import TMP_SUFFIX, atomic_swap_dirs

    if cb:
        resolved = (
            resolve_components(spark.table(comp_tbl))
            if _has_parquet(comp_dir)
            else None
        )
        delta = (
            update_components_delta(resolved, comp_edges)
            .select(
                F.col("id").cast(id_dtype),
                F.col("comp").cast(id_dtype),
                F.lit(int(batch_id)).cast("long").alias("ver"),
            )
            .localCheckpoint(eager=True)  # pin before reading+writing
        )  # the same table below
        _append_bucketed(delta, comp_tbl, cb, ["id"])
        n_files = sum(
            1 for n in os.listdir(comp_dir) if n.endswith(".parquet")
        )
        cadence_due = compact_every and (batch_id + 1) % compact_every == 0
        growth_due = n_files > (
            auto_compact_files if auto_compact_files is not None else 8 * cb
        )
        if cadence_due or growth_due:
            folded = (
                spark.table(comp_tbl)
                .groupBy("id")
                .agg(
                    F.max_by("comp", "ver").alias("comp"),
                    F.max("ver").alias("ver"),
                )
            )
            _rewrite_bucketed_state(
                spark, comp_dir, comp_tbl, folded, cb, ["id"]
            )
        return
    prev_state = _read_state_dir(spark, comp_dir)
    new_state = update_components(prev_state, comp_edges)
    tmp = comp_dir + TMP_SUFFIX
    new_state.write.mode("overwrite").parquet(tmp)
    if os.path.exists(comp_dir):
        atomic_swap_dirs(comp_dir)
    else:
        os.rename(tmp, comp_dir)


def ingest_documents_stream(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    near_dup_threshold: float | None = None,
    apply_quality: bool = True,
    compact_every: int | None = None,
    track_drift: bool = False,
    maintain_vocab: bool = False,
    maintain_postings: bool = False,
    postings_n_buckets: int | None = None,
    postings_positions: bool = False,
    lm_floor: float | None = None,
    span_dedup: dict | None = None,
    near_dup_n_buckets: int | None = None,
    track_components: bool = False,
    components_n_buckets: int | None = None,
    components_auto_compact_files: int | None = None,
    quality_model=None,
    quality_model_floor: float = 0.5,
    **quality_kwargs,
):
    """Quality-gate the stream and append only never-seen texts.

    Per micro-batch (inside foreachBatch, batch semantics):
     1. quality_rules → keep only passing docs (signal columns
        dropped; map-only, evaluated on the stream side). Skipped
        entirely when ``apply_quality=False`` (the config-driven path
        maps ``ingest_quality_rules: None`` here, mirroring the batch
        pipeline's ``quality_rules: None`` = no gate).
     2. within-batch exact dedup (min-id per fingerprint).
     3. anti-join the batch's fingerprints against the fingerprints
        already landed in ``out_dir`` — cross-batch dedup whose state
        IS the output table.
     4. with ``near_dup_threshold`` set: NEAR-duplicate screening too —
        within-batch MinHash pairs → connected components → keep the
        min-id representative, then drop batch docs whose banded
        signature matches the maintained index at
        ``{out_dir}_minhash_index`` with est_jaccard ≥ threshold.
        The index grows with the corpus, so near-dup state is also
        just a parquet table. With ``near_dup_n_buckets`` the index is
        kept as a BUCKETED table on (band, bucket) — the per-batch
        candidate join then needs no index-side exchange (same lever
        as ``span_dedup["n_buckets"]``), appends land one file per
        bucket, and compaction rewrites the buckets in place.
     5. append survivors (original columns + ``fp``) to the corpus,
        THEN append their index rows. foreachBatch is at-least-once:
        with this order a crash between the two writes replays the
        batch, the corpus anti-join (3) drops the already-landed rows,
        and at worst the index misses their rows until the next
        compaction — whereas index-first would let the replay see the
        docs' OWN index rows in 4b and silently drop them from the
        corpus forever. Duplicate/missing index rows are benign;
        lost corpus rows are not. The survivor set is pinned with an
        eager localCheckpoint before either write so the index build
        cannot lazily re-scan the corpus files the first write just
        appended (which would anti-join the survivors against
        themselves).

    With ``span_dedup`` (e.g. ``{"k": 5, "min_len": 10}``):
    SUBSTRING-level dedup on ingest — the incremental form of the
    batch :func:`~..operators.text.excise_duplicate_spans` pass. Each
    batch's duplicate spans are located against (a) the batch itself
    (cross-doc, min-id keeper) and (b) the persisted
    ``{out_dir}_gram_index`` of every k-gram hash already landed
    (earlier content is the keeper by arrival), then EXCISED — the
    document still lands, minus the copied runs; exactly one copy of
    every ≥min_len token run survives the whole ingest history.
    Fully-excised docs land with empty text (the caller's filter
    decides). The index appends the survivors' post-excision gram
    hashes AFTER the corpus write (same at-least-once ordering as the
    MinHash index) and is compacted (dedupe + range-cluster) on the
    ``compact_every`` cadence. Cost note: the index is
    corpus-token-sized and the per-batch equi-join against it is the
    heaviest screen here — the honest price of substring-level
    guarantees (a suffix array is bigger). Add ``"n_buckets": B`` to
    keep the index as a BUCKETED external table on ``gram``: the
    per-batch join then needs no index-side exchange (the bucketed
    scan satisfies the join's distribution; only the batch-sized probe
    shuffles), appends land one file per bucket, and compaction
    rewrites the buckets in place — the co-located-join layout a real
    cluster wants at corpus scale.

    With ``track_components=True`` (requires ``near_dup_threshold``),
    the ingest also maintains ``{out_dir}_components`` — an (id, comp)
    table labelling every near-duplicate GROUP seen across the whole
    ingest history, not just the pair screens (VERDICT r8 item 5):
    ``comp`` is the minimum id reachable in the union of every batch's
    duplicate-pair graph, exactly the labelling the batch
    :func:`~..operators.dedup.connected_components` operators produce
    on the replayed corpus (stream==batch pytest). Per batch, the
    within-batch pairs plus the batch-vs-index matches are merged into
    the state by :func:`~..operators.dedup.update_components` — CC runs
    only on the batch-sized component graph — and the state is
    rewritten through the same crash-safe directory swap as the other
    state tables. The edge set covers EXACT duplicates too (batch-mode
    MinHash pairs them at est 1.0): within-batch star edges from the
    step-2 reduction and cross-batch star edges to the min landed doc
    per matched fingerprint — exact dups always chain through a landed
    doc, so they need no index rows. Three behavior changes make the
    labelling batch-faithful: the index append covers ALL near-dup-
    screened docs (dropped near-dups too — a later doc chained only
    through a dropped doc must still join its group, as it would in
    batch mode; with ``span_dedup`` these index rows cover the
    PRE-excision token stream — duplicate evidence matches the text
    as ingested), the index probe and within-batch pair scan run on
    the batch BEFORE cross-batch-exact removal, and a doc whose
    within-batch near-dup representative is itself an exact dup of a
    landed doc is dropped (as batch mode would drop it). Replay is
    idempotent AND self-healing: ``screened`` is pinned before the
    landed anti-join, so a replayed batch re-derives edges and index
    rows for docs an interrupted run landed but failed to index.

    By default the component state is rewritten per batch through the
    crash-safe swap — O(corpus) writes per micro-batch, fine at test
    scale. With ``components_n_buckets=B`` the state becomes an
    APPEND-ONLY VERSIONED table BUCKETED on ``id``: each batch appends
    only the delta (:func:`~..operators.dedup.update_components_delta`
    — new vertices + members of components the batch actually merged)
    with ``ver = batch_id``, reads resolve latest-version-per-id with
    NO exchange above the bucketed scan (the groupBy's hash
    distribution is satisfied by the bucket layout), and the
    ``compact_every`` cadence folds the table back to one row per id
    preserving the layout. This is the 100 TB shape: per-batch write
    cost tracks the batch, not the corpus, and no per-batch directory
    swap. Resolved labels are identical to the rewrite path
    (pytest-pinned).

    With ``maintain_vocab=True``, each batch's surviving (token, cnt)
    partials are appended to ``{out_dir}_vocab`` — a mergeable corpus
    summary (re-aggregate with SUM on read; compacted to one row per
    token on the ``compact_every`` cadence). When both flags are on,
    the drift check reads THIS table instead of re-tokenizing the
    landed corpus — the shape that holds at 100 TB (the summary is
    vocab-sized; the corpus is not). A crash between the corpus and
    vocab appends loses that batch's partials from the summary — an
    accepted observability gap, never a correctness one (dedup state
    is the corpus itself, not the vocab).

    With ``maintain_postings=True``, each batch appends BM25-grade
    retrieval state from ONE tokenization pass of its survivors, so
    the two tables cannot disagree:

    - ``{out_dir}_postings``: the full INVERTED POSTINGS, one
      (batch_id, token, doc_id, tf, dl) row per surviving (doc, token)
      pair (plus the token's ascending offsets with
      ``postings_positions=True``, the phrase/proximity layout);
    - ``{out_dir}_lexicon``: per surviving token (batch_id, token, df,
      cnt, 0, 0, max_tf, min_dl) — df the number of landed docs
      containing the token, max_tf/min_dl the WAND impact partials —
      plus one (batch_id, NULL, 0, 0, n_docs, sum_dl, 0, 0) row, all
      integer partials mergeable by SUM/MAX/MIN.

    :func:`~..operators.text.bm25_topk_from_postings` then answers the
    BM25 query with NO read of the landed corpus: N, Σdl and per-term
    df from the vocab-sized lexicon (equal to the one-shot batch
    statistics exactly — integer sums are order-free), per-doc (tf,
    dl) from the postings filtered to the query terms. With
    ``postings_n_buckets=B`` the postings live in an external BUCKETED
    table on ``token`` (the gram-index lever): query-time
    `token IN (...)` prunes to the matching buckets, so a q-term
    lookup touches B_hit/B of the files and the read cost tracks the
    TERM's posting list, not the corpus. Crash-safe by ordering +
    layout: postings, then lexicon, are appended BEFORE the corpus (a
    crash in between replays the batch, whose survivors re-derive
    byte-identical rows — removed on read by the (batch_id, token,
    doc_id) and (batch_id, token) dedups), and a replay AFTER the
    corpus landed finds zero survivors and appends nothing. The
    ``compact_every`` cadence folds both tables
    (:func:`compact_postings` keeps one file per bucket), so
    query-time file counts stay flat at ingest cadence. Reopening a
    state whose lexicon predates the impact partials, or that holds a
    lexicon but no postings, or whose postings layout differs from
    ``postings_positions``, raises ``ValueError``.

    With ``lm_floor`` set (requires ``maintain_vocab=True``), each
    batch is ALSO gated by the corpus's own incremental language
    model — the CCNet recipe running live: documents whose mean log10
    unigram probability under the rolled vocabulary (Laplace-smoothed,
    :func:`~..operators.text.unigram_loglik_from_counts`) falls below
    the floor are dropped BEFORE dedup. The first batch (no vocabulary
    yet) passes ungated; from then on the model is everything landed
    so far, so the gate adapts as the corpus grows. Gibberish whose
    rule signals look fine (plausible lengths/ratios, OOV-heavy soup)
    is exactly what this catches.

    With ``quality_model`` set (a fitted
    :func:`~..ml.quality.fit_quality_classifier` PipelineModel or a
    saved-model path), each batch is ALSO gated by the MODEL-BASED
    quality filter — the q160 CCNet/DataComp-LM classifier as an
    ingest screen: the batch's deterministic feature table is scored
    under the pre-fitted model and documents below
    ``quality_model_floor`` (p_head) are dropped before dedup. Under
    ``maintain_vocab=True`` the LM-proxy feature is computed against
    the corpus-so-far vocabulary summary, matching how the lm_floor
    gate reads it; train the model with the same ``lm_counts`` form
    for feature consistency.

    With ``track_drift=True``, each batch appends one row to
    ``{out_dir}_drift`` — (batch_id, n_batch_docs, n_landed_docs,
    n_tokens_batch, n_tokens_corpus, n_shared_tokens, jsd_bits) from
    :func:`~..operators.text.distribution_shift` of the POST-quality
    batch against the landed corpus — the ingest-time observability
    table that catches a crawl source drifting away from (or
    collapsing into) the corpus distribution. The first batch (empty
    corpus) records jsd 1.0 by convention. With ``maintain_vocab`` the
    corpus side reads the rolled summary; without it, one token
    aggregation of the full corpus per batch (fine at test scale,
    turn on the vocab at 100 TB).

    With ``compact_every=N``, every N batches the index is rewritten by
    :func:`~..operators.dedup.compact_minhash_index` — re-deduped,
    re-capped globally at ``max_bucket_size``, and range-clustered —
    so a hot bucket cannot grow unbounded across appends and the file
    count stays flat at ingest cadence.

    Returns the finished StreamingQuery (Trigger.AvailableNow).
    """
    from ..operators.dedup import (
        compact_minhash_index,
        connected_components_alternating,
        minhash_dedup_pairs,
        minhash_index,
        query_minhash_index,
    )

    from ..sources.state import recover_interrupted_swap

    # Repair any compaction swap a previous run crashed in the middle
    # of — these dirs ARE the dedup state; a missing one would read as
    # "first batch" and silently re-ingest duplicates (ADVICE r6).
    for state_dir in (
        out_dir.rstrip("/"),
        out_dir.rstrip("/") + "_minhash_index",
        out_dir.rstrip("/") + "_vocab",
        out_dir.rstrip("/") + "_lexicon",
        out_dir.rstrip("/") + "_postings",
        out_dir.rstrip("/") + "_gram_index",
        out_dir.rstrip("/") + "_components",
    ):
        recover_interrupted_swap(state_dir)

    if track_components and near_dup_threshold is None:
        raise ValueError(
            "track_components requires near_dup_threshold — duplicate "
            "groups are defined by the MinHash pair graph"
        )
    comp_dir = out_dir.rstrip("/") + "_components"
    cb, comp_tbl = _components_setup(
        stream.sparkSession, comp_dir, track_components,
        components_n_buckets,
        stream.schema[id_col].dataType.simpleString(),
    )

    orig_cols = [c for c in stream.columns]
    if apply_quality:
        # Mirror the batch path's "auto" language mode: lang_profiles
        # with lang_col omitted/"auto" derives the language via
        # lang_id for the duration of the (map-only, streaming-safe)
        # gate; the helper column never lands.
        qk = dict(quality_kwargs)
        src = stream
        if qk.get("lang_profiles") and qk.get("lang_col", "auto") == "auto":
            from ..operators.text import lang_id

            src = stream.withColumn(
                "__lang_auto", lang_id(F.col(text_col))
            )
            qk["lang_col"] = "__lang_auto"
        gated = quality_rules(src, text_col=text_col, **qk).filter(
            F.col("keep")
        ).select(*orig_cols)
    else:
        gated = stream
    gated = gated.withColumn("fp", fingerprint(F.col(text_col)))
    index_dir = out_dir.rstrip("/") + "_minhash_index"
    gram_dir = out_dir.rstrip("/") + "_gram_index"
    # span_dedup["n_buckets"]: store the gram index as an external
    # BUCKETED table on `gram` (hash-clustered files, bucket id in the
    # file name), so the heaviest streaming screen — the per-batch gram
    # equi-join against the corpus-token-sized index — needs NO
    # index-side exchange: the bucketed scan already satisfies the
    # join's distribution and only the (batch-sized) probe side
    # shuffles. THE 100 TB lever for streaming substring dedup
    # (VERDICT r7 item 1).
    sd_buckets = int(span_dedup.get("n_buckets") or 0) if span_dedup else 0
    if sd_buckets:
        _check_bucket_marker(gram_dir, sd_buckets, "gram index")
        gram_tbl = _register_gram_table(
            stream.sparkSession, gram_dir, sd_buckets
        )
        # Marker lands BEFORE any data file can (ADVICE r8): a crash
        # between the first bucketed append and a marker-after-append
        # would leave bucket-named files reopenable at any count.
        _write_bucket_marker(gram_dir, sd_buckets)
    else:
        gram_tbl = None
    # near_dup_n_buckets: the same shuffle-free-index lever for the
    # MinHash screen — bucket the (band, bucket)-keyed index table so
    # the per-batch candidate join needs no index-side exchange.
    mh_buckets = int(near_dup_n_buckets or 0) if near_dup_threshold else 0
    if mh_buckets:
        from pyspark.sql.types import StructType

        from ..operators.dedup import minhash_index as _mi

        _check_bucket_marker(index_dir, mh_buckets, "MinHash index")
        sub = StructType(
            [stream.schema[id_col], stream.schema[text_col]]
        )
        spark0 = stream.sparkSession
        mi_schema = _mi(
            spark0.createDataFrame([], sub), text_col, id_col
        ).schema
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in mi_schema
        )
        mh_tbl = _register_bucketed_state(
            spark0, index_dir, _minhash_table_name(index_dir), ddl,
            ["band", "bucket"], mh_buckets,
        )
        _write_bucket_marker(index_dir, mh_buckets)
    else:
        mh_tbl = None

    lexicon_dir = out_dir.rstrip("/") + "_lexicon"
    postings_dir = out_dir.rstrip("/") + "_postings"
    if maintain_postings and _has_parquet(lexicon_dir):
        # Same refuse-a-silent-mix rule as the positional postings
        # guard below (ADVICE r16 medium): a lexicon built before the
        # (max_tf, min_dl) impact columns existed would union into a
        # mixed-schema dir whose old batches read as NULL partials —
        # bm25_topk_wand's F.max over null-padded batches then
        # UNDERESTIMATES the true global max_tf (an unsafe,
        # wrong-top-k pruning bound). Appends must keep one schema.
        lex_cols = {
            f.name
            for f in stream.sparkSession.read.parquet(lexicon_dir)
            .schema.fields
        }
        if not {"max_tf", "min_dl"} <= lex_cols:
            raise ValueError(
                f"lexicon state at {lexicon_dir} predates the "
                "(max_tf, min_dl) impact partials; appending would mix "
                "schemas and make WAND pruning unsafe — rebuild the "
                "state (re-ingest) before appending"
            )
        # A lexicon with no postings was built lexicon-only (an older
        # ingest mode; postings are written before the lexicon, so a
        # crash cannot leave this): its early docs would count in N
        # and df but have no postings rows, and postings BM25 would
        # silently miss them.
        if not _has_parquet(postings_dir):
            raise ValueError(
                f"lexicon state at {lexicon_dir} has no postings at "
                f"{postings_dir}; its docs would be missing from "
                "postings queries — rebuild the state (re-ingest)"
            )
    pg_buckets = int(postings_n_buckets or 0) if maintain_postings else 0
    if maintain_postings and _has_parquet(postings_dir):
        # Positional and positionless postings are DIFFERENT layouts —
        # refuse a silent mix (the raw/codes embedding-state lesson):
        # appended rows would union mismatched schemas and phrase
        # queries would silently miss older docs.
        had = "positions" in {
            f.name
            for f in stream.sparkSession.read.parquet(postings_dir)
            .schema.fields
        }
        if had != bool(postings_positions):
            raise ValueError(
                f"postings state at {postings_dir} was built "
                f"{'WITH' if had else 'WITHOUT'} positions; reopen with "
                f"postings_positions={had} or rebuild the state"
            )
    pos_ddl = ", positions ARRAY<INT>" if postings_positions else ""
    if pg_buckets:
        _check_bucket_marker(postings_dir, pg_buckets, "postings index")
        id_ddl = stream.schema[id_col].dataType.simpleString()
        pg_tbl = _register_bucketed_state(
            stream.sparkSession, postings_dir,
            _state_table_name(postings_dir, "postings"),
            f"batch_id BIGINT, token STRING, doc_id {id_ddl}, "
            f"tf BIGINT, dl BIGINT{pos_ddl}",
            ["token"], pg_buckets, sort_cols=["token"],
        )
        _write_bucket_marker(postings_dir, pg_buckets)
    else:
        pg_tbl = None

    _read_state = _read_state_dir  # shared missing-vs-corrupt handling

    # Model-based gate: resolve once at ingest start (a path string
    # loads the persisted PipelineModel; a fitted model passes through)
    # — never per batch.
    if isinstance(quality_model, str):
        from pyspark.ml import PipelineModel

        _qmodel = PipelineModel.load(quality_model)
    else:
        _qmodel = quality_model

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vocab_dir = out_dir.rstrip("/") + "_vocab"
        cached = batch_df.persist()
        batch_df = cached
        try:
            vocab_pre = (
                _read_state(spark, vocab_dir) if maintain_vocab else None
            )
            # 1b: incremental-LM gate against the corpus-so-far model.
            if lm_floor is not None and vocab_pre is not None:
                from ..operators.text import unigram_loglik_from_counts

                passing = (
                    unigram_loglik_from_counts(
                        batch_df, vocab_pre, text_col=text_col, id_col=id_col
                    )
                    .filter(F.col("mean_logp") >= F.lit(lm_floor))
                    .select(id_col)
                )
                batch_df = batch_df.join(passing, on=id_col, how="left_semi")
            # 1c: model-based quality gate (the q160 classifier as an
            # ingest screen — CCNet's trained filter instead of the
            # rule thresholds alone). Scores the batch's deterministic
            # feature table under the PRE-FITTED model; the LM-proxy
            # feature uses the corpus-so-far vocabulary summary when
            # the ingest maintains one (a batch-local unigram model is
            # meaningless at micro-batch size).
            if _qmodel is not None:
                from ..ml.quality import score_quality

                keep_q = (
                    score_quality(
                        _qmodel, batch_df, text_col=text_col,
                        id_col=id_col, keep_threshold=quality_model_floor,
                        lm_counts=vocab_pre,
                    )
                    .filter(F.col("keep"))
                    .select(id_col)
                )
                batch_df = batch_df.join(keep_q, on=id_col, how="left_semi")
            # 2: within-batch exact dedup — one shuffle of (fp, id).
            keep = batch_df.groupBy("fp").agg(F.min(id_col).alias(id_col))
            exact_within = None
            if track_components:
                # Exact duplicates are duplicate GROUP members too
                # (batch-mode MinHash pairs them at est 1.0): star
                # edges keeper→dropped from the step-2 reduction.
                exact_within = (
                    batch_df.select(F.col(id_col), "fp")
                    .join(
                        keep.withColumnRenamed(id_col, "__keep"), on="fp"
                    )
                    .filter(F.col(id_col) != F.col("__keep"))
                    .select(
                        F.col("__keep").alias("id_a"),
                        F.col(id_col).alias("id_b"),
                    )
                )
            batch_df = batch_df.join(keep, on=[id_col, "fp"], how="left_semi")
            screened = None
            if track_components:
                # Pin the post-within-exact batch BEFORE the landed
                # anti-join: (a) the index build below must cover docs
                # the cross-batch screens drop; (b) a REPLAYED batch's
                # already-landed docs stay in `screened`, so an
                # interrupted run's missing index rows and edges are
                # re-derived — the crash window between the corpus and
                # index appends self-heals; (c) the pin prevents a
                # lazy re-read of the state files this batch mutates.
                batch_df = batch_df.localCheckpoint(eager=True)
                screened = batch_df
            # 3: cross-batch exact dedup against the landed corpus.
            seen = _read_state(spark, out_dir)
            exact_cross = None
            if track_components and seen is not None:
                # Star edges (min landed id per matched fingerprint →
                # batch doc): exact dups chain through a LANDED doc, so
                # they never need index rows — the shuffle carries only
                # the matched fingerprints.
                landed_min = (
                    seen.select("fp", F.col(id_col))
                    .join(
                        F.broadcast(screened.select("fp").distinct()),
                        on="fp",
                        how="left_semi",
                    )
                    .groupBy("fp")
                    .agg(F.min(id_col).alias("__lid"))
                )
                exact_cross = (
                    screened.select(F.col(id_col), "fp")
                    .join(landed_min, on="fp")
                    .select(
                        F.col("__lid").alias("id_a"),
                        F.col(id_col).alias("id_b"),
                    )
                )
            if seen is not None:
                batch_df = batch_df.join(
                    seen.select("fp"), on="fp", how="left_anti"
                )
            comp_edges = None
            if near_dup_threshold is not None:
                # 4a: within-batch near-dups — pairs → components →
                # min-id representative survives. Under
                # track_components the pair scan covers `screened`
                # (pre-cross-batch-exact), which is batch-faithful: a
                # doc whose within-batch rep is itself an exact dup of
                # a landed doc is dropped in batch mode too.
                pairs = minhash_dedup_pairs(
                    screened if track_components else batch_df,
                    text_col, id_col,
                ).filter(F.col("est_jaccard") >= near_dup_threshold)
                labels = connected_components_alternating(
                    pairs.select("id_a", "id_b")
                )
                non_rep = labels.filter(F.col("id") != F.col("comp")).select(
                    F.col("id").alias(id_col)
                )
                batch_df = batch_df.join(non_rep, on=id_col, how="left_anti")
                # 4b: near-dups of anything already landed. The
                # bucketed table read carries its (band, bucket) hash
                # distribution into the candidate join — no index-side
                # exchange.
                if mh_buckets:
                    index = (
                        spark.table(mh_tbl)
                        if _has_parquet(index_dir)
                        else None
                    )
                else:
                    index = _read_state(spark, index_dir)
                cand = None
                if index is not None:
                    # Under track_components the probe is the FULL
                    # screened batch: a dropped doc's cross-batch edges
                    # still define its group membership.
                    cand = query_minhash_index(
                        index,
                        screened if track_components else batch_df,
                        text_col, id_col,
                        threshold=near_dup_threshold,
                    )
                    matched = (
                        cand.select(F.col("query_id").alias(id_col))
                        .distinct()
                    )
                    batch_df = batch_df.join(matched, on=id_col, how="left_anti")
                if track_components:
                    comp_edges = pairs.select("id_a", "id_b")
                    if cand is not None:
                        comp_edges = comp_edges.unionByName(
                            cand.select(
                                F.col("query_id").alias("id_a"),
                                F.col("index_id").alias("id_b"),
                            )
                        )
                    for extra in (exact_within, exact_cross):
                        if extra is not None:
                            comp_edges = comp_edges.unionByName(extra)
                    # Pin the edge list BEFORE any state write below —
                    # cand laid over the index table must not lazily
                    # re-scan files this batch appends to it.
                    comp_edges = comp_edges.localCheckpoint(eager=True)
            if span_dedup is not None:
                # 4c: substring-level excision — spans duplicated
                # within the batch OR against the landed gram index
                # are cut out; the doc still lands, minus the copies.
                from ..operators.text import (
                    duplicate_spans_vs_index,
                    excise_spans,
                )

                sd_k = span_dedup.get("k", 5)
                sd_min = span_dedup.get("min_len", 2 * sd_k)
                if sd_buckets:
                    # The bucketed table read carries its hash
                    # distribution into the join — no index exchange.
                    gram_idx = (
                        spark.table(gram_tbl)
                        if _has_parquet(gram_dir)
                        else None
                    )
                else:
                    gram_idx = _read_state(spark, gram_dir)
                spans = duplicate_spans_vs_index(
                    batch_df, gram_idx, k=sd_k, min_len=sd_min,
                    text_col=text_col, id_col=id_col,
                )
                cleaned = excise_spans(
                    batch_df, spans, text_col=text_col, id_col=id_col
                ).select(id_col, F.col("clean_text").alias("__clean"))
                cols = batch_df.columns
                batch_df = (
                    batch_df.join(cleaned, on=id_col, how="left")
                    .withColumn(
                        text_col,
                        F.coalesce(F.col("__clean"), F.col(text_col)),
                    )
                    .select(*cols)
                )
            # Pin the survivor set: truncate lineage so the writes below
            # cannot trigger a re-read of state files this batch mutates.
            survivors = batch_df.localCheckpoint(eager=True)
            if track_components and comp_edges is not None:
                # Merge this batch's duplicate-pair graph into the
                # (id, comp) state (shared helper with the embedding
                # ingest) — CC runs on the batch-sized comp graph
                # only. Ordering: components BEFORE the corpus append
                # — a crash after the corpus write would replay the
                # batch with its landed docs anti-joined out (step 3),
                # so their edges would never be recomputed; merged the
                # other way round a replay re-merges the same edges
                # idempotently (min labels are idempotent under
                # re-union) and then lands the docs.
                _merge_component_state(
                    spark, comp_dir, comp_tbl, cb, comp_edges,
                    batch_id, stream.schema[id_col].dataType,
                    compact_every=compact_every,
                    auto_compact_files=components_auto_compact_files,
                )
            if maintain_postings and survivors.head(1):
                # BEFORE the corpus append (see docstring: a replay
                # after the corpus landed has zero survivors and must
                # append nothing; a replay before it re-derives these
                # exact rows, deduped on read by (batch_id, token)).
                from ..operators.text import tokens as _tokens

                toks = survivors.select(
                    F.col(id_col).alias("__lid"),
                    _tokens(F.lower(F.col(text_col))).alias("__toks"),
                )
                if postings_positions:
                    # posexplode carries each token's 0-based offset;
                    # sort_array makes the collected positions list a
                    # deterministic exact fact (ascending offsets) —
                    # the phrase-query primitive. tf == len(positions)
                    # by construction, so the positionless consumers
                    # are unchanged.
                    per_tok = (
                        toks.select(
                            "__lid",
                            F.size("__toks").cast("long").alias("__dl"),
                            F.posexplode_outer("__toks").alias(
                                "__pos", "token"
                            ),
                        )
                        .filter(F.col("token").isNotNull())
                        .groupBy("__lid", "__dl", "token")
                        .agg(
                            F.count("*").cast("long").alias("__tf"),
                            F.sort_array(
                                F.collect_list(F.col("__pos").cast("int"))
                            ).alias("__positions"),
                        )
                    )
                else:
                    per_tok = (
                        toks.select(
                            "__lid",
                            F.size("__toks").cast("long").alias("__dl"),
                            F.explode_outer("__toks").alias("token"),
                        )
                        .filter(F.col("token").isNotNull())
                        .groupBy("__lid", "__dl", "token")
                        .agg(F.count("*").cast("long").alias("__tf"))
                    )
                # Full inverted postings from the SAME per_tok pass
                # (one row per surviving (doc, token)); dl rides
                # along so query time never rejoins the corpus.
                postings = per_tok.select(
                    F.lit(int(batch_id)).cast("long").alias("batch_id"),
                    "token",
                    F.col("__lid").alias("doc_id"),
                    F.col("__tf").alias("tf"),
                    F.col("__dl").alias("dl"),
                    *(
                        [F.col("__positions").alias("positions")]
                        if postings_positions
                        else []
                    ),
                )
                if pg_tbl is not None:
                    _append_bucketed(
                        postings, pg_tbl, pg_buckets, ["token"],
                        sort_cols=["token"],
                    )
                else:
                    postings.write.mode("append").parquet(postings_dir)
                # max_tf / min_dl are the per-term IMPACT partials the
                # WAND/MaxScore pruned BM25 needs (Turtle & Flood 1995;
                # Broder 2003): the BM25 tf-component is increasing in
                # tf and decreasing in dl, so g(max_tf, min_dl) under
                # the CURRENT global stats upper-bounds every posting's
                # score without reading its list. Same tokenize pass,
                # vocab-sized; max/min fold exactly across batches.
                token_rows = per_tok.groupBy("token").agg(
                    F.count("*").cast("long").alias("df"),
                    F.sum("__tf").cast("long").alias("cnt"),
                    F.max("__tf").cast("long").alias("max_tf"),
                    F.min("__dl").cast("long").alias("min_dl"),
                ).select(
                    F.lit(int(batch_id)).cast("long").alias("batch_id"),
                    "token", "df", "cnt",
                    F.lit(0).cast("long").alias("n_docs"),
                    F.lit(0).cast("long").alias("sum_dl"),
                    "max_tf", "min_dl",
                )
                doc_row = toks.agg(
                    F.count("*").cast("long").alias("n_docs"),
                    F.coalesce(
                        F.sum(F.size("__toks").cast("long")), F.lit(0)
                    ).cast("long").alias("sum_dl"),
                ).select(
                    F.lit(int(batch_id)).cast("long").alias("batch_id"),
                    F.lit(None).cast("string").alias("token"),
                    F.lit(0).cast("long").alias("df"),
                    F.lit(0).cast("long").alias("cnt"),
                    "n_docs", "sum_dl",
                    F.lit(0).cast("long").alias("max_tf"),
                    F.lit(0).cast("long").alias("min_dl"),
                )
                token_rows.unionByName(doc_row).write.mode(
                    "append"
                ).parquet(lexicon_dir)
            # 5: corpus first, index second (see docstring).
            survivors.write.mode("append").parquet(out_dir)
            if maintain_vocab:
                from ..operators.text import token_counts

                token_counts(survivors, text_col).write.mode(
                    "append"
                ).parquet(vocab_dir)
            if track_drift:
                # After the corpus append (observability must never
                # block landing); measured on the CHECKPOINTED
                # survivors vs the pre-batch corpus snapshot — the
                # rolled vocab summary when maintained (never
                # re-tokenizes the corpus), else the full `seen` text
                # (both read before the append — the lineage-pin rule).
                from ..operators.text import (
                    distribution_shift,
                    distribution_shift_from_counts,
                    token_counts,
                )

                if maintain_vocab and vocab_pre is not None:
                    shift = distribution_shift_from_counts(
                        token_counts(survivors, text_col), vocab_pre
                    )
                else:
                    base_side = (
                        seen if seen is not None
                        else spark.createDataFrame([], survivors.schema)
                    )
                    shift = distribution_shift(
                        survivors, base_side, text_col=text_col
                    )
                # The doc counts ride INSIDE the drift job as one-row
                # broadcast aggregates (VERDICT r6 item 6) — the write
                # below is the batch's single observability action, not
                # three (two bare .count() jobs used to precede it).
                n_batch = survivors.agg(
                    F.count("*").cast("long").alias("n_batch_docs")
                )
                n_landed = (
                    seen.agg(F.count("*").cast("long").alias("n_landed_docs"))
                    if seen is not None
                    else spark.createDataFrame([(0,)], "n_landed_docs long")
                )
                drift = (
                    shift
                    .crossJoin(F.broadcast(n_batch))
                    .crossJoin(F.broadcast(n_landed))
                    .select(
                        F.lit(batch_id).cast("long").alias("batch_id"),
                        "n_batch_docs",
                        "n_landed_docs",
                        F.col("n_tokens_a").alias("n_tokens_batch"),
                        F.col("n_tokens_b").alias("n_tokens_corpus"),
                        "n_shared_tokens",
                        "jsd_bits",
                    )
                )
                drift.write.mode("append").parquet(out_dir.rstrip("/") + "_drift")
            if near_dup_threshold is not None:
                # Group tracking indexes ALL screened docs (dropped
                # near-dups included), so later batches can chain
                # through them exactly as batch-mode CC would — EXCEPT
                # fresh cross-batch exact dups (fp already landed, id
                # not): their signatures are byte-identical to their
                # landed keeper's, so indexing them would only bloat
                # hot (band, bucket)s and let the lowest-id compaction
                # cap evict distinct docs' witness rows. The replay
                # heal only needs rows whose id IS landed.
                if track_components:
                    idx_src = screened
                    if seen is not None:
                        fresh_dups = (
                            screened.join(
                                seen.select("fp"), on="fp", how="left_semi"
                            )
                            .join(
                                seen.select(id_col), on=id_col,
                                how="left_anti",
                            )
                            .select(id_col)
                        )
                        idx_src = screened.join(
                            fresh_dups, on=id_col, how="left_anti"
                        )
                else:
                    idx_src = survivors
                mi = minhash_index(idx_src, text_col, id_col)
                if mh_buckets:
                    _append_bucketed(
                        mi, mh_tbl, mh_buckets, ["band", "bucket"]
                    )
                else:
                    mi.write.mode("append").parquet(index_dir)
                if (
                    compact_every
                    and (batch_id + 1) % compact_every == 0
                    and os.path.exists(index_dir)
                ):
                    # Under group tracking the index also holds DROPPED
                    # docs' rows; landed survivors' witness rows must
                    # win the compaction cap over them or hot buckets
                    # silently lose screen recall (ADVICE r9). The
                    # corpus was appended above, so this read sees the
                    # batch's own survivors too.
                    prefer = None
                    if track_components:
                        landed_now = _read_state_dir(spark, out_dir)
                        if landed_now is not None:
                            prefer = landed_now.select(
                                F.col(id_col).alias("id")
                            )
                    if mh_buckets:
                        compact_minhash_index_bucketed(
                            spark, index_dir, mh_buckets,
                            prefer_ids=prefer,
                        )
                    else:
                        compact_minhash_index(
                            spark, index_dir, prefer_ids=prefer
                        )
            if span_dedup is not None:
                from ..operators.text import gram_index as build_gram_index

                gi = build_gram_index(
                    survivors, k=span_dedup.get("k", 5),
                    text_col=text_col, id_col=id_col,
                )
                if sd_buckets:
                    _append_bucketed(
                        gi, gram_tbl, sd_buckets, ["gram"],
                        sort_cols=["gram"],
                    )
                else:
                    gi.write.mode("append").parquet(gram_dir)
                if compact_every and (batch_id + 1) % compact_every == 0:
                    # Rebuild from the landed corpus: exact state, and
                    # it heals index rows lost to a crash between the
                    # corpus and index appends (see compact_gram_index).
                    compact_gram_index(
                        spark, gram_dir, corpus_dir=out_dir,
                        k=span_dedup.get("k", 5),
                        text_col=text_col, id_col=id_col,
                        n_buckets=sd_buckets or None,
                    )
            if (
                maintain_vocab
                and compact_every
                and (batch_id + 1) % compact_every == 0
                and os.path.exists(vocab_dir)
            ):
                compact_vocab(spark, vocab_dir)
            if (
                maintain_postings
                and compact_every
                and (batch_id + 1) % compact_every == 0
                and _has_parquet(postings_dir)
            ):
                compact_lexicon(spark, lexicon_dir)
                compact_postings(
                    spark, postings_dir, n_buckets=pg_buckets or None
                )
        finally:
            cached.unpersist()

    query = (
        gated.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def compact_gram_index(
    spark: SparkSession,
    path: str,
    corpus_dir: str | None = None,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
) -> None:
    """Compact the substring-dedup gram index: range-clustered on
    ``gram`` (footer min/max file pruning) in the default layout, or
    re-BUCKETED at ``n_buckets`` when the index is maintained as a
    bucketed table — compaction then folds each bucket's accumulated
    per-append files back to one file per bucket while PRESERVING the
    shuffle-free join property (bucket ids ride the file names through
    the directory swap; the rewrite uses the same murmur3 bucket
    spec).

    With ``corpus_dir`` the index is REBUILT from the landed corpus —
    the corpus is the source of truth, so this is an exact state
    reconstruction that also HEALS the at-least-once crash window
    (corpus appended, index append lost: the replayed batch's
    survivors are empty, so append-only maintenance can never recover
    those grams — only a rebuild can). Cost: one full corpus
    re-tokenization per compaction; at ingest cadence that amortizes,
    and it is the price of making "misses until the next compaction"
    literally true. Without ``corpus_dir`` it only folds the appended
    partials to distinct hashes (no heal, no corpus scan).

    Swapped in atomically like the other state compactions; an
    interrupted swap is repaired on the next ingest start."""
    import shutil

    from ..operators.text import gram_index as build_gram_index
    from ..sources.state import TMP_SUFFIX, atomic_swap_dirs
    from ..sources.writers import write_range_clustered

    path = path.rstrip("/")
    if corpus_dir is not None:
        idx = build_gram_index(
            spark.read.parquet(corpus_dir), k=k,
            text_col=text_col, id_col=id_col,
        )
    else:
        # A bucketed dir reads fine as plain parquet — bucketing is
        # file layout; no catalog dependency needed for the fold.
        idx = spark.read.parquet(path).dropDuplicates(["gram"])
    if n_buckets:
        _rewrite_bucketed_state(
            spark, path, _gram_table_name(path), idx, n_buckets,
            ["gram"], sort_cols=["gram"],
        )
        return
    tmp = path + TMP_SUFFIX
    write_range_clustered(idx, tmp, "gram")
    if os.path.exists(path):
        atomic_swap_dirs(path)
    else:  # healing a crash that lost the very first index write
        os.rename(tmp, path)
        shutil.rmtree(path + "__precompact", ignore_errors=True)


def compact_vocab(spark: SparkSession, path: str) -> None:
    """Fold the appended (token, cnt) vocabulary partials to one row
    per token — a plain SUM, because the summary is mergeable by
    construction. Swapped in like the index compaction; an interrupted
    swap is repaired on the next ingest start."""
    from ..sources.state import TMP_SUFFIX, atomic_swap_dirs

    df = spark.read.parquet(path)
    folded = df.groupBy("token").agg(F.sum("cnt").cast("long").alias("cnt"))
    folded.coalesce(1).write.mode("overwrite").parquet(
        path.rstrip("/") + TMP_SUFFIX
    )
    atomic_swap_dirs(path)


def compact_postings(
    spark: SparkSession, path: str, n_buckets: int | None = None
) -> None:
    """Fold the appended per-batch postings to one row per (token,
    doc_id): a doc lands exactly once, so cross-batch duplicates can
    only be byte-identical replay partials — dedup by (batch_id,
    token, doc_id), restamp batch_id = -1 (committed batches can never
    replay, so the fold is final; later appends carry real ids), and
    rewrite. Bucketed mode folds each token bucket's accumulated
    per-append files back to ONE file per bucket while preserving the
    pruning/bucket-join layout (the gram-index compaction property);
    plain mode coalesces through the same crash-safe swap. This is
    what keeps query-time file counts flat at ingest cadence."""
    from ..sources.state import TMP_SUFFIX, atomic_swap_dirs

    path = path.rstrip("/")
    raw = spark.read.parquet(path)
    folded = raw.dropDuplicates(["batch_id", "token", "doc_id"]).select(
        F.lit(-1).cast("long").alias("batch_id"),
        "token", "doc_id", "tf", "dl",
        *(["positions"] if "positions" in raw.columns else []),
    )
    if n_buckets:
        _rewrite_bucketed_state(
            spark, path, _state_table_name(path, "postings"), folded,
            n_buckets, ["token"], sort_cols=["token"],
        )
    else:
        folded.coalesce(1).write.mode("overwrite").parquet(
            path + TMP_SUFFIX
        )
        atomic_swap_dirs(path)


def compact_lexicon(spark: SparkSession, path: str) -> None:
    """Fold the appended per-batch lexicon partials to one row per
    token: dedup replayed batches by (batch_id, token) — replay
    partials are byte-identical by construction — then SUM the
    integer columns under batch_id = -1 (committed batches can never
    replay, so the fold is final; later appends carry real batch
    ids). Same crash-safe swap as the vocab compaction."""
    from ..sources.state import TMP_SUFFIX, atomic_swap_dirs

    df = spark.read.parquet(path).dropDuplicates(["batch_id", "token"])
    has_impacts = "max_tf" in df.columns
    folded = df.groupBy("token").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("cnt").cast("long").alias("cnt"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("sum_dl").cast("long").alias("sum_dl"),
        *(
            [
                # The impact partials fold exactly: max of per-batch
                # maxima / min of per-batch minima over the SAME
                # posting population (token rows only; the null-token
                # stats row carries 0s and folds to its own row).
                F.max("max_tf").cast("long").alias("max_tf"),
                F.min("min_dl").cast("long").alias("min_dl"),
            ]
            if has_impacts
            else []
        ),
    ).select(
        F.lit(-1).cast("long").alias("batch_id"),
        "token", "df", "cnt", "n_docs", "sum_dl",
        *(["max_tf", "min_dl"] if has_impacts else []),
    )
    folded.coalesce(1).write.mode("overwrite").parquet(
        path.rstrip("/") + TMP_SUFFIX
    )
    atomic_swap_dirs(path)


def merge_ingest_states(
    spark: SparkSession,
    src_a: str,
    src_b: str,
    dest: str,
    postings_n_buckets: int | None = None,
    id_col: str = "doc_id",
) -> dict:
    """MERGE two independently-built document ingest states into one
    queryable state (VERDICT r16 item 5 — the multi-source corpus
    operation): the landed corpora, inverted postings, lexicon, and
    (when both sides maintain one) vocabulary of ``src_a`` and
    ``src_b`` land under ``dest`` such that every retrieval probe
    (q184 BM25, q188 WAND, q189 phrase, q192 proximity) answers
    BIT-IDENTICALLY to a fresh single ingest over the concatenated
    corpus (A's shards first) — pinned by pytest.

    Semantics, derived from the ingest's own rules:

    - **First-landed wins across sources.** A fresh concatenated
      ingest drops any B doc whose exact fingerprint already landed
      from A; the merge applies the same fp anti-join (within-source
      dups were already settled by each source's own ingest).
    - **doc_ids must be disjoint** (a multi-source corpus has global
      ids by construction); colliding ids would silently fold under
      the (batch_id, token, doc_id) replay-dedup rule, so the merge
      REFUSES loudly instead.
    - **Postings union exactly** (they are per-(doc, token) integer
      facts): fold each side by the replay-dedup key, drop the B docs
      the fp rule excluded, restamp ``batch_id = -1`` — the
      compaction convention: committed batches can never replay, so
      the fold is final and continued ingests append real ids on top.
    - **Lexicon and vocab are RE-DERIVED from the merged postings**
      rather than summed: B's per-batch partials include its dropped
      docs, and max/min impact partials cannot be subtracted. Every
      lexicon quantity is an exact function of the surviving postings
      (df = distinct docs, cnt = Σtf, max_tf = max tf, min_dl =
      min dl; the null-token stats row's n_docs from the merged
      corpus — zero-token docs have no postings rows — and sum_dl =
      Σ per-doc dl), so the derived state folds to the same query-time
      aggregates as the fresh ingest's per-batch rows.

    Both sources must therefore carry postings + lexicon (the
    retrieval states this merge serves); positional and positionless
    layouts must match (the ingest's own refuse-a-mix rule). Dedup
    index siblings (MinHash / gram / components) are out of scope —
    they rebuild exactly from the merged corpus via their
    ``compact_*(corpus_dir=...)`` paths. ``dest`` must not exist.

    Scale shape: one fp equi-join (A fps broadcast-or-shuffled on the
    hash key), one id anti-join on the postings, token-keyed
    aggregations for the derived lexicon — every shuffle key is a
    hash/token, no driver-side data beyond two scalar stats. With
    ``postings_n_buckets`` the merged postings land as the bucketed
    table (marker written first), preserving q184's pruned-scan
    query shape.

    Returns {"n_docs", "n_dropped_b", "sum_dl"}."""
    pa, pb = src_a.rstrip("/") + "_postings", src_b.rstrip("/") + "_postings"
    la, lb = src_a.rstrip("/") + "_lexicon", src_b.rstrip("/") + "_lexicon"
    dest = dest.rstrip("/")
    for d in (dest, dest + "_postings", dest + "_lexicon", dest + "_vocab"):
        if os.path.exists(d):
            raise ValueError(f"merge destination already exists: {d}")
    for d in (pa, pb, la, lb):
        if not _has_parquet(d):
            raise ValueError(
                f"merge_ingest_states needs postings + lexicon on both "
                f"sides; missing: {d}"
            )
    corp_a = spark.read.parquet(src_a.rstrip("/"))
    corp_b = spark.read.parquet(src_b.rstrip("/"))
    post_a = spark.read.parquet(pa)
    post_b = spark.read.parquet(pb)
    pos_a = "positions" in post_a.columns
    pos_b = "positions" in post_b.columns
    if pos_a != pos_b:
        raise ValueError(
            f"postings layout mismatch: {pa} was built "
            f"{'WITH' if pos_a else 'WITHOUT'} positions, {pb} "
            f"{'WITH' if pos_b else 'WITHOUT'} — rebuild one side"
        )
    n_shared = (
        corp_a.select(id_col).distinct()
        .join(corp_b.select(id_col).distinct(), on=id_col, how="inner")
        .count()
    )
    if n_shared:
        raise ValueError(
            f"{n_shared} doc ids appear in BOTH sources — multi-source "
            "ids must be globally unique for an exact merge"
        )
    # First-landed-wins across sources: B docs whose fp landed from A
    # are exactly the docs a fresh concatenated ingest would drop.
    dropped_b = corp_b.join(
        corp_a.select("fp").distinct(), on="fp", how="left_semi"
    ).select(id_col)
    surv_b = corp_b.join(
        corp_a.select("fp").distinct(), on="fp", how="left_anti"
    )
    merged = corp_a.unionByName(surv_b)
    merged.write.parquet(dest)
    merged = spark.read.parquet(dest)  # pin lineage to the landed files

    pos_cols = ["positions"] if pos_a else []
    folded_a = post_a.dropDuplicates(
        ["batch_id", "token", "doc_id"]
    ).select("token", "doc_id", "tf", "dl", *pos_cols)
    folded_b = (
        post_b.dropDuplicates(["batch_id", "token", "doc_id"])
        .join(
            dropped_b.withColumnRenamed(id_col, "doc_id"),
            on="doc_id", how="left_anti",
        )
        .select("token", "doc_id", "tf", "dl", *pos_cols)
    )
    merged_post = folded_a.unionByName(folded_b).select(
        F.lit(-1).cast("long").alias("batch_id"),
        "token", "doc_id", "tf", "dl", *pos_cols,
    )
    pdir = dest + "_postings"
    if postings_n_buckets:
        nb = int(postings_n_buckets)
        id_ddl = merged.schema[id_col].dataType.simpleString()
        pos_ddl = ", positions ARRAY<INT>" if pos_a else ""
        tbl = _register_bucketed_state(
            spark, pdir, _state_table_name(pdir, "postings"),
            f"batch_id BIGINT, token STRING, doc_id {id_ddl}, "
            f"tf BIGINT, dl BIGINT{pos_ddl}",
            ["token"], nb, sort_cols=["token"],
        )
        _write_bucket_marker(pdir, nb)
        _append_bucketed(
            merged_post, tbl, nb, ["token"], sort_cols=["token"]
        )
    else:
        merged_post.write.parquet(pdir)
    merged_post = spark.read.parquet(pdir)

    # Derived lexicon: exact functions of the surviving postings plus
    # the corpus-level doc count (zero-token docs land no postings).
    n_docs = merged.count()
    per_doc_dl = merged_post.groupBy("doc_id").agg(
        F.max("dl").cast("long").alias("dl")
    )
    sum_dl_row = per_doc_dl.agg(
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s")
    ).collect()[0]
    sum_dl = int(sum_dl_row["s"])
    token_rows = merged_post.groupBy("token").agg(
        F.countDistinct("doc_id").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cnt"),
        F.max("tf").cast("long").alias("max_tf"),
        F.min("dl").cast("long").alias("min_dl"),
    ).select(
        F.lit(-1).cast("long").alias("batch_id"),
        "token", "df", "cnt",
        F.lit(0).cast("long").alias("n_docs"),
        F.lit(0).cast("long").alias("sum_dl"),
        "max_tf", "min_dl",
    )
    doc_row = spark.createDataFrame(
        [(-1, None, 0, 0, n_docs, sum_dl, 0, 0)],
        "batch_id long, token string, df long, cnt long, "
        "n_docs long, sum_dl long, max_tf long, min_dl long",
    )
    token_rows.unionByName(doc_row).coalesce(1).write.parquet(
        dest + "_lexicon"
    )

    if _has_parquet(src_a.rstrip("/") + "_vocab") and _has_parquet(
        src_b.rstrip("/") + "_vocab"
    ):
        # vocab cnt == Σtf over the surviving docs (same tokenizer) —
        # derived, for the same cannot-subtract reason as the lexicon.
        merged_post.groupBy("token").agg(
            F.sum("tf").cast("long").alias("cnt")
        ).coalesce(1).write.parquet(dest + "_vocab")

    n_dropped = dropped_b.count()
    return {"n_docs": int(n_docs), "n_dropped_b": int(n_dropped),
            "sum_dl": sum_dl}
