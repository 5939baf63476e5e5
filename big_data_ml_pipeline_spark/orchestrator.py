"""Config-driven pipeline orchestrator (SURVEY.md §3 E1).

The reference's primary entry point is a YAML-configured orchestrator
(reference src/ml_pipeline.py:28-355: load config → build session →
load data → feature pipeline → train → evaluate → save, plus a CLI).
This is the same lifecycle, minus its at-scale anti-patterns
(SURVEY.md §4): no eager count-on-load, single-pass feature stages,
evaluators run as one job each, tracking is optional and non-blocking.

Config schema mirrors reference config/pipeline_config.yaml sections:
``spark``, ``data``, ``features``, ``model``, ``tuning``,
``evaluation``, ``tracking``, ``optimization`` — and actually WIRES the
optimization knobs the reference only declares (cache/repartition/
broadcast threshold, reference config/pipeline_config.yaml:129-133).
"""

from __future__ import annotations

import argparse
import json
from typing import Any

from pyspark.ml import PipelineModel
from pyspark.sql import DataFrame, SparkSession

from .features.pipeline import discover_roles, feature_stages
from .ml.evaluate import (
    evaluate_classification,
    evaluate_clustering,
    evaluate_regression,
)
from .ml.train import train_model
from .ml.tuning import tune
from .session import get_session
from .sources.readers import load_data
from .sources.writers import write_data

DEFAULT_CONFIG: dict[str, Any] = {
    "spark": {
        "app_name": "big-data-ml-pipeline-spark",
        "master": None,  # None → local[$SPARK_GRAFT_CPUS] or cluster default
        "shuffle_partitions": None,
    },
    "data": {"input_path": None, "format": None, "label_col": "label",
             "train_split": 0.8, "test_split": 0.2},
    "features": {"columns": None, "categorical_columns": None,
                 "numeric_columns": None, "scale": True},
    "model": {"algorithm": "random_forest", "task": "classification",
              "params": {}, "save_path": None,
              # None → probe the label column (distinct().limit(3));
              # set True/False to skip even that job.
              "binary_label": None},
    "tuning": {"enabled": False, "grid": None, "num_folds": 3, "parallelism": 4},
    "evaluation": {},
    "tracking": {"enabled": False, "run_name": None},
    "optimization": {"cache_data": False, "repartition": None,
                     "broadcast_threshold": 10 * 1024 * 1024,
                     # Skew guards for the dedup/similarity operators
                     # (VERDICT r2 #7: knobs existed only as function
                     # kwargs; config-driven pipelines couldn't reach
                     # them). max_bucket_size bounds LSH band-bucket
                     # self-joins (None = exact all-pairs, no guard);
                     # max_doc_freq drops shingles seen in more
                     # documents than this before the jaccard join
                     # (None = keep all).
                     "max_bucket_size": 1024,
                     "max_doc_freq": None},
    # Text-corpus preparation (the training-data path): applied by
    # prepare_text_corpus in this order — scrub → quality gates →
    # per-group token budget → chunking. None disables a step.
    # quality_rules: None disables the Gopher/C4 rule filter; a dict
    # (possibly empty) enables operators/text.quality_rules with the
    # dict entries as threshold overrides (min_tokens, max_tokens,
    # min_avg_token_len, max_avg_token_len, min_stopword_ratio,
    # min_distinct_ratio, max_top_token_share).
    # decontam: None disables; a dict (possibly empty) enables
    # dedup.ngram_contamination against the eval_df passed to
    # prepare_text_corpus, dropping flagged docs (overrides: n,
    # min_hits). ingest_quality_rules / ingest_near_dup_threshold
    # configure the STREAMING ingestion path (ingest_corpus_stream).
    "corpus": {"scrub_pii": False, "min_tokens": None, "max_tokens": None,
               "min_quality": None, "quality_rules": None,
               "decontam": None,
               "budget_tokens": None,
               "budget_group_col": "lang",
               # budget_n_buckets: two-level prefix-sum cumsum for the
               # budget walk (text._group_running_total) — set when one
               # group dominates the corpus.
               "budget_n_buckets": None,
               # pack: None disables; {"budget_tokens": 256,
               # "group_col": "lang", "n_buckets": 8} appends a
               # pack_id column (text.pack_sequences) after mixing.
               # n_buckets uses the same two-level prefix sum as
               # budget_n_buckets; when both stages bucket, ONE
               # quantile scan is shared between them
               # (text.compute_bucket_cuts).
               "pack": None,
               "chunk_size": None,
               "chunk_overlap": 16,
               # mix: None disables; {"weights": {src: int, ...},
               # "group_col": "source"} downsamples groups to exact
               # integer ratios (setops.proportional_mix). shards:
               # None disables; an int appends deterministic
               # (shard, pos) export columns (setops.deterministic_
               # shard) as the final step.
               # span_dedup: None disables; {"k": 5, "min_len": 10}
               # excises cross-document duplicate token spans
               # (text.excise_duplicate_spans) after the quality/
               # decontam gates, so budgets count post-excision tokens.
               "span_dedup": None,
               # model_quality_filter: None disables; a dict (e.g.
               # {"keep_threshold": 0.5, "lang_col": "lang"}) trains
               # the CCNet-style head-vs-tail quality classifier on
               # the gated corpus itself (ml/quality.py) and keeps
               # documents it scores head-like — the model-based
               # filter modern pipelines run after the rule gates.
               "model_quality_filter": None,
               # bpe_merges: None chunks on whitespace tokens; an
               # ordered [[left, right], ...] merge list makes the
               # chunk step window over BPE tokenizer tokens
               # (text.bpe_encode -> chunk_tokens tokens_col).
               # bpe_learn: an int N LEARNS N merges from the gated
               # corpus itself (text.bpe_learn_merges) and chunks on
               # them — mutually exclusive with bpe_merges.
               "bpe_merges": None,
               "bpe_learn": None,
               "mix": None, "shards": None,
               "ingest_quality_rules": {}, "ingest_near_dup_threshold": None,
               # ingest_near_dup_n_buckets: keep the MinHash index as a
               # bucketed table (shuffle-free per-batch screen join).
               "ingest_near_dup_n_buckets": None,
               # ingest_track_components: maintain {out}_components —
               # incremental duplicate-GROUP labels across the whole
               # ingest history (requires ingest_near_dup_threshold).
               # ingest_components_n_buckets: keep that state as an
               # append-only VERSIONED table bucketed on id (per-batch
               # delta appends + shuffle-free latest-wins resolve)
               # instead of a per-batch full rewrite.
               "ingest_track_components": False,
               "ingest_components_n_buckets": None,
               # ingest_components_auto_compact_files: override the
               # versioned state's growth-triggered auto-fold
               # threshold (default 8 x n_buckets data files).
               "ingest_components_auto_compact_files": None,
               "ingest_track_drift": False, "ingest_maintain_vocab": False,
               # Incremental retrieval state: postings for zero-
               # corpus-read term/boolean/phrase queries plus the
               # lexicon (BM25 global stats and WAND impact bounds) —
               # positions selects the layout phrase retrieval needs.
               "ingest_maintain_postings": False,
               "ingest_postings_n_buckets": None,
               "ingest_postings_positions": False,
               "ingest_lm_floor": None,
               # ingest_quality_model: a saved fit_quality_classifier
               # model path -> gate each batch on its p_head score
               # (>= ingest_quality_model_floor) — the q160 classifier
               # as an ingest screen.
               "ingest_quality_model": None,
               "ingest_quality_model_floor": 0.5,
               # ingest_span_dedup: {"k": 5, "min_len": 10} -> excise
               # substrings duplicated within the batch or against the
               # persisted gram index of everything already landed;
               # "n_buckets": 32 keeps that index as a bucketed table
               # so the per-batch join has no index-side exchange.
               "ingest_span_dedup": None,
               # ingest_compact_every: compact the minhash/gram/vocab
               # state tables every N batches.
               "ingest_compact_every": None},
    # Streaming EMBEDDING ingestion (ingest_embeddings_stream):
    # centroids None -> the deterministic q43 kit at (dim, n_cells);
    # threshold is the cosine twin cut-off; compact_every rewrites the
    # landed corpus range-clustered on cell every N batches.
    "embeddings": {"ingest_threshold": 0.95, "ingest_centroids": None,
                   "ingest_dim": 64, "ingest_n_cells": 16,
                   "ingest_compact_every": None,
                   # ingest_cell_n_buckets: keep the landed corpus as a
                   # bucketed table on cell (shuffle-free per-batch
                   # cosine screen join against the landed side).
                   "ingest_cell_n_buckets": None,
                   # ingest_track_components: maintain {out}_components
                   # (semantic duplicate-GROUP labels, incl. chains
                   # through dropped vectors via {out}_screened);
                   # ingest_components_n_buckets selects the versioned
                   # id-bucketed state layout.
                   "ingest_track_components": False,
                   "ingest_components_n_buckets": None,
                   "ingest_components_auto_compact_files": None,
                   # ingest_nprobe: cells an incoming vector probes in
                   # the semantic screens (1 = SemDeDup cell-local;
                   # 2+ also catches twins straddling a cell boundary).
                   "ingest_nprobe": 1,
                   "ingest_track_drift": False,
                   # recenter_iters: N bounded Lloyd steps refining the
                   # centroid kit before build_embedding_index assigns.
                   "recenter_iters": 0,
                   # maintain_on_drift policy: latest ingest batch's
                   # cell-histogram JSD above drift_jsd_threshold
                   # triggers ONE maintain_embedding_cells repair of
                   # the maintain_top_n worst cells.
                   "drift_jsd_threshold": None,
                   "maintain_top_n": 2,
                   # pq: None lands the raw (id, v, cell) IVF index; a
                   # dict (e.g. {"m": 8, "k": 16, "fit": True}) lands
                   # the COMPACT (id, cell, codes) IVF-PQ index instead
                   # — fit=True trains per-subspace codebooks on the
                   # data (fit_pq_codebooks), else the deterministic
                   # kit. ivf_pq_knn_join probes it via index=.
                   # With "ingest": True the STREAMING ingest also
                   # keeps its hot state codes-only ((id, codes, cell,
                   # fp) via the same codebooks — m small ints per
                   # vector instead of raw doubles; screens switch to
                   # ADC). Streaming uses the deterministic kit or an
                   # explicit "codebooks" literal — fit on a stream
                   # has no bounded corpus to train on.
                   # add "residual": True for true IVFADC — codes
                   # quantize v - centroid(cell); with "fit" the
                   # codebooks train on residuals. Applies to the
                   # batch index AND (with "ingest") the streaming
                   # hot state, whose screens then use the residual
                   # reconstruction algebra; the _PQ_SPEC marker
                   # keeps the raw/residual code spaces apart.
                   # rotate_embedding_codebooks() re-encodes a live
                   # codes-only state under a refit kit (and updates
                   # "codebooks" here in place).
                   "pq": None,
                   # Determinism knobs threaded to the streaming
                   # ingest (rounded argmax cells / rounded screen
                   # cosine — the q164/q168 oracle conditions).
                   "ingest_round_assign_digits": None,
                   "ingest_screen_round_digits": None},
}


def _merge(base: dict, override: dict, path: str = "") -> dict:
    """``override`` laid over ``base``, recursing into dict defaults.
    A key that a non-empty default dict does not name raises
    ValueError with its dotted path: a misspelt or retired option
    would otherwise be ignored silently. Options whose default is
    ``{}`` or None (``model.params``, ``tuning.grid``, ``corpus.pack``,
    ...) are free-form maps and are taken as given."""
    out = dict(base)
    for k, v in (override or {}).items():
        key = f"{path}{k}"
        if base and k not in base:
            raise ValueError(f"unknown config key {key!r}")
        if isinstance(v, dict) and isinstance(base.get(k), dict):
            out[k] = _merge(base[k], v, key + ".")
        else:
            out[k] = v
    return out


def load_config(source: str | dict | None) -> dict:
    """YAML path / dict / None → full config with defaults filled in
    (reference loads YAML at src/ml_pipeline.py:35-38); an unknown key
    raises ValueError (:func:`_merge`)."""
    if source is None:
        cfg: dict = {}
    elif isinstance(source, dict):
        cfg = source
    else:
        import yaml

        with open(source) as fh:
            cfg = yaml.safe_load(fh) or {}
    return _merge(DEFAULT_CONFIG, cfg)


class PipelineOrchestrator:
    """End-to-end lifecycle: ``load → features → train[/tune] →
    evaluate → save`` — the reference's MLPipelineOrchestrator surface
    re-expressed (ctor at src/ml_pipeline.py:28-38)."""

    def __init__(self, config: str | dict | None = None,
                 spark: SparkSession | None = None):
        self.config = load_config(config)
        self._spark = spark

    # -- session ------------------------------------------------------------
    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            sc = self.config["spark"]
            opt = self.config["optimization"]
            self._spark = get_session(
                app_name=sc["app_name"],
                master=sc["master"],
                shuffle_partitions=sc["shuffle_partitions"],
                extra_confs={
                    "spark.sql.autoBroadcastJoinThreshold": str(opt["broadcast_threshold"]),
                },
            )
        return self._spark

    # -- data ---------------------------------------------------------------
    def load(self, path: str | None = None, fmt: str | None = None) -> DataFrame:
        """S1-S3 extension-dispatch load; applies the *wired*
        optimization knobs (repartition/cache) the reference declares.
        No eager count (anti-pattern, reference src/ml_pipeline.py:73)."""
        d = self.config["data"]
        df = load_data(self.spark, path or d["input_path"], fmt=fmt or d["format"])
        opt = self.config["optimization"]
        if opt["repartition"]:
            df = df.repartition(int(opt["repartition"]))
        if opt["cache_data"]:
            df = df.cache()
        return df

    # -- features -----------------------------------------------------------
    def build_feature_stages(self, df: DataFrame) -> list:
        """Config override → schema introspection, like the reference
        (src/ml_pipeline.py:79-95 with config/pipeline_config.yaml:20-26)."""
        f = self.config["features"]
        label = self.config["data"]["label_col"]
        cat, num = f["categorical_columns"], f["numeric_columns"]
        if cat is None or num is None:
            base = df.select(*f["columns"]) if f["columns"] else df
            d_cat, d_num = discover_roles(base, label_col=label)
            cat = d_cat if cat is None else cat
            num = d_num if num is None else num
        return feature_stages(cat, num, scale=f["scale"])

    # -- train / tune -------------------------------------------------------
    def train(self, df: DataFrame | None = None,
              algorithm: str | None = None, task: str | None = None
              ) -> tuple[PipelineModel, dict[str, float]]:
        """Fit on the configured split and return (model, metrics);
        CrossValidator tuning when ``tuning.enabled``."""
        m = self.config["model"]
        d = self.config["data"]
        algorithm = algorithm or m["algorithm"]
        task = task or m["task"]
        df = df if df is not None else self.load()
        stages = self.build_feature_stages(df)

        if self.config["tuning"]["enabled"] and task in ("classification", "regression"):
            t = self.config["tuning"]
            model, _ = tune(df, algorithm, task, feature_stages=stages,
                            grid=t["grid"], num_folds=t["num_folds"],
                            parallelism=t["parallelism"], label_col=d["label_col"],
                            binary=m["binary_label"])
            predictions = model.transform(df)
        else:
            model, predictions = train_model(
                df, algorithm, task, feature_stages=stages,
                label_col=d["label_col"],
                split=(d["train_split"], d["test_split"]), **m["params"],
            )

        metrics = self.evaluate(predictions, task)
        self._track(algorithm, task, metrics, model=model)
        if m["save_path"]:
            model.write().overwrite().save(m["save_path"])
        return model, metrics

    def evaluate(self, predictions: DataFrame, task: str) -> dict[str, float]:
        label = self.config["data"]["label_col"]
        if task == "classification":
            return evaluate_classification(
                predictions, label_col=label,
                binary=self.config["model"]["binary_label"],
            )
        if task == "regression":
            return evaluate_regression(predictions, label_col=label)
        if task == "clustering":
            return evaluate_clustering(predictions)
        return {}

    # -- dedup (north-star operators, guard knobs from config) --------------
    def dedup_pairs(self, df: DataFrame, strategy: str = "minhash",
                    text_col: str = "text", id_col: str = "doc_id",
                    **kwargs: Any) -> DataFrame:
        """Near-duplicate candidate pairs with the skew guards wired
        from ``optimization.max_bucket_size`` / ``optimization.
        max_doc_freq`` (explicit kwargs still win, so an oracle-anchored
        caller can pass ``max_bucket_size=None`` for exact semantics)."""
        from .operators import dedup as dedup_ops

        opt = self.config["optimization"]
        if strategy == "exact":
            return dedup_ops.duplicate_groups(df, text_col, id_col)
        if strategy == "minhash":
            kwargs.setdefault("max_bucket_size", opt["max_bucket_size"])
            return dedup_ops.minhash_dedup_pairs(df, text_col, id_col, **kwargs)
        if strategy == "simhash":
            kwargs.setdefault("max_bucket_size", opt["max_bucket_size"])
            return dedup_ops.simhash_dedup_pairs(df, text_col, id_col, **kwargs)
        if strategy == "jaccard":
            kwargs.setdefault("max_doc_freq", opt["max_doc_freq"])
            return dedup_ops.jaccard_pairs(df, text_col, id_col, **kwargs)
        raise ValueError(
            f"unknown dedup strategy {strategy!r}; "
            "expected exact | minhash | simhash | jaccard"
        )

    def dedup_corpus(self, df: DataFrame, strategy: str = "minhash",
                     text_col: str = "text", id_col: str = "doc_id",
                     **kwargs: Any) -> DataFrame:
        """End-to-end corpus deduplication: candidate pairs →
        connected components (alternating large-star/small-star, the
        O(log n)-round 100 TB path) → keep each component's minimum-id
        representative plus every unpaired document (left-anti against
        the non-representative members, so the corpus never re-shuffles
        on anything but the id key). ``exact`` short-circuits to the
        one-shuffle fingerprint groupBy."""
        from pyspark.sql import functions as F

        from .operators import dedup as dedup_ops

        if strategy == "exact":
            return dedup_ops.exact_dedup(df, text_col, id_col)
        pairs = self.dedup_pairs(df, strategy, text_col, id_col, **kwargs)
        labels = dedup_ops.connected_components_alternating(
            pairs.select("id_a", "id_b")
        )
        drop = labels.filter(F.col("id") != F.col("comp")).select(
            F.col("id").alias(id_col)
        )
        return df.join(drop, on=id_col, how="left_anti")

    def prepare_text_corpus(self, df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            eval_df: DataFrame | None = None) -> DataFrame:
        """Config-driven corpus preparation: PII scrub → quality gates
        (token-count bounds, heuristic quality floor, ONE combined
        filter over a single narrow projection) → Gopher/C4 rule filter
        (``corpus.quality_rules`` threshold dict → quality_rules keep
        verdict, signal columns dropped) → model-based quality filter
        (``corpus.model_quality_filter``: the q160 CCNet-style
        head-vs-tail classifier trained on the gated corpus itself,
        head-like docs kept via one left-semi join) → benchmark
        decontamination
        (``corpus.decontam`` + ``eval_df``: drop docs sharing n-grams
        with the eval corpus, left-semi against the clean keep-list) →
        duplicate-span excision (``corpus.span_dedup``: cross-document
        substring runs cut out, text replaced in place) → per-group
        token budget (left-semi against the budget keep-list)
        → proportional source mixing (``corpus.mix``) → context-window
        chunking (on whitespace tokens, or BPE tokenizer tokens when
        ``corpus.bpe_merges`` supplies a merge list — or
        ``corpus.bpe_learn`` = N trains one from the gated corpus
        itself) → deterministic shard/pos export
        columns (``corpus.shards``). Every step is pure Catalyst
        (BPE chunking adds the one Arrow-batched encode stage); a
        disabled step (None) adds nothing to the plan, so the default
        config is a no-op passthrough."""
        from pyspark.sql import functions as F

        from .operators import text as text_ops

        c = self.config["corpus"]
        out = df
        if c["scrub_pii"]:
            out = out.withColumn(text_col, text_ops.scrub_pii(F.col(text_col)))
        conds = []
        if c["min_tokens"] is not None:
            conds.append(text_ops.token_count(F.col(text_col)) >= c["min_tokens"])
        if c["max_tokens"] is not None:
            conds.append(text_ops.token_count(F.col(text_col)) <= c["max_tokens"])
        if c["min_quality"] is not None:
            conds.append(text_ops.quality_score(F.col(text_col)) >= c["min_quality"])
        if conds:
            cond = conds[0]
            for extra in conds[1:]:
                cond = cond & extra
            out = out.filter(cond)
        if c["quality_rules"] is not None:
            # Gopher/C4 rule filter: score, keep, then drop the signal
            # columns so downstream steps see the caller's schema.
            # lang_profiles with lang_col "auto" (or omitted) derives
            # the language via text.lang_id for the duration of the
            # gate — language-conditional thresholds without requiring
            # a language column in the input.
            qr = dict(c["quality_rules"])
            gated = out
            auto_lang = bool(qr.get("lang_profiles")) and qr.get(
                "lang_col", "auto"
            ) == "auto"
            if auto_lang:
                gated = out.withColumn(
                    "__lang_auto", text_ops.lang_id(F.col(text_col))
                )
                qr["lang_col"] = "__lang_auto"
            scored = text_ops.quality_rules(gated, text_col=text_col, **qr)
            out = scored.filter(F.col("keep")).drop(
                "n_tokens", "mean_token_len", "stopword_frac",
                "distinct_ratio", "top_token_frac", "keep", "__lang_auto",
            )
        if c["model_quality_filter"] is not None:
            # Model-based quality filter (q160 composition): train the
            # head-vs-tail classifier on the corpus that survived the
            # rule gates and keep head-like documents. One left-semi
            # join; the feature/label passes are the q103/q106/q159
            # shapes.
            from .ml.quality import quality_classifier_scores

            keep_scores = quality_classifier_scores(
                out, text_col=text_col, id_col=id_col,
                **dict(c["model_quality_filter"]),
            )
            out = out.join(
                keep_scores.filter(F.col("keep")).select(id_col),
                on=id_col, how="left_semi",
            )
        if c["decontam"] is not None:
            if eval_df is None:
                raise ValueError(
                    "corpus.decontam is enabled but prepare_text_corpus "
                    "was called without eval_df"
                )
            from .operators import dedup as dedup_ops

            clean = dedup_ops.ngram_contamination(
                out, eval_df, text_col=text_col, id_col=id_col, **c["decontam"]
            ).filter(~F.col("contaminated")).select(id_col)
            out = out.join(clean, on=id_col, how="left_semi")
        if c["span_dedup"] is not None:
            # Cross-document duplicate-span excision: text is REPLACED
            # by its reassembled clean form (other columns preserved);
            # downstream budgets/chunks count post-excision tokens.
            clean = text_ops.excise_duplicate_spans(
                out, text_col=text_col, id_col=id_col, **c["span_dedup"]
            ).select(id_col, F.col("clean_text").alias("__clean"))
            out = (
                out.join(clean, on=id_col, how="left")
                .withColumn(
                    text_col, F.coalesce(F.col("__clean"), F.col(text_col))
                )
                .drop("__clean")
            )
        # Shared bucket cut points: the budget and pack stages both cut
        # on id quantiles; composed pipelines pay ONE approxQuantile
        # scan, not one per stage (VERDICT r8 item 4). Keyed by bucket
        # count (stages normally agree, so one entry).
        _cuts_cache: dict[int, list[float]] = {}

        def _shared_cuts(nb):
            if not nb or nb <= 1:
                return None  # single-window fallback needs no cuts
            if nb not in _cuts_cache:
                _cuts_cache[nb] = text_ops.compute_bucket_cuts(
                    df, id_col, nb
                )
            return _cuts_cache[nb]

        if c["budget_tokens"] is not None:
            nb = c.get("budget_n_buckets")
            keep = text_ops.token_budget_sample(
                out, c["budget_tokens"], text_col=text_col, id_col=id_col,
                group_col=c["budget_group_col"],
                n_buckets=nb, bucket_cuts=_shared_cuts(nb),
            ).select(id_col)
            out = out.join(keep, on=id_col, how="left_semi")
        if c["mix"] is not None:
            from .operators import setops as set_ops

            out = set_ops.proportional_mix(
                out, c["mix"]["weights"],
                group_col=c["mix"].get("group_col", "source"),
                key_cols=[id_col],
            )
        if c["pack"] is not None:
            p = dict(c["pack"])
            nb = p.get("n_buckets")
            packed = text_ops.pack_sequences(
                out,
                p.get("budget_tokens", 256),
                text_col=text_col,
                id_col=id_col,
                group_col=p.get("group_col", "lang"),
                n_buckets=nb,
                bucket_cuts=_shared_cuts(nb),
            ).select(id_col, "pack_id")
            out = out.join(packed, on=id_col)
        if c["chunk_size"] is not None:
            merges = None
            if c.get("bpe_learn"):
                if c["bpe_merges"]:
                    raise ValueError(
                        "set either corpus.bpe_merges or corpus.bpe_learn,"
                        " not both"
                    )
                learned = text_ops.bpe_learn_merges(
                    out, n_merges=int(c["bpe_learn"]), text_col=text_col
                ).orderBy("merge_rank").collect()
                if not learned:
                    raise ValueError(
                        "corpus.bpe_learn found no mergeable pair — the"
                        " corpus is degenerate; unset bpe_learn"
                    )
                merges = [(r["a"], r["b"]) for r in learned]
            elif c["bpe_merges"]:
                merges = [tuple(m) for m in c["bpe_merges"]]
            if merges:
                enc = text_ops.bpe_encode(
                    out, merges, text_col=text_col, id_col=id_col,
                )
                out = text_ops.chunk_tokens(
                    enc, id_col=id_col, chunk_size=c["chunk_size"],
                    overlap=c["chunk_overlap"], tokens_col="bpe_tokens",
                )
            else:
                out = text_ops.chunk_tokens(
                    out, text_col=text_col, id_col=id_col,
                    chunk_size=c["chunk_size"], overlap=c["chunk_overlap"],
                )
        if c["shards"] is not None:
            from .operators import setops as set_ops

            keys = (
                [id_col, "chunk_id"] if "chunk_id" in out.columns else [id_col]
            )
            out = set_ops.deterministic_shard(out, keys, int(c["shards"]))
        return out

    def ingest_corpus_stream(self, in_dir: str, out_dir: str,
                             checkpoint_dir: str,
                             text_col: str = "text",
                             id_col: str = "doc_id"):
        """Config-driven streaming corpus ingestion: replay document
        shards from ``in_dir`` through streaming/corpus with the
        quality thresholds from ``corpus.ingest_quality_rules`` and the
        near-dup screen from ``corpus.ingest_near_dup_threshold``
        (None = exact dedup only). Runs to completion
        (Trigger.AvailableNow) and returns the finished query."""
        from .streaming.corpus import (
            ingest_documents_stream,
            read_documents_stream,
        )

        c = self.config["corpus"]
        stream = read_documents_stream(self.spark, in_dir)
        # Mirror the batch semantics: ingest_quality_rules=None means NO
        # quality gate (like quality_rules=None in prepare_corpus); a
        # dict (even empty = defaults) gates with those thresholds.
        rules = c["ingest_quality_rules"]
        return ingest_documents_stream(
            stream, out_dir, checkpoint_dir,
            text_col=text_col, id_col=id_col,
            near_dup_threshold=c["ingest_near_dup_threshold"],
            near_dup_n_buckets=c.get("ingest_near_dup_n_buckets"),
            track_components=c.get("ingest_track_components", False),
            components_n_buckets=c.get("ingest_components_n_buckets"),
            components_auto_compact_files=c.get(
                "ingest_components_auto_compact_files"
            ),
            apply_quality=rules is not None,
            track_drift=c.get("ingest_track_drift", False),
            maintain_vocab=c.get("ingest_maintain_vocab", False),
            maintain_postings=c.get("ingest_maintain_postings", False),
            postings_n_buckets=c.get("ingest_postings_n_buckets"),
            postings_positions=c.get(
                "ingest_postings_positions", False
            ),
            lm_floor=c.get("ingest_lm_floor"),
            quality_model=c.get("ingest_quality_model"),
            quality_model_floor=c.get("ingest_quality_model_floor", 0.5),
            span_dedup=c.get("ingest_span_dedup"),
            compact_every=c.get("ingest_compact_every"),
            **(rules or {}),
        )

    def merge_corpus_states(self, src_a: str, src_b: str, dest: str,
                            id_col: str = "doc_id") -> dict:
        """Merge two independently built document ingest states into
        one queryable state (:func:`~.streaming.corpus.
        merge_ingest_states` — VERDICT r16 item 5): first-landed-wins
        across sources, postings folded under the compaction
        convention, lexicon/vocab re-derived from surviving postings.
        The merged postings bucket count comes from
        ``corpus.ingest_postings_n_buckets`` (the same knob the
        ingests used). Returns {"n_docs", "n_dropped_b", "sum_dl"}."""
        from .streaming.corpus import merge_ingest_states

        return merge_ingest_states(
            self.spark, src_a, src_b, dest,
            postings_n_buckets=self.config["corpus"].get(
                "ingest_postings_n_buckets"
            ),
            id_col=id_col,
        )

    def build_embedding_index(self, df: DataFrame, out_dir: str,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
        """Build and land the batch IVF retrieval index: assign every
        vector with the configured centroid kit (``embeddings.ingest_*``
        config — same centroids the streaming path and probes use),
        write the (id, v, cell) table range-clustered on ``cell`` (so
        per-cell probes prune files by parquet footer min/max), and
        return the :func:`~.operators.similarity.ivf_cell_stats` health
        report. With ``embeddings.pq`` set, the landed table is the
        COMPACT (id, cell, codes) IVF-PQ index instead — m small codes
        per vector in place of the raw doubles, probed by
        :func:`~.operators.similarity.ivf_pq_knn_join` via ``index=``. The build/probe split at scale: the corpus is assigned
        ONCE; every later query batch reads only its nprobe cells.

        With ``embeddings.recenter_iters = N`` the centroid kit is
        refined by N bounded Lloyd steps first
        (:func:`~.operators.similarity.ivf_recenter` — each step one
        distributed (cell, pos) mean aggregation; the |cells|·dim
        update lands on the driver, the same KB-scale boundary as the
        centroid literals themselves). An empty cell keeps its old
        centroid. The recenter-on-drift maintenance the streaming
        drift table calls for."""
        from .operators.similarity import (
            deterministic_ivf_centroids,
            fit_pq_codebooks,
            ivf_cell_stats,
            ivf_index,
            ivf_pq_index,
            ivf_recenter,
            pq_codebooks,
        )
        from .sources.writers import write_range_clustered

        c = self.config["embeddings"]
        cents = c["ingest_centroids"] or deterministic_ivf_centroids(
            dim=c["ingest_dim"], n_cells=c["ingest_n_cells"]
        )
        for _ in range(int(c.get("recenter_iters") or 0)):
            rows = ivf_recenter(
                df, cents, id_col=id_col, vec_col=vec_col
            ).collect()
            new = [list(cvec) for cvec in cents]  # empty cells keep theirs
            for r in rows:
                new[r["cell"]][r["pos"] - 1] = r["centroid_val"]
            cents = new
        pq = c.get("pq")
        if pq:
            mm, kk = int(pq.get("m", 8)), int(pq.get("k", 16))
            residual = bool(pq.get("residual"))
            cbs = (
                fit_pq_codebooks(
                    df, m=mm, k=kk, vec_col=vec_col,
                    # residual kits train on what they quantize
                    # (Jégou 2011 §III-A).
                    centroids=cents if residual else None,
                )
                if pq.get("fit")
                else pq_codebooks(dim=c["ingest_dim"], m=mm, k=kk)
            )
            index = ivf_pq_index(
                df, cents, cbs, id_col=id_col, vec_col=vec_col,
                residual=residual,
            )
        else:
            index = ivf_index(df, cents, id_col=id_col, vec_col=vec_col)
        write_range_clustered(index, out_dir, "cell")
        return ivf_cell_stats(df, cents, id_col=id_col, vec_col=vec_col)

    def ingest_embeddings_stream(self, in_dir: str, out_dir: str,
                                 checkpoint_dir: str,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding"):
        """Config-driven streaming embedding ingestion: replay
        embedding shards from ``in_dir`` through streaming/embeddings
        with the ``embeddings.ingest_*`` config (cosine threshold,
        centroid kit, compaction cadence). With ``embeddings.pq``
        carrying ``"ingest": True``, the hot state is codes-only
        ((id, codes, cell, fp)) and the screens are ADC — the
        config-surface switch for VERDICT r10 item 1; add
        ``"residual": True`` and the codes quantize v − centroid(cell)
        (true IVFADC — the screens switch to the residual
        reconstruction algebra, and the state's _PQ_SPEC folds the
        coarse centroids in). Runs to completion
        (Trigger.AvailableNow) and returns the finished query."""
        from .operators.similarity import (
            deterministic_ivf_centroids,
            pq_codebooks,
        )
        from .streaming.embeddings import (
            ingest_embeddings_stream,
            read_embeddings_stream,
        )

        c = self.config["embeddings"]
        cents = c["ingest_centroids"] or deterministic_ivf_centroids(
            dim=c["ingest_dim"], n_cells=c["ingest_n_cells"]
        )
        pq = c.get("pq") or {}
        cbs = None
        if pq.get("ingest"):
            cbs = pq.get("codebooks") or pq_codebooks(
                dim=c["ingest_dim"],
                m=int(pq.get("m", 8)),
                k=int(pq.get("k", 16)),
            )
        stream = read_embeddings_stream(self.spark, in_dir)
        return ingest_embeddings_stream(
            stream, out_dir, checkpoint_dir,
            centroids=cents, threshold=c["ingest_threshold"],
            id_col=id_col, vec_col=vec_col,
            compact_every=c["ingest_compact_every"],
            track_drift=c.get("ingest_track_drift", False),
            cell_n_buckets=c.get("ingest_cell_n_buckets"),
            track_components=c.get("ingest_track_components", False),
            components_n_buckets=c.get("ingest_components_n_buckets"),
            components_auto_compact_files=c.get(
                "ingest_components_auto_compact_files"
            ),
            round_assign_digits=c.get("ingest_round_assign_digits"),
            screen_round_digits=c.get("ingest_screen_round_digits"),
            codebooks=cbs,
            nprobe=int(c.get("ingest_nprobe", 1)),
            pq_residual=bool(cbs is not None and pq.get("residual")),
            pq_rotation=pq.get("rotation") if cbs is not None else None,
        )

    def rotate_embedding_codebooks(self, out_dir: str,
                                   raw_corpus: "DataFrame | str",
                                   new_codebooks=None,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding") -> str:
        """Config-surface for the codes-only state's codebook
        lifecycle (:func:`~.streaming.embeddings.
        rotate_embedding_state_codebooks`): re-encode the landed +
        screened tables under a NEW kit by joining ids back to the
        cold raw corpus (path or DataFrame). The OLD kit and code
        space come from the current ``embeddings.pq`` config — the
        provenance the state was ingested with — so a drifted config
        refuses instead of silently re-encoding. ``new_codebooks``
        defaults to TRAINING on the raw corpus (fit_pq_codebooks,
        residual-aware under ``pq.residual`` — the rotate-after-refit
        maintenance loop the drift report calls for; rotation is
        where fit IS well-defined on a streamed corpus, because the
        cold raw table is in hand). On success the config's
        ``pq.codebooks`` is updated in place so continued ingests
        through THIS orchestrator screen with the rotated kit.
        Returns the per-table status string."""
        from .operators.similarity import (
            deterministic_ivf_centroids,
            fit_pq_codebooks,
            pq_codebooks,
        )
        from .streaming.embeddings import rotate_embedding_state_codebooks

        c = self.config["embeddings"]
        pq = c.get("pq") or {}
        if not pq.get("ingest"):
            raise ValueError(
                "rotate_embedding_codebooks needs embeddings.pq.ingest "
                "(the codes-only streaming state) in the config"
            )
        cents = c["ingest_centroids"] or deterministic_ivf_centroids(
            dim=c["ingest_dim"], n_cells=c["ingest_n_cells"]
        )
        residual = bool(pq.get("residual"))
        mm, kk = int(pq.get("m", 8)), int(pq.get("k", 16))
        old_cbs = pq.get("codebooks") or pq_codebooks(
            dim=c["ingest_dim"], m=mm, k=kk
        )
        raw = (
            self.spark.read.parquet(raw_corpus)
            if isinstance(raw_corpus, str)
            else raw_corpus
        )
        # ADVICE r15 (medium): under an OPQ config the state's codes
        # live in the ROTATED space, so replacement codebooks must be
        # trained there too — fit_pq_codebooks(rotation=) rotates the
        # training vectors (and residuals) before the per-subspace
        # fits; fitting raw and installing rotated would silently
        # defeat the OPQ distortion benefit.
        cbs = new_codebooks if new_codebooks is not None else fit_pq_codebooks(
            raw, m=mm, k=kk, vec_col=vec_col,
            centroids=cents if residual else None,
            rotation=pq.get("rotation"),
        )
        status = rotate_embedding_state_codebooks(
            self.spark, out_dir, cbs, raw,
            old_codebooks=old_cbs,
            cell_n_buckets=c.get("ingest_cell_n_buckets"),
            id_col=id_col, vec_col=vec_col,
            old_centroids=cents if residual else None,
            new_centroids=cents if residual else None,
            old_rotation=pq.get("rotation"),
            new_rotation=pq.get("rotation"),
        )
        pq["codebooks"] = cbs
        return status

    def maintain_embedding_cells(self, out_dir: str,
                                 raw_corpus: "DataFrame | str",
                                 top_n: int = 2,
                                 id_col: str = "vec_id",
                                 vec_col: str = "embedding") -> dict:
        """SELECTIVE cell maintenance for a live residual codes-only
        state (VERDICT r14 item 4 — the loop q183 ranks for): run the
        per-cell residual distortion report over the LANDED corpus,
        flag the ``top_n`` worst populated cells, recenter ONLY those
        cells on their current members
        (:func:`~.streaming.embeddings.recenter_state_cells` — never
        reassigns), and rotate the state's residual codes for the
        affected cells only (``cells=`` on
        :func:`~.streaming.embeddings.rotate_embedding_state_codebooks`
        — untouched cells' codes are bit-identical under the moved
        kit, so the selective repair equals a full recenter+rotate at
        a fraction of the cost: flagged members re-encode, nothing
        else is read). On success the config's ``ingest_centroids``
        is updated in place so continued ingests assign and screen
        with the repaired kit. Returns {"cells", "status",
        "centroids"}."""
        from pyspark.sql import functions as F

        from .operators.similarity import (
            deterministic_ivf_centroids,
            pq_cell_distortion_report,
            pq_codebooks,
        )
        from .streaming.embeddings import (
            recenter_state_cells,
            rotate_embedding_state_codebooks,
        )

        c = self.config["embeddings"]
        pq = c.get("pq") or {}
        if not (pq.get("ingest") and pq.get("residual")):
            raise ValueError(
                "maintain_embedding_cells needs embeddings.pq.ingest + "
                "pq.residual (cell-local codes exist only in the "
                "residual code space)"
            )
        cents = c["ingest_centroids"] or deterministic_ivf_centroids(
            dim=c["ingest_dim"], n_cells=c["ingest_n_cells"]
        )
        mm, kk = int(pq.get("m", 8)), int(pq.get("k", 16))
        cbs = pq.get("codebooks") or pq_codebooks(
            dim=c["ingest_dim"], m=mm, k=kk
        )
        raw = (
            self.spark.read.parquet(raw_corpus)
            if isinstance(raw_corpus, str)
            else raw_corpus
        )
        # Rank by the STATE's stored membership, not a fresh IVF
        # re-assignment (ADVICE r15): after a first repair moves
        # centroids, re-assignment can measure boundary rows in cells
        # that differ from the membership recenter_state_cells and the
        # selective rotation operate on, flagging the wrong cells.
        landed_cells = self.spark.read.parquet(out_dir.rstrip("/")).select(
            id_col, "cell"
        )
        report = pq_cell_distortion_report(
            raw, cents, cbs, id_col=id_col, vec_col=vec_col,
            round_assign_digits=c.get("ingest_round_assign_digits"),
            rotation=pq.get("rotation"),
            cells_from=landed_cells,
        ).filter(F.col("n_vectors") > 0)
        flagged = [
            int(r["cell"])
            for r in report.orderBy(
                F.col("mean_sq_dist").desc(), F.col("cell").asc()
            ).limit(int(top_n)).collect()
        ]
        if not flagged:
            return {"cells": [], "status": "no populated cells",
                    "centroids": cents}
        new_cents = recenter_state_cells(
            self.spark, out_dir, raw, cents, flagged,
            id_col=id_col, vec_col=vec_col,
        )
        status = rotate_embedding_state_codebooks(
            self.spark, out_dir, cbs, raw,
            old_codebooks=cbs,
            cell_n_buckets=c.get("ingest_cell_n_buckets"),
            id_col=id_col, vec_col=vec_col,
            old_centroids=cents, new_centroids=new_cents,
            cells=flagged,
            old_rotation=pq.get("rotation"),
            new_rotation=pq.get("rotation"),
        )
        c["ingest_centroids"] = new_cents
        return {"cells": flagged, "status": status,
                "centroids": new_cents}

    def split_embedding_cell(self, out_dir: str,
                             raw_corpus: "DataFrame | str",
                             cell: int | None = None,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> dict:
        """Split an OVERLOADED coarse cell of the codes-only streaming
        state (VERDICT r15 item 5 — :func:`~.streaming.embeddings.
        split_state_cell`): 2-means on the flagged cell's current
        members, one child replacing the old centroid and the other
        appended, flagged rows reassigned (and, under ``pq.residual``,
        re-encoded) — every other cell bit-identical. ``cell=None``
        flags the most LOADED populated cell by the STATE's own stored
        membership (the q135 load signal, read the ADVICE-r15 way).
        On success the config's ``ingest_centroids`` widens in place
        so continued ingests assign over the new kit. Returns
        {"cell", "n_cells", "centroids"}."""
        from pyspark.sql import functions as F

        from .operators.similarity import (
            deterministic_ivf_centroids,
            pq_codebooks,
        )
        from .streaming.embeddings import split_state_cell

        c = self.config["embeddings"]
        pq = c.get("pq") or {}
        if not pq.get("ingest"):
            raise ValueError(
                "split_embedding_cell needs embeddings.pq.ingest (the "
                "codes-only streaming state)"
            )
        cents = c["ingest_centroids"] or deterministic_ivf_centroids(
            dim=c["ingest_dim"], n_cells=c["ingest_n_cells"]
        )
        cbs = pq.get("codebooks") or pq_codebooks(
            dim=c["ingest_dim"], m=int(pq.get("m", 8)),
            k=int(pq.get("k", 16)),
        )
        raw = (
            self.spark.read.parquet(raw_corpus)
            if isinstance(raw_corpus, str)
            else raw_corpus
        )
        if cell is None:
            top = (
                self.spark.read.parquet(out_dir.rstrip("/"))
                .groupBy("cell")
                .agg(F.count("*").alias("__n"))
                .orderBy(F.col("__n").desc(), F.col("cell").asc())
                .limit(1)
                .collect()
            )
            if not top:
                return {"cell": None, "n_cells": len(cents),
                        "centroids": cents}
            cell = int(top[0]["cell"])
        new_cents = split_state_cell(
            self.spark, out_dir, raw, cents, cell, cbs,
            id_col=id_col, vec_col=vec_col,
            cell_n_buckets=c.get("ingest_cell_n_buckets"),
            residual=bool(pq.get("residual")),
            rotation=pq.get("rotation"),
            round_assign_digits=c.get("ingest_round_assign_digits"),
        )
        c["ingest_centroids"] = new_cents
        return {"cell": cell, "n_cells": len(new_cents),
                "centroids": new_cents}

    def retire_embedding_cell(self, out_dir: str,
                              cell: int | None = None,
                              id_col: str = "vec_id") -> dict:
        """Retire an EMPTY coarse cell of the codes-only streaming
        state (:func:`~.streaming.embeddings.retire_state_cell` —
        split's sibling; an empty cell wastes nprobe budget forever).
        ``cell=None`` flags the lowest-index cell with ZERO members in
        the state's own stored membership; returns untriggered if
        every cell is populated. Shrinks ``ingest_centroids`` in place
        on success. Returns {"cell", "n_cells", "centroids"}."""
        from pyspark.sql import functions as F

        from .operators.similarity import (
            deterministic_ivf_centroids,
            pq_codebooks,
        )
        from .streaming.embeddings import retire_state_cell

        c = self.config["embeddings"]
        pq = c.get("pq") or {}
        if not pq.get("ingest"):
            raise ValueError(
                "retire_embedding_cell needs embeddings.pq.ingest (the "
                "codes-only streaming state)"
            )
        cents = c["ingest_centroids"] or deterministic_ivf_centroids(
            dim=c["ingest_dim"], n_cells=c["ingest_n_cells"]
        )
        cbs = pq.get("codebooks") or pq_codebooks(
            dim=c["ingest_dim"], m=int(pq.get("m", 8)),
            k=int(pq.get("k", 16)),
        )
        if cell is None:
            populated = {
                int(r["cell"])
                for r in self.spark.read.parquet(out_dir.rstrip("/"))
                .select("cell").distinct().collect()
            }
            # retire_state_cell refuses cells with members in EITHER
            # the landed table or the _screened extras sibling — so
            # the auto-flag must treat screened-only cells as
            # populated too, or it would pick a cell the retire then
            # errors on (ADVICE r16).
            from .streaming.corpus import _has_parquet

            screened_dir = out_dir.rstrip("/") + "_screened"
            if _has_parquet(screened_dir):
                populated |= {
                    int(r["cell"])
                    for r in self.spark.read.parquet(screened_dir)
                    .select("cell").distinct().collect()
                }
            empties = [
                i for i in range(len(cents)) if i not in populated
            ]
            if not empties:
                return {"cell": None, "n_cells": len(cents),
                        "centroids": cents}
            cell = empties[0]
        new_cents = retire_state_cell(
            self.spark, out_dir, cents, cell, cbs,
            id_col=id_col,
            cell_n_buckets=c.get("ingest_cell_n_buckets"),
            residual=bool(pq.get("residual")),
            rotation=pq.get("rotation"),
        )
        c["ingest_centroids"] = new_cents
        return {"cell": cell, "n_cells": len(new_cents),
                "centroids": new_cents}

    def merge_embedding_states(self, src_a: str, src_b: str, dest: str,
                               raw_b: "DataFrame | str | None" = None,
                               checkpoint_dir: str | None = None,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding") -> dict:
        """Merge two independently built embedding ingest states into
        one (the :meth:`merge_corpus_states` sibling, completing the
        multi-source family): **merge = copy A's state, then replay
        B's member vectors through the REAL ingest path** — the
        cross-source screens (exact fp + ADC/cosine, chained through
        the extras) ARE the merge semantics, so first-landed-wins
        across sources falls out of the machinery that already
        guarantees stream == one-shot, and the result equals a fresh
        ingest of A's shards followed by B's (pytest-pinned, landed +
        screened set-equal).

        ``raw_b`` supplies B's raw vectors (the cold corpus — same
        requirement as :meth:`maintain_embedding_cells`) for
        codes-only states, filtered here to B's members (landed ∪
        screened; dropped members still chain future screens). A
        raw-layout state replays from its own stored vectors and
        needs no ``raw_b``. Both states must share the kit — the
        ``_PQ_SPEC`` fingerprints must agree (raw↔codes mixes and
        different codebooks/centroids/rotations refuse), and member
        ids must be disjoint. ``dest`` may equal ``src_a`` for the
        zero-copy in-place merge (append-only, the 100 TB path);
        otherwise A is file-copied first.

        Returns {"n_a", "n_b_members", "n_landed"}."""
        import os
        import tempfile

        from pyspark.sql import functions as F

        from .streaming.embeddings import (
            copy_embedding_state,
            read_state_pq_spec,
            state_member_ids,
        )

        src_a, src_b = src_a.rstrip("/"), src_b.rstrip("/")
        dest = dest.rstrip("/")
        spec_a, spec_b = read_state_pq_spec(src_a), read_state_pq_spec(src_b)
        if spec_a != spec_b:
            raise ValueError(
                "embedding states carry different kits (_PQ_SPEC "
                "mismatch — raw vs codes, or different centroids/"
                "codebooks/rotation); rebuild one side before merging"
            )
        ids_a = state_member_ids(self.spark, src_a, id_col)
        ids_b = state_member_ids(self.spark, src_b, id_col)
        n_shared = ids_a.join(ids_b, on=id_col, how="inner").count()
        if n_shared:
            raise ValueError(
                f"{n_shared} vector ids appear in BOTH states — "
                "multi-source ids must be globally unique"
            )
        b_state = self.spark.read.parquet(src_b)
        if "v" in b_state.columns:  # raw layout: vectors ride the state
            members = state_member_ids(self.spark, src_b, id_col)
            b_rows = b_state.select(id_col, F.col("v").alias(vec_col))
            screened = src_b + "_screened"
            if os.path.isdir(screened) and any(
                n.endswith(".parquet") for n in os.listdir(screened)
            ):
                b_rows = b_rows.unionByName(
                    self.spark.read.parquet(screened)
                    .select(id_col, F.col("v").alias(vec_col))
                )
            b_rows = b_rows.join(members, on=id_col, how="left_semi")
        else:
            if raw_b is None:
                raise ValueError(
                    "codes-only states store no raw vectors — pass "
                    "raw_b (the cold corpus) to merge them"
                )
            raw = self.load(raw_b) if isinstance(raw_b, str) else raw_b
            b_rows = raw.select(id_col, vec_col).join(
                state_member_ids(self.spark, src_b, id_col),
                on=id_col, how="left_semi",
            )
        n_b = b_rows.count()
        if dest != src_a:
            copy_embedding_state(src_a, dest)
        n_a = self.spark.read.parquet(dest).count()
        base = tempfile.mkdtemp(prefix="emb_merge_")
        stage = os.path.join(base, "b_members")
        b_rows.write.parquet(stage)
        ck = checkpoint_dir or os.path.join(base, "ck")
        self.ingest_embeddings_stream(stage, dest, ck,
                                      id_col=id_col, vec_col=vec_col)
        n_landed = self.spark.read.parquet(dest).count()
        return {"n_a": int(n_a), "n_b_members": int(n_b),
                "n_landed": int(n_landed)}

    def maintain_on_drift(self, out_dir: str,
                          raw_corpus: "DataFrame | str",
                          threshold: float | None = None,
                          top_n: int | None = None,
                          window: int | None = None,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> dict:
        """Close the drift→repair loop (VERDICT r15 item 4 — the
        POLICY over the machinery rounds 14/15 built): read the ingest
        drift table ``{out_dir}_drift`` (``embeddings.
        ingest_track_drift`` — one cell-histogram JSD row per batch)
        and, when the signal exceeds the configured threshold, run
        :meth:`maintain_embedding_cells` exactly once; otherwise do
        nothing. The threshold comes from
        ``embeddings.drift_jsd_threshold`` (overridable per call), the
        repair breadth from ``embeddings.maintain_top_n`` (default 2).

        The signal is the MEDIAN ``jsd_bits`` over the newest
        ``window`` batches (``embeddings.drift_window``, default 1 =
        latest batch only) — a windowed policy is robust to a single
        anomalous batch tripping a repair; the reported ``batch_id``
        is the newest in the window. Batches that landed on an EMPTY
        corpus are skipped: the drift writer records jsd 1.0 by
        convention when there is nothing to compare against
        (n_landed_vecs = 0), and repairing a first-batch state is
        meaningless. When FEWER eligible batches exist than the window
        asks for, the policy never fires (``window_filled`` False) —
        a short history would make a single blip the median, defeating
        the windowed robustness (ADVICE r16). Returns {"triggered",
        "batch_id", "jsd_bits", "threshold", "window_filled",
        "result"} with ``jsd_bits`` the windowed signal and
        ``result`` the repair dict when triggered, else None.
        Driver cost: one top-``window`` read of the
        batch-count-sized drift table."""
        import statistics

        from pyspark.sql import functions as F

        c = self.config["embeddings"]
        thr = threshold if threshold is not None else c.get(
            "drift_jsd_threshold"
        )
        if thr is None:
            raise ValueError(
                "maintain_on_drift needs a threshold — set "
                "embeddings.drift_jsd_threshold or pass threshold="
            )
        n = int(top_n if top_n is not None else c.get("maintain_top_n", 2))
        w = int(window if window is not None else c.get("drift_window", 1))
        if w < 1:
            raise ValueError(f"drift window must be >= 1, got {w}")
        drift_dir = out_dir.rstrip("/") + "_drift"
        rows = (
            self.spark.read.parquet(drift_dir)
            .filter(F.col("n_landed_vecs") > 0)
            .orderBy(F.col("batch_id").desc())
            .limit(w)
            .collect()
        )
        if not rows:
            return {"triggered": False, "batch_id": None,
                    "jsd_bits": None, "threshold": float(thr),
                    "window_filled": False, "result": None}
        signal = float(statistics.median(r["jsd_bits"] for r in rows))
        if len(rows) < w:
            # Short history (ADVICE r16): with fewer eligible batches
            # than the window asks for, a single anomalous batch would
            # BE the median — exactly the blip the windowed policy
            # exists to ignore. Report the partial signal, never fire.
            return {"triggered": False,
                    "batch_id": int(rows[0]["batch_id"]),
                    "jsd_bits": signal, "threshold": float(thr),
                    "window_filled": False, "result": None}
        out = {
            "triggered": bool(signal > float(thr)),
            "batch_id": int(rows[0]["batch_id"]),
            "jsd_bits": signal,
            "threshold": float(thr),
            "window_filled": True,
            "result": None,
        }
        if out["triggered"]:
            out["result"] = self.maintain_embedding_cells(
                out_dir, raw_corpus, top_n=n,
                id_col=id_col, vec_col=vec_col,
            )
        return out

    # -- predict ------------------------------------------------------------
    def predict(self, model: PipelineModel | str, df: DataFrame,
                output_path: str | None = None) -> DataFrame:
        """M19 inference; optionally S6-sink the result (distributed
        write, never collects — reference api/api.py:196-223)."""
        if isinstance(model, str):
            model = PipelineModel.load(model)
        out = model.transform(df)
        if output_path:
            write_data(out.drop("features", "features_raw"), output_path)
        return out

    # -- tracking (optional; mlflow is not a hard dependency) ---------------
    def _track(self, algorithm: str, task: str, metrics: dict[str, float],
               model=None) -> None:
        """Params + metrics + the fitted model artifact itself
        (reference src/ml_pipeline.py:217 `mlflow.spark.log_model`) —
        logged whenever mlflow is importable."""
        if not self.config["tracking"]["enabled"]:
            return
        try:
            import mlflow

            with mlflow.start_run(run_name=self.config["tracking"]["run_name"]):
                mlflow.log_params({"algorithm": algorithm, "task": task})
                mlflow.log_metrics(metrics)
                if model is not None:
                    mlflow.spark.log_model(model, "model")
        except ImportError:
            # tracking degrades to a log line — never blocks training
            print(f"[tracking] mlflow unavailable; metrics={json.dumps(metrics)}")

    def stop(self) -> None:
        if self._spark is not None:
            self._spark.stop()
            self._spark = None


def main(argv: list[str] | None = None) -> int:
    """CLI mirroring reference src/ml_pipeline.py:319-355, extended
    with the training-data path: ``--mode prepare-corpus`` runs the
    config-driven corpus pipeline (scrub → quality → decontam →
    budget → chunking) and writes or counts the result."""
    ap = argparse.ArgumentParser(description="config-driven Spark ML pipeline")
    ap.add_argument("--config", default=None, help="YAML config path")
    ap.add_argument("--data", default=None, help="input data path (overrides config)")
    ap.add_argument("--algorithm", default=None)
    ap.add_argument("--task", default=None,
                    choices=["classification", "regression", "clustering"])
    ap.add_argument("--mode", default="train",
                    choices=["train", "prepare-corpus"])
    ap.add_argument("--eval-data", default=None,
                    help="eval corpus parquet for corpus.decontam")
    ap.add_argument("--output", default=None,
                    help="output path for prepare-corpus (omit to just count)")
    args = ap.parse_args(argv)

    orch = PipelineOrchestrator(args.config)
    try:
        if args.mode == "prepare-corpus":
            df = orch.load(args.data)
            eval_df = orch.load(args.eval_data) if args.eval_data else None
            out = orch.prepare_text_corpus(df, eval_df=eval_df)
            if args.output:
                from .sources.writers import write_data

                write_data(out, args.output)
                n = orch.spark.read.parquet(args.output).count()
            else:
                n = out.count()
            print(json.dumps({"rows": n}))
            return 0
        df = orch.load(args.data) if args.data else None
        _, metrics = orch.train(df, algorithm=args.algorithm, task=args.task)
        print(json.dumps(metrics, sort_keys=True))
        return 0
    finally:
        orch.stop()


if __name__ == "__main__":
    raise SystemExit(main())
