"""End-to-end lifecycle tests: config-driven orchestrator (E1) and the
serving surface (E2), mirroring the reference's api/pipeline behavior."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from big_data_ml_pipeline_spark.orchestrator import (
    PipelineOrchestrator,
    load_config,
    main,
)
from big_data_ml_pipeline_spark.serving import ServingService


@pytest.fixture(scope="module")
def data_path(spark, tmp_path_factory):
    """Parquet training table: 2 numeric + 1 categorical feature, binary label."""
    rows = [
        (float(i % 10), float((i * 3) % 7), ["u", "v"][i % 2],
         1.0 if (i % 10) > 4 else 0.0)
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["f1", "f2", "cat", "label"])
    path = str(tmp_path_factory.mktemp("data") / "train.parquet")
    df.write.parquet(path)
    return path


def test_load_config_merges_defaults(tmp_path):
    cfg = load_config({"model": {"algorithm": "logistic_regression"}})
    assert cfg["model"]["algorithm"] == "logistic_regression"
    assert cfg["model"]["task"] == "classification"  # default survives
    assert cfg["optimization"]["broadcast_threshold"] == 10 * 1024 * 1024
    yaml_path = tmp_path / "c.yaml"
    yaml_path.write_text("data:\n  label_col: y\n")
    assert load_config(str(yaml_path))["data"]["label_col"] == "y"


def test_orchestrator_full_lifecycle(spark, data_path, tmp_path):
    save_path = str(tmp_path / "model")
    orch = PipelineOrchestrator(
        {
            "data": {"input_path": data_path},
            "model": {"algorithm": "logistic_regression",
                      "params": {"max_iter": 20}, "save_path": save_path},
        },
        spark=spark,
    )
    model, metrics = orch.train()
    assert 0.0 <= metrics["accuracy"] <= 1.0
    assert metrics["accuracy"] > 0.6
    # categorical column was auto-discovered and indexed
    stage_names = [type(s).__name__ for s in model.stages]
    assert "StringIndexerModel" in stage_names

    # predict from the saved path (round-trip through S7)
    out = orch.predict(save_path, orch.load(), output_path=str(tmp_path / "preds.parquet"))
    assert out.count() == 120
    back = spark.read.parquet(str(tmp_path / "preds.parquet"))
    assert "prediction" in back.columns


def test_orchestrator_tuned_training(spark, data_path):
    orch = PipelineOrchestrator(
        {
            "data": {"input_path": data_path},
            "model": {"algorithm": "logistic_regression"},
            "tuning": {"enabled": True, "grid": {"regParam": [0.01, 0.5]},
                       "num_folds": 2, "parallelism": 2},
        },
        spark=spark,
    )
    model, metrics = orch.train()
    assert "accuracy" in metrics


def test_cli_main(data_path, tmp_path, capsys, monkeypatch):
    # main() builds its own orchestrator whose getOrCreate returns THIS
    # suite's shared session — suppress its shutdown or every later test
    # sees a stopped SparkContext.
    monkeypatch.setattr(PipelineOrchestrator, "stop", lambda self: None)
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text(
        f"data:\n  input_path: {data_path}\n"
        "model:\n  algorithm: logistic_regression\n  params:\n    max_iter: 10\n"
    )
    rc = main(["--config", str(cfg)])
    assert rc == 0
    assert '"accuracy"' in capsys.readouterr().out


def test_cli_prepare_corpus(spark, tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(PipelineOrchestrator, "stop", lambda self: None)
    docs = spark.createDataFrame(
        [
            (1, "the cat and a dog ran to of the barn fast"),
            (2, "the fox and a hen walked to of the pond slowly"),
            (3, "tiny"),
        ],
        ["doc_id", "text"],
    )
    in_path = str(tmp_path / "docs.parquet")
    docs.write.parquet(in_path)
    cfg = tmp_path / "cfg.yaml"
    cfg.write_text("corpus:\n  quality_rules:\n    min_tokens: 5\n")
    out_path = str(tmp_path / "clean.parquet")
    rc = main(
        ["--config", str(cfg), "--mode", "prepare-corpus",
         "--data", in_path, "--output", out_path]
    )
    assert rc == 0
    assert '"rows": 2' in capsys.readouterr().out
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out_path).collect()
    ) == [1, 2]


SERVE_PARAMS = {
    "logistic_regression": {"max_iter": 10},
    "random_forest": {"num_trees": 10, "max_depth": 4},
    "decision_tree": {"max_depth": 4},
    "naive_bayes": {},
}


@pytest.mark.parametrize("algorithm", sorted(SERVE_PARAMS))
def test_serving_train_job_and_predict(spark, data_path, algorithm):
    """predict_rows answers exactly what one batch transform of the same
    rows answers, and runs no Spark job: the request is a driver-local
    Arrow relation the optimizer folds the pipeline into."""
    svc = ServingService(PipelineOrchestrator(
        {"features": {"categorical_columns": [], "numeric_columns": ["f1", "f2"]},
         "model": {"params": SERVE_PARAMS[algorithm]}}, spark=spark
    ))
    job = svc.submit_train(data_path, algorithm, "classification", blocking=True)
    assert job["status"] == "completed", job["error"]
    assert 0.0 <= job["metrics"]["accuracy"] <= 1.0
    assert svc.job_status(job["job_id"])["status"] == "completed"

    # the reference's predict surface takes bare float rows
    # (api/api.py:176-184) — numeric-only feature set
    rows = [[1.0, 2.0], [9.0, 3.0], [5.0, 0.0], [7.5, 6.0]]
    sc = spark.sparkContext
    group = f"serve-{algorithm}"
    sc.setJobGroup(group, "predict_rows")
    try:
        preds = svc.predict_rows(job["job_id"], rows, ["f1", "f2"])
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []

    batch = svc.models[job["job_id"]].transform(
        spark.createDataFrame(rows, ["f1", "f2"]))
    assert preds == [r[0] for r in batch.select("prediction").collect()]


def test_serving_predict_rows_validates_request(spark, data_path):
    """Every request row gets exactly one prediction or the request is
    refused: an empty request answers [], and a row the feature
    assembler would silently skip (NaN, null) or a row of the wrong
    width raises ValueError naming the row (the /predict route's 422)."""
    svc = ServingService(PipelineOrchestrator(
        {"features": {"categorical_columns": [], "numeric_columns": ["f1", "f2"]},
         "model": {"params": {"max_iter": 5}}}, spark=spark
    ))
    job = svc.submit_train(data_path, "logistic_regression", "classification",
                           blocking=True)
    assert job["status"] == "completed", job["error"]
    name, names = job["job_id"], ["f1", "f2"]
    assert svc.predict_rows(name, [], names) == []
    bad_rows = [
        ([1.0, float("nan")], "must be finite"),
        ([float("inf"), 1.0], "must be finite"),
        ([None, 1.0], "must be numbers"),
        ([1.0, 2.0, 3.0], "3 values for 2"),
        ([1.0], "1 values for 2"),
    ]
    for bad, message in bad_rows:
        with pytest.raises(ValueError, match=f"row 2: .*{message}"):
            svc.predict_rows(name, [[1.0, 2.0], [9.0, 3.0], bad], names)


def test_http_status_mapping():
    """The routes' one exception -> (status, detail) mapping, checked
    without fastapi: unknown job/model is a 404 naming it, a refused
    request a 422 with the service's message, anything else a 500."""
    from big_data_ml_pipeline_spark.serving import http_status

    assert http_status(KeyError("m1"), "model: 'm1'") == (
        404, "unknown model: 'm1'"
    )
    assert http_status(KeyError("j1"), "job") == (404, "unknown job")
    assert http_status(
        ValueError("row 2: feature values must be finite"), "model: 'm1'"
    ) == (422, "row 2: feature values must be finite")
    with pytest.raises(RuntimeError, match="boom"):
        http_status(RuntimeError("boom"), "model: 'm1'")


def test_serving_predict_rows_concurrent(spark, data_path):
    """Concurrent handlers share one resolved JVM pipeline: more
    threads than cores, with a short switch interval, each get the
    answer a lone request gets."""
    import sys
    import threading

    svc = ServingService(PipelineOrchestrator(
        {"features": {"categorical_columns": [], "numeric_columns": ["f1", "f2"]},
         "model": {"params": {"num_trees": 5, "max_depth": 3}}}, spark=spark
    ))
    job = svc.submit_train(data_path, "random_forest", "classification",
                           blocking=True)
    assert job["status"] == "completed", job["error"]
    requests = [[[float(i % 10), float(j)] for j in range(i % 4 + 1)]
                for i in range(8)]
    want = [svc.predict_rows(job["job_id"], r, ["f1", "f2"]) for r in requests]
    got: dict[int, list[list[float]]] = {i: [] for i in range(len(requests))}

    def handler(i: int) -> None:
        for _ in range(3):
            got[i].append(
                svc.predict_rows(job["job_id"], requests[i], ["f1", "f2"]))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=handler, args=(i,), daemon=True)
                   for i in range(len(requests))]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert got == {i: [w] * 3 for i, w in enumerate(want)}


def test_serving_async_job(spark, data_path):
    svc = ServingService(PipelineOrchestrator(
        {"features": {"categorical_columns": [], "numeric_columns": ["f1", "f2"]},
         "model": {"params": {"max_iter": 10}}}, spark=spark
    ))
    job = svc.submit_train(data_path, "logistic_regression", "classification")
    assert job["status"] in ("running", "completed")
    for _ in range(120):
        if svc.job_status(job["job_id"])["status"] != "running":
            break
        time.sleep(1)
    assert svc.job_status(job["job_id"])["status"] == "completed"


def test_serving_metrics_and_registry_listing(spark, data_path):
    """/metrics parity (reference api/api.py:270-278): job counts from
    the registry plus latency stats; /models returns the in-process
    list with a best-effort MLflow registry section (None when mlflow
    is absent, as here). VERDICT r5 item 2."""
    svc = ServingService(PipelineOrchestrator(
        {"features": {"categorical_columns": [], "numeric_columns": ["f1", "f2"]},
         "model": {"params": {"max_iter": 5}}}, spark=spark
    ))
    m0 = svc.metrics()
    assert m0["total_training_jobs"] == 0 and m0["train_seconds_mean"] is None

    ok = svc.submit_train(data_path, "logistic_regression", "classification",
                          blocking=True)
    assert ok["status"] == "completed", ok["error"]
    bad = svc.submit_train("/nonexistent/path.parquet", "logistic_regression",
                           "classification", blocking=True)
    assert bad["status"] == "failed"

    m = svc.metrics()
    assert m["total_training_jobs"] == 2
    assert m["completed_jobs"] == 1 and m["failed_jobs"] == 1
    assert m["running_jobs"] == 0
    assert m["registered_models"] == 1  # only the successful job's model
    assert m["train_seconds_mean"] > 0
    assert m["train_seconds_max"] >= m["train_seconds_mean"]

    listing = svc.list_models_with_registry()
    assert listing["models"] == [ok["job_id"]]
    assert listing["registry"] is None  # mlflow not installed here


def test_serving_delete_model(spark, data_path):
    """DELETE /models/{model_path} (reference api/api.py:281-292 — the
    last reference route; VERDICT r16 item 6): delete returns the
    reference's {"status": "deleted", "model_path"} shape, the model
    disappears from the listing, and a re-delete (or deleting an
    unknown name) raises KeyError → the route's 404 — unlike the
    reference stub, which answers "deleted" without a registry.
    Re-registering a name swaps the model predict_rows serves."""
    svc = ServingService(PipelineOrchestrator(
        {"features": {"categorical_columns": [], "numeric_columns": ["f1", "f2"]},
         "model": {"params": {"max_iter": 5}}}, spark=spark
    ))
    ok = svc.submit_train(data_path, "logistic_regression", "classification",
                          blocking=True)
    assert ok["status"] == "completed", ok["error"]
    name = ok["job_id"]
    assert svc.list_models() == [name]

    # a model fitted on the flipped label answers the same rows the
    # other way round
    rows = [[1.0, 2.0], [9.0, 3.0]]
    before = svc.predict_rows(name, rows, ["f1", "f2"])
    flipped, _ = svc.orchestrator.train(
        spark.read.parquet(data_path).withColumn("label", 1.0 - F.col("label")),
        "logistic_regression", "classification")
    svc.register_model(name, flipped)
    assert svc.list_models() == [name]
    assert svc.predict_rows(name, rows, ["f1", "f2"]) == [1.0 - p for p in before]

    res = svc.delete_model(name)
    assert res == {"status": "deleted", "model_path": name}
    assert svc.list_models() == []
    with pytest.raises(KeyError):
        svc.delete_model(name)  # re-get after delete: route maps to 404
    with pytest.raises(KeyError):
        svc.predict_rows(name, [[1.0, 2.0]], ["f1", "f2"])


def test_track_logs_model_artifact(monkeypatch, spark):
    """_track must log the fitted model itself (reference
    src/ml_pipeline.py:217), not only params+metrics. mlflow isn't
    installable here, so substitute a recording fake module — the
    import-gated branch is fully exercised either way."""
    import sys
    import types

    calls = {}

    fake = types.ModuleType("mlflow")
    fake.spark = types.SimpleNamespace(
        log_model=lambda model, path: calls.setdefault("log_model", (model, path))
    )

    class _Run:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def _start_run(run_name=None):
        calls["run"] = run_name
        return _Run()

    fake.start_run = _start_run
    fake.log_params = lambda p: calls.setdefault("params", p)
    fake.log_metrics = lambda m: calls.setdefault("metrics", m)
    monkeypatch.setitem(sys.modules, "mlflow", fake)

    orch = PipelineOrchestrator({}, spark=spark)
    orch.config["tracking"]["enabled"] = True
    sentinel_model = object()
    orch._track("gbt", "regression", {"rmse": 1.5}, model=sentinel_model)
    assert calls["params"] == {"algorithm": "gbt", "task": "regression"}
    assert calls["metrics"] == {"rmse": 1.5}
    assert calls["log_model"] == (sentinel_model, "model")
    # no model (e.g. tuned path) → params/metrics only, no artifact call
    calls.clear()
    orch._track("gbt", "regression", {"rmse": 1.5})
    assert "log_model" not in calls and calls["metrics"] == {"rmse": 1.5}


def test_serving_batch_predict(spark, data_path, tmp_path):
    svc = ServingService(PipelineOrchestrator({}, spark=spark))
    job = svc.submit_train(data_path, "logistic_regression", "classification",
                           blocking=True)
    out_path = str(tmp_path / "scored.parquet")
    info = svc.predict_batch(job["job_id"], data_path, out_path)
    assert info["output"] == out_path
    assert spark.read.parquet(out_path).count() == 120


def test_optimization_config_reaches_dedup_guards(spark):
    """VERDICT r2 #7 round-trip: optimization.max_bucket_size /
    max_doc_freq flow from the YAML-shaped config into the dedup
    operators — observable behavior change, not just a stored key."""
    flood = spark.createDataFrame(
        [(i, "the very same text in every row") for i in range(300)]
        + [(300, "alpha beta gamma delta epsilon zeta"),
           (301, "alpha beta gamma delta epsilon eta")],
        "doc_id long, text string",
    )
    guarded = PipelineOrchestrator(
        {"optimization": {"max_bucket_size": 50}}, spark=spark
    )
    pairs = guarded.dedup_pairs(flood, "minhash").collect()
    in_flood = [p for p in pairs if p.id_a < 300 and p.id_b < 300]
    assert len(in_flood) == 299  # star degrade, not 300*299/2 all-pairs
    exact = PipelineOrchestrator(
        {"optimization": {"max_bucket_size": None}}, spark=spark
    )
    assert (
        len([p for p in exact.dedup_pairs(flood, "minhash").collect()
             if p.id_a < 300 and p.id_b < 300])
        == 300 * 299 // 2
    )

    # jaccard: config max_doc_freq drops the boilerplate hot shingle
    docs = spark.createDataFrame(
        [(i, f"spam spam spam u{i} v{i} w{i}") for i in range(20)]
        + [(100, "spam spam spam same tail here also"),
           (101, "spam spam spam same tail here also")],
        "doc_id long, text string",
    )
    orch = PipelineOrchestrator(
        {"optimization": {"max_doc_freq": 5}}, spark=spark
    )
    got = orch.dedup_pairs(docs, "jaccard", threshold=0.01).collect()
    assert [(p.id_a, p.id_b, p.jaccard) for p in got] == [(100, 101, 1.0)]

    with pytest.raises(ValueError, match="unknown dedup strategy"):
        orch.dedup_pairs(docs, "bogus")


def test_prepare_text_corpus_default_is_passthrough(spark):
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    orch = PipelineOrchestrator(spark=spark)
    df = spark.createDataFrame(
        [(1, "en", "hello world"), (2, "de", "ok")], ["doc_id", "lang", "text"]
    )
    out = orch.prepare_text_corpus(df)
    assert out.collect() == df.collect()


def test_prepare_text_corpus_full_pipeline(spark):
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    rows = [
        (1, "en", "reach me at a.b@example.com " + "useful words " * 10),
        (2, "en", "tiny"),  # dropped by min_tokens
        (3, "en", "word " * 30),
        (4, "de", "wort " * 30),
    ]
    orch = PipelineOrchestrator(
        config={
            "corpus": {
                "scrub_pii": True,
                "min_tokens": 5,
                "budget_tokens": 100,
                "chunk_size": 16,
                "chunk_overlap": 4,
            }
        },
        spark=spark,
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = orch.prepare_text_corpus(df).collect()
    ids = {r["doc_id"] for r in out}
    assert 2 not in ids  # quality gate
    assert {1, 3, 4} <= ids  # budget keeps all (under 100 tokens/lang)
    # chunked output schema with scrubbed text
    chunk1 = [r for r in out if r["doc_id"] == 1][0]
    assert chunk1["chunk_text"].startswith("reach me at <EMAIL>")
    for r in out:
        assert r["n_chunk_tokens"] <= 16


def test_corpus_config_reaches_quality_rules(spark):
    """VERDICT r4 #5 round-trip: corpus.quality_rules thresholds flow
    from config into operators/text.quality_rules, filter on keep, and
    leave the caller's schema unchanged (signal columns dropped)."""
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    rows = [
        (1, "en", "the cat and a dog ran to of the barn fast"),  # natural
        (2, "en", "spam " * 20),  # top-token dominance reject
        (3, "en", "tiny doc"),  # min_tokens reject
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    orch = PipelineOrchestrator(
        config={"corpus": {"quality_rules": {"min_tokens": 5}}}, spark=spark
    )
    out = orch.prepare_text_corpus(df)
    assert out.columns == df.columns  # signal columns dropped
    assert [r["doc_id"] for r in out.collect()] == [1]
    # Disabled by default: passthrough.
    assert PipelineOrchestrator(spark=spark).prepare_text_corpus(df).count() == 3
    # Threshold override reaches the operator: loosen dominance cap so
    # the spam doc survives.
    loose = PipelineOrchestrator(
        config={"corpus": {"quality_rules": {
            "min_tokens": 5, "max_top_token_share": 1.0,
            "min_distinct_ratio": 0.0, "min_stopword_ratio": 0.0,
        }}},
        spark=spark,
    )
    assert sorted(
        r["doc_id"] for r in loose.prepare_text_corpus(df).collect()
    ) == [1, 2]


def test_dedup_corpus_end_to_end(spark):
    """Pairs → connected components → representative keep-list: one
    survivor per near-dup group (the min id), unpaired docs untouched."""
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base + " extra"),  # near-dup of 1
        (3, base + " extra words"),  # near-dup chain -> same component
        (10, "completely different text about distributed query engines"),
        (11, "short"),  # too short to shingle; must survive
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    orch = PipelineOrchestrator(spark=spark)
    kept = sorted(
        r["doc_id"]
        for r in orch.dedup_corpus(df, "jaccard", threshold=0.5).collect()
    )
    assert kept == [1, 10, 11]
    # exact strategy: only byte-identical (normalized) docs collapse.
    dup = spark.createDataFrame(
        [(1, "Same  Doc"), (2, "same doc"), (3, "other")], ["doc_id", "text"]
    )
    assert sorted(
        r["doc_id"] for r in orch.dedup_corpus(dup, "exact").collect()
    ) == [1, 3]


def test_corpus_config_reaches_decontamination(spark):
    """corpus.decontam round-trip: flagged docs are dropped against the
    eval corpus passed to prepare_text_corpus; enabling the step
    without an eval_df is an explicit error, not a silent no-op."""
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    train = spark.createDataFrame(
        [
            (1, "en", "the quick brown fox jumps over the lazy dog"),
            (2, "en", "completely unrelated sentence with other words entirely"),
        ],
        ["doc_id", "lang", "text"],
    )
    eval_df = spark.createDataFrame(
        [(100, "en", "quick brown fox jumps tonight")], ["doc_id", "lang", "text"]
    )
    orch = PipelineOrchestrator(
        config={"corpus": {"decontam": {"n": 3}}}, spark=spark
    )
    kept = [r["doc_id"] for r in orch.prepare_text_corpus(train, eval_df=eval_df).collect()]
    assert kept == [2]
    # min_hits override reaches the operator.
    loose = PipelineOrchestrator(
        config={"corpus": {"decontam": {"n": 3, "min_hits": 5}}}, spark=spark
    )
    assert sorted(
        r["doc_id"] for r in loose.prepare_text_corpus(train, eval_df=eval_df).collect()
    ) == [1, 2]
    with pytest.raises(ValueError, match="eval_df"):
        orch.prepare_text_corpus(train)


def test_orchestrator_ingest_corpus_stream(spark, tmp_path):
    """Config round-trip for the streaming ingestion path: quality
    thresholds and the exact-dedup screen flow from corpus config into
    streaming/corpus, landing only gated never-seen docs."""
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    good = "the cat and a dog ran to of the barn fast today"
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    df = spark.createDataFrame(
        [(1, good, "en"), (2, good.upper(), "en"), (3, "tiny", "en")],
        ["doc_id", "text", "lang"],
    )
    df.toPandas().to_parquet(str(in_dir / "shard0.parquet"), index=False)
    orch = PipelineOrchestrator(
        config={"corpus": {"ingest_quality_rules": {"min_tokens": 5}}},
        spark=spark,
    )
    orch.ingest_corpus_stream(
        str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    landed = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert landed == [1]  # 2 is a case-fold duplicate, 3 fails min_tokens


def test_prepare_text_corpus_budget_caps_group(spark):
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    # 5 docs x 4 tokens in lang a, budget 10 -> first overshooter kept
    rows = [(i, "a", "w w w w") for i in range(5)]
    orch = PipelineOrchestrator(
        config={"corpus": {"budget_tokens": 10}}, spark=spark
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    kept = sorted(r["doc_id"] for r in orch.prepare_text_corpus(df).collect())
    assert kept == [0, 1, 2]


def test_prepare_text_corpus_mix_and_shards(spark):
    """corpus.mix downsamples sources to the exact configured ratio and
    corpus.shards appends deterministic (shard, pos) export columns as
    the final step — both config-driven, both pure functions of row
    content."""
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    rows = [(i, "en", "srcA" if i < 12 else "srcB", "word " * 20)
            for i in range(18)]  # 12 srcA, 6 srcB
    df = spark.createDataFrame(rows, ["doc_id", "lang", "source", "text"])
    orch = PipelineOrchestrator(
        spark=spark,
        config={"corpus": {"mix": {"weights": {"srcA": 2, "srcB": 1}},
                           "shards": 4}},
    )
    out = orch.prepare_text_corpus(df)
    got = out.collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    # scale = min(12//2, 6//1) = 6 -> srcA keeps 12, srcB keeps 6.
    assert len(by_src["srcA"]) == 12 and len(by_src["srcB"]) == 6
    assert {"shard", "pos"} <= set(out.columns)
    assert {r["shard"] for r in got} <= set(range(4))
    rerun = orch.prepare_text_corpus(df.repartition(5)).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, rerun))


def test_orchestrator_ingest_embeddings_stream(spark, tmp_path):
    """Config round-trip for streaming embedding ingestion: threshold
    and centroid kit flow from embeddings config into
    streaming/embeddings, landing only semantically-novel vectors."""
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    e1 = [1.0, 0.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(1, e1, 0), (2, e1, 0), (3, [0.0, 1.0, 0.0, 0.0], 0)],
        ["vec_id", "embedding", "label"],
    )
    df.toPandas().to_parquet(str(in_dir / "shard0.parquet"), index=False)
    cents = [[1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0], [0, 0, 0, 1.0]]
    orch = PipelineOrchestrator(
        config={"embeddings": {"ingest_threshold": 0.9,
                               "ingest_centroids": cents}},
        spark=spark,
    )
    orch.ingest_embeddings_stream(
        str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    landed = sorted(
        r["vec_id"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert landed == [1, 3]  # 2 is an exact duplicate of 1


def test_orchestrator_build_embedding_index(spark, tmp_path):
    """Index-build step: lands the cell-assigned corpus range-clustered
    on cell, probing the landed index equals the inline probe, and the
    returned health report covers every configured cell."""
    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
        ivf_topk,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    orch = PipelineOrchestrator(spark=spark)
    out = str(tmp_path / "ivf")
    stats = orch.build_embedding_index(emb, out).collect()
    assert len(stats) == 16 and sum(r["n_vectors"] for r in stats) == emb.count()
    cents = deterministic_ivf_centroids(dim=64, n_cells=16)
    loaded = spark.read.parquet(out)
    q = emb.filter(F.col("vec_id") == 0)
    from_index = ivf_topk(emb, q, k=5, centroids=cents, index=loaded).collect()
    inline = ivf_topk(emb, q, k=5, centroids=cents).collect()
    assert [tuple(r) for r in from_index] == [tuple(r) for r in inline]


def test_orchestrator_recenter_iters_reduces_inertia(spark, tmp_path):
    """embeddings.recenter_iters: two bounded Lloyd steps before the
    index build strictly reduce the KMeans objective vs the raw
    deterministic kit (measured from the LANDED assignments against
    their own cell means), and the landed index still partitions the
    corpus."""
    import numpy as np

    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()

    def inertia(index_rows):
        cells = {}
        for r in index_rows:
            cells.setdefault(r["cell"], []).append(r["v"])
        tot = 0.0
        for vs in cells.values():
            m = np.array(vs)
            tot += float(((m - m.mean(axis=0)) ** 2).sum())
        return tot

    out0, out2 = str(tmp_path / "i0"), str(tmp_path / "i2")
    PipelineOrchestrator(spark=spark).build_embedding_index(emb, out0)
    orch2 = PipelineOrchestrator(
        config={"embeddings": {"recenter_iters": 2}}, spark=spark
    )
    stats2 = orch2.build_embedding_index(emb, out2).collect()
    rows0 = spark.read.parquet(out0).collect()
    rows2 = spark.read.parquet(out2).collect()
    assert len(rows2) == n and sum(r["n_vectors"] for r in stats2) == n
    i0, i2 = inertia(rows0), inertia(rows2)
    print(f"inertia: raw kit {i0:.2f} -> 2 Lloyd iters {i2:.2f}")
    assert i2 < i0


def test_shipped_example_config_loads_and_merges(spark):
    """config/pipeline_config.yaml parses, merges over DEFAULT_CONFIG,
    and drives an orchestrator without errors."""
    import os

    from big_data_ml_pipeline_spark.orchestrator import (
        PipelineOrchestrator,
        load_config,
    )

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "config", "pipeline_config.yaml")
    cfg = load_config(path)
    assert cfg["model"]["algorithm"] == "random_forest"
    assert cfg["model"]["params"]["numTrees"] == 100
    assert cfg["corpus"]["quality_rules"] == {"min_tokens": 10}
    assert cfg["embeddings"]["ingest_n_cells"] == 16
    orch = PipelineOrchestrator(config=cfg, spark=spark)
    docs = spark.createDataFrame(
        [(1, "the cat and a dog ran to of the barn fast today", "en")],
        ["doc_id", "text", "lang"],
    )
    assert orch.prepare_text_corpus(docs).count() == 1


def test_corpus_config_span_dedup_step(spark):
    """corpus.span_dedup excises cross-document duplicate spans inside
    the config pipeline: the borrower's text loses the shared run
    (other columns intact), the keeper is untouched, and downstream
    steps see the cleaned text."""
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    shared = " ".join(f"dup{i}" for i in range(16))
    rows = [
        (1, "en", "alpha beta " + shared + " gamma delta"),
        (2, "en", "one two three four " + shared + " five six"),
        (3, "en", "totally unrelated words that stand alone here fine"),
    ]
    orch = PipelineOrchestrator(
        config={"corpus": {"span_dedup": {"k": 5, "min_len": 10}}},
        spark=spark,
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {r["doc_id"]: r for r in orch.prepare_text_corpus(df).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["text"] == rows[0][2]          # keeper untouched
    assert out[2]["text"] == "one two three four five six"
    assert out[3]["text"] == rows[2][2]
    assert out[2]["lang"] == "en"                # other columns survive


def test_corpus_config_bpe_chunking(spark):
    """corpus.bpe_merges switches the chunk step to BPE tokenizer
    tokens: chunk token counts sum to the documents' BPE counts, not
    their whitespace counts."""
    from big_data_ml_pipeline_spark.operators import text as text_ops
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    merges = [["t", "h"], ["th", "e"], ["a", "n"], ["an", "d"]]
    rows = [(i, "the quick and steady hand then struck " * 2) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    orch = PipelineOrchestrator(
        config={"corpus": {"chunk_size": 16, "chunk_overlap": 0,
                           "bpe_merges": merges}},
        spark=spark,
    )
    out = orch.prepare_text_corpus(df).collect()
    enc = text_ops.bpe_encode(df, [tuple(m) for m in merges]).first()
    per_doc = {}
    for r in out:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n_chunk_tokens"]
    assert per_doc == {i: enc["n_bpe_tokens"] for i in range(3)}


def test_corpus_config_auto_lang_profiles(spark):
    """quality_rules lang_profiles with lang_col 'auto' derives the
    language via lang_id inside the gate: German text with zero
    English stopwords survives, stopword-free English does not, and
    the helper column never leaks into the output schema."""
    from big_data_ml_pipeline_spark.operators import text as text_ops
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    de = ("der schnelle braune fuchs springt über den faulen hund "
          "während die sonne hinter den bergen langsam untergeht "
          "und der alte müller seine mühle am rauschenden bach öffnet") * 2
    # One 'the' makes lang_id say 'en', but 1 stopword in ~100 tokens
    # is under the English profile's 0.05 floor (and over the 0.01
    # default — the language-blind gate would have kept it).
    en_bad = "the " + ("quick brown fox jumps over lazy dog near riverbank "
                       "while evening sunlight fades behind distant mountain "
                       "peaks casting long shadows across quiet meadow grass "
                       "tonight differs each word onward never repeating") * 2
    df = spark.createDataFrame(
        [(1, de), (2, en_bad)], ["doc_id", "text"]
    )
    orch = PipelineOrchestrator(
        config={"corpus": {"quality_rules": {
            "lang_profiles": text_ops.GOPHER_LANG_PROFILES,
            "lang_col": "auto",
        }}},
        spark=spark,
    )
    out = orch.prepare_text_corpus(df)
    assert set(out.columns) == {"doc_id", "text"}
    assert [r["doc_id"] for r in out.collect()] == [1]


def test_corpus_pack_stage_shares_one_quantile_scan(spark, monkeypatch):
    """The corpus.pack config appends pack_id after mixing, and when
    BOTH the budget and pack stages bucket their cumsums, the composed
    pipeline runs ONE approxQuantile cut-point scan, not one per stage
    (VERDICT r8 item 4). Output is identical to the unbucketed
    pipeline — the two-level cumsum is a physical rewrite only."""
    from big_data_ml_pipeline_spark.operators import text as text_ops
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    rows = [
        (i, "en" if i % 10 != 9 else "de", "tok " * (1 + (i * 7) % 13))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])

    def cfg(nb):
        return {
            "corpus": {
                "budget_tokens": 600,
                "budget_n_buckets": nb,
                "pack": {"budget_tokens": 64, "n_buckets": nb},
            }
        }

    calls = []
    real = text_ops.compute_bucket_cuts

    def counting(df_, id_col, n_buckets):
        calls.append(n_buckets)
        return real(df_, id_col, n_buckets)

    monkeypatch.setattr(text_ops, "compute_bucket_cuts", counting)
    bucketed = PipelineOrchestrator(config=cfg(4), spark=spark)
    got_b = sorted(
        (r["doc_id"], r["pack_id"])
        for r in bucketed.prepare_text_corpus(df).collect()
    )
    assert calls == [4]  # budget + pack shared ONE quantile scan
    plain = PipelineOrchestrator(config=cfg(None), spark=spark)
    got_p = sorted(
        (r["doc_id"], r["pack_id"])
        for r in plain.prepare_text_corpus(df).collect()
    )
    assert got_b == got_p
    assert len(got_b) > 0


def test_corpus_config_bpe_learn_chunking(spark):
    """corpus.bpe_learn trains the merge table from the gated corpus
    itself and chunks on the learned tokenizer tokens — equal to
    learning with bpe_learn_merges and passing the table as
    corpus.bpe_merges; setting both knobs is a loud error."""
    import pytest as _pytest

    from big_data_ml_pipeline_spark.operators import text as text_ops
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    rows = [(i, "the quick and steady hand then struck " * 2) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    orch = PipelineOrchestrator(
        config={"corpus": {"chunk_size": 16, "chunk_overlap": 0,
                           "bpe_learn": 4}},
        spark=spark,
    )
    out = orch.prepare_text_corpus(df).collect()

    learned = [
        (r["a"], r["b"])
        for r in text_ops.bpe_learn_merges(df, n_merges=4)
        .orderBy("merge_rank")
        .collect()
    ]
    orch2 = PipelineOrchestrator(
        config={"corpus": {"chunk_size": 16, "chunk_overlap": 0,
                           "bpe_merges": [list(m) for m in learned]}},
        spark=spark,
    )
    expect = orch2.prepare_text_corpus(df).collect()
    key = lambda r: (r["doc_id"], r["chunk_id"])  # noqa: E731
    assert sorted(
        [(r["doc_id"], r["chunk_id"], r["chunk_text"]) for r in out]
    ) == sorted(
        [(r["doc_id"], r["chunk_id"], r["chunk_text"]) for r in expect]
    )

    with _pytest.raises(ValueError, match="not both"):
        PipelineOrchestrator(
            config={"corpus": {"chunk_size": 16, "bpe_learn": 2,
                               "bpe_merges": [["t", "h"]]}},
            spark=spark,
        ).prepare_text_corpus(df).collect()


def test_corpus_config_model_quality_filter(spark):
    """corpus.model_quality_filter runs the q160 classifier composition
    inside prepare_text_corpus: on a planted corpus the head-like docs
    survive, the gibberish tail is dropped, and the caller's schema is
    untouched (no score columns leak)."""
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    rows = []
    for i in range(30):
        rows.append(
            (
                i,
                "the quick brown fox and the lazy dog walk to the old "
                f"market of the town and they talk about the news {i}",
                "en",
            )
        )
    for i in range(30):
        rows.append(
            (100 + i, " ".join(f"qz{i}x{j}vw" for j in range(30)), "en")
        )
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    orch = PipelineOrchestrator(
        config={
            "corpus": {
                "model_quality_filter": {
                    "keep_threshold": 0.5,
                    "lang_col": "lang",
                }
            }
        },
        spark=spark,
    )
    out = orch.prepare_text_corpus(df)
    assert out.columns == df.columns
    kept = {r["doc_id"] for r in out.collect()}
    heads = set(range(30))
    tails = {100 + i for i in range(30)}
    # the classifier must keep a clear majority of heads and drop a
    # clear majority of tails (exact membership is solver float)
    assert len(kept & heads) >= 25
    assert len(kept & tails) <= 5


def test_orchestrator_build_pq_index(spark, tmp_path):
    """embeddings.pq config: the landed index carries (id, cell,
    codes) instead of raw vectors, probing the LANDED index through
    ivf_pq_knn_join(index=) equals the inline probe, and the health
    report is unchanged by the compact representation."""
    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
        ivf_pq_knn_join,
        pq_codebooks,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    orch = PipelineOrchestrator(
        config={"embeddings": {"pq": {"m": 8, "k": 16}}}, spark=spark
    )
    out = str(tmp_path / "ivfpq")
    stats = orch.build_embedding_index(emb, out).collect()
    assert sum(r["n_vectors"] for r in stats) == emb.count()

    loaded = spark.read.parquet(out)
    assert set(loaded.columns) == {"vec_id", "cell", "codes"}
    assert loaded.count() == emb.count()

    cents = deterministic_ivf_centroids(dim=64, n_cells=16)
    cbs = pq_codebooks(dim=64, m=8, k=16)
    q = emb.filter(F.col("vec_id") % 100 == 0)
    from_index = ivf_pq_knn_join(
        emb, q, cents, cbs, k=5, nprobe=4,
        round_assign_digits=6, index=loaded,
    ).collect()
    inline = ivf_pq_knn_join(
        emb, q, cents, cbs, k=5, nprobe=4, round_assign_digits=6
    ).collect()
    assert sorted(map(tuple, from_index)) == sorted(map(tuple, inline))


def test_orchestrator_pq_ingest_codes_only(spark, tmp_path):
    """embeddings.pq with ingest:true flows into the streaming path:
    the landed hot state is codes-only (no raw vector column), the
    codes match pq_encode under the same kit, and exact duplicates
    still drop via the stored fingerprint."""
    from big_data_ml_pipeline_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    e1 = [1.0, 0.0, 0.0, 0.0, 0.5, 0.5, -0.5, 0.25]
    e2 = [0.0, 1.0, 0.0, 0.0, -0.5, 0.5, 0.5, -0.25]
    df = spark.createDataFrame(
        [(1, e1, 0), (2, e1, 0), (3, e2, 0)],
        ["vec_id", "embedding", "label"],
    )
    df.toPandas().to_parquet(str(in_dir / "shard0.parquet"), index=False)
    orch = PipelineOrchestrator(
        config={"embeddings": {"ingest_threshold": 0.99,
                               "ingest_dim": 8, "ingest_n_cells": 4,
                               "ingest_screen_round_digits": 6,
                               "pq": {"m": 4, "k": 4, "ingest": True}}},
        spark=spark,
    )
    orch.ingest_embeddings_stream(
        str(in_dir), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    landed = spark.read.parquet(str(tmp_path / "out"))
    assert set(landed.columns) == {"vec_id", "codes", "cell", "fp"}
    rows = {r["vec_id"]: list(r["codes"]) for r in landed.collect()}
    assert sorted(rows) == [1, 3]  # 2 is an exact duplicate of 1
    cbs = pq_codebooks(dim=8, m=4, k=4)
    expect = {
        r["vec_id"]: list(r["codes"])
        for r in pq_encode(
            df.filter(F.col("vec_id") != 2), cbs
        ).collect()
    }
    assert rows == expect


def test_orchestrator_build_pq_index_residual(spark, tmp_path):
    """embeddings.pq with residual:true (true IVFADC): the landed
    index equals ivf_pq_index(residual=True) under the same kit, and
    probing it through ivf_pq_knn_join(residual=True, index=) equals
    the inline residual probe."""
    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
        ivf_pq_index,
        ivf_pq_knn_join,
        pq_codebooks,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    orch = PipelineOrchestrator(
        config={"embeddings": {"pq": {"m": 8, "k": 16, "residual": True}}},
        spark=spark,
    )
    out = str(tmp_path / "ivfpq_res")
    orch.build_embedding_index(emb, out)
    loaded = spark.read.parquet(out)
    cents = deterministic_ivf_centroids(dim=64, n_cells=16)
    cbs = pq_codebooks(dim=64, m=8, k=16)
    want = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in ivf_pq_index(emb, cents, cbs, residual=True).collect()
    }
    got = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in loaded.collect()
    }
    assert got == want
    # Residual codes must differ from raw codes somewhere (the config
    # flag actually changed the encoding).
    raw = {
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in ivf_pq_index(emb, cents, cbs).collect()
    }
    assert got != raw
    q = emb.filter(F.col("vec_id") % 100 == 0)
    from_index = ivf_pq_knn_join(
        emb, q, cents, cbs, k=5, nprobe=4,
        round_assign_digits=6, index=loaded, residual=True,
    ).collect()
    inline = ivf_pq_knn_join(
        emb, q, cents, cbs, k=5, nprobe=4,
        round_assign_digits=6, residual=True,
    ).collect()
    assert sorted(map(tuple, from_index)) == sorted(map(tuple, inline))


def test_orchestrator_pq_residual_ingest_and_rotation(spark, tmp_path):
    """embeddings.pq with ingest+residual flows into the streaming
    path (landed codes quantize v − centroid(cell)), and
    rotate_embedding_codebooks re-encodes the live state under a new
    kit through the config surface — refusing when the config's pq
    block is missing, stamping the residual-aware _PQ_SPEC, and
    updating pq.codebooks in place for continued ingests."""
    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
        ivf_index,
        pq_append_codes,
        pq_codebooks,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator
    from big_data_ml_pipeline_spark.streaming.embeddings import (
        _pq_fingerprint,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    e1 = [1.0, 0.0, 0.0, 0.0, 0.5, 0.5, -0.5, 0.25]
    e2 = [0.0, 1.0, 0.0, 0.0, -0.5, 0.5, 0.5, -0.25]
    e3 = [0.25, -1.0, 0.5, 0.0, 0.75, -0.5, 0.5, 1.25]
    df = spark.createDataFrame(
        [(1, e1), (2, e1), (3, e2), (4, e3)], ["vec_id", "embedding"]
    )
    df.toPandas().to_parquet(str(in_dir / "shard0.parquet"), index=False)
    cfg = {"embeddings": {"ingest_threshold": 0.99,
                          "ingest_dim": 8, "ingest_n_cells": 4,
                          "ingest_screen_round_digits": 6,
                          "pq": {"m": 4, "k": 4, "ingest": True,
                                 "residual": True}}}
    orch = PipelineOrchestrator(config=cfg, spark=spark)
    out = str(tmp_path / "out")
    orch.ingest_embeddings_stream(str(in_dir), out, str(tmp_path / "ckpt"))
    landed = spark.read.parquet(out)
    assert set(landed.columns) == {"vec_id", "codes", "cell", "fp"}
    rows = {r["vec_id"]: list(r["codes"]) for r in landed.collect()}
    assert sorted(rows) == [1, 3, 4]  # 2 is an exact duplicate of 1
    cents = deterministic_ivf_centroids(dim=8, n_cells=4)
    kit_a = pq_codebooks(dim=8, m=4, k=4)
    survivors = df.filter(F.col("vec_id") != 2)
    expect = {
        r["vec_id"]: list(r["codes"])
        for r in pq_append_codes(
            ivf_index(survivors, cents), kit_a, vec_col="v",
            centroids=cents,
        ).collect()
    }
    assert rows == expect
    with open(out + "/_PQ_SPEC") as fh:
        assert fh.read().strip() == _pq_fingerprint(kit_a, cents)

    # Rotation surface: kit B = every codebook's entries reversed —
    # identical reconstruction SET so decisions can't change; every
    # code index must flip to K-1-c.
    kit_b = [list(reversed(cb)) for cb in kit_a]
    no_pq = PipelineOrchestrator(
        config={"embeddings": {"ingest_dim": 8, "ingest_n_cells": 4}},
        spark=spark,
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pq.ingest"):
        no_pq.rotate_embedding_codebooks(out, df)
    status = orch.rotate_embedding_codebooks(out, df, new_codebooks=kit_b)
    assert "rotated" in status
    after = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(out).collect()
    }
    assert after == {vid: [4 - 1 - c for c in cs] for vid, cs in rows.items()}
    with open(out + "/_PQ_SPEC") as fh:
        assert fh.read().strip() == _pq_fingerprint(kit_b, cents)
    # Config updated in place: a continued ingest through THIS
    # orchestrator reopens the rotated state without a marker refusal.
    assert orch.config["embeddings"]["pq"]["codebooks"] == kit_b
    orch.ingest_embeddings_stream(str(in_dir), out, str(tmp_path / "ckpt2"))
    assert spark.read.parquet(out).count() == 3  # full replay, no growth


def test_orchestrator_rotation_fit_path(spark, tmp_path):
    """rotate_embedding_codebooks with new_codebooks=None TRAINS the
    replacement kit on the supplied cold corpus (fit_pq_codebooks,
    residual-aware): the rotated state reopens cleanly under the
    updated config (fingerprint written from the very objects stored
    into pq.codebooks), and the re-encoded codes match a direct
    pq_append_codes under the fitted kit."""
    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
        ivf_index,
        pq_append_codes,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(12)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    df.toPandas().to_parquet(str(in_dir / "shard0.parquet"), index=False)
    cfg = {"embeddings": {"ingest_threshold": 0.999,
                          "ingest_dim": 8, "ingest_n_cells": 4,
                          "ingest_screen_round_digits": 6,
                          "pq": {"m": 4, "k": 4, "ingest": True,
                                 "residual": True}}}
    orch = PipelineOrchestrator(config=cfg, spark=spark)
    out = str(tmp_path / "out")
    orch.ingest_embeddings_stream(str(in_dir), out, str(tmp_path / "ck"))
    n0 = spark.read.parquet(out).count()
    status = orch.rotate_embedding_codebooks(out, df)
    assert "rotated" in status
    fitted = orch.config["embeddings"]["pq"]["codebooks"]
    assert len(fitted) == 4 and all(len(cb) == 4 for cb in fitted)
    cents = deterministic_ivf_centroids(dim=8, n_cells=4)
    want = {
        r["vec_id"]: list(r["codes"])
        for r in pq_append_codes(
            ivf_index(df, cents), fitted, vec_col="v", centroids=cents
        ).collect()
        if r["vec_id"] in {x[0] for x in rows}
    }
    got = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(out).collect()
    }
    for vid, codes in got.items():
        assert codes == want[vid], vid
    # Continued ingest under the updated config reopens the rotated
    # marker without refusal; a full replay lands nothing new.
    orch.ingest_embeddings_stream(str(in_dir), out, str(tmp_path / "ck2"))
    assert spark.read.parquet(out).count() == n0


def test_orchestrator_maintain_embedding_cells(spark, tmp_path):
    """maintain_embedding_cells closes the q183 maintenance loop on
    the config surface: ranks cells by residual distortion over the
    LANDED corpus, recenters the top_n worst on their current members,
    selectively rotates only those cells' codes, and updates
    ingest_centroids in place — with the post-repair state carrying
    the moved kit's _PQ_SPEC. Refuses without pq.residual."""
    import os

    import pytest as _pytest
    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
        pq_codebooks,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator
    from big_data_ml_pipeline_spark.streaming.embeddings import (
        _pq_fingerprint,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    e1 = [1.0, 0.0, 0.0, 0.0, 0.5, 0.5, -0.5, 0.25]
    e2 = [0.0, 1.0, 0.0, 0.0, -0.5, 0.5, 0.5, -0.25]
    e3 = [0.25, -1.0, 0.5, 0.0, 0.75, -0.5, 0.5, 1.25]
    df = spark.createDataFrame(
        [(1, e1), (2, e1), (3, e2), (4, e3)], ["vec_id", "embedding"]
    )
    df.toPandas().to_parquet(str(in_dir / "shard0.parquet"), index=False)
    cfg = {"embeddings": {"ingest_threshold": 0.99,
                          "ingest_dim": 8, "ingest_n_cells": 4,
                          "ingest_screen_round_digits": 6,
                          "pq": {"m": 4, "k": 4, "ingest": True,
                                 "residual": True}}}
    orch = PipelineOrchestrator(config=cfg, spark=spark)
    out = str(tmp_path / "out")
    orch.ingest_embeddings_stream(str(in_dir), out, str(tmp_path / "ckpt"))

    raw_only = PipelineOrchestrator(
        config={"embeddings": {"ingest_dim": 8, "ingest_n_cells": 4,
                               "pq": {"m": 4, "k": 4, "ingest": True}}},
        spark=spark,
    )
    with _pytest.raises(ValueError, match="residual"):
        raw_only.maintain_embedding_cells(out, df)

    res = orch.maintain_embedding_cells(out, df, top_n=1)
    assert len(res["cells"]) == 1
    assert "rotated" in res["status"] or "no state" in res["status"]
    cents0 = deterministic_ivf_centroids(dim=8, n_cells=4)
    kit = pq_codebooks(dim=8, m=4, k=4)
    moved = res["centroids"]
    flagged = res["cells"][0]
    for i in range(4):
        if i == flagged:
            assert moved[i] != list(map(float, cents0[i]))
        else:
            assert moved[i] == [float(x) for x in cents0[i]]
    # config updated in place for continued ingests
    assert orch.config["embeddings"]["ingest_centroids"] == moved
    with open(os.path.join(out, "_PQ_SPEC")) as fh:
        assert fh.read().strip() == _pq_fingerprint(kit, moved)
    # repair is idempotent at the marker level: a second pass flags by
    # the NEW kit and rotates again without refusing provenance
    res2 = orch.maintain_embedding_cells(out, df, top_n=1)
    assert res2["cells"], res2


def test_orchestrator_maintain_cells_under_opq_rotation(spark, tmp_path):
    """maintain_embedding_cells on an OPQ + residual state: the config's
    pq.rotation threads through the distortion ranking, the selective
    rotation, and the post-repair _PQ_SPEC (rotation + moved centroids
    folded in together)."""
    import os

    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
        pq_codebooks,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator
    from big_data_ml_pipeline_spark.streaming.embeddings import (
        _pq_fingerprint,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    e1 = [1.0, 0.0, 0.0, 0.0, 0.5, 0.5, -0.5, 0.25]
    e2 = [0.0, 1.0, 0.0, 0.0, -0.5, 0.5, 0.5, -0.25]
    e3 = [0.25, -1.0, 0.5, 0.0, 0.75, -0.5, 0.5, 1.25]
    df = spark.createDataFrame(
        [(1, e1), (2, e2), (3, e3)], ["vec_id", "embedding"]
    )
    df.toPandas().to_parquet(str(in_dir / "shard0.parquet"), index=False)
    # Reversal permutation — orthogonal, exercised end-to-end.
    R = [[1.0 if j == 7 - i else 0.0 for j in range(8)] for i in range(8)]
    cfg = {"embeddings": {"ingest_threshold": 0.99,
                          "ingest_dim": 8, "ingest_n_cells": 4,
                          "ingest_screen_round_digits": 6,
                          "pq": {"m": 4, "k": 4, "ingest": True,
                                 "residual": True, "rotation": R}}}
    orch = PipelineOrchestrator(config=cfg, spark=spark)
    out = str(tmp_path / "out")
    orch.ingest_embeddings_stream(str(in_dir), out, str(tmp_path / "ckpt"))
    kit = pq_codebooks(dim=8, m=4, k=4)
    cents0 = deterministic_ivf_centroids(dim=8, n_cells=4)
    with open(os.path.join(out, "_PQ_SPEC")) as fh:
        assert fh.read().strip() == _pq_fingerprint(kit, cents0, R)
    res = orch.maintain_embedding_cells(out, df, top_n=1)
    assert len(res["cells"]) == 1 and "rotated" in res["status"]
    with open(os.path.join(out, "_PQ_SPEC")) as fh:
        assert fh.read().strip() == _pq_fingerprint(
            kit, res["centroids"], R
        )
    # Continued ingest under the repaired kit reopens cleanly.
    df2 = spark.createDataFrame(
        [(9, [0.1] * 8)], ["vec_id", "embedding"]
    )
    in2 = tmp_path / "in2"
    in2.mkdir()
    df2.toPandas().to_parquet(str(in2 / "s.parquet"), index=False)
    orch.ingest_embeddings_stream(str(in2), out, str(tmp_path / "ck2"))
    assert spark.read.parquet(out).count() == 4


def test_fit_pq_codebooks_rotation_trains_in_rotated_space(spark):
    """fit_pq_codebooks(rotation=R) == fitting plain on pre-rotated
    vectors (same seed, same sliced training set), and the residual
    composition rotates AFTER the raw-space centroid subtraction —
    the space pq_append_codes(centroids=, rotation=) encodes in
    (ADVICE r15 medium: train where the codes will quantize)."""
    import random

    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
        fit_pq_codebooks,
        ivf_index,
    )
    from pyspark.sql import functions as F

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(24)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    R = [[1.0 if j == 7 - i else 0.0 for j in range(8)] for i in range(8)]
    got = fit_pq_codebooks(df, m=4, k=3, rotation=R)
    pre = spark.createDataFrame(
        [(i, list(reversed(v))) for i, v in rows], ["vec_id", "embedding"]
    )
    want = fit_pq_codebooks(pre, m=4, k=3)
    assert got == want
    # Residual + rotation: rotate(v − centroid(cell)) is the training
    # quantity — mirror it manually and compare.
    cents = deterministic_ivf_centroids(dim=8, n_cells=4)
    got_r = fit_pq_codebooks(df, m=4, k=3, centroids=cents, rotation=R)
    assigned = ivf_index(df, cents, id_col="vec_id", vec_col="embedding")
    res_rows = assigned.select(
        "vec_id", "v", "cell"
    ).collect()
    manual = [
        (
            r["vec_id"],
            list(reversed([
                r["v"][i] - cents[r["cell"]][i] for i in range(8)
            ])),
        )
        for r in res_rows
    ]
    pre_r = spark.createDataFrame(manual, ["vec_id", "embedding"])
    want_r = fit_pq_codebooks(pre_r, m=4, k=3)
    assert got_r == want_r
    assert got_r != got


def test_orchestrator_rotation_fit_path_under_opq(spark, tmp_path):
    """rotate_embedding_codebooks with new_codebooks=None under an OPQ
    config (pq.rotation set) trains the replacement kit IN the rotated
    residual space (ADVICE r15 medium) — the re-encoded state matches
    pq_append_codes under fit_pq_codebooks(rotation=R), and the state
    reopens under the updated config."""
    import random

    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
        fit_pq_codebooks,
        ivf_index,
        pq_append_codes,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(12)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    df.toPandas().to_parquet(str(in_dir / "shard0.parquet"), index=False)
    R = [[1.0 if j == 7 - i else 0.0 for j in range(8)] for i in range(8)]
    cfg = {"embeddings": {"ingest_threshold": 0.999,
                          "ingest_dim": 8, "ingest_n_cells": 4,
                          "ingest_screen_round_digits": 6,
                          "pq": {"m": 4, "k": 4, "ingest": True,
                                 "residual": True, "rotation": R}}}
    orch = PipelineOrchestrator(config=cfg, spark=spark)
    out = str(tmp_path / "out")
    orch.ingest_embeddings_stream(str(in_dir), out, str(tmp_path / "ck"))
    n0 = spark.read.parquet(out).count()
    status = orch.rotate_embedding_codebooks(out, df)
    assert "rotated" in status
    cents = deterministic_ivf_centroids(dim=8, n_cells=4)
    fitted = orch.config["embeddings"]["pq"]["codebooks"]
    assert fitted == fit_pq_codebooks(
        df, m=4, k=4, centroids=cents, rotation=R
    )
    want = {
        r["vec_id"]: list(r["codes"])
        for r in pq_append_codes(
            ivf_index(df, cents), fitted, vec_col="v",
            centroids=cents, rotation=R,
        ).collect()
    }
    got = {
        r["vec_id"]: list(r["codes"])
        for r in spark.read.parquet(out).collect()
    }
    for vid, codes in got.items():
        assert codes == want[vid], vid
    orch.ingest_embeddings_stream(str(in_dir), out, str(tmp_path / "ck2"))
    assert spark.read.parquet(out).count() == n0


def test_orchestrator_merge_corpus_states_delegates(spark, monkeypatch):
    """merge_corpus_states threads the configured postings bucket knob
    into streaming.corpus.merge_ingest_states (the heavy semantics are
    pinned by test_merge_ingest_states_equals_fresh_ingest)."""
    from big_data_ml_pipeline_spark.streaming import corpus as corpus_ops

    calls = {}

    def fake(spark_, a, b, d, postings_n_buckets=None, id_col="doc_id"):
        calls.update(a=a, b=b, d=d, nb=postings_n_buckets, id=id_col)
        return {"n_docs": 7, "n_dropped_b": 1, "sum_dl": 42}

    monkeypatch.setattr(corpus_ops, "merge_ingest_states", fake)
    orch = PipelineOrchestrator(
        {"corpus": {"ingest_postings_n_buckets": 8}}, spark=spark
    )
    res = orch.merge_corpus_states("/sa", "/sb", "/dest")
    assert res == {"n_docs": 7, "n_dropped_b": 1, "sum_dl": 42}
    assert calls == {"a": "/sa", "b": "/sb", "d": "/dest", "nb": 8,
                     "id": "doc_id"}


def test_maintain_on_drift_policy(spark, tmp_path, monkeypatch):
    """maintain_on_drift (VERDICT r15 item 4 — the drift→repair loop
    closed): a drifted ingest (latest batch's cell-histogram JSD above
    embeddings.drift_jsd_threshold) triggers EXACTLY ONE
    maintain_embedding_cells repair; a stable ingest triggers none;
    first-batch rows (empty landed corpus, jsd 1.0 by convention) are
    skipped; a missing threshold refuses loudly."""
    import os
    import time

    import pytest as _pytest
    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    cents = deterministic_ivf_centroids(dim=8, n_cells=4)

    def jitter(c, eps, coord):
        v = [float(x) for x in c]
        v[coord] += eps
        return v

    # Batch 0 lands in cell A's neighbourhood; the STABLE batch 1 stays
    # there, the DRIFTED batch 1 moves wholesale to cell B.
    cell_a, cell_b = cents[0], cents[2]
    b0 = [(1, jitter(cell_a, 0.3, 1)), (2, jitter(cell_a, -0.3, 2))]
    stable_b1 = [(11, jitter(cell_a, 0.3, 3)), (12, jitter(cell_a, -0.3, 4))]
    drifted_b1 = [(11, jitter(cell_b, 0.3, 3)), (12, jitter(cell_b, -0.3, 4))]

    def run(name, shards, threshold=0.5):
        in_dir = tmp_path / f"in_{name}"
        in_dir.mkdir()
        for i, rows in enumerate(shards):
            p = str(in_dir / f"s{i}.parquet")
            spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            ).toPandas().to_parquet(p, index=False)
            os.utime(p, (time.time() + i, time.time() + i))
        cfg = {"embeddings": {"ingest_threshold": 0.9999,
                              "ingest_dim": 8, "ingest_n_cells": 4,
                              "ingest_screen_round_digits": 6,
                              "ingest_track_drift": True,
                              "drift_jsd_threshold": threshold,
                              "maintain_top_n": 1,
                              "pq": {"m": 4, "k": 4, "ingest": True,
                                     "residual": True}}}
        orch = PipelineOrchestrator(config=cfg, spark=spark)
        out = str(tmp_path / f"out_{name}")
        orch.ingest_embeddings_stream(
            str(in_dir), out, str(tmp_path / f"ck_{name}")
        )
        raw = spark.createDataFrame(
            [r for rows in shards for r in rows],
            "vec_id long, embedding array<double>",
        )
        calls = []
        real = PipelineOrchestrator.maintain_embedding_cells

        def counting(self, *a, **kw):
            calls.append(1)
            return real(self, *a, **kw)

        monkeypatch.setattr(
            PipelineOrchestrator, "maintain_embedding_cells", counting
        )
        res = orch.maintain_on_drift(out, raw)
        monkeypatch.undo()
        return res, len(calls)

    res, n_calls = run("stable", [b0, stable_b1])
    assert res["triggered"] is False and n_calls == 0
    assert res["batch_id"] == 1 and res["jsd_bits"] <= 0.5
    assert res["result"] is None

    res, n_calls = run("drift", [b0, drifted_b1])
    assert res["triggered"] is True and n_calls == 1
    assert res["batch_id"] == 1 and res["jsd_bits"] > 0.5
    assert res["result"]["cells"] and "rotated" in res["result"]["status"]

    # Single first batch: its jsd-1.0-by-convention row must NOT fire.
    res, n_calls = run("first", [b0])
    assert res["triggered"] is False and n_calls == 0
    assert res["batch_id"] is None

    # No threshold anywhere refuses loudly.
    orch = PipelineOrchestrator(
        config={"embeddings": {"ingest_dim": 8, "ingest_n_cells": 4}},
        spark=spark,
    )
    with _pytest.raises(ValueError, match="drift_jsd_threshold"):
        orch.maintain_on_drift(str(tmp_path / "out_stable"), None)


def test_orchestrator_ingest_corpus_retrieval_states(spark, tmp_path):
    """The config surface reaches the retrieval states (round-16 gap):
    corpus.ingest_maintain_postings (+ bucket count + positions)
    threads through ingest_corpus_stream, and the landed
    states answer the postings BM25, the WAND-pruned BM25 (impact
    columns present) and the positional phrase query."""
    import os
    import time

    from big_data_ml_pipeline_spark.operators.text import (
        bm25_topk_from_postings,
        bm25_topk_wand,
        phrase_topk_from_postings,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator
    from big_data_ml_pipeline_spark.streaming.corpus import read_postings

    docs = [
        (0, "big data big data big"),
        (1, "data big data"),
        (2, "the quick brown fox jumps over lazy dogs"),
        (3, "fox big data fox"),
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, (d, t) in enumerate(docs):
        p = str(in_dir / f"s{i}.parquet")
        spark.createDataFrame(
            [(d, t, "en")], ["doc_id", "text", "lang"]
        ).toPandas().to_parquet(p, index=False)
        os.utime(p, (time.time() + i, time.time() + i))
    cfg = {"corpus": {"ingest_quality_rules": None,
                      "ingest_near_dup_threshold": None,
                      "ingest_maintain_postings": True,
                      "ingest_postings_n_buckets": 4,
                      "ingest_postings_positions": True}}
    orch = PipelineOrchestrator(config=cfg, spark=spark)
    out = str(tmp_path / "out")
    orch.ingest_corpus_stream(str(in_dir), out, str(tmp_path / "ck"))
    postings = read_postings(spark, out)
    lexicon = spark.read.parquet(out + "_lexicon")
    assert {"max_tf", "min_dl"} <= set(lexicon.columns)
    assert "positions" in postings.columns
    got = bm25_topk_from_postings(
        postings, lexicon, ("big", "data"), k=3
    ).collect()
    assert [r["doc_id"] for r in got]
    wand = bm25_topk_wand(
        postings, lexicon, ("big", "data"), k=3, common_df_frac=0.9
    ).collect()
    assert [tuple(r) for r in wand] == [tuple(r) for r in got]
    phrase = {
        r["doc_id"]: r["n_occurrences"]
        for r in phrase_topk_from_postings(
            postings, ("big", "data"), k=5
        ).collect()
    }
    assert phrase == {0: 2, 1: 1, 3: 1}


def test_maintain_on_drift_windowed_signal(spark, tmp_path, monkeypatch):
    """maintain_on_drift(window=N): the trigger signal is the MEDIAN
    jsd over the newest N eligible batches — one anomalous batch trips
    the latest-batch policy (window=1) but not the windowed one."""
    import os
    import time

    from big_data_ml_pipeline_spark.operators.similarity import (
        deterministic_ivf_centroids,
    )
    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    cents = deterministic_ivf_centroids(dim=8, n_cells=4)

    def jitter(c, eps, coord):
        v = [float(x) for x in c]
        v[coord] += eps
        return v

    shards = [
        [(1, jitter(cents[0], 0.3, 1)), (2, jitter(cents[0], -0.3, 2))],
        [(11, jitter(cents[0], 0.3, 3)), (12, jitter(cents[0], -0.3, 4))],
        [(21, jitter(cents[2], 0.3, 5)), (22, jitter(cents[2], -0.3, 6))],
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i, rows in enumerate(shards):
        p = str(in_dir / f"s{i}.parquet")
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).toPandas().to_parquet(p, index=False)
        os.utime(p, (time.time() + i, time.time() + i))
    cfg = {"embeddings": {"ingest_threshold": 0.9999,
                          "ingest_dim": 8, "ingest_n_cells": 4,
                          "ingest_screen_round_digits": 6,
                          "ingest_track_drift": True,
                          "drift_jsd_threshold": 0.6,
                          "maintain_top_n": 1,
                          "pq": {"m": 4, "k": 4, "ingest": True,
                                 "residual": True}}}
    orch = PipelineOrchestrator(config=cfg, spark=spark)
    out = str(tmp_path / "out")
    orch.ingest_embeddings_stream(str(in_dir), out, str(tmp_path / "ck"))
    raw = spark.createDataFrame(
        [r for rows in shards for r in rows],
        "vec_id long, embedding array<double>",
    )
    calls = []
    real = PipelineOrchestrator.maintain_embedding_cells

    def counting(self, *a, **kw):
        calls.append(1)
        return real(self, *a, **kw)

    monkeypatch.setattr(
        PipelineOrchestrator, "maintain_embedding_cells", counting
    )
    # Median over the two eligible batches (jsd ~0 stable + 1.0 drifted)
    # stays at 0.5 <= 0.6: windowed policy does NOT fire.
    res = orch.maintain_on_drift(out, raw, window=2)
    assert res["triggered"] is False and not calls
    assert abs(res["jsd_bits"] - 0.5) < 0.25
    # The latest-batch policy (default window 1) DOES fire on the blip.
    res1 = orch.maintain_on_drift(out, raw)
    assert res1["triggered"] is True and len(calls) == 1
    assert res1["jsd_bits"] > 0.6
