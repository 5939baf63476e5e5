"""Environment-gated round-trips for optional integrations (VERDICT r1
item #4): delta-spark, mlflow, and the FastAPI HTTP layer.

None of these packages ship in this container, so each test SKIPS here
— visibly, with the reason — and runs for real wherever the dependency
exists. The import-gated code paths they cover:

 - sources/readers.py:44 + sources/writers.py delta branch
   (reference defaults unknown extensions to Delta,
   /root/reference/src/ml_pipeline.py:67-71).
 - orchestrator._track mlflow params/metrics logging
   (reference /root/reference/src/ml_pipeline.py:198-217).
 - serving.build_app routes /health /train /jobs /models /predict
   /predict/batch (reference /root/reference/api/api.py:111-253).
"""

from __future__ import annotations

import importlib.util

import pytest

from big_data_ml_pipeline_spark.sources.readers import load_data
from big_data_ml_pipeline_spark.sources.writers import write_data


def _has(mod: str) -> bool:
    return importlib.util.find_spec(mod) is not None


needs_delta = pytest.mark.skipif(
    not _has("delta"), reason="delta-spark not installed in this environment"
)
needs_mlflow = pytest.mark.skipif(
    not _has("mlflow"), reason="mlflow not installed in this environment"
)
needs_fastapi = pytest.mark.skipif(
    not (_has("fastapi") and _has("httpx")),
    reason="fastapi/httpx not installed in this environment",
)


class _RecordingReader:
    """Stands in for spark.read: records the builder chain so the
    reader wiring (format string, options, dispatch) is asserted
    without the real dependency executing a load."""

    def __init__(self):
        self.calls = []

    def _rec(self, name, *a, **kw):
        self.calls.append((name, a, kw))
        return self

    def schema(self, s):
        return self._rec("schema", s)

    def format(self, f):
        return self._rec("format", f)

    def options(self, **kw):
        return self._rec("options", **kw)

    def load(self, path):
        return self._rec("load", path)

    def parquet(self, path):
        return self._rec("parquet", path)

    def csv(self, path):
        return self._rec("csv", path)

    def json(self, path):
        return self._rec("json", path)

    def orc(self, path):
        return self._rec("orc", path)


class _FakeSpark:
    def __init__(self, reader):
        self.read = reader


def test_delta_reader_wiring_without_dependency():
    """The delta cell is env-untestable end-to-end (delta-spark cannot
    be installed), but the WIRING — format string, option passthrough,
    extension dispatch — is assertable with a recording reader
    (VERDICT r5 item 6). Wherever delta-spark exists, the gated
    round-trip tests above exercise the real path."""
    r = _RecordingReader()
    load_data(_FakeSpark(r), "/lake/table", fmt="delta", versionAsOf="3")
    assert ("format", ("delta",), {}) in r.calls
    assert ("options", (), {"versionAsOf": "3"}) in r.calls
    assert r.calls[-1] == ("load", ("/lake/table",), {})
    # format dispatch: extension wins when fmt is omitted...
    r = _RecordingReader()
    load_data(_FakeSpark(r), "/data/file.csv")
    assert r.calls[-1] == ("csv", ("/data/file.csv",), {})
    assert ("options", (), {"header": "true", "inferSchema": True}) in r.calls
    # ...and unknown extensions default to parquet, NOT delta (the
    # documented contract difference vs reference ml_pipeline.py:67-71)
    r = _RecordingReader()
    load_data(_FakeSpark(r), "/data/unextensioned")
    assert r.calls[-1] == ("parquet", ("/data/unextensioned",), {})


def test_delta_writer_wiring_without_dependency():
    """Writer twin: fmt='delta' must route through .format('delta')
    .save(path) with mode and partitioning applied."""

    class _RecordingWriter:
        def __init__(self):
            self.calls = []

        def _rec(self, name, *a, **kw):
            self.calls.append((name, a, kw))
            return self

        def mode(self, m):
            return self._rec("mode", m)

        def options(self, **kw):
            return self._rec("options", **kw)

        def partitionBy(self, *cols):
            return self._rec("partitionBy", *cols)

        def format(self, f):
            return self._rec("format", f)

        def save(self, path):
            return self._rec("save", path)

    class _FakeDF:
        def __init__(self, writer):
            self.write = writer

    w = _RecordingWriter()
    write_data(_FakeDF(w), "/lake/out", fmt="delta", mode="append",
               partition_by=["dt"], mergeSchema="true")
    assert ("mode", ("append",), {}) in w.calls
    assert ("partitionBy", ("dt",), {}) in w.calls
    assert ("options", (), {"mergeSchema": "true"}) in w.calls
    assert ("format", ("delta",), {}) in w.calls
    assert w.calls[-1] == ("save", ("/lake/out",), {})


@needs_delta
def test_delta_round_trip(spark, tmp_path):
    """S3: write delta → read delta → identical rows. NB the session
    must be built with the Delta session extension + catalog confs;
    get_session passes extra_confs through."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    path = str(tmp_path / "t_delta")
    write_data(df, path, fmt="delta")
    back = load_data(spark, path, fmt="delta")
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b")]


@needs_delta
def test_delta_unknown_extension_explicit_fmt(spark, tmp_path):
    """The reference defaults unknown extensions to Delta; we require
    fmt='delta' explicitly — pin that contract difference."""
    df = spark.createDataFrame([(1,)], "id long")
    path = str(tmp_path / "no_extension_dir")
    write_data(df, path, fmt="delta")
    assert load_data(spark, path, fmt="delta").count() == 1


@needs_mlflow
def test_mlflow_tracking_round_trip(tmp_path, monkeypatch):
    """Enabled-path test of orchestrator._track: params+metrics land in
    a run under a file-backed tracking store."""
    import mlflow

    from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator

    monkeypatch.setenv("MLFLOW_TRACKING_URI", f"file://{tmp_path}/mlruns")
    orch = PipelineOrchestrator(None)
    orch.config["tracking"]["enabled"] = True
    orch.config["tracking"]["run_name"] = "test-run"
    orch._track("random_forest", "classification", {"accuracy": 0.9})

    runs = mlflow.search_runs(search_all_experiments=True)
    assert len(runs) == 1
    row = runs.iloc[0]
    assert row["params.algorithm"] == "random_forest"
    assert row["metrics.accuracy"] == 0.9


@needs_fastapi
def test_fastapi_routes(monkeypatch):
    """Route-level exercise of build_app via the in-process TestClient:
    health, validation (422 for malformed bodies), and 404 for unknown
    models — no Spark job needed."""
    from fastapi.testclient import TestClient

    from big_data_ml_pipeline_spark import serving

    class StubService:
        models = {}

        def list_jobs(self):
            return []

        def list_models(self):
            return []

        def list_models_with_registry(self):
            return {"models": [], "registry": None}

        def metrics(self):
            return {"total_training_jobs": 0, "completed_jobs": 0,
                    "failed_jobs": 0, "running_jobs": 0,
                    "registered_models": 0, "train_seconds_mean": None,
                    "train_seconds_max": None, "timestamp": 0.0}

        def job_status(self, job_id):
            raise KeyError(job_id)

        def submit_train(self, data_path, algorithm, task):
            return {"job_id": "j1", "status": "queued"}

        def predict_rows(self, model, features, feature_names):
            if model == "known":
                raise ValueError("row 0: feature values must be finite")
            raise KeyError(model)

        def predict_batch(self, model, input_path, output_path):
            raise KeyError(model)

        def delete_model(self, name):
            if name != "known":
                raise KeyError(name)
            return {"status": "deleted", "model_path": name}

    client = TestClient(serving.build_app(StubService()))
    assert client.get("/health").json() == {"status": "ok"}
    assert client.get("/jobs").json() == []
    assert client.get("/models").json()["models"] == []
    assert client.get("/metrics").json()["total_training_jobs"] == 0
    assert client.get("/jobs/nope").status_code == 404
    # malformed bodies → 422, never 404
    assert client.post("/train", json={}).status_code == 422
    assert client.post("/predict", json={"model": "m"}).status_code == 422
    assert client.post("/predict/batch", json={}).status_code == 422
    # well-formed but unknown model → 404
    r = client.post(
        "/predict",
        json={"model": "nope", "features": [[1.0]], "feature_names": ["f1"]},
    )
    assert r.status_code == 404
    # a row the service refuses (non-finite, wrong width) → 422
    r = client.post(
        "/predict",
        json={"model": "known", "features": [[1.0]], "feature_names": ["f1"]},
    )
    assert r.status_code == 422
    # train accepts a minimal valid body
    assert client.post("/train", json={"data_path": "/tmp/x.parquet"}).json()[
        "status"
    ] == "queued"
    # DELETE /models/{model_path} (reference api/api.py:281): known
    # name → reference response shape, unknown → 404
    r = client.delete("/models/known")
    assert r.status_code == 200
    assert r.json() == {"status": "deleted", "model_path": "known"}
    assert client.delete("/models/nope").status_code == 404


def test_kafka_payload_shape_and_gated_sink(spark, tmp_path):
    """Kafka sink surface (VERDICT r2 #8): the payload transform is
    pure Catalyst and always testable; the transport needs the
    spark-sql-kafka JAR and degrades to a clear error without it."""
    from big_data_ml_pipeline_spark.streaming.events import (
        kafka_sink_available,
        run_to_kafka,
        to_kafka_payload,
    )

    df = spark.createDataFrame(
        [(1, "click", 0.5), (2, "view", 1.5)], "user_id long, event_type string, value double"
    )
    out = to_kafka_payload(df, "user_id")
    assert out.columns == ["key", "value"]
    rows = {r["key"]: r["value"] for r in out.collect()}
    assert rows["1"] == '{"event_type":"click","value":0.5}'

    if not kafka_sink_available(spark):
        stream = (
            spark.readStream.format("rate").option("rowsPerSecond", "1").load()
            .selectExpr("value AS user_id", "CAST(value AS STRING) AS event_type")
        )
        with pytest.raises(RuntimeError, match="spark-sql-kafka"):
            run_to_kafka(stream, "localhost:9092", "t", str(tmp_path / "ckpt"))
    else:  # pragma: no cover - only runs where the connector JAR exists
        pytest.skip("kafka connector present but no broker in this environment")
