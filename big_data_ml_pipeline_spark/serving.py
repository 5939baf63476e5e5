"""Model-serving surface (SURVEY.md §3 E2; reference api/api.py).

The reference serves /train /predict /predict/batch /jobs /models via
FastAPI. Re-expressed as a framework-free ``ServingService`` (testable
without an HTTP stack — fastapi is optional in this environment) plus a
``build_app`` factory that mounts the same routes when fastapi is
importable.

Fixes the reference's serving anti-patterns:
 - /train blocked the request handler despite accepting BackgroundTasks
   (reference api/api.py:111-133) → training runs on a worker thread
   with a real job registry.
 - /predict ran one distributed Spark job per request (reference
   api/api.py:176-184). Here the request rows become one Arrow table of
   float64 columns, which Spark turns into a driver-local relation while
   it is under ``spark.sql.execution.arrow.localRelationThreshold``. The
   optimizer folds the fitted pipeline's expressions into that relation
   (``ConvertToLocalRelation``), so a request is scored on the driver
   with no Spark job; above the threshold Spark itself falls back to a
   distributed scan.
 - rows the pipeline would silently drop (the feature assembler skips
   NaN) are rejected up front, so responses stay aligned with requests.

A request's driver CPU goes to planning, not to rows, so two things
keep that planning small:
 - **The serving session.** Each service scores requests on one child
   session of the orchestrator's (``newSession()``: same SparkContext,
   own SQL conf) with ``spark.sql.codegen.factoryMode=NO_CODEGEN``.
   Every request re-creates the pipeline's ScalaUDFs, and with code
   generation each of their encoders would generate, format and
   compile Java source (15-23% of driver CPU samples in JFR profiles
   at 1 and 4 clients); interpreted projections skip all of it and
   cost little on a few rows. The orchestrator's own session is untouched,
   so training, ``predict_batch`` and every query keep whole-stage
   codegen.
 - **The served copy.** Each registered model's JVM ``PipelineModel``
   is resolved once, at registration, from a copy of the model whose
   final probabilistic classifier has ``probabilityCol=""``. Its
   ``prediction`` is ``raw2prediction(rawPrediction)`` either way
   (thresholds are applied inside that call), so the probability UDF
   would be built and analysed on every request only to be pruned;
   answers are identical by construction. ``models`` keeps the caller's model
   unchanged for ``predict_batch``, which still writes ``probability``.
"""

from __future__ import annotations

import math
import threading
import time
import uuid
from typing import Any

import pyarrow as pa
from py4j.java_gateway import JavaObject
from pyspark.ml import PipelineModel
from pyspark.ml.classification import ProbabilisticClassificationModel
from pyspark.sql import DataFrame, SparkSession

from .orchestrator import PipelineOrchestrator


class ServingService:
    """In-process serving core: job registry + model registry +
    single-row and batch prediction paths."""

    def __init__(self, orchestrator: PipelineOrchestrator | None = None):
        self.orchestrator = orchestrator or PipelineOrchestrator()
        self.jobs: dict[str, dict[str, Any]] = {}
        self.models: dict[str, PipelineModel] = {}
        #: The JVM ``PipelineModel`` that serves each entry of
        #: ``models`` (its served copy, :func:`_served_pipeline`),
        #: resolved once at registration; changed only with ``models``.
        self._jvm_models: dict[str, JavaObject] = {}
        #: The serving session every request is built on (module
        #: docstring), made by the first request.
        self._session: SparkSession | None = None
        self._lock = threading.Lock()

    # -- training jobs ------------------------------------------------------
    def submit_train(self, data_path: str, algorithm: str, task: str,
                     blocking: bool = False) -> dict[str, Any]:
        """Start a training job; returns the job record immediately
        (async by default — the reference's declared-but-unwired intent,
        api/api.py:112)."""
        job_id = uuid.uuid4().hex[:12]
        job = {"job_id": job_id, "status": "running", "algorithm": algorithm,
               "task": task, "submitted_at": time.time(), "metrics": None,
               "error": None}
        with self._lock:
            self.jobs[job_id] = job

        def run() -> None:
            try:
                df = self.orchestrator.load(data_path)
                model, metrics = self.orchestrator.train(df, algorithm, task)
                jvm_model = _served_pipeline(model)
                with self._lock:
                    self.models[job_id] = model
                    self._jvm_models[job_id] = jvm_model
                    job.update(status="completed", metrics=metrics,
                               completed_at=time.time())
            except Exception as exc:  # noqa: BLE001 — job surface reports any failure
                job.update(status="failed", error=f"{type(exc).__name__}: {exc}",
                           completed_at=time.time())

        if blocking:
            run()
        else:
            threading.Thread(target=run, daemon=True).start()
        return job

    def job_status(self, job_id: str) -> dict[str, Any]:
        if job_id not in self.jobs:
            raise KeyError(f"unknown job {job_id!r}")
        return self.jobs[job_id]

    def list_jobs(self) -> list[dict[str, Any]]:
        return sorted(self.jobs.values(), key=lambda j: j["submitted_at"])

    # -- models -------------------------------------------------------------
    def register_model(self, name: str, model: PipelineModel | str) -> None:
        if isinstance(model, str):
            model = PipelineModel.load(model)
        jvm_model = _served_pipeline(model)
        with self._lock:
            self.models[name] = model
            self._jvm_models[name] = jvm_model

    def list_models(self) -> list[str]:
        return sorted(self.models)

    def delete_model(self, name: str) -> dict[str, Any]:
        """Remove a model from the in-process registry (reference
        api/api.py:281-292 ``DELETE /models/{model_path}`` — the
        reference's handler is a stub that answers "deleted" without
        touching anything; this registry is real, so unknown names
        raise KeyError → 404, consistent with /predict's lookup).
        Returns the reference's response shape."""
        with self._lock:
            if name not in self.models:
                raise KeyError(f"unknown model {name!r}")
            del self.models[name]
            del self._jvm_models[name]
        return {"status": "deleted", "model_path": name}

    def list_models_with_registry(self) -> dict[str, Any]:
        """In-process model names plus, when mlflow is importable, the
        tracked runs from the MLflow registry (the reference's /models
        queries MLflow exclusively — api/api.py:244-267; we serve both
        so the endpoint is useful with or without a tracking server)."""
        out: dict[str, Any] = {"models": self.list_models(),
                               "registry": None}
        try:
            import mlflow

            client = mlflow.tracking.MlflowClient()
            runs = []
            for exp in client.search_experiments():
                for run in client.search_runs(exp.experiment_id):
                    runs.append({
                        "run_id": run.info.run_id,
                        "experiment_id": exp.experiment_id,
                        "metrics": run.data.metrics,
                        "params": run.data.params,
                        "start_time": run.info.start_time,
                    })
            out["registry"] = runs
        except Exception:  # noqa: BLE001 — registry is best-effort decoration
            pass  # mlflow absent or unreachable: in-process list stands alone
        return out

    # -- metrics ------------------------------------------------------------
    def metrics(self) -> dict[str, Any]:
        """Serving metrics from the job registry (reference
        api/api.py:270-278), extended with training-latency stats so
        the endpoint answers "how long do jobs take" without log
        spelunking."""
        with self._lock:
            jobs = [dict(j) for j in self.jobs.values()]
        by_status = {s: sum(1 for j in jobs if j["status"] == s)
                     for s in ("running", "completed", "failed")}
        durations = [
            j["completed_at"] - j["submitted_at"]
            for j in jobs
            if j.get("completed_at") is not None
        ]
        return {
            "total_training_jobs": len(jobs),
            "completed_jobs": by_status["completed"],
            "failed_jobs": by_status["failed"],
            "running_jobs": by_status["running"],
            "registered_models": len(self.models),
            "train_seconds_mean": (sum(durations) / len(durations)
                                   if durations else None),
            "train_seconds_max": max(durations, default=None),
            "timestamp": time.time(),
        }

    # -- prediction ---------------------------------------------------------
    def predict_rows(self, model_name: str, rows: list[list[float]],
                     feature_names: list[str]) -> list[float]:
        """JSON float rows → one prediction per row, in request order.
        Raises KeyError for an unknown model and ValueError, naming the
        row, for a row of the wrong width or with a non-finite or
        missing value. The rows are scored on the driver with no Spark
        job while they fit a local relation, by the model's served copy
        on the codegen-free serving session (module docstring), so a
        request generates and compiles no code; the collect is the
        serving boundary (reference api/api.py:176-184)."""
        with self._lock:
            jvm_model = self._jvm_models[model_name]
            if self._session is None:
                self._session = self.orchestrator.spark.newSession()
                self._session.conf.set("spark.sql.codegen.factoryMode",
                                       "NO_CODEGEN")
            spark = self._session
        df = spark.createDataFrame(_request_table(rows, feature_names))
        out = DataFrame(jvm_model.transform(df._jdf), spark)
        return [float(r[0]) for r in out.select("prediction").collect()]

    def predict_batch(self, model_name: str, input_path: str,
                      output_path: str) -> dict[str, Any]:
        """Fully distributed scoring: load → transform → parquet sink;
        never collects (reference api/api.py:196-223)."""
        model = self.models[model_name]
        df = self.orchestrator.load(input_path)
        out: DataFrame = model.transform(df).drop("features", "features_raw")
        out.write.mode("overwrite").parquet(output_path)
        return {"model": model_name, "input": input_path, "output": output_path}


def _served_pipeline(model: PipelineModel) -> JavaObject:
    """The JVM pipeline ``predict_rows`` runs for ``model``: a copy
    whose final probabilistic classifier, when it has a raw-prediction
    column to predict from, writes no probability column. The caller's
    ``model`` is left as it is."""
    served = model.copy()
    last = served.stages[-1] if served.stages else None
    if (isinstance(last, ProbabilisticClassificationModel)
            and last.getRawPredictionCol()):
        last.setProbabilityCol("")
    return served._to_java()


def _request_table(rows: list[list[float]],
                   feature_names: list[str]) -> pa.Table:
    """Request rows as one Arrow table of float64 columns named
    ``feature_names``. Every row must yield exactly one prediction: a
    NULL or NaN cell would make the feature assembler drop the row and
    misalign the response, so such rows are rejected here."""
    width = len(feature_names)
    values = []
    for i, row in enumerate(rows):
        try:
            vals = [float(v) for v in row]
        except (TypeError, ValueError, OverflowError):
            raise ValueError(f"row {i}: feature values must be numbers") from None
        if len(vals) != width:
            raise ValueError(
                f"row {i}: {len(vals)} values for {width} feature names")
        if not all(map(math.isfinite, vals)):
            raise ValueError(f"row {i}: feature values must be finite")
        values.append(vals)
    columns = [pa.array([r[j] for r in values], pa.float64())
               for j in range(width)]
    return pa.Table.from_arrays(columns, names=list(feature_names))


def http_status(exc: Exception, what: str) -> tuple[int, str]:
    """The (status, detail) an HTTP route answers for an exception a
    :class:`ServingService` call raised: an unknown job or model
    (``KeyError``) is a 404 naming ``what``; a request the service
    refuses (``ValueError``, e.g. a non-finite or wrong-width row) is
    a 422 carrying its message. Anything else is re-raised (a 500)."""
    if isinstance(exc, KeyError):
        return 404, f"unknown {what}"
    if isinstance(exc, ValueError):
        return 422, str(exc)
    raise exc


def build_app(service: ServingService | None = None):
    """FastAPI app with the reference's routes; import-gated because
    fastapi is an optional dependency here."""
    try:
        from fastapi import FastAPI, HTTPException
    except ImportError as exc:  # pragma: no cover - optional dep
        raise RuntimeError(
            "fastapi is not installed; use ServingService directly or "
            "install fastapi+uvicorn for the HTTP surface"
        ) from exc

    service = service or ServingService()
    app = FastAPI(title="big-data-ml-pipeline-spark")

    @app.get("/health")
    def health():
        return {"status": "ok"}

    @app.post("/train")
    def train(body: dict):
        (data_path,) = _require(body, "data_path")
        return service.submit_train(
            data_path, body.get("algorithm", "random_forest"),
            body.get("task", "classification"),
        )

    @app.get("/jobs")
    def jobs():
        return service.list_jobs()

    def _call(what: str, fn, *args):
        try:
            return fn(*args)
        except (KeyError, ValueError) as exc:
            raise HTTPException(*http_status(exc, what)) from exc

    @app.get("/jobs/{job_id}")
    def job(job_id: str):
        return _call("job", service.job_status, job_id)

    @app.get("/models")
    def models():
        return service.list_models_with_registry()

    @app.get("/metrics")
    def metrics():
        return service.metrics()

    @app.delete("/models/{model_path}")
    def delete_model(model_path: str):
        return _call(
            f"model: {model_path!r}", service.delete_model, model_path
        )

    def _require(body: dict, *keys: str) -> list:
        """Missing request-body keys are a 422 (malformed request), not
        a 404 — the previous blanket `except KeyError` conflated them
        with unknown-model lookups (ADVICE r1)."""
        missing = [k for k in keys if k not in body]
        if missing:
            raise HTTPException(422, f"missing request fields: {missing}")
        return [body[k] for k in keys]

    @app.post("/predict")
    def predict(body: dict):
        model, features, feature_names = _require(
            body, "model", "features", "feature_names"
        )
        preds = _call(
            f"model: {model!r}", service.predict_rows,
            model, features, feature_names,
        )
        return {"predictions": preds}

    @app.post("/predict/batch")
    def predict_batch(body: dict):
        model, input_path, output_path = _require(
            body, "model", "input_path", "output_path"
        )
        return _call(
            f"model: {model!r}", service.predict_batch,
            model, input_path, output_path,
        )

    return app
