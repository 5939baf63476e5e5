"""The benchmark's workloads.

Each workload runs as a closed loop of one client: the next op starts
when the previous one returns. ``setup`` builds the workload's state and
runs the untimed warm pass, which is also where each distinct query is
checked once (the query mix then runs one untimed cycle of its timed
op). ``cycle`` returns one cycle of ops, always in the same order; the
runner measures whole cycles so every run times the same op mix.
``verify`` checks what the timed ops returned.
"""

from __future__ import annotations

import json
import os
import time

#: One query mix over both engines of the repo: relational queries
#: (aggregation, a six-table join, a fitted feature pipeline) and corpus
#: queries (quality rules, MinHash dedup, the BPE Arrow edge, IVF search).
#: One small mix, not one workload per family: every run pays JVM start, a
#: first-query JIT warm-up and a checked warm pass of each query, and one
#: mix pays the fixed part once, which keeps a run well under a minute on
#: a contended 4-core host. Per-module trace metrics keep the families
#: apart.
MIX = ["q01_pricing_summary", "q33_region_supplier_revenue",
       "q49_feature_pipeline", "q103_quality_rules", "q40_minhash_pairs",
       "q143_bpe_encode", "q43_ivf_topk"]
DEDUP_PAIR_QUERIES = ("q40_minhash_pairs",)


class QueryMix:
    """A fixed mix of ``queries()`` entries over the generated tables.
    An op runs one query to the noop sink, so every column is computed
    and nothing is written."""

    def __init__(self, names: list[str]):
        self.names = names
        self.errors: dict[str, str] = {}
        self.rows: dict[str, int] = {}
        self.warm_ms: dict[str, int] = {}
        self.check_ms: dict[str, int] = {}

    def setup(self, spark, data_dir: str) -> None:
        import __spark_entry__ as entrymod
        from check import QueryChecker

        self.spark, self.data_dir = spark, data_dir
        self.queries = entrymod.queries()
        checker = QueryChecker(data_dir, entrymod.oracle_sql())
        try:
            for name in self.names:
                t = time.time()
                got = self.queries[name](spark, data_dir).toPandas()
                self.warm_ms[name] = round((time.time() - t) * 1000)
                self.rows[name] = len(got)
                t = time.time()
                problem = checker.check(name, got)
                self.check_ms[name] = round((time.time() - t) * 1000)
                if problem:
                    self.errors[name] = problem
        finally:
            checker.close()
        # The timed op writes to the noop sink, whose final stages differ
        # from toPandas; one untimed cycle of it finishes the warm-up.
        for name in self.names:
            self.run(name)

    def run(self, name: str) -> None:
        self.queries[name](self.spark, self.data_dir).write.format("noop").mode(
            "overwrite").save()

    def cycle(self) -> list[tuple[str, object]]:
        # A fixed order: a query's latency depends on what ran before
        # it, and a shuffled order spread q40's latency within a run more
        # than twice as wide (coefficient of variation 0.16 against 0.06).
        return [(n, lambda n=n: self.run(n)) for n in self.names]

    def verify(self, done: list[tuple[str, object]]) -> tuple[int, list[str]]:
        """(wrong ops, problems) of the completed ``(name, result)`` ops:
        every op of a query whose warm-pass output failed its check is
        wrong."""
        wrong = sum(1 for n, _ in done if n in self.errors)
        return wrong, [f"{n}: {p}" for n, p in self.errors.items()]

    def kept_pairs_per_call(self) -> float:
        kept = [self.rows[q] for q in DEDUP_PAIR_QUERIES if q in self.rows]
        return sum(kept) / len(kept) if kept else 0.0


class ServePredict:
    """``ServingService.predict_rows`` requests against a random forest
    trained in setup. Every response is checked against one batch
    ``PipelineModel.transform`` of the same rows."""

    names = ["predict_1", "predict_100"]

    def setup(self, spark, data_dir: str) -> None:
        from big_data_ml_pipeline_spark.orchestrator import PipelineOrchestrator
        from big_data_ml_pipeline_spark.serving import ServingService

        with open(os.path.join(data_dir, "requests.json")) as f:
            spec = json.load(f)
        self.features = spec["feature_names"]
        self.requests = spec["requests"]
        self.spark = spark
        self.svc = ServingService(PipelineOrchestrator(
            {"features": {"categorical_columns": [],
                          "numeric_columns": self.features},
             "model": {"params": {"num_trees": 10, "max_depth": 5}}},
            spark=spark,
        ))
        job = self.svc.submit_train(os.path.join(data_dir, "serve_train.parquet"),
                                    "random_forest", "classification",
                                    blocking=True)
        if job["status"] != "completed":
            raise RuntimeError(f"training failed: {job['error']}")
        self.model = job["job_id"]
        # Warm pass: the serving path needs ~10 requests before its
        # latency settles; the first half of the cycle holds both sizes.
        for rows in self.requests[:len(self.requests) // 2]:
            self.predict(rows)

    def predict(self, rows) -> list[float]:
        return self.svc.predict_rows(self.model, rows, self.features)

    def cycle(self) -> list[tuple[str, object]]:
        return [(f"predict_{len(r)}", lambda i=i: (i, self.predict(self.requests[i])))
                for i, r in enumerate(self.requests)]

    def verify(self, done: list[tuple[str, object]]) -> tuple[int, list[str]]:
        """(wrong ops, problems) of the completed ``(name, (request,
        response))`` ops: each response is compared with one batch
        transform of all request rows."""
        from pyspark.sql import functions as F

        rows = [(i, j, *map(float, r)) for i, req in enumerate(self.requests)
                for j, r in enumerate(req)]
        df = self.spark.createDataFrame(rows, ["req", "row", *self.features])
        out = self.svc.models[self.model].transform(df).select(
            "req", "row", F.col("prediction").cast("double"))
        want: dict[int, list[float]] = {}
        for r in sorted(out.collect()):
            want.setdefault(r["req"], []).append(r["prediction"])
        bad = [i for _, (i, got) in done if got != want[i]]
        return len(bad), [f"request {i}: response differs from batch transform"
                          for i in sorted(set(bad))]


def make(name: str):
    if name == "etl_curation":
        return QueryMix(MIX)
    if name == "serve_predict":
        return ServePredict()
    raise SystemExit(f"unknown workload {name!r}")
