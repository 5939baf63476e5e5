"""Run one benchmark workload and print its metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_curation --seed 1 --seconds 18 --trace 0

Generates (or reuses) the seeded inputs, starts Spark on ``local[N]``
with N = nproc, runs the workload's setup and warm pass, then measures
whole cycles of ops with one closed-loop client until ``--seconds`` have
passed. Latency percentiles are Harrell-Davis estimates over each op's
median latency across the window's cycles (an op is a query, or a
request by its place in the request stream), so a run's figures do not
depend on how many cycles fitted in the window or on one stalled cycle.
Prints a report line, then the result as the last stdout line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` reports the per-layer metrics of a
traced window that follows an untraced one (see LAYERS.md), adds the
untraced window's end-to-end metrics to the report line, and writes the
spans to ``.perfbench_work/spans-<workload>-<seed>.jsonl``.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
#: A fixed young generation keeps the JVM's peak RSS from depending on
#: how far G1 happened to grow eden in a short run.
YOUNG_GEN = "256m"
TAIL_PCT = 90

END_TO_END = {  # name -> unit
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MiB",
}


def per_layer_units() -> dict[str, str]:
    from tracing import LAYERS

    units = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "session.jobs_per_op": "count/op",
        "session.driver_gap_s": "s/op",
        "sources.scan_bytes": "B/op",
        "sources.scan_rows": "count/op",
        "sources.scan_s": "s/op",
        "spark.task_cpu_s": "s/op",
        "spark.task_run_s": "s/op",
        "spark.scheduler_delay_s": "s/op",
        "spark.shuffle_write_bytes": "B/op",
        "spark.shuffle_read_bytes": "B/op",
        "spark.spill_bytes": "B/op",
        "spark.gc_s": "s/op",
        "spark.tasks": "count/op",
        "spark.failed_tasks": "count/op",
        "spark.python_s": "s/op",
    }
    for layer in LAYERS:
        units[f"{layer}.calls"] = "count/op"
        units[f"{layer}.self_s"] = "s/op"
        units[f"{layer}.jobs"] = "count/op"
    units.update({
        "operators.dedup.candidate_pairs": "count/call",
        "operators.dedup.pair_yield": "ratio",
        "operators.similarity.candidates_per_query": "count/query",
        "serving.predict_s": "s",
        "serving.jobs_per_request": "count",
        "ml.transform_s": "s/op",
        "trace.overhead_ratio": "ratio",
    })
    return units


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), by Lentz's
    continued fraction."""
    if x <= 0.0 or x >= 1.0:
        return min(max(x, 0.0), 1.0)
    if x > (a + 1) / (a + b + 2):
        return 1.0 - _betainc(b, a, 1.0 - x)
    front = math.exp(a * math.log(x) + b * math.log1p(-x) + math.lgamma(a + b)
                     - math.lgamma(a) - math.lgamma(b)) / a
    f, c, d = 1.0, 1.0, 0.0
    for i in range(300):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        else:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        d = 1.0 / ((1.0 + num * d) or 1e-300)
        c = (1.0 + num / c) or 1e-300
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return front * (f - 1.0)


def _pct(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p``-th percentile: a weighted mean
    of all order statistics. Over the few op medians of a mix, a single
    order statistic hops from one op to its neighbour between runs."""
    xs = sorted(values)
    n = len(xs)
    a, b = p / 100 * (n + 1), (1 - p / 100) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum(x * (hi - lo) for x, lo, hi in zip(xs, cdf, cdf[1:]))


def op_medians(window: dict) -> dict[str, float]:
    """Median latency of each op of the cycle over the window's cycles."""
    by_key: dict[str, list[float]] = {}
    for key, x in zip(window["keys"], window["lat"]):
        by_key.setdefault(key, []).append(x)
    return {k: statistics.median(xs) for k, xs in by_key.items()}


def end_to_end(window: dict, setup_s: float, rss_mb: float) -> dict[str, float]:
    med = list(op_medians(window).values())
    return {
        "setup_s": setup_s,
        "ops_per_s": len(window["lat"]) / window["wall"],
        "latency_p50_s": _pct(med, 50),
        "latency_tail_s": _pct(med, TAIL_PCT),
        "peak_rss_mb": rss_mb,
    }


def measure(workload, tracer, seconds: float) -> dict:
    """Time whole cycles until ``seconds`` have passed. Each op is keyed
    by its name and how often the name came before it in the cycle."""
    lat, names, keys, done, failures, cycles = [], [], [], [], [], 0
    t0 = time.time()
    while time.time() - t0 < seconds:
        cycles += 1
        seen: dict[str, int] = {}
        for name, fn in workload.cycle():
            seen[name] = seen.get(name, 0) + 1
            keys.append(f"{name}#{seen[name]}")
            with tracer.op(len(lat), name) if tracer else contextlib.nullcontext():
                t = time.time()
                try:
                    done.append((name, fn()))
                except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                    failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                lat.append(time.time() - t)
                names.append(name)
    return {"wall": time.time() - t0, "lat": lat, "names": names, "keys": keys,
            "done": done, "failures": failures, "cycles": cycles}


def start_spark(n: int, trace: bool):
    from big_data_ml_pipeline_spark.session import BUILD_CONFS, get_session

    java_opts = " ".join([
        BUILD_CONFS.get("spark.driver.extraJavaOptions", ""),
        f"-Xmn{YOUNG_GEN}",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        f"-Dderby.system.home={os.path.join(WORK, 'derby')}",
    ]).strip()
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    }
    if trace:  # keep every job, stage and SQL execution of the run
        confs.update({"spark.ui.retainedJobs": "100000",
                      "spark.ui.retainedStages": "100000",
                      "spark.sql.ui.retainedExecutions": "100000"})
    spark = get_session(app_name="perfbench", master=f"local[{n}]",
                        shuffle_partitions=n, extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # The program under test; failing here (no package) fails the run.
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401

    import datagen
    import workloads

    workload = workloads.make(args.workload)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")

    t = time.time()
    data_dir = datagen.generate(args.seed, os.path.join(WORK, "data"))
    t_datagen = time.time() - t

    # JVM output goes to stderr; only the report reaches stdout.
    real_stdout = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    n = os.cpu_count() or 1
    t = time.time()
    spark = start_spark(n, bool(args.trace))
    start_s = time.time() - t
    try:
        t = time.time()
        workload.setup(spark, data_dir)
        warmup_s = time.time() - t
        setup_s = time.time() - T_PROCESS - t_datagen

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark.sparkContext)
            tracer.install()
            untraced = measure(workload, None, args.seconds)
            tracer.enabled = True
        run = measure(workload, tracer, args.seconds)
        if tracer:
            tracer.enabled = False
        wrong, problems = workload.verify(run["done"])

        sc = spark.sparkContext
        rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(sc._gateway.proc.pid)) / 1024
        env = {
            "nproc": n, "master": sc.master,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": DRIVER_MEMORY, "young_gen": YOUNG_GEN,
            "spark": spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
        }
        lat = run["lat"]
        metrics = end_to_end(run, setup_s, rss_mb)
        units = dict(END_TO_END)
        report_extra = {}
        if tracer:
            from tracing import fetch_status, layer_metrics

            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
            layer = layer_metrics(tracer, fetch_status(sc), len(lat))
            layer["session.start_s"] = start_s
            layer["session.warmup_s"] = warmup_s
            cand = layer["operators.dedup.candidate_pairs"]
            kept = getattr(workload, "kept_pairs_per_call", lambda: 0.0)()
            layer["operators.dedup.pair_yield"] = kept / cand if cand else 0.0
            untraced_e2e = end_to_end(untraced, setup_s, rss_mb)
            layer["trace.overhead_ratio"] = (metrics["ops_per_s"]
                                             / untraced_e2e["ops_per_s"])
            report_extra["end_to_end"] = untraced_e2e
            units = per_layer_units()
            metrics = {k: layer[k] for k in units}
    finally:
        stop_spark(spark)

    failed = len(run["failures"]) + wrong
    report = {
        "workload": args.workload, "seed": args.seed, "env": env,
        "datagen_s": round(t_datagen, 3), "session_start_s": round(start_s, 3),
        "warmup_s": round(warmup_s, 3), "ops": len(lat),
        "cycles": run["cycles"], "error_rate": failed / max(len(lat), 1),
        "tail_percentile": TAIL_PCT,
        "op_median_ms": {k: round(x * 1000) for k, x in op_medians(run).items()},
        "warm_ms": getattr(workload, "warm_ms", None),
        "check_ms": getattr(workload, "check_ms", None),
        "ops_ms": [[n, round(x * 1000)] for n, x in zip(run["names"], lat)],
        "problems": (run["failures"] + problems)[:20],
        **report_extra,
    }
    print(json.dumps({"report": report}), file=real_stdout)
    print(json.dumps({
        "correct": failed == 0 and not problems,
        "attempted": len(lat),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), file=real_stdout)
    real_stdout.flush()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main())
