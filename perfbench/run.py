"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload sql_short --seed 1 --seconds 24 --trace 0

The process starts Spark on ``local[<cores>]``, makes the workload's inputs
from ``--seed``, runs one untimed warm pass, then ``round(--seconds /
pass_s)`` timed passes (``pass_s`` is the workload's nominal warm pass time
on the 4-core reference host), then checks outputs, and prints two JSON
lines on stdout: a diagnostic record, then the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans and Spark's event log,
reports the per-layer metrics instead and writes the spans to
``.perfbench_traces/<workload>-seed<seed>.spans.jsonl`` (see README.md).
"""

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.sandbox import CHECKOUT, Sandbox, cpu_count  # noqa: E402
from perfbench.trace import Tracer, median, tail  # noqa: E402
from perfbench.workloads import WORKLOADS, Context  # noqa: E402


TRACE_DIR = os.path.join(CHECKOUT, ".perfbench_traces")
HEAP_READINGS = 4


def spin_probe() -> float:
    """Seconds for a fixed pure-Python loop: the host's single-core speed."""
    t0 = time.perf_counter()
    x = 0
    for _ in range(2_000_000):
        x += 1
    return time.perf_counter() - t0


def retained_heap_mb(spark) -> float:
    """Driver JVM heap in use after forced full collections: the least of a
    few readings spread over a second, because Spark's ContextCleaner and
    py4j release objects asynchronously after each collection (Python's
    collection runs first, so that dead proxies stop pinning JVM objects)."""
    jvm = spark._jvm
    memory = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(HEAP_READINGS):
        gc.collect()
        jvm.java.lang.System.gc()
        readings.append(memory.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.25)
    return min(readings)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(setup_s: float, passes: list[dict], heap_mb: float) -> tuple[dict, dict]:
    """Each operation's latency is the fastest of its timed repetitions
    (min-of-N: load from other processes on the host only adds time);
    ``latency_p50_s`` and ``latency_tail_s`` are taken over operations, and
    ``wall_s`` is the fastest pass."""
    reps: dict[str, list[float]] = {}
    for p in passes:
        for op, lat, _ok in p["ops"]:
            reps.setdefault(op, []).append(lat)
    per_op = [min(v) for v in reps.values()]
    tail_value, tail_pct, n = tail(per_op)
    attempted = sum(len(p["ops"]) for p in passes)
    ok = sum(1 for p in passes for _op, _lat, good in p["ops"] if good)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (min(p["wall_s"] for p in passes), "s"),
        "latency_p50_s": (median(per_op), "s"),
        "latency_tail_s": (tail_value, "s"),
        "retained_heap_mb": (heap_mb, "MB"),
        "ok_frac": (ok / attempted, "ratio"),
    }
    notes = {
        "latency_tail_percentile": round(tail_pct, 2),
        "latency_samples": n,
        "repetitions_per_operation": max(len(v) for v in reps.values()),
        "passes": len(passes),
        "pass_walls_s": [p["wall_s"] for p in passes],
    }
    return metrics, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    trace = bool(args.trace)
    diag = {"workload": args.workload, "seed": args.seed, "trace": trace, "nproc": cpu_count()}
    diag["load1_start"] = os.getloadavg()[0]
    diag["spin_probe_s"] = spin_probe()

    box = Sandbox(trace)
    tracer = Tracer(trace)
    try:
        with tracer.span("session.import"):
            import pyspark.sql  # noqa: F401

            from job_datapipeline_spark import catalog
            from job_datapipeline_spark.plans import queries  # noqa: F401
        with tracer.span("session.spark"):
            spark = box.start_spark()
        tracer.patch(catalog.table, "catalog.table")
        workload = WORKLOADS[args.workload](Context(spark, box, tracer, args.seed))
        t0 = time.time()
        with tracer.span("session.prepare"):
            workload.prepare()
        prepare_s = diag["prepare_s"] = time.time() - t0
        with tracer.span("session.warm_pass"):
            workload.warm_pass()
        # the engine's set-up: the benchmark's own input generation is left out
        setup_s = time.time() - PROCESS_START - prepare_s

        passes = []
        # a fixed amount of work: every run of a workload has the same number
        # of latency samples, so the tail rule picks the same order statistic
        for _ in range(max(1, round(args.seconds / workload.pass_s))):
            if workload.exhausted:
                break
            with tracer.span("pass", op=0):
                t0 = time.perf_counter()
                ops = workload.timed_pass()
                passes.append({"wall_s": time.perf_counter() - t0, "ops": ops})
        heap_mb = retained_heap_mb(spark)
        workload.check()
        for p in passes:
            p["ops"] = [(op, lat, done and workload.correct(op)) for op, lat, done in p["ops"]]
        box.stop_spark()

        metrics, notes = end_to_end(setup_s, passes, heap_mb)
        diag.update(notes)
        diag["end_to_end"] = {k: v for k, (v, _u) in metrics.items()}
        if trace:
            from perfbench.layers import layer_metrics

            tracer.unpatch()
            os.makedirs(TRACE_DIR, exist_ok=True)
            tracer.dump(os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.spans.jsonl"))
            metrics, diag["spark_by_output"] = layer_metrics(tracer.spans, box.event_log_dir, passes, cpu_count())
        attempted = sum(len(p["ops"]) for p in passes)
        failed = sum(1 for p in passes for _op, _lat, good in p["ops"] if not good)
    finally:
        box.close()

    diag["load1_end"] = os.getloadavg()[0]
    print(json.dumps({"record": diag}, sort_keys=True))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
