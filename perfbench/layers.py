"""Per-layer metrics of a traced run, from its spans and Spark event log.

Times and counts are per timed pass (median over the run's passes) unless
the name says otherwise; ``catalog.table_s`` and ``catalog.table_jobs`` are
per ``catalog.table`` call, ``streaming.batch_p50_s`` per micro-batch. A
layer a workload does not touch reports 0. README.md maps each metric to
the end-to-end metric it should move.

``daily_ingest`` runs its four outputs one after another, so the jobs of
each are those submitted while its span was open; ``layer_metrics`` also
returns the ``spark`` accounting split that way, as a diagnostic.
"""

from __future__ import annotations

import datetime as dt

from perfbench.trace import EventLog, Span, median, self_times
from perfbench.workloads import OUTPUTS

MB = 2**20


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _within(t: float, s: Span) -> bool:
    # Spark stamps events in whole milliseconds
    return s.start - 0.001 <= t <= s.end + 0.001


def layer_metrics(spans: list[Span], log_dir: str, passes: list[dict], cores: int) -> tuple[dict, dict]:
    log = EventLog(log_dir)
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    pass_spans = by_name.get("pass", [])
    selft = self_times(spans)

    def one(name: str) -> float:
        return sum(s.duration for s in by_name.get(name, []))

    def in_pass(p: Span, name: str) -> list[Span]:
        return [s for s in by_name.get(name, []) if p.start <= s.start and s.end <= p.end]

    def jobs_during(windows: list[Span]) -> list[int]:
        return [
            j for j, info in log.jobs.items() if any(_within(info["submit_ms"] / 1000.0, w) for w in windows)
        ]

    def per_pass(fn) -> float:
        return median(fn(p) for p in pass_spans) if pass_spans else 0.0

    out: dict[str, tuple[float, str]] = {
        "session.import_s": (one("session.import"), "s"),
        "session.spark_s": (one("session.spark"), "s"),
        "session.warm_pass_s": (one("session.warm_pass"), "s"),
    }

    # catalog: per call
    calls = [s for p in pass_spans for s in in_pass(p, "catalog.table")]
    out["catalog.table_s"] = (median(s.duration for s in calls) if calls else 0.0, "s")
    out["catalog.table_jobs"] = (len(jobs_during(calls)) / len(calls) if calls else 0.0, "count")

    # plans: fn() and the final action of each query
    fn_s = per_pass(lambda p: sum(s.duration for s in in_pass(p, "plans.fn")))
    action_s = per_pass(lambda p: sum(s.duration for s in in_pass(p, "plans.action")))
    out["plans.fn_s"] = (fn_s, "s")
    out["plans.fn_self_s"] = (per_pass(lambda p: sum(selft[s.id] for s in in_pass(p, "plans.fn"))), "s")
    out["plans.fn_jobs"] = (per_pass(lambda p: len(jobs_during(in_pass(p, "plans.fn")))), "count")
    out["plans.action_s"] = (action_s, "s")

    def action_tasks(p):
        return log.tasks_of(jobs_during(in_pass(p, "plans.action")))

    out["plans.action_jobs"] = (per_pass(lambda p: len(jobs_during(in_pass(p, "plans.action")))), "count")
    out["plans.action_stages"] = (per_pass(lambda p: len({t.stage for t in action_tasks(p)})), "count")
    out["plans.action_tasks"] = (per_pass(lambda p: len(action_tasks(p))), "count")
    out["plans.fn_share"] = (fn_s / (fn_s + action_s) if fn_s + action_s else 0.0, "ratio")

    # spark: Catalyst phases and every task of the jobs a pass submitted
    def planning(p):
        return sum(sum(s.attrs.get("phases_s", {}).values()) for s in in_pass(p, "spark.planning"))

    out["spark.planning_s"] = (per_pass(planning), "s")

    def tasks(p):
        return log.tasks_of(jobs_during([p]))

    out["spark.task_run_s"] = (per_pass(lambda p: sum(t.run_ms for t in tasks(p)) / 1e3), "s")
    out["spark.task_cpu_s"] = (per_pass(lambda p: sum(t.cpu_ns for t in tasks(p)) / 1e9), "s")
    out["spark.scheduler_delay_s"] = (per_pass(lambda p: sum(t.scheduler_delay_ms for t in tasks(p)) / 1e3), "s")
    out["spark.gc_s"] = (per_pass(lambda p: sum(t.gc_ms for t in tasks(p)) / 1e3), "s")
    out["spark.busy_frac"] = (
        per_pass(lambda p: sum(t.run_ms for t in tasks(p)) / 1e3 / (p.duration * cores)),
        "ratio",
    )
    out["spark.shuffle_read_mb"] = (per_pass(lambda p: sum(t.shuffle_read for t in tasks(p)) / MB), "MB")
    out["spark.shuffle_write_mb"] = (per_pass(lambda p: sum(t.shuffle_write for t in tasks(p)) / MB), "MB")
    out["spark.spill_mb"] = (per_pass(lambda p: sum(t.spill for t in tasks(p)) / MB), "MB")
    # rows through SQL plan nodes that run Python, plus the rows kv_sink's
    # foreachPartition hands to Python writers (an RDD action has no SQL
    # plan metrics, so they are counted in the benchmark's store files)
    out["spark.python_rows"] = (
        per_pass(
            lambda p: log.python_rows(tasks(p)) + sum(s.attrs.get("rows", 0) for s in in_pass(p, "sources.kv_sink"))
        ),
        "count",
    )

    # streaming: micro-batch progress reports whose trigger started in a pass
    def batches(p):
        return [b for b in log.progress if _within(_epoch(b["timestamp"]), p)]

    def dur(b, *keys):
        return sum(b["durationMs"].get(k, 0) for k in keys) / 1e3

    def state_at_end(p, field):
        last: dict[str, dict] = {}
        for b in batches(p):
            last[b["id"]] = b
        return sum(op.get(field, 0) for b in last.values() for op in b.get("stateOperators", []))

    timed = [b for p in pass_spans for b in batches(p)]
    out["streaming.batches"] = (per_pass(lambda p: len(batches(p))), "count")
    out["streaming.batch_p50_s"] = (median(dur(b, "triggerExecution") for b in timed) if timed else 0.0, "s")
    out["streaming.add_batch_s"] = (per_pass(lambda p: sum(dur(b, "addBatch") for b in batches(p))), "s")
    out["streaming.commit_s"] = (
        per_pass(lambda p: sum(dur(b, "walCommit", "commitOffsets") for b in batches(p))),
        "s",
    )
    out["streaming.planning_s"] = (per_pass(lambda p: sum(dur(b, "queryPlanning") for b in batches(p))), "s")
    out["streaming.state_rows"] = (per_pass(lambda p: state_at_end(p, "numRowsTotal")), "count")
    out["streaming.state_mem_mb"] = (per_pass(lambda p: state_at_end(p, "memoryUsedBytes") / MB), "MB")
    out["streaming.rows_dropped_late"] = (
        per_pass(
            lambda p: sum(
                op.get("numRowsDroppedByWatermark", 0) for b in batches(p) for op in b.get("stateOperators", [])
            )
        ),
        "count",
    )

    # sources and pipelines: the publish step's sink calls
    sinks = ("sources.write_partitioned_parquet", "sources.kv_sink")
    out["sources.write_s"] = (per_pass(lambda p: sum(s.duration for n in sinks for s in in_pass(p, n))), "s")
    out["sources.files_written"] = (
        per_pass(lambda p: sum(s.attrs.get("files", 0) for n in sinks for s in in_pass(p, n))),
        "count",
    )
    out["sources.bytes_written_mb"] = (
        per_pass(lambda p: sum(s.attrs.get("bytes", 0) for n in sinks for s in in_pass(p, n)) / MB),
        "MB",
    )
    out["pipelines.top_skills_s"] = (
        per_pass(lambda p: sum(s.duration for s in in_pass(p, "pipelines.top_skills"))),
        "s",
    )
    out["trace.wall_s"] = (min(p["wall_s"] for p in passes), "s")

    by_output = {}
    for name in OUTPUTS:
        if name not in by_name:
            continue

        def output_tasks(p, name=name):
            return log.tasks_of(jobs_during(in_pass(p, name)))

        by_output[name] = {
            "jobs": per_pass(lambda p, name=name: len(jobs_during(in_pass(p, name)))),
            "task_run_s": per_pass(lambda p: sum(t.run_ms for t in output_tasks(p)) / 1e3),
            "task_cpu_s": per_pass(lambda p: sum(t.cpu_ns for t in output_tasks(p)) / 1e9),
        }
    return out, by_output
