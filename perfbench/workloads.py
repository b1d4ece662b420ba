"""The benchmark's workloads.

Each workload makes its inputs from the seed in ``prepare``, runs one
untimed ``warm_pass`` and then ``timed_pass`` a fixed number of times (see
run.py). A pass returns one ``(operation, latency_s, completed)`` per
operation. After the timed passes, ``check`` compares the outputs with
their oracles, outside any timed region, and ``correct(operation)`` tells
whether an operation's output matched. Why each workload exists, and which
layer it should expose, is in README.md.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.datagen import Scale
from perfbench.kvstore import FileKVWriterFactory, read_store
from perfbench.sandbox import BENCH_DIR

# the size of the engine's smoke-test data: every query is dominated by its
# fixed costs, and a run fits the benchmark's time budget
QUERY_SCALE = Scale(sf=0.001, n_documents=500, n_embeddings=500)
# sql_short's tables are one fixed dataset, like the engine's own
# test data; the run's seed orders the queries. Several operators iterate
# until their data converges (k-means in ANN training, for one), so tables
# drawn per seed changed a run's cost by up to a third between seeds.
TABLES_SEED = 42
POOLS_PATH = os.path.join(BENCH_DIR, "pools.json")

# daily_ingest: one arrival per day. More days are generated than a run can
# drop; a run uses a prefix.
INGEST_DAYS = 64
EVENTS_PER_DAY = 1000
DOCUMENTS_PER_DAY = 50
WARM_ARRIVALS = 2
ARRIVALS_PER_PASS = 1
DAY_S = 86400
SESSION_GAP_S = 30 * 60
# watermark delay of streaming.pipelines.hourly_rollup_stream
ROLLUP_DELAY_S = 2 * 3600
# the span names of one arrival's four outputs, in the order they run
OUTPUTS = ("streaming.sessionize", "streaming.dedup", "streaming.rollup", "pipelines.publish")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def quantile_sample(pool: dict[str, float], k: int, seed: int) -> list[str]:
    """The ``k`` pool queries at evenly spaced quantiles of measured cost,
    in seeded order. The set does not depend on the seed: the benchmark's
    steadiness is judged across seeds, and with one execution mix per run
    a seed-chosen set moves the medians by the cost gaps between
    neighbours. The seed decides the order."""
    names = sorted(pool, key=lambda n: (pool[n], n))
    if not 0 < k <= len(names):
        raise ValueError(f"sample of {k} does not fit a pool of {len(names)}")
    picks = [names[(2 * i + 1) * len(names) // (2 * k)] for i in range(k)]
    random.Random(seed).shuffle(picks)
    return picks


class Context:
    """What every workload needs: the session, scratch root, tracer, seed."""

    def __init__(self, spark, box, tracer, seed: int):
        self.spark = spark
        self.box = box
        self.tracer = tracer
        self.seed = seed


class SqlShort:
    """Relational registry queries at evenly spaced cost quantiles of the
    pool, in seeded order, each run as ``fn()`` followed by a noop-sink
    action. One caller, closed loop."""

    name = "sql_short"
    sample_size = 7
    max_cost_s = 1.0
    pass_s = 4.0
    exhausted = False

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.verdict: dict[str, bool] = {}

    def prepare(self) -> None:
        from job_datapipeline_spark.plans.queries import REGISTRY

        with open(POOLS_PATH) as fh:
            pool = {n: c for n, c in json.load(fh)["sql_short"].items() if c <= self.max_cost_s}
        self.sample = quantile_sample(pool, self.sample_size, self.ctx.seed)
        self.queries = {n: REGISTRY[n] for n in self.sample}
        self.data_dir = self.ctx.box.path("data")
        datagen.write_tables(datagen.make_tables(TABLES_SEED, QUERY_SCALE), self.data_dir)

    def warm_pass(self) -> None:
        self.timed_pass()

    def timed_pass(self) -> list[tuple[str, float, bool]]:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        out = []
        for name, q in self.queries.items():
            with tracer.span("op", op=tracer.new_op(), query=name):
                t0 = time.perf_counter()
                try:
                    with tracer.span("plans.fn"):
                        df = q.fn(spark, self.data_dir)
                    if tracer.enabled:
                        with tracer.span("spark.planning") as s:
                            s.attrs["phases_s"] = planning_phases(df)
                    with tracer.span("plans.action"):
                        df.write.format("noop").mode("overwrite").save()
                    completed = True
                except Exception:  # noqa: BLE001 - counted as a failed operation
                    log(f"[{self.name}] {name} failed:\n{traceback.format_exc(limit=5)}")
                    completed = False
                out.append((name, time.perf_counter() - t0, completed))
        return out

    def check(self) -> None:
        """Runs every sampled query once more, collects its result and
        compares it with the query's DuckDB oracle over the same parquet
        files. Timed executions wrote to a noop sink; each counts as correct
        when it completed and this comparison matched."""
        from job_datapipeline_spark.testing import compare, duck_con

        con = duck_con(self.data_dir)
        try:
            for name, q in self.queries.items():
                try:
                    got = q.fn(self.ctx.spark, self.data_dir).toPandas()
                    problems = compare(got, con.execute(q.oracle).df())
                except Exception:  # noqa: BLE001 - an erroring query is a failed operation
                    problems = [traceback.format_exc(limit=3)]
                self.verdict[name] = not problems
                if problems:
                    log(f"[{self.name}] {name} does not match its oracle: {problems[:3]}")
        finally:
            con.close()

    def correct(self, op: str) -> bool:
        return self.verdict[op]


def planning_phases(df) -> dict[str, float]:
    """Catalyst's QueryPlanningTracker phases for ``df``, in seconds, after
    forcing its physical plan (analysis ran when ``fn()`` built the frame)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    jvm = df.sparkSession._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return {k: phases.get(k).durationMs() / 1000.0 for k in phases.keySet()}


class DailyIngest:
    """The reference pipeline as an incremental daily batch over a growing
    file set. Each arrival drops one day of events and one slice of
    documents into the source directories, then produces four outputs
    against checkpoints and sinks that persist for the whole run: three
    AvailableNow streams (sessions, deduplicated events, an hourly rollup
    upserted per partition) and the top-skills publish to parquet and a KV
    store, one after another, like the reference's daily scripts. One caller
    drops the next arrival when all four are done (closed loop, like
    cron)."""

    name = "daily_ingest"
    pass_s = 5.0

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.next_arrival = 0
        self.watermark_us: int | None = None
        self.problems: list[str] = []

    def prepare(self) -> None:
        streams = np.random.SeedSequence(self.ctx.seed).spawn(2)
        span_s = INGEST_DAYS * DAY_S
        events = datagen.events_table(np.random.default_rng(streams[0]), INGEST_DAYS * EVENTS_PER_DAY, span_s)
        docs = datagen.documents_table(np.random.default_rng(streams[1]), INGEST_DAYS * DOCUMENTS_PER_DAY)
        arrivals = datagen.Arrivals(self.ctx.seed, events, docs, INGEST_DAYS, span_s)
        box = self.ctx.box
        arrival_dir = box.path("arrivals")
        self.arrival_files = []
        for k in range(len(arrivals)):
            ev = arrivals.events[k]
            ts = ev.schema.get_field_index("ts")
            ev = ev.set_column(ts, "ts", ev.column("ts").cast(pa.timestamp("us", tz="UTC")))
            ev_path = os.path.join(arrival_dir, f"events-{k:03d}.parquet")
            doc_path = os.path.join(arrival_dir, f"documents-{k:03d}.parquet")
            pq.write_table(ev, ev_path)
            pq.write_table(arrivals.documents[k], doc_path)
            self.arrival_files.append((ev_path, doc_path))
        self.dirs = {n: box.path("ingest", n) for n in ("events", "documents", "ckpt", "out", "kv")}

    @property
    def exhausted(self) -> bool:
        return self.next_arrival + ARRIVALS_PER_PASS > len(self.arrival_files)

    def warm_pass(self) -> None:
        for _ in range(WARM_ARRIVALS):
            self._arrival()

    def timed_pass(self) -> list[tuple[str, float, bool]]:
        return [self._arrival() for _ in range(ARRIVALS_PER_PASS)]

    def _arrival(self) -> tuple[str, float, bool]:
        tracer = self.ctx.tracer
        k = self.next_arrival
        self.next_arrival += 1
        ev_path, doc_path = self.arrival_files[k]
        with tracer.span("op", op=tracer.new_op(), arrival=k):
            t0 = time.perf_counter()
            try:
                with tracer.span("sources.drop"):
                    shutil.copy(ev_path, self.dirs["events"])
                    shutil.copy(doc_path, self.dirs["documents"])
                for name, fn in zip(OUTPUTS, (self._sessions, self._dedup, self._rollup, self._publish)):
                    with tracer.span(name):
                        fn(k)
                completed = True
            except Exception:  # noqa: BLE001 - counted as a failed operation
                log(f"[daily_ingest] arrival {k} failed:\n{traceback.format_exc(limit=5)}")
                completed = False
            return f"arrival{k}", time.perf_counter() - t0, completed

    def _sessions(self, _k):
        from job_datapipeline_spark.streaming.pipelines import (
            available_now_to_parquet,
            read_events_stream,
            sessionize_stream,
        )

        q = available_now_to_parquet(
            sessionize_stream(read_events_stream(self.ctx.spark, self.dirs["events"])),
            os.path.join(self.dirs["out"], "sessions"),
            os.path.join(self.dirs["ckpt"], "sessions"),
        )
        self.watermark_us = _watermark_us(q)

    def _dedup(self, _k):
        from job_datapipeline_spark.streaming.pipelines import (
            available_now_to_parquet,
            dedup_events_stream,
            read_events_stream,
        )

        available_now_to_parquet(
            dedup_events_stream(read_events_stream(self.ctx.spark, self.dirs["events"])),
            os.path.join(self.dirs["out"], "dedup"),
            os.path.join(self.dirs["ckpt"], "dedup"),
        )

    def _rollup(self, _k):
        from pyspark.sql import functions as F

        from job_datapipeline_spark.streaming.pipelines import (
            foreachbatch_partition_upsert,
            hourly_rollup_stream,
            read_events_stream,
        )

        rollup = hourly_rollup_stream(read_events_stream(self.ctx.spark, self.dirs["events"]))
        # one partition per (hour, event_type): each update-mode row is a
        # whole partition, which is the upsert's precondition
        keyed = rollup.withColumn(
            "hour_type", F.concat_ws("_", F.date_format("window_start", "yyyyMMddHH"), "event_type")
        )
        foreachbatch_partition_upsert(
            keyed, os.path.join(self.dirs["out"], "rollup"), os.path.join(self.dirs["ckpt"], "rollup"), "hour_type"
        )

    def _publish(self, k):
        from pyspark.sql import functions as F

        from job_datapipeline_spark.pipelines.populator import skills_dim, top_skills
        from job_datapipeline_spark.plans.queries import SKILLS_VOCAB
        from job_datapipeline_spark.sources.sinks import kv_sink, write_partitioned_parquet

        spark, tracer = self.ctx.spark, self.ctx.tracer
        with tracer.span("pipelines.top_skills"):
            docs = spark.read.parquet(self.dirs["documents"])
            _jobs_kv, pivoted = top_skills(docs, skills_dim(spark, SKILLS_VOCAB), "lang", "text", k=10)
        if tracer.enabled:
            with tracer.span("spark.planning") as s:
                s.attrs["phases_s"] = planning_phases(pivoted)
        partition = os.path.join(self.dirs["out"], "top_skills", f"run_date=day{k:03d}")
        with tracer.span("sources.write_partitioned_parquet") as s:
            write_partitioned_parquet(
                pivoted.withColumn("run_date", F.lit(f"day{k:03d}")),
                os.path.dirname(partition),
                mode="overwrite_partitions",
            )
        if s is not None:
            s.attrs.update(_files_and_bytes(glob.glob(os.path.join(partition, "*.parquet"))))
        with tracer.span("sources.kv_sink") as s:
            kv_sink(pivoted, FileKVWriterFactory(self.dirs["kv"], k))
        if s is not None:
            kv_files = glob.glob(os.path.join(self.dirs["kv"], f"{k:06d}-*.jsonl"))
            s.attrs.update(_files_and_bytes(kv_files), rows=sum(_line_count(p) for p in kv_files))

    def check(self) -> None:
        """Compares the final outputs with their batch twins over every
        arrival file dropped; a mismatch fails every timed arrival."""
        self.problems = self.check_outputs()

    def correct(self, op: str) -> bool:
        return not self.problems

    def check_outputs(self) -> list[str]:
        from job_datapipeline_spark.plans.queries import REGISTRY
        from job_datapipeline_spark.testing import compare

        problems = []
        con = duckdb.connect()
        try:
            d = self.dirs
            con.execute(f"CREATE VIEW arrivals AS SELECT * FROM read_parquet('{d['events']}/*.parquet')")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d['documents']}/*.parquet')")
            out = d["out"]
            max_us = con.execute("SELECT epoch_us(max(ts)) FROM arrivals").fetchone()[0]

            got = con.execute(
                f"SELECT event_id, epoch_us(ts) AS ts, user_id, event_type, value, props "
                f"FROM read_parquet('{out}/dedup/*.parquet')"
            ).df()
            want = con.execute(
                "SELECT DISTINCT event_id, epoch_us(ts) AS ts, user_id, event_type, value, props FROM arrivals"
            ).df()
            problems += [f"dedup: {x}" for x in compare(got, want)]

            wm = self.watermark_us
            if wm is None:
                problems.append("sessions: no watermark reported")
            else:
                gap = SESSION_GAP_S * 1_000_000
                got = con.execute(
                    f"SELECT user_id, epoch_us(session_start) AS s, epoch_us(session_end) AS e, n_events "
                    f"FROM read_parquet('{out}/sessions/*.parquet') WHERE epoch_us(session_end) < {wm}"
                ).df()
                want = con.execute(
                    f"""
                    WITH t AS (SELECT user_id, epoch_us(ts) AS t FROM arrivals),
                    m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) < {gap}
                                              THEN 0 ELSE 1 END AS new FROM t),
                    g AS (SELECT user_id, t, sum(new) OVER (PARTITION BY user_id ORDER BY t
                                              ROWS UNBOUNDED PRECEDING) AS sid FROM m),
                    s AS (SELECT user_id, min(t) AS s, max(t) + {gap} AS e, count(*) AS n_events
                          FROM g GROUP BY user_id, sid)
                    SELECT * FROM s WHERE e < {wm}
                    """
                ).df()
                problems += [f"sessions: {x}" for x in compare(got, want)]

            closed = max_us - ROLLUP_DELAY_S * 1_000_000
            got = con.execute(
                f"SELECT epoch_us(window_start) AS w, event_type, n, sum_value "
                f"FROM read_parquet('{out}/rollup/*/*.parquet', hive_partitioning = false) "
                f"WHERE epoch_us(window_start) + 3600000000 <= {closed}"
            ).df()
            want = con.execute(
                f"SELECT epoch_us(date_trunc('hour', ts AT TIME ZONE 'UTC')) AS w, event_type, "
                f"count(*) AS n, round(sum(value), 2) AS sum_value FROM arrivals GROUP BY 1, 2 "
                f"HAVING epoch_us(date_trunc('hour', ts AT TIME ZONE 'UTC')) + 3600000000 <= {closed}"
            ).df()
            problems += [f"rollup: {x}" for x in _compare_sums(got, want, ["w", "event_type"], "sum_value")]

            want = con.execute(REGISTRY["populator_top_skills_kv"].oracle).df()
            last_day = f"day{self.next_arrival - 1:03d}"
            got = pq.read_table(os.path.join(out, "top_skills", f"run_date={last_day}")).to_pandas()
            problems += [f"top_skills parquet: {x}" for x in compare(got, want)]
            kv = pd.DataFrame(list(read_store(d["kv"], "job_id").values()))
            problems += [f"kv: {x}" for x in compare(kv[list(want.columns)], want)]
        except Exception:  # noqa: BLE001 - an unreadable output is a failed check
            problems.append(traceback.format_exc(limit=3))
        finally:
            con.close()
        for x in problems:
            log(f"[daily_ingest] output check: {x}")
        return problems


def _files_and_bytes(paths: list[str]) -> dict[str, int]:
    return {"files": len(paths), "bytes": sum(os.path.getsize(p) for p in paths)}


def _line_count(path: str) -> int:
    with open(path) as fh:
        return sum(1 for _ in fh)


def _watermark_us(q) -> int | None:
    prog = q.lastProgress
    wm = (prog or {}).get("eventTime", {}).get("watermark")
    if wm is None:
        return None
    return int(pd.Timestamp(wm).value // 1000)


def _compare_sums(got: pd.DataFrame, want: pd.DataFrame, keys: list[str], col: str) -> list[str]:
    """Exact on keys and counts; sums within one cent, because micro-batches
    add the same values in another order than one batch aggregate does."""
    if len(got) != len(want):
        return [f"rowcount {len(got)} vs {len(want)}"]
    m = got.merge(want, on=keys, how="outer", suffixes=("_got", "_want"), indicator=True)
    problems = []
    if (m["_merge"] != "both").any():
        problems.append(f"{int((m['_merge'] != 'both').sum())} keys on one side only")
        return problems
    for c in got.columns:
        if c in keys:
            continue
        a, b = m[f"{c}_got"], m[f"{c}_want"]
        bad = (a - b).abs() > 0.010001 if c == col else a != b
        if bad.any():
            problems.append(f"{c}: {int(bad.sum())} mismatches")
    return problems


WORKLOADS = {w.name: w for w in (SqlShort, DailyIngest)}
