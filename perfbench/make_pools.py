"""Rebuild ``pools.json``: which registry queries each workload draws from.

Runs every registry query on a generated dataset at the benchmark's scale,
in name order in one session: once to check it against its DuckDB oracle
and record what it touched (the tables it asked ``catalog.table`` for,
whether it started a stream, whether it wrote anything), then once more,
warm, as ``fn()`` plus a noop-sink action, timed. A query enters the
``sql_short`` pool if it matched its oracle, read only the TPC-H tables and
``events``, started no stream and wrote nothing. Each pool entry keeps its
measured seconds; the workload runs the queries at evenly spaced quantiles
of that cost.

Usage: python3 perfbench/make_pools.py [--seed N]

The committed file was measured on the tables of seed 1; the benchmark runs
on the tables of ``workloads.TABLES_SEED`` and, after its timed passes,
checks every query it ran against the oracle on those.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, workloads  # noqa: E402
from perfbench.sandbox import BENCH_DIR, Sandbox  # noqa: E402
from perfbench.trace import rebind  # noqa: E402

RELATIONAL_TABLES = {"region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"}
POOLS_PATH = os.path.join(BENCH_DIR, "pools.json")


class Recorder:
    """Counts the calls a query makes into ``catalog.table``, stream starts
    and DataFrame writes, by wrapping those entry points."""

    def __init__(self):
        self.tables: set[str] = set()
        self.streams = 0
        self.writes = 0

    def install(self):
        from pyspark.sql import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from job_datapipeline_spark import catalog

        rec = self
        original_table = catalog.table

        def table(spark, sf_dir, name):
            rec.tables.add(name)
            return original_table(spark, sf_dir, name)

        rebind(original_table, table)

        def counting(cls, method, counter):
            original = getattr(cls, method)

            def wrapper(*args, **kwargs):
                setattr(rec, counter, getattr(rec, counter) + 1)
                return original(*args, **kwargs)

            setattr(cls, method, wrapper)

        counting(DataStreamWriter, "start", "streams")
        for m in ("save", "parquet", "csv", "json", "text", "orc", "saveAsTable", "insertInto"):
            counting(DataFrameWriter, m, "writes")
        counting(DataFrame, "foreachPartition", "writes")

    def reset(self):
        self.tables, self.streams, self.writes = set(), 0, 0


def classify(rows: dict[str, dict]) -> dict:
    """The pool from the per-query records: name -> warm seconds."""
    ok = {n: e for n, e in rows.items() if e["ok"]}
    sql_short = {
        n: e["seconds"]
        for n, e in ok.items()
        if not e["streams"] and not e["writes"] and e["tables"] and set(e["tables"]) <= RELATIONAL_TABLES
    }
    return {"sql_short": sql_short, "failed": sorted(set(rows) - set(ok))}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()

    box = Sandbox(trace=False)
    try:
        from job_datapipeline_spark.plans.queries import REGISTRY
        from job_datapipeline_spark.testing import compare, duck_con

        data_dir = box.path("data")
        datagen.write_tables(datagen.make_tables(args.seed, workloads.QUERY_SCALE), data_dir)
        spark = box.start_spark()
        con = duck_con(data_dir)
        rec = Recorder()
        rec.install()
        rows = {}
        for name, q in sorted(REGISTRY.items()):
            entry = {}
            try:
                rec.reset()
                df = q.fn(spark, data_dir)
                entry.update(tables=sorted(rec.tables), streams=rec.streams, writes=rec.writes)
                problems = compare(df.toPandas(), con.execute(q.oracle).df())
                entry["ok"] = not problems
                if problems:
                    entry["problems"] = problems[:3]
                t0 = time.perf_counter()
                q.fn(spark, data_dir).write.format("noop").mode("overwrite").save()
                entry["seconds"] = round(time.perf_counter() - t0, 3)
            except Exception as e:  # noqa: BLE001 - a failing query is recorded, not fatal
                entry.update(ok=False, problems=[f"{type(e).__name__}: {e}"[:300]])
            rows[name] = entry
            print(name, json.dumps(entry), flush=True)
    finally:
        box.close()

    pools = dict(classify(rows), seed=args.seed)
    with open(POOLS_PATH, "w") as fh:
        json.dump(pools, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print({k: len(v) for k, v in pools.items() if k != "seed"}, pools["failed"])
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
