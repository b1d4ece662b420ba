"""Time a subset of registry queries (min-of-N noop-sink runs) and
optionally dump .explain("formatted") per query.

Each timed run also reports the Janino compilations it caused (the
JVM-wide `CodegenMetrics` count delta), so a query that misses Spark's
generated-code cache on a repeated run shows a non-zero count.

Usage: python tools/bench_subset.py [--sf DIR] [--runs N] [--explain DIR] q1 q2 ...

Each dump has its session-counter ids (`#123`, `plan_id=123`,
`RDD[123]`, lambda variables) renumbered in order of first appearance
and the pid dropped from scratch paths, so dumps of the same plan from
two trees, or two sessions, diff cleanly: `diff -r DIR_A DIR_B`.

The measurement methodology is bench.py's (noop sink, min-of-N, and
bench.py's own spin probe and untimed warm-ups) so numbers are
comparable to BENCH_FULL.json entries.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import re
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import spin_probe, warm_up  # noqa: E402
from job_datapipeline_spark.plans.queries import REGISTRY  # noqa: E402
from job_datapipeline_spark.session import get_spark  # noqa: E402


# Session-counter ids in a formatted explain: expression and subquery ids
# (`#123`), exchange ids (`plan_id=123`), RDD ids (`RDD[123]`), and the
# generated lambda-variable names (`lambda x_123`: the Python parameter
# name plus a JVM-wide counter; the variable is already named by its `#`
# id).
_SESSION_ID = re.compile(r"(#|plan_id=|RDD\[)(\d+)|lambda ([A-Za-z]\w*_\d+)\b")


def renumber_ids(text: str) -> str:
    """Replace each session-counter id with its rank of first appearance
    (one counter per id kind), so the dump no longer depends on what ran
    earlier in the session, and drop this process's pid from scratch
    paths."""
    seen: dict[str, dict[str, int]] = {"#": {}, "plan_id=": {}, "RDD[": {}, "lambda": {}}

    def sub(m: re.Match) -> str:
        if m.group(3):
            ids = seen["lambda"]
            return f"lambda v{ids.setdefault(m.group(3), len(ids))}"
        ids = seen[m.group(1)]
        return m.group(1) + str(ids.setdefault(m.group(2), len(ids)))

    return _SESSION_ID.sub(sub, text).replace(f"_{os.getpid()}/", "_<pid>/")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf", default="/root/testdata/sf0.1", dest="sf_dir")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--explain", default=None, dest="explain_dir")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be >= 1")
    unknown = [n for n in args.names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown queries (not in REGISTRY): {', '.join(unknown)}")

    print(f"spin_probe {spin_probe()}s (fast phase ~0.85)", flush=True)

    spark = get_spark("bench-subset")
    warm_up(spark, args.sf_dir)

    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    out: dict[str, float] = {}
    for name in args.names:
        q = REGISTRY[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                q.fn(spark, args.sf_dir).explain("formatted")
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(renumber_ids(buf.getvalue()))
        samples, compiled = [], []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"bench-subset:{name}")
            c0 = compilations.getCount()
            t0 = time.time()
            q.fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            compiled.append(compilations.getCount() - c0)
        out[name] = min(samples)
        print(f"{min(samples):8.3f}  {name}  (runs: {samples}, compiled: {compiled})", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
