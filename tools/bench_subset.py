"""Time a subset of registry queries (min-of-N noop-sink runs) and
optionally dump .explain("formatted") per query.

Usage: python tools/bench_subset.py [--sf DIR] [--runs N] [--explain DIR] q1 q2 ...

The measurement methodology matches bench.py (noop sink, min-of-N,
untimed batch + streaming warmups) so numbers are comparable to
BENCH_FULL.json entries.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import sys
import tempfile
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from job_datapipeline_spark.plans.queries import REGISTRY, ensure_registry_order  # noqa: E402
from job_datapipeline_spark.session import get_spark  # noqa: E402

ensure_registry_order()


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

    t0 = time.time()
    x = 0
    for _ in range(20_000_000):
        x += 1
    print(f"spin_probe {round(time.time() - t0, 3)}s (fast phase ~0.85)", flush=True)

    spark = get_spark("bench-subset")
    # warmups, untimed — batch (codegen/session) + streaming machinery,
    # mirroring bench.py
    REGISTRY["pricing_summary"].fn(spark, args.sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    wdir = tempfile.mkdtemp(prefix="subset_stream_warm_")
    try:
        spark.range(1).write.parquet(os.path.join(wdir, "src"))
        (
            spark.readStream.schema("id long")
            .parquet(os.path.join(wdir, "src"))
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(wdir, "ckpt"))
            .foreachBatch(lambda df, _bid: df.write.format("noop").mode("overwrite").save())
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(wdir, ignore_errors=True)

    out: dict[str, float] = {}
    for name in args.names:
        q = REGISTRY[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                q.fn(spark, args.sf_dir).explain("formatted")
            with open(os.path.join(args.explain_dir, f"{name}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        samples = []
        for _ in range(args.runs):
            spark.sparkContext.setJobDescription(f"bench-subset:{name}")
            t0 = time.time()
            q.fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        out[name] = min(samples)
        print(f"{min(samples):8.3f}  {name}  (runs: {samples})", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
