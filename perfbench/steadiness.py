"""Measure how steady the benchmark is, and write the evidence.

    python3 perfbench/steadiness.py run --label A --seeds 1-10
    python3 perfbench/steadiness.py run --label B --seeds 11-20
    python3 perfbench/steadiness.py report A B

``run`` runs ``run.py`` once per seed and workload, one process at a time,
and appends each result line and diagnostic record to
``perfbench/steadiness/<label>.jsonl``. ``report`` prints, per set, workload
and end-to-end metric, the median and the quartile spread (Q3 - Q1 over the
median, as ``statistics.quantiles(values, n=4)`` gives the quartiles) next
to the metric's bound from BENCHMARK.json, and how far the medians of the
first two sets lie apart, the tracing overhead of traced runs (traced
``wall_s`` minus the untraced ``wall_s`` of the same workload and seed), and
each run's spin probe, load and duration.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)
OUT_DIR = os.path.join(BENCH_DIR, "steadiness")


def load_spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(label: str, seeds: list[int], workloads: list[str], trace: int) -> None:
    spec = load_spec()
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, f"{label}.jsonl")
    for seed in seeds:
        for wl in workloads:
            cmd = spec["command"] + [
                "--workload", wl, "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
            ]
            t0 = time.time()
            proc = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            row = {"workload": wl, "seed": seed, "trace": trace, "exit": proc.returncode, "elapsed_s": time.time() - t0}
            if proc.returncode == 0 and len(lines) >= 2:
                row["record"] = json.loads(lines[-2])["record"]
                row["result"] = json.loads(lines[-1])
            else:
                row["stderr_tail"] = proc.stderr[-2000:]
            with open(path, "a") as fh:
                fh.write(json.dumps(row, sort_keys=True) + "\n")
            res = row.get("result", {})
            print(wl, seed, proc.returncode, {k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()},
                  flush=True)


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def report(labels: list[str]) -> None:
    spec = load_spec()
    sets = {}
    for label in labels:
        with open(os.path.join(OUT_DIR, f"{label}.jsonl")) as fh:
            sets[label] = [json.loads(line) for line in fh if line.strip()]
    print("| set | workload | metric | median | spread | bound | spread / bound | runs | failed runs |")
    print("|---|---|---|---|---|---|---|---|---|")
    medians: dict[tuple, float] = {}
    for label, rows in sets.items():
        for w in spec["workloads"]:
            mine = [r for r in rows if r["workload"] == w["name"] and r["trace"] == 0]
            if not mine:
                continue
            good = [r for r in mine if "result" in r and r["result"]["correct"]]
            for m in spec["end_to_end"]:
                vals = [r["result"]["metrics"][m["name"]]["value"] for r in good]
                if len(vals) < 2:
                    continue
                med, sp = statistics.median(vals), spread(vals)
                medians[(label, w["name"], m["name"])] = med
                print(
                    f"| {label} | {w['name']} | {m['name']} | {med:.4g} {m['unit']} | {sp:.3f} | {m['bound']} "
                    f"| {sp / m['bound']:.2f} | {len(vals)} | {len(mine) - len(good)} |"
                )
    if len(labels) >= 2:
        a, b = labels[:2]
        print(f"\n| workload | metric | median {a} | median {b} | change ({b} vs {a}, worse is +) | bound |")
        print("|---|---|---|---|---|---|")
        for w in spec["workloads"]:
            for m in spec["end_to_end"]:
                ma, mb = medians.get((a, w["name"], m["name"])), medians.get((b, w["name"], m["name"]))
                if ma is None or mb is None:
                    continue
                change = (mb - ma) / ma if ma else 0.0
                if m["better"] == "higher":
                    change = -change
                print(f"| {w['name']} | {m['name']} | {ma:.4g} | {mb:.4g} | {change:+.3f} | {m['bound']} |")
    untraced = {
        (r["workload"], r["seed"]): r["result"]["metrics"]["wall_s"]["value"]
        for rows in sets.values() for r in rows if r["trace"] == 0 and "result" in r
    }
    traced = [r for rows in sets.values() for r in rows if r["trace"] == 1 and "result" in r]
    if traced:
        print("\n| workload | seed | traced wall_s | untraced wall_s | tracing overhead |")
        print("|---|---|---|---|---|")
        for r in traced:
            tw = r["result"]["metrics"]["trace.wall_s"]["value"]
            uw = untraced.get((r["workload"], r["seed"]))
            if uw is not None:
                print(f"| {r['workload']} | {r['seed']} | {tw:.3f} s | {uw:.3f} s | {tw - uw:+.3f} s ({(tw - uw) / uw:+.1%}) |")
    print("\n| set | workload | seed | spin probe s | load1 start | load1 end | tail percentile | samples | run s |")
    print("|---|---|---|---|---|---|---|---|---|")
    for label, rows in sets.items():
        for r in rows:
            rec = r.get("record", {})
            print(
                f"| {label} | {r['workload']} | {r['seed']} | {rec.get('spin_probe_s', float('nan')):.3f} "
                f"| {rec.get('load1_start', float('nan')):.2f} | {rec.get('load1_end', float('nan')):.2f} "
                f"| {rec.get('latency_tail_percentile')} | {rec.get('latency_samples')} | {r['elapsed_s']:.1f} |"
            )


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--label", required=True)
    r.add_argument("--seeds", type=seed_range, required=True)
    r.add_argument("--workloads", nargs="*", default=None)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p = sub.add_parser("report")
    p.add_argument("labels", nargs="+")
    args = ap.parse_args()
    if args.cmd == "run":
        names = args.workloads or [w["name"] for w in load_spec()["workloads"]]
        run(args.label, args.seeds, names, args.trace)
    else:
        report(args.labels)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
