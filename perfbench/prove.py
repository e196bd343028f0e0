#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize its spread.

Usage (from the root of a checkout):

    python3 perfbench/prove.py --seeds 1-10 --out perfbench/baseline/set1.json
    python3 perfbench/prove.py --seeds 1-10 --workloads lake_ingest --seconds 20

For every workload in BENCHMARK.json (or the ones named) and every seed,
runs `perfbench/run.py` untraced and keeps the result line. The summary
holds each end-to-end metric's values, median, quartiles (Python's
`statistics.quantiles(values, n=4)`) and spread (interquartile range as a
share of the median) next to the metric's bound, plus each run's wall
time and record (sample counts, sentinels, environment).
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else None}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=None, help="comma-separated; default: BENCHMARK.json's")
    ap.add_argument("--seconds", type=int, default=None, help="default: BENCHMARK.json's run_seconds")
    ap.add_argument("--out", default=None, help="summary JSON path")
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    secs = a.seconds or bench["run_seconds"]
    summary = {"seconds": secs, "workloads": {}}
    for wl in workloads:
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(s),
                                "--seconds", str(secs), "--trace", "0"],
                               stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
            record_file = Path(".bench_out") / f"{wl}-seed{s}-trace0.json"
            record = json.loads(record_file.read_text()) if record_file.exists() else None
            runs.append({"seed": s, "exit": p.returncode, "wall_s": round(wall, 2),
                         "result": result, "record": record})
            print(f"{wl} seed {s}: exit {p.returncode}, {wall:.1f} s, "
                  f"{json.dumps(result['metrics']) if result else 'no result'}", flush=True)
        metrics = {}
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs
                    if r["result"] and m["name"] in r["result"]["metrics"]]
            if len(vals) >= 2:
                metrics[m["name"]] = {"values": vals, "bound": m["bound"], **spread(vals)}
        summary["workloads"][wl] = {"metrics": metrics, "runs": runs}
        for n, m in metrics.items():
            print(f"  {wl} {n}: median {m['median']:.6g}, spread {m['spread']:.4f} "
                  f"(bound {m['bound']}, a third {m['bound'] / 3:.4f})", flush=True)
    if a.out:
        Path(a.out).parent.mkdir(parents=True, exist_ok=True)
        Path(a.out).write_text(json.dumps(summary, indent=1) + "\n")


if __name__ == "__main__":
    main()
