#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/steady.py --workloads serve_short,serve_scan,operators --seeds 1-10

For every workload and end-to-end metric it prints the median and the
inter-quartile range as a share of the median, with the quartiles taken by
statistics.quantiles(values, n=4), and the bound from BENCHMARK.json. Run
from the repository root; per-run results go to .bench_build/steady.jsonl.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    bench = json.loads(Path("BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = Path(".bench_build") / "steady.jsonl"
    log.parent.mkdir(exist_ok=True)
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
                                 capture_output=True, text=True)
            wall = time.time() - t0
            if out.returncode != 0:
                print(f"{w} seed {s}: exit {out.returncode}\n{out.stderr[-2000:]}", file=sys.stderr)
                continue
            result = json.loads(out.stdout.strip().splitlines()[-1])
            runs.append(result)
            with log.open("a") as f:
                f.write(json.dumps({"workload": w, "seed": s, "wall_s": wall, **result}) + "\n")
            print(f"{w} seed {s}: {wall:.1f} s wall, correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']}", flush=True)
        if len(runs) < 2:
            continue
        for name in runs[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(values)
            q = statistics.quantiles(values, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
            print(f"  {w:12s} {name:30s} median {med:12.4f}  spread {spread:6.3f}"
                  f"  bound {bounds.get(name, float('nan')):.2f}")


if __name__ == "__main__":
    main()
