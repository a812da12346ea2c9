"""Steadiness check: run each workload repeatedly and summarise.

    python3 perfbench/steady.py [--runs 10] [--workloads search upsert] [--trace 0]

Runs ``perfbench/run.py`` once per seed (seeds 1 to ``--runs``) for the
``run_seconds`` of BENCHMARK.json, one run at a time, from the checkout
root, and prints for every metric its median, quartiles and
interquartile spread as a share of the median, next to the bound in
BENCHMARK.json, plus the failed share and the wall time of each run.
The raw result lines go to ``.bench_out/steady-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarise(name: str, values: list[float], bound: float | None) -> str:
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    spread = (q3 - q1) / med if med else float("nan")
    b = f"{bound:.2f}" if bound is not None else "-"
    return (
        f"  {name:40s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}"
        f"  spread {spread:6.3f}  bound {b}"
    )


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", nargs="+", default=None)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    for wl in workloads:
        results, walls = [], []
        log = os.path.join(ROOT, ".bench_out", f"steady-{wl}.jsonl")
        open(log, "w").close()
        for seed in range(1, args.runs + 1):
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(args.trace),
            ]
            t0 = time.perf_counter()
            proc = subprocess.run(
                cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True
            )
            walls.append(time.perf_counter() - t0)
            if proc.returncode != 0:
                print(f"{wl} seed {seed}: exit {proc.returncode}", file=sys.stderr)
                continue
            line = proc.stdout.strip().splitlines()[-1]
            with open(log, "a") as f:
                f.write(line + "\n")
            results.append(json.loads(line))
        print(
            f"{wl}: {len(results)}/{args.runs} runs, "
            f"wall median {statistics.median(walls):.1f}s max {max(walls):.1f}s"
        )
        if not results:
            continue
        shares = sorted({r["failed"] / r["attempted"] for r in results})
        print(f"  correct {all(r['correct'] for r in results)}  failed shares {shares}")
        for name in results[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in results]
            print(summarise(name, vals, bounds.get(name)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
