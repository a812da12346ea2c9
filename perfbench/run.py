"""Benchmark entry point.

    python3 perfbench/run.py --workload {search,upsert} --seed N \\
        --seconds S --trace {0,1} [--docs N]

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
ones with ``--trace 1``). Everything else, Spark's own output included,
goes to standard error. Scratch files live under ``.bench_out/`` in the
checkout: the run's index directories and Spark's local directory
(removed when the run ends), the span dump of a traced run, and the
oracle answer cache.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_out")


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["search", "upsert"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--docs", type=int, default=None, help="corpus size (default: the workload's)")
    return p.parse_args(argv)


def isolate_environment(work_dir: str) -> None:
    """Keep the engine's imports and the scratch files of Python, Spark
    and the JVM (see ``workloads.spark_conf``) inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ.pop("PYSPARK_GATEWAY_PORT", None)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # a later session in this process launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    # the result line is the only thing written to the real stdout
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    work_dir = os.path.join(OUT, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        isolate_environment(work_dir)
        from procstat import peak_rss_mb
        from spans import Tracer
        from workloads import WORKLOADS, Run

        run = Run(
            args.workload, args.seed, args.seconds, Tracer(bool(args.trace)), work_dir,
            cache_dir=os.path.join(OUT, "oracle"),
        )
        try:
            WORKLOADS[args.workload](run, args.docs)
            run.put("peak_rss_mb", peak_rss_mb(), "MB")
        finally:
            if run.spark is not None:
                stop_spark(run.spark)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)

    metrics = run.metrics
    if args.trace:
        t0 = time.perf_counter()
        run.tracer.dump(os.path.join(OUT, f"trace-{args.workload}-{args.seed}.jsonl"))
        run.layer("trace.spans", len(run.tracer.spans), "count")
        run.layer("trace.overhead_s", run.tracer.overhead_s(), "s")
        run.layer("trace.dump_s", time.perf_counter() - t0, "s")
        run.layer("trace.round_s", statistics.median(run.tracer.durations("round")), "s")
        run.layer("trace.round_cpu_s", metrics["round_cpu_s"][0], "s")
        metrics = run.layers
    for err in run.counts.errors:
        print(f"FAILED {err}", file=sys.stderr)
    result = {
        "correct": run.counts.wrong == 0,
        "attempted": run.counts.attempted,
        "failed": run.counts.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
