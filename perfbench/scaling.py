"""Build throughput at several parallelism levels (reference figure).

    python3 perfbench/scaling.py

Builds the search workload's corpus (seed 1) BUILDS times on a
``local[K]`` session for each K in CORES (the first build of a session pays the
one-time warm-up, so it is left out), prints the median docs/s of the
other builds per K, and the scaling efficiency of each K against the
smallest: ``(rate_K / rate_min) / (K / min)``. Run from the checkout
root; scratch files go to ``.bench_out/``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import OUT, isolate_environment, stop_spark  # noqa: E402

SEED = 1
CORES = (1, 2, 4)
BUILDS = 3


def main() -> int:
    work_dir = os.path.join(OUT, f"scaling-{os.getpid()}")
    isolate_environment(work_dir)
    from inputs import Inputs
    from workloads import SEARCH_DOCS, spark_conf

    from org_rdkit_lucene_spark.config import IndexConfig
    from org_rdkit_lucene_spark.operators.build import build_index
    from org_rdkit_lucene_spark.session import get_spark

    corpus = Inputs(SEED, SEARCH_DOCS).corpus
    rates: dict[int, float] = {}
    try:
        for k in CORES:
            spark = get_spark(
                f"perfbench-scaling-{k}", cores=k, shuffle_partitions=k,
                extra_conf=spark_conf(),
            )
            secs = []
            for b in range(BUILDS):
                t0 = time.perf_counter()
                build_index(
                    spark, spark.createDataFrame(corpus), IndexConfig(build_partitions=k),
                    os.path.join(work_dir, f"k{k}-b{b}"), id_col="ext_id",
                )
                secs.append(time.perf_counter() - t0)
            stop_spark(spark)
            rates[k] = len(corpus) / statistics.median(secs[1:])
            print(f"local[{k}]: builds {[round(s, 2) for s in secs]} s, "
                  f"{rates[k]:.1f} docs/s after the first", file=sys.stderr)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    base = min(rates)
    out = {
        f"local[{k}]": {
            "build_docs_per_s": round(r, 1),
            "efficiency_vs_local[{}]".format(base): round((r / rates[base]) / (k / base), 3),
        }
        for k, r in rates.items()
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
