"""Focused per-query A/B harness: time named catalog queries in one
warmed session (median of N), and count the Spark jobs each query
issues (delta of the DAG scheduler's job counter, which counts jobs
from every driver thread, job group or not). The round's primary
evidence for job-count-reducing optimizations — wall medians on this
container are noisy, job counts are exact.

Usage: python scripts/bench_subset.py [-n 5] query [query ...]
Prints one JSON line: {query: {"median_s": x, "runs": [...], "jobs": J}}
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def main() -> None:
    args = sys.argv[1:]
    n = 5
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from auncel_spark.catalog import QUERIES
    from auncel_spark.session import get_spark

    spark = get_spark("bench_subset")
    dag = spark.sparkContext._jsc.sc().dagScheduler()

    # warm the worker pool + parquet footers like bench.py does
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb.count()
    emb.limit(64).mapInArrow(lambda it: it, emb.schema).count()

    out = {}
    for name in names:
        fn = QUERIES[name]
        fn(spark, sf_dir).collect()  # cold pass pays one-time builds
        runs = []
        jobs = None
        for _ in range(n):
            j0 = dag.numTotalJobs()
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            runs.append(round(time.perf_counter() - t0, 3))
            jobs = int(dag.numTotalJobs() - j0)
        out[name] = {
            "median_s": sorted(runs)[len(runs) // 2],
            "runs": runs,
            "jobs": jobs,
        }
        print(f"# {name}: {out[name]}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
