"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the workload's inputs from the
seed, runs the program's set-up, then measures closed-loop operations
(one client, one batch in flight) for at least ``--seconds`` and checks
every output. Human-readable lines go first; the last stdout line is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). See perfbench/README.md."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("bounded-flat", "bounded-sq8", "catalog")


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse(argv)
    missing = [p for p in ("auncel_spark", "scripts/scale_bench.py") if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: program sources not found under {ROOT}: {missing}", file=sys.stderr)
        return 2
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))

    from perfbench import harness
    from perfbench.metrics import END_TO_END, PER_LAYER, render

    work = harness.WORK / f"{args.workload}-{os.getpid()}"
    harness.fresh_dir(work)
    harness.prepare_env(work)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": harness.git_commit(),
        "nproc": harness.nproc(),
    }
    if args.trace:
        record["calibration"] = harness.calibration(work)

    spark = None
    try:
        with harness.RssSampler() as rss:
            spark = harness.start_spark(f"perfbench-{args.workload}", work)
            jobs = harness.JobCounter(spark)
            record["spark.job_cost_ms"] = jobs.cost_ms
            if args.workload == "catalog":
                from perfbench import catalog_bench

                out = catalog_bench.run(spark, work, args.seed, args.seconds, bool(args.trace), jobs)
            else:
                from perfbench import bounded

                out = bounded.run(
                    spark, work, args.seed, args.seconds, bool(args.trace),
                    args.workload == "bounded-sq8", jobs,
                )
        out["e2e"]["peak_rss_mb"] = rss.peak_mb
        out["summary"]["peak_rss_parts_mb"] = {k: v / 1e6 for k, v in rss.parts.items()}
    finally:
        if spark is not None:
            harness.stop_spark(spark)

    record.update({k: out[k] for k in ("attempted", "failed", "e2e", "summary")})
    tracer = out.pop("tracer", None)
    if tracer is not None:
        tracer.dump(work.parent / "traces" / f"{args.workload}-seed{args.seed}.jsonl")
        record["absent_boundaries"] = tracer.absent
        record["hook_errors"] = sorted(tracer.hook_errors)
        record["layers"] = out.get("layers", {})
    shutil.rmtree(work, ignore_errors=True)
    rec_path = harness.write_record(work, record)

    attempted, failed = out["attempted"], out["failed"]
    print(f"workload {args.workload} seed {args.seed} nproc {record['nproc']} "
          f"commit {record['git_commit']} job_cost_ms {record['spark.job_cost_ms']:.1f}")
    for k, v in out["e2e"].items():
        print(f"  {k:12s} {v:.6g} {END_TO_END[k]}")
    print(f"  failed_share {failed / attempted:.6g} (failed {failed} of {attempted} attempted)")
    for k, v in out["summary"].items():
        print(f"  {k}: {json.dumps(v, default=float)}")
    if tracer is not None and tracer.absent:
        print(f"  absent boundaries (reported as 0): {tracer.absent}")
    if tracer is not None and tracer.hook_errors:
        print(f"  argument hooks that failed: {sorted(tracer.hook_errors)}")
    print(f"  run record: {rec_path.relative_to(ROOT)}")

    if args.trace:
        values = {k: 0.0 for k in PER_LAYER}
        values.update({k: v for k, v in out.get("layers", {}).items() if k in PER_LAYER})
        metrics = render(values, PER_LAYER)
    else:
        metrics = render(out["e2e"], END_TO_END)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
