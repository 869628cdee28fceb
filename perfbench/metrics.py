"""Metric names and units, shared by every workload so that each run
prints the same set: ``END_TO_END`` with ``--trace 0`` and
``PER_LAYER`` with ``--trace 1``. A per-layer metric that a workload
does not exercise reads 0 there."""

from __future__ import annotations

END_TO_END = {
    # one op = one held-out query (bounded) or one catalog entry, over a
    # median pass (each kind of operation at its median wall). With one
    # batch in flight this also gives the latency a user sees; the
    # median batch wall, printed beside it, is one batch kind's wall and
    # spread up to 1.5x as much between runs on bounded-sq8
    "ops_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

FAMILIES = ("knn", "ivf", "bounded", "dedup", "text", "relational", "multimodal")

PER_LAYER = {
    "spark.job_cost_ms": "ms",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.sched_s": "s",
    "spark.compute_s": "s",
    "ivf.scan_source_ms": "ms",
    "ivf.scan_source_jobs": "count",
    "ivf.scan_source_calls": "count",
    "ivf.coarse_rank_ms": "ms",
    "error_profile.coarse_ms": "ms",
    "error_profile.stage_scan_ms": "ms",
    "error_profile.stage_scan_jobs": "count",
    "error_profile.stage_scan_calls": "count",
    "error_profile.merge_ms": "ms",
    "error_profile.predictor_ms": "ms",
    "error_profile.refine_ms": "ms",
    "error_profile.collect_ms": "ms",
    "error_profile.other_ms": "ms",
    "error_profile.mean_nprobe": "lists",
    "error_profile.recall_slack": "recall",
    "scan.fused_ms": "ms",
    "scan.fused_jobs": "count",
    "scan.rows": "count",
    "scan.bytes": "B",
    "scan.gflop": "GFLOP",
    "scan.gflops": "GFLOP/s",
    "refine_blob.ms": "ms",
    "refine_blob.rows": "count",
    "index.stored_bytes_ratio": "ratio",
    "build.kmeans_s": "s",
    "build.ivf_s": "s",
    "build.fit_s": "s",
    "build.replica_s": "s",
    "build.sidecar_s": "s",
    **{f"catalog.{f}.wall_s": "s" for f in FAMILIES},
    **{f"catalog.{f}.jobs": "count" for f in FAMILIES},
    "bench.batch_wall_ms": "ms",
    "bench.trace_overhead": "ratio",
}


def render(values: dict[str, float], units: dict[str, str]) -> dict:
    missing = set(units) - set(values)
    if missing:
        raise KeyError(f"metrics not produced: {sorted(missing)}")
    return {k: {"value": float(values[k]), "unit": units[k]} for k in units}
