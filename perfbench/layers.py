"""The engine boundaries the traced run wraps, and the per-layer
numbers derived from their spans.

Boundaries (module · attribute → span name):

- index.ivf · IVFIndex.scan_source, IVFIndex.coarse_rank
- profile.error_profile · ErrorProfile._coarse, _scan_delta,
  _merge_state (a staticmethod), _predicted_recall, _refined_result
- index.scan · scan_bucketed, reduce_bucketed, assemble_states
- index.refine_blob · RefineBlob.refine_topk
- build · kmeans.train_kmeans, IVFIndex.build (a classmethod),
  ErrorProfile.fit_and_calibrate_many, IVFIndex.build_scan_replica,
  IVFIndex.build_refine_sidecar

Scan rows, bytes and flops, and the per-query probe depth, are derived
from the wrapped calls' arguments and the on-disk list sizes."""

from __future__ import annotations

import numpy as np

from perfbench.trace import Tracer, calls, dur_ms, jobs_of, self_ms


class ScanModel:
    """List sizes and row width of the serving layout, for turning
    probe sets into rows, bytes and flops."""

    def __init__(self, sizes: np.ndarray | None, d: int):
        self.sizes = sizes
        self.d = d

    def account(self, tracer: Tracer, lists: np.ndarray, coded: bool) -> None:
        if self.sizes is None or lists.size == 0:
            return
        s = tracer.scratch
        probed = np.unique(lists)
        rows = int(self.sizes[probed].sum())
        width = (1 if coded else 4) * self.d + 8  # vector or code + id
        s["rows"] = s.get("rows", 0) + rows
        s["bytes"] = s.get("bytes", 0) + rows * width
        s["flop"] = s.get("flop", 0.0) + 2.0 * self.d * float(self.sizes[lists].sum())


def _depth(tracer: Tracer, nq: int, sel: np.ndarray, upto) -> None:
    dep = tracer.scratch.get("depth")
    if dep is None or len(dep) != nq:
        dep = tracer.scratch["depth"] = np.zeros(nq, dtype=np.int64)
    dep[sel] = np.maximum(dep[sel], upto)


def install(tracer: Tracer, model: ScanModel | None) -> None:
    from auncel_spark.index import kmeans, scan
    from auncel_spark.index.ivf import IVFIndex
    from auncel_spark.index.refine_blob import RefineBlob
    from auncel_spark.profile.error_profile import ErrorProfile

    def on_bucketed(tr, rec, a):
        if model is None or tr.batch is None:
            return
        ranked, stages, nlist = a["ranked"], a["stages"], a["nlist"]
        act = a.get("active")
        sel = np.arange(len(a["qids"])) if act is None else np.where(act)[0]
        smax = min(stages[-1], ranked.shape[1], nlist)
        model.account(tr, ranked[sel, :smax], a.get("codec") is not None)
        _depth(tr, len(a["qids"]), sel, smax)

    def on_delta(tr, rec, a):
        if model is None or tr.batch is None:
            return
        ranked, lo = a["ranked"], a["lo"]
        hi = min(a["hi"], ranked.shape[1])
        sel = np.where(a["active"])[0]
        if len(sel) == 0 or hi <= lo:
            return
        cols = ranked[sel, lo:hi]
        coded = a["self"].index.codec_active
        if a.get("hi_q") is None:
            model.account(tr, cols, coded)
            _depth(tr, len(a["qids"]), sel, hi)
        else:
            bhi = np.minimum(np.asarray(a["hi_q"], dtype=np.int64), hi)
            mask = np.arange(lo, hi)[None, :] < bhi[sel, None]
            model.account(tr, cols[mask], coded)
            _depth(tr, len(a["qids"]), sel, bhi[sel])

    def on_refine(tr, rec, a):
        rec["rows"] = int(len(a["cand_ids"]))

    plan = [
        (IVFIndex, "scan_source", "scan_source", None),
        (IVFIndex, "coarse_rank", "coarse_rank", None),
        (ErrorProfile, "_coarse", "_coarse", None),
        (ErrorProfile, "_scan_delta", "_scan_delta", on_delta),
        (ErrorProfile, "_merge_state", "_merge_state", None),
        (ErrorProfile, "_predicted_recall", "_predicted_recall", None),
        (ErrorProfile, "_refined_result", "_refined_result", None),
        (scan, "scan_bucketed", "scan_bucketed", on_bucketed),
        (scan, "reduce_bucketed", "reduce_bucketed", None),
        (scan, "assemble_states", "assemble_states", None),
        (RefineBlob, "refine_topk", "refine_topk", on_refine),
        (kmeans, "train_kmeans", "train_kmeans", None),
        (IVFIndex, "build", "ivf_build", None),
        (ErrorProfile, "fit_and_calibrate_many", "fit_and_calibrate_many", None),
        (IVFIndex, "build_scan_replica", "build_scan_replica", None),
        (IVFIndex, "build_refine_sidecar", "build_refine_sidecar", None),
    ]
    for owner, attr, name, hook in plan:
        tracer.wrap(owner, attr, name, hook)


FUSED = ("scan_bucketed", "reduce_bucketed", "assemble_states")


def span_layers(sp: list[dict]) -> dict:
    """Totals over the spans ``sp`` of each wrapped engine boundary."""
    return {
        "ivf.scan_source_ms": dur_ms(sp, "scan_source"),
        "ivf.scan_source_jobs": jobs_of(sp, "scan_source"),
        "ivf.scan_source_calls": calls(sp, "scan_source"),
        "ivf.coarse_rank_ms": dur_ms(sp, "coarse_rank"),
        "error_profile.coarse_ms": dur_ms(sp, "_coarse"),
        "error_profile.stage_scan_ms": dur_ms(sp, "_scan_delta"),
        "error_profile.stage_scan_jobs": jobs_of(sp, "_scan_delta"),
        "error_profile.stage_scan_calls": calls(sp, "_scan_delta"),
        "error_profile.merge_ms": dur_ms(sp, "_merge_state"),
        "error_profile.predictor_ms": dur_ms(sp, "_predicted_recall"),
        "error_profile.refine_ms": dur_ms(sp, "_refined_result"),
        "scan.fused_ms": sum(dur_ms(sp, n) for n in FUSED),
        "scan.fused_jobs": sum(jobs_of(sp, n) for n in FUSED),
        "refine_blob.ms": dur_ms(sp, "refine_topk"),
        "refine_blob.rows": sum(x.get("rows", 0) for x in sp if x["name"] == "refine_topk"),
    }


def batch_layers(tracer: Tracer, batch: str, root: dict) -> dict:
    """Per-layer numbers of one traced search batch whose benchmark span
    is ``root`` (children: the search boundaries plus ``collect``)."""
    sp = tracer.in_batch(batch)
    out = span_layers(sp)
    collect_ms = dur_ms(sp, "collect")
    if calls(sp, "refine_topk"):
        # the gather job itself runs when the result is collected
        out["refine_blob.ms"] += collect_ms
    s = tracer.scratch
    scan_ms = out["scan.fused_ms"] + out["error_profile.stage_scan_ms"]
    gflop = s.get("flop", 0.0) / 1e9
    dep = s.get("depth")
    out.update({
        "error_profile.collect_ms": collect_ms,
        "error_profile.other_ms": self_ms(sp, root),
        "error_profile.mean_nprobe": float(dep.mean()) if dep is not None else 0.0,
        "scan.rows": s.get("rows", 0),
        "scan.bytes": s.get("bytes", 0),
        "scan.gflop": gflop,
        "scan.gflops": gflop / (scan_ms / 1000.0) if scan_ms > 0 else 0.0,
        "bench.batch_wall_ms": (root["t1"] - root["t0"]) * 1000.0,
    })
    return out


def direct_children_ms(tracer: Tracer, batch: str, root: dict) -> dict:
    """Time of ``root``'s direct children by name, plus its self time
    as ``other``: these sum to the root's wall."""
    out: dict[str, float] = {}
    for s in tracer.in_batch(batch):
        if s["parent"] == root["id"]:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["t1"] - s["t0"]) * 1000.0
    out["other"] = self_ms(tracer.in_batch(batch), root)
    return out


def build_layers(tracer: Tracer, batch: str) -> dict:
    """Wall of each build boundary during the set-up tagged ``batch``."""
    sp = tracer.in_batch(batch)
    return {
        "build.kmeans_s": dur_ms(sp, "train_kmeans") / 1000.0,
        "build.ivf_s": dur_ms(sp, "ivf_build") / 1000.0,
        "build.fit_s": dur_ms(sp, "fit_and_calibrate_many") / 1000.0,
        "build.replica_s": dur_ms(sp, "build_scan_replica") / 1000.0,
        "build.sidecar_s": dur_ms(sp, "build_refine_sidecar") / 1000.0,
    }
