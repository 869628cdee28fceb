"""Bounded-search workloads: error-bounded batch search served from
IVF flat lists (``bounded-flat``) or from the SQ8 scan replica plus
the exact-refine sidecar (``bounded-sq8``, the large-tier layout).

Inputs come from the ``scripts/scale_bench.py`` generators: the fixed
mixture centres of ``_centers`` plus the id-hash gaussians of
``_id_gauss``. The corpus and the training queries are one fixed id
range, like a fixed dataset, so every run builds and calibrates the
same index; the seed picks the id range of the held-out queries, so
every seed searches with different queries from the same mixture.
Ground truth is a float64 numpy brute force over the same arrays; the
engine never produces it."""

from __future__ import annotations

import copy
import time
import traceback
from pathlib import Path
from typing import NamedTuple

import numpy as np

from perfbench import layers
from perfbench.harness import JobCounter, fresh_dir, median, tail, tree_cpu_s
from perfbench.trace import Tracer

N = 20_000  # corpus rows
D = 96
MIX = 80  # mixture components used: N / MIX rows per component
NLIST = 64  # 312 rows per list, near the paper's 500k / IVF1024
N_TRAIN = 1_000  # profile-fit queries
NQ = 500  # held-out queries per batch
MAX_TOPK = 100
# the ends of the paper's k x bound diagonal: k10/1% is the flagship
# latency config and the costliest batch here, k100/10% the widest top-k
GRID = [(10, 0.01), (100, 0.10)]
MIXED_K = 10
# the mixed batch is served with the k10 / 10%-bound calibration: its
# tightest per-query requirement is recall 0.9
FIT_CONFIGS = GRID + [(MIXED_K, 0.10)]
KMEANS_ITERS = 4
EPS = 1e-6


class Batch(NamedTuple):
    wall: float
    cpu: float  # CPU seconds of the driver, JVM and workers
    rows: list | None  # None when the batch raised
    recall: np.ndarray  # threshold recall per held-out query
    req: np.ndarray  # required recall per held-out query
    jobs: tuple[int, int]  # job-id range the batch used
    root: dict | None  # its span, in a traced batch


CORPUS_IDS = 1 << 32  # first id of the corpus, then the training queries


def query_ids(seed: int) -> int:
    """First id of the seed's held-out queries, clear of the corpus."""
    return ((seed % (1 << 20)) + 2) << 32


def vectors(first: int, count: int) -> np.ndarray:
    """Rows of ids ``first .. first+count`` of the id-hash mixture."""
    from scripts.scale_bench import _centers, _id_gauss

    ids = np.arange(first, first + count, dtype=np.int64)
    cents = _centers()[:MIX]
    return (cents[ids % MIX] + _id_gauss(ids, D)).astype(np.float32)


def required_recall(qids: np.ndarray, bound: float | None) -> np.ndarray:
    """Per-query required recall: 1 - bound, or for the mixed batch
    0.1..0.9 cycled by qid (the distributed workload of the paper)."""
    if bound is not None:
        return np.full(len(qids), 1.0 - bound)
    return 0.1 * (1 + (qids % 9))


def exact_kth(base: np.ndarray, queries: np.ndarray, kmax: int) -> np.ndarray:
    """(nq, kmax) sorted exact squared-L2 distances, float64."""
    b = base.astype(np.float64)
    bn = (b * b).sum(axis=1)
    out = np.empty((len(queries), kmax))
    for s in range(0, len(queries), 256):
        q = queries[s : s + 256].astype(np.float64)
        dist = (q * q).sum(axis=1)[:, None] + bn[None, :] - 2.0 * (q @ b.T)
        part = np.partition(dist, kmax - 1, axis=1)[:, :kmax]
        out[s : s + 256] = np.sort(part, axis=1)
    return out


def threshold_recall(
    ids: np.ndarray,
    qrow: np.ndarray,
    base: np.ndarray,
    queries: np.ndarray,
    kth: np.ndarray,
    k: int,
    eps: float = EPS,
) -> np.ndarray:
    """Per-query recall by the paper's criterion: the share of the k
    returned ids whose true distance is within the true k-th distance
    (+eps, so ties at the k-th distance count). Distances are
    recomputed here in float64; returned distances are not trusted.
    Duplicate or out-of-range ids do not count."""
    nq = len(queries)
    hits = np.zeros(nq)
    ok = (ids >= 0) & (ids < len(base))
    ids, qrow = ids[ok], qrow[ok]
    key = qrow.astype(np.int64) * (len(base) + 1) + ids
    _, first = np.unique(key, return_index=True)
    ids, qrow = ids[first], qrow[first]
    diff = base[ids].astype(np.float64) - queries[qrow].astype(np.float64)
    dist = (diff * diff).sum(axis=1)
    good = dist <= kth[qrow, k - 1] + eps
    np.add.at(hits, qrow[good], 1.0)
    return np.minimum(hits, k) / k


class Bounded:
    def __init__(self, spark, work: Path, seed: int, sq8: bool, jobs: JobCounter):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sq8 = sq8
        self.jobs = jobs

    # -- inputs (not timed) -------------------------------------------

    def make_inputs(self) -> None:
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.base = vectors(CORPUS_IDS, N)
        self.train = vectors(CORPUS_IDS + N, N_TRAIN)
        self.held = vectors(query_ids(self.seed), NQ)
        self.held_qids = np.arange(NQ, dtype=np.int64) + 20_000_000
        inp = fresh_dir(self.work / "input")
        flat = pa.array(self.base.ravel(), type=pa.float32())
        vec = pa.FixedSizeListArray.from_arrays(flat, D).cast(pa.list_(pa.float32()))
        pq.write_table(
            pa.table({"id": pa.array(np.arange(N, dtype=np.int64)), "vec": vec}),
            inp / "base.parquet",
            row_group_size=N // 4,
        )
        self.base_path = str(inp / "base.parquet")
        self.train_df = self.spark.createDataFrame(
            pd.DataFrame(
                {
                    "qid": np.arange(N_TRAIN, dtype=np.int64) + 10_000_000,
                    "vec": list(self.train),
                }
            )
        ).cache()
        self.train_df.count()
        self.held_df = self.spark.createDataFrame(
            pd.DataFrame({"qid": self.held_qids, "vec": list(self.held)})
        ).cache()
        self.held_df.count()
        self.kth = exact_kth(self.base, self.held, MAX_TOPK)

    # -- program set-up (timed) -----------------------------------------

    def setup(self) -> float:
        from auncel_spark.index import kmeans
        from auncel_spark.index.ivf import IVFIndex
        from auncel_spark.profile.error_profile import ErrorProfile
        from scripts.scale_bench import SAFETY, _MULT_GRID, _STD_GRID, _apply_margin

        path = fresh_dir(self.work / "index")
        t0 = time.perf_counter()
        base = self.spark.read.parquet(self.base_path).cache()
        cents, _ = kmeans.train_kmeans(base, NLIST, max_iter=KMEANS_ITERS, seed=1)
        base.unpersist()
        idx = IVFIndex.build(base, nlist=NLIST, centroids=cents, path=str(path / "ivf"))
        ep = ErrorProfile(idx, max_topk=MAX_TOPK)
        raw = ep.fit_and_calibrate_many(
            self.train_df,
            FIT_CONFIGS,
            multipler_grid=_MULT_GRID,
            std_m_grid=_STD_GRID,
            safety=SAFETY,
        )
        params = _apply_margin(copy.deepcopy(raw))
        if self.sq8:
            idx.build_scan_replica()
            idx.build_refine_sidecar(delete_source=True)
        wall = time.perf_counter() - t0
        self.idx, self.ep, self.params = idx, ep, params
        return wall

    def list_sizes(self) -> np.ndarray:
        """Rows per list from the serving layout's parquet footers."""
        import pyarrow.parquet as pq

        sub = "lists_sq8" if self.sq8 else "lists"
        sizes = np.zeros(NLIST, dtype=np.int64)
        for f in Path(self.idx.data_path, sub).glob("list_no=*/*.parquet"):
            ln = int(f.parent.name.split("=", 1)[1])
            sizes[ln] += pq.read_metadata(f).num_rows
        return sizes

    def stored_bytes_ratio(self) -> float:
        p = Path(self.idx.data_path)
        stored = sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
        return stored / float(N * D * 4)

    # -- one batch --------------------------------------------------------

    def specs(self) -> list[tuple[int, float | None]]:
        return [(k, b) for k, b in GRID] + [(MIXED_K, None)]

    def run_batch(self, spec, tracer: Tracer | None = None, tag: str | None = None) -> Batch:
        """One search batch plus its collect, checked. A batch that
        raises fails all its queries."""
        k, bound = spec
        p = self.params[(k, bound if bound is not None else 0.10)]
        self.ep.multipler, self.ep.std_m = p["multipler"], p["std_m"]
        req = required_recall(self.held_qids, bound)
        j0 = self.jobs.jobs()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        rows, root = None, None
        try:
            if tracer is None:
                rows = self.ep.search(self.held_df, k, require_acc=req).collect()
            else:
                tracer.batch, tracer.scratch = tag, {}
                with tracer.span("batch", k=k, bound=bound) as root:
                    res = self.ep.search(self.held_df, k, require_acc=req)
                    with tracer.span("collect"):
                        rows = res.collect()
        except Exception:
            traceback.print_exc()
            print(f"batch k={k} bound={bound} raised; its {NQ} queries fail")
        finally:
            if tracer is not None:
                tracer.batch = None
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        recall = np.zeros(NQ) if rows is None else self.check(rows, k)
        return Batch(wall, cpu, rows, recall, req, (j0, self.jobs.jobs()), root)

    def check(self, rows, k: int) -> np.ndarray:
        qpos = {int(q): i for i, q in enumerate(self.held_qids)}
        qid = np.fromiter((r["qid"] for r in rows), dtype=np.int64, count=len(rows))
        ids = np.fromiter((r["id"] for r in rows), dtype=np.int64, count=len(rows))
        known = np.isin(qid, self.held_qids)
        qrow = np.array([qpos[int(q)] for q in qid[known]], dtype=np.int64)
        return threshold_recall(ids[known], qrow, self.base, self.held, self.kth, k)


def run(spark, work: Path, seed: int, seconds: float, trace: bool, sq8: bool, jobs: JobCounter) -> dict:
    wl = Bounded(spark, work, seed, sq8, jobs)
    wl.make_inputs()
    tracer = Tracer(jobs.jobs) if trace else None
    model = layers.ScanModel(None, D)
    if tracer is not None:
        layers.install(tracer, model)
        tracer.batch = "setup"
    setup_s = wl.setup()
    if tracer is not None:
        tracer.batch = None
        tracer.unwrap_all()
    model.sizes = wl.list_sizes()

    attempted = failed = 0
    walls, cpus, slack, per_batch, paired = [], [], [], [], []
    by_spec: dict[int, list[float]] = {}

    def count(b: Batch) -> None:
        nonlocal attempted, failed
        attempted += NQ
        failed += int((b.recall < b.req - 1e-9).sum())
        slack.append(float(np.mean(b.recall - b.req)))

    # warm-up, checked but not timed: the first batch after set-up pays
    # one-off costs (Python workers, first reads of the serving layout)
    specs = wl.specs()
    count(wl.run_batch(specs[0]))

    # the specs in turn until --seconds have passed, at least one of each
    t_start = time.perf_counter()
    n = 0
    while n < len(specs) or time.perf_counter() - t_start < seconds:
        npass, i = divmod(n, len(specs))
        spec = specs[i]
        n += 1
        # a traced run times every spec untraced and traced, in
        # alternating order, for the overhead and a same-rows check
        modes = [False, True] if trace else [False]
        if trace and (npass + i) % 2:
            modes.reverse()
        got = {}
        for traced in modes:
            if traced:
                tag = f"p{npass}-b{i}"
                layers.install(tracer, model)
                try:
                    b = wl.run_batch(spec, tracer, tag)
                finally:
                    tracer.unwrap_all()
                if b.root is not None:
                    lay = layers.batch_layers(tracer, tag, b.root)
                    lay["spark.jobs"] = b.jobs[1] - b.jobs[0]
                    lay["spark.tasks"] = jobs.tasks(*b.jobs)
                    lay["wall_s"] = b.wall
                    per_batch.append(lay)
                    breakdown = layers.direct_children_ms(tracer, tag, b.root)
            else:
                b = wl.run_batch(spec)
                walls.append(b.wall)
                cpus.append(b.cpu)
                by_spec.setdefault(i, []).append(b.wall)
            got[traced] = b
            count(b)
        if trace:
            paired.append((got[True].wall, got[False].wall))
            rows_t, rows_u = got[True].rows, got[False].rows
            if rows_t is None or rows_u is None or sorted(map(tuple, rows_t)) != sorted(
                map(tuple, rows_u)
            ):
                failed += NQ
                print(f"traced and untraced rows differ for spec {spec}")

    # a median pass: each spec's median batch wall, so a pass cut short
    # by the deadline does not tilt the mix of cheap and costly specs
    spec_p50 = [median(w) for w in by_spec.values()]
    tl = tail(walls)
    out = {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "ops_per_s": NQ * len(spec_p50) / sum(spec_p50),
            "setup_s": setup_s,
        },
        "summary": {
            "cpu_ms_per_op": 1000.0 * sum(cpus) / (NQ * len(cpus)),
            "qps_all_batches": NQ * len(walls) / sum(walls),
            "batch_p50_s": median(walls),
            "spec_batch_p50_s": {
                f"k{k}_b{b if b is not None else 'mixed'}": median(by_spec[i])
                for i, (k, b) in enumerate(specs) if i in by_spec
            },
            "batch_walls_s": walls,
            "batch_tail_s": (
                {"percentile": tl[0], "value": tl[1], "n": len(walls)} if tl
                else {"percentile": None, "n": len(walls), "note": "fewer than 11 batches"}
            ),
            "batches": n,
            "stored_bytes_ratio": wl.stored_bytes_ratio(),
            "recall_slack": float(np.mean(slack)),
            "params": {
                f"k{k}_b{b}": (p["multipler"], p["std_m"]) for (k, b), p in wl.params.items()
            },
        },
    }
    if trace and per_batch:
        lay = {key: float(np.mean([b[key] for b in per_batch])) for key in per_batch[0]}
        lay["spark.job_cost_ms"] = jobs.cost_ms
        lay["spark.sched_s"] = lay["spark.jobs"] * jobs.cost_ms / 1000.0
        lay["spark.compute_s"] = lay.pop("wall_s") - lay["spark.sched_s"]
        lay["error_profile.recall_slack"] = float(np.mean(slack))
        lay["index.stored_bytes_ratio"] = wl.stored_bytes_ratio()
        lay.update(layers.build_layers(tracer, "setup"))
        lay["bench.trace_overhead"] = (
            median([t for t, _ in paired]) / median([u for _, u in paired]) - 1.0
        )
        out["layers"] = lay
        out["tracer"] = tracer
        # direct children plus "other" sum to the batch wall
        out["summary"]["last_batch_breakdown_ms"] = breakdown
        out["summary"]["last_batch_wall_ms"] = per_batch[-1]["bench.batch_wall_ms"]
    return out
