"""Tests of the benchmark's own machinery (not of the engine).

    python3 -m pytest perfbench/ -q -p no:cacheprovider
"""

from __future__ import annotations

import concurrent.futures as cf
import inspect
import os
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench.bounded import threshold_recall  # noqa: E402
from perfbench.harness import JobCounter, stop_spark, tail  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    from auncel_spark.session import get_spark

    s = get_spark(
        "perfbench_tests",
        shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield s
    stop_spark(s)


def test_job_counter_sees_pool_thread_jobs(spark):
    """Jobs launched from a plain ThreadPoolExecutor escape the caller's
    (thread-local) job group but not the global job-id counter."""
    sc = spark.sparkContext
    counter = JobCounter(spark)
    rdd = sc.parallelize([0], 1)
    rdd.count()
    n = 8
    sc.setJobGroup("perfbench-pool", "pool-thread jobs")
    try:
        j0 = counter.jobs()
        with cf.ThreadPoolExecutor(4) as ex:
            futs = [ex.submit(rdd.count) for _ in range(n)]
            assert all(f.result(timeout=120) == 1 for f in futs)
        j1 = counter.jobs()
        grouped = list(sc.statusTracker().getJobIdsForGroup("perfbench-pool"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert j1 - j0 == n
    assert counter.tasks(j0, j1) == n
    assert len(grouped) < n  # the job-group count misses pool-thread jobs


def test_threshold_recall_ties_at_kth_distance():
    # one query at the origin; squared distances 1, 2, 3, 3, 3, 4
    base = np.array(
        [[1.0, 0], [0, np.sqrt(2.0)], [np.sqrt(3.0), 0], [0, np.sqrt(3.0)],
         [-np.sqrt(3.0), 0], [2.0, 0]],
        dtype=np.float64,
    )
    q = np.zeros((1, 2))
    kth = np.array([[1.0, 2.0, 3.0, 3.0, 3.0, 4.0]])
    k = 3

    def rec(ids, eps=1e-6, b=base):
        ids = np.asarray(ids, dtype=np.int64)
        return threshold_recall(ids, np.zeros(len(ids), dtype=np.int64), b, q, kth, k, eps)[0]

    # any of the tied points at the k-th distance is a correct answer
    assert rec([0, 3, 4]) == 1.0
    assert rec([2, 3, 4]) == 1.0
    # a point beyond the k-th distance is a miss
    assert rec([0, 1, 5]) == pytest.approx(2 / 3)
    # a repeated id counts once; out-of-range ids never count
    assert rec([0, 0, 1]) == pytest.approx(2 / 3)
    assert rec([0, 1, 99]) == pytest.approx(2 / 3)
    # eps 1e-6: a float tie just above the k-th distance still counts
    nudged = base.copy()
    nudged[5] = [np.sqrt(3.0 + 5e-7), 0]
    assert rec([0, 1, 5], b=nudged) == 1.0
    nudged[5] = [np.sqrt(3.0 + 5e-6), 0]
    assert rec([0, 1, 5], b=nudged) == pytest.approx(2 / 3)


def test_tail_rule():
    assert tail(list(range(10))) is None
    pct, val = tail([float(i) for i in range(40)])
    assert (pct, val) == (75.0, 29.0)  # ten samples lie above 29


def test_changed_boundaries_are_reported_not_raised():
    class Engine:
        pass

    tr = Tracer()
    assert tr.wrap(Engine, "removed_later", "removed_later") is False
    assert tr.absent == ["removed_later"]

    # a hook written for an older signature is reported, the call still runs
    Engine.search = lambda self, queries: len(queries)

    def hook(tr, rec, args):
        rec["rows"] = len(args["cand_ids"])

    assert tr.wrap(Engine, "search", "search", hook)
    assert Engine().search([1, 2]) == 2
    assert tr.hook_errors == {"search: KeyError: 'cand_ids'"}


def test_wrapping_keeps_static_and_class_methods():
    class Engine:
        @staticmethod
        def merge(a, b):
            return a + b

        @classmethod
        def make(cls, x):
            return (cls, x)

        def inst(self, x):
            return x * 2

    tr = Tracer()
    for name in ("merge", "make", "inst"):
        assert tr.wrap(Engine, name, name)
    assert isinstance(inspect.getattr_static(Engine, "merge"), staticmethod)
    assert isinstance(inspect.getattr_static(Engine, "make"), classmethod)
    e = Engine()
    assert e.merge(1, 2) == 3 and Engine.merge(1, 2) == 3
    assert Engine.make(5) == (Engine, 5)
    assert e.inst(4) == 8
    assert [s["name"] for s in tr.spans] == ["merge", "merge", "make", "inst"]
    tr.unwrap_all()
    assert Engine.merge(1, 2) == 3 and not tr._patches
    assert isinstance(inspect.getattr_static(Engine, "merge"), staticmethod)


def test_traced_and_untraced_search_return_identical_rows(spark, tmp_path):
    from perfbench import layers

    from auncel_spark.index.ivf import IVFIndex
    from auncel_spark.profile.error_profile import ErrorProfile

    rng = np.random.default_rng(3)
    xb = (rng.standard_normal((8, 16)) * 3)[rng.integers(0, 8, 400)] + rng.standard_normal((400, 16))
    xq = xb[:40] + 0.1 * rng.standard_normal((40, 16))
    base = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(xb)], "id bigint, vec array<float>"
    )
    queries = spark.createDataFrame(
        [(i, [float(v) for v in r]) for i, r in enumerate(xq)], "qid bigint, vec array<float>"
    ).cache()
    idx = IVFIndex.build(base, nlist=8, path=str(tmp_path / "ivf"), kmeans_iter=5)
    ep = ErrorProfile(idx, max_topk=10)
    ep.fit_and_calibrate(queries, 5, 0.1)
    plain = sorted(map(tuple, ep.search(queries, 5, require_acc=0.9).collect()))

    tr = Tracer(JobCounter(spark).jobs)
    originals = {
        a: inspect.getattr_static(ErrorProfile, a) for a in ("_merge_state", "_scan_delta")
    }
    layers.install(tr, layers.ScanModel(np.full(8, 50), 16))
    try:
        tr.batch = "b0"
        with tr.span("batch"):
            traced = sorted(map(tuple, ep.search(queries, 5, require_acc=0.9).collect()))
    finally:
        tr.unwrap_all()
    assert traced == plain
    assert {s["name"] for s in tr.spans} >= {"batch", "_coarse", "scan_source"}
    assert not tr.absent
    for a, raw in originals.items():
        assert inspect.getattr_static(ErrorProfile, a) is raw
