"""Shared benchmark machinery: the Spark session, job accounting, the
process-tree RSS sampler, order statistics and the run record.

Nothing here edits the engine. Job counts come from the driver's global
job-id counter, so jobs that engine code launches from plain thread
pools are counted too (PySpark job groups are thread-local and miss
them)."""

from __future__ import annotations

import json
import os
import shutil
import signal
import statistics
import subprocess
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: Path) -> None:
    """Pin the session to this host's cores and keep every temporary
    file (Spark local dirs, Python tempfiles, JVM tmpdir) inside the
    checkout. Must run before the JVM starts."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    # a small fixed heap, committed and touched at start (-Xms, pre-touch
    # below), keeps the JVM's resident size from tracking GC timing; the
    # workloads' driver-side data is a few MB
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pp if pp else "")
    import tempfile

    tempfile.tempdir = str(tmp)


def start_spark(app: str, work: Path):
    from auncel_spark.session import get_spark

    tmp = str(work / "tmp")
    return get_spark(
        app,
        shuffle_partitions=nproc(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Dio.netty.tryReflectionSetAccessible=true -XX:-UsePerfData "
                "-Xms1g -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            # the status store backs task counts; keep every job of a run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM forks from many)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (the forked Python workers) split among their sharers."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _rss_bytes(pid: int) -> int:
    """Resident set size from the kernel's counters (no page-table walk,
    so sampling does not hold up the sampled process)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak summed resident memory of this process and all its
    descendants (the JVM and the Python workers it forks), sampled every
    ``period`` s. The Python workers are counted by PSS, which counts a
    page they share after the fork once in total, so the sum does not
    depend on how many workers are alive. The driver and the JVM share
    no pages with them and are counted by RSS: PSS walks the page
    tables under the JVM's memory-map lock, about 30 ms per read for a
    2 GB JVM, which would stall the JVM being measured. Other processes
    (helpers the JVM spawns for a moment) are not counted."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.peak = 0
        # peak of each part on its own: driver, JVM, Python workers
        self.parts = {"driver": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        now = {"driver": _rss_bytes(me), "jvm": 0, "workers": 0}
        for p in descendants(me):
            comm = _comm(p)
            if comm == "java":
                now["jvm"] += _rss_bytes(p)
            elif comm.startswith("python"):
                now["workers"] += _pss_bytes(p)
            # other children are short-lived helpers the JVM spawns;
            # until they exec they share the JVM's memory map, so
            # counting them would count the JVM twice
        self.peak = max(self.peak, sum(now.values()))
        for k, v in now.items():
            self.parts[k] = max(self.parts[k], v)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            v = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return int(v[11]) + int(v[12]) + int(v[13]) + int(v[14])  # utime stime cutime cstime


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    JVM and the Python workers), reaped children included. Unlike wall
    time it does not count time the host gave to other tenants."""
    me = os.getpid()
    ticks = sum(_cpu_ticks(p) for p in [me, *descendants(me)])
    return ticks / os.sysconf("SC_CLK_TCK")


class JobCounter:
    """Spark jobs and tasks from the driver's global counters.

    ``numTotalJobs`` is the DAG scheduler's job-id counter: every job
    submitted through this SparkContext advances it, whichever thread
    submitted it. Task counts are read from the status store for the id
    range a measurement covered."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()
        self._status = self.sc.statusTracker()
        self.cost_ms = self.probe_job_cost_ms()

    def jobs(self) -> int:
        return int(self._dag.numTotalJobs())

    def tasks(self, first_job: int, end_job: int) -> int:
        n = 0
        for jid in range(first_job, end_job):
            info = self._status.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self._status.getStageInfo(sid)
                if st is not None:
                    n += st.numTasks
        return n

    def probe_job_cost_ms(self, reps: int = 11) -> float:
        """Median wall of a trivial 1-task job that runs in the JVM only
        (no Python worker), after two warm-up jobs: the fixed price the
        scheduler charges for one Spark job on this host."""
        from pyspark.sql import SparkSession

        rdd = SparkSession(self.sc).range(0, 1, 1, 1)._jdf.rdd()
        for _ in range(2):
            rdd.count()
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            rdd.count()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls) * 1000.0


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process it
    started has ended (the JVM exits when its stdin pipe closes; its
    Python workers exit after it and are re-parented meanwhile, so they
    are listed before the stop)."""
    started = descendants(os.getpid())
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    t0 = time.monotonic()
    sent = set()
    while True:
        alive = [p for p in started if not _gone(p)]
        if not alive:
            return
        waited = time.monotonic() - t0
        if waited > 60:
            raise RuntimeError(f"processes did not exit: {alive}")
        for p in alive:
            sig = signal.SIGKILL if waited > 30 else signal.SIGTERM if waited > 5 else None
            if sig is not None and (p, sig) not in sent:
                sent.add((p, sig))
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _gone(pid: int) -> bool:
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return _is_zombie(pid)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# ---------------------------------------------------------------------
# statistics


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least
    ``min_beyond`` samples above it, or None when there are too few
    samples. Nearest-rank on the sorted sample."""
    n = len(values)
    if n <= min_beyond:
        return None
    s = sorted(values)
    idx = n - min_beyond - 1
    return 100.0 * (idx + 1) / n, s[idx]


def median(values: list[float]) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------
# run record


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def calibration(work: Path) -> dict:
    """The host-speed fixture of ``scripts/scale_bench.py`` (GEMM
    GFLOP/s, uncached sequential and random read), with its scratch
    file kept in the benchmark's own work directory."""
    from scripts.scale_bench import calibration_microbench

    return calibration_microbench(cache_root=work.parent / "calibration")


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def write_record(work: Path, record: dict) -> Path:
    out = work.parent / "records"
    out.mkdir(parents=True, exist_ok=True)
    name = f"{record['workload']}-seed{record['seed']}-trace{record['trace']}.json"
    with open(out / name, "w") as f:
        json.dump(record, f, indent=1, default=float)
    return out / name
