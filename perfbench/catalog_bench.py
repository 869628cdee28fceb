"""Catalog workload: one entry of ``catalog.QUERIES`` per operator
family, each ``.collect()``ed, over seeded fixture tables written into
the benchmark's work directory, and checked row for row against the
entry's DuckDB oracle (``catalog.ORACLES``).

The tables follow the schemas of the repository's test fixtures
(TESTDATA.md) at their smallest size
(500 embeddings d=64, 500 documents, 1,000 events), so per-job Spark
cost dominates and the vector kernels idle."""

from __future__ import annotations

import hashlib
import json
import time
from pathlib import Path

import numpy as np

from perfbench import layers
from perfbench.harness import JobCounter, fresh_dir, median, tail, tree_cpu_s
from perfbench.metrics import FAMILIES
from perfbench.trace import Tracer

ENTRIES = {
    "knn": "exact_knn",
    "ivf": "ivf_knn",
    "bounded": "bounded_knn",
    "dedup": "exact_dedup",
    "text": "vocab_top_terms",
    "relational": "asof_join",
    "multimodal": "multimodal_byte_features",
}
assert tuple(ENTRIES) == FAMILIES
N_EMB, D_EMB, N_DOC, N_EV = 500, 64, 500, 1_000
WORDS = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark dup group query row data slow filter customer line "
    "value agg column a big vector"
).split()


def write_tables(seed: int, out: Path) -> None:
    """Seeded embeddings, documents and events in the fixture schemas."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    labels = rng.integers(0, 10, N_EMB).astype(np.int32)
    cents = rng.standard_normal((10, D_EMB))
    emb = cents[labels] + 0.6 * rng.standard_normal((N_EMB, D_EMB))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(emb.ravel(), type=pa.float32())
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(N_EMB, dtype=np.int64)),
                "embedding": pa.FixedSizeListArray.from_arrays(flat, D_EMB).cast(
                    pa.list_(pa.float32())
                ),
                "label": pa.array(labels),
            }
        ),
        out / "embeddings.parquet",
    )

    texts = []
    for i in range(N_DOC):
        if i >= 20 and rng.random() < 0.05:  # exact duplicates for dedup
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, n)))
    langs = rng.choice(["en", "fr", "es", "zh", "de"], N_DOC, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(np.arange(N_DOC, dtype=np.int64)),
                "text": pa.array(texts),
                "lang": pa.array(langs.tolist()),
                "source": pa.array([f"src{i % 20}" for i in range(N_DOC)]),
                "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
            }
        ),
        out / "documents.parquet",
    )

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400 * 10**6, N_EV))
    types = rng.choice(["click", "purchase", "error", "signup", "view"], N_EV)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(np.arange(N_EV, dtype=np.int64)),
                "ts": pa.array(ts.astype("datetime64[us]")),
                "user_id": pa.array(rng.integers(0, 15, N_EV).astype(np.int64)),
                "event_type": pa.array(types.tolist()),
                "value": pa.array(np.round(rng.uniform(1, 200, N_EV), 2)),
                "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, N_EV)]),
            }
        ),
        out / "events.parquet",
    )


def _digest(data: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(data.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:32]


def oracle_rows(data: Path, cache: Path) -> dict[str, list]:
    """Normalised DuckDB oracle rows per entry, cached by a checksum of
    the table files."""
    import duckdb

    from auncel_spark.catalog import ORACLES
    from scripts.oracle_parity import _normalize

    cache.mkdir(parents=True, exist_ok=True)
    f = cache / f"{_digest(data)}.json"
    if f.exists():
        with open(f) as fh:
            return {k: [tuple(r) for r in v] for k, v in json.load(fh).items()}
    con = duckdb.connect()
    try:
        for p in data.glob("*.parquet"):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name in ENTRIES.values():
            df = con.execute(ORACLES[name]).fetchdf()
            out[name] = {"cols": sorted(df.columns), "rows": _normalize(df)}
    finally:
        con.close()
    tmp = f.with_suffix(".tmp")
    with open(tmp, "w") as fh:
        json.dump({k: [v["cols"], *v["rows"]] for k, v in out.items()}, fh, default=_plain)
    tmp.replace(f)
    with open(f) as fh:
        return {k: [tuple(r) for r in v] for k, v in json.load(fh).items()}


def _plain(x):
    try:
        return x.item()
    except AttributeError:
        return str(x)


def matches(rows, columns: list[str], want: list) -> bool:
    """Spark rows equal the oracle's, by oracle_parity's normalisation
    (sorted columns, floats rounded to 6 places, sorted row tuples)."""
    import pandas as pd

    from scripts.oracle_parity import _normalize

    if sorted(columns) != list(want[0]):
        return False
    got = pd.DataFrame.from_records([tuple(r) for r in rows], columns=columns)
    norm = json.loads(json.dumps(_normalize(got), default=_plain))
    return [tuple(r) for r in norm] == [tuple(r) for r in want[1:]]


def run(spark, work: Path, seed: int, seconds: float, trace: bool, jobs: JobCounter) -> dict:
    from auncel_spark import catalog

    src = fresh_dir(work / "data")
    write_tables(seed, src)
    want = oracle_rows(src, work.parent / "oracle")
    tracer = Tracer(jobs.jobs) if trace else None
    if tracer is not None:
        layers.install(tracer, None)

    attempted = failed = 0

    def run_entry(name: str, sf_dir: str) -> tuple[float, float]:
        """(wall s, CPU s) of one entry plus its collect, checked."""
        nonlocal attempted, failed
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            df = catalog.QUERIES[name](spark, sf_dir)
            rows = df.collect()
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            ok = matches(rows, df.columns, want[name])
        except Exception as e:  # a raising entry is a failed operation
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            ok = False
            print(f"entry {name} raised {type(e).__name__}: {e}")
        attempted += 1
        if not ok:
            failed += 1
            print(f"entry {name}: rows differ from the DuckDB oracle or it raised")
        return wall, cpu

    # set-up: the bounded entry's fitted profile, then one cold pass
    # (the catalog caches its built structures per table directory)
    sf_dir = str(src)
    if tracer is not None:
        tracer.batch = "setup"
    t0 = time.perf_counter()
    catalog._fitted_profile(spark, sf_dir)
    for name in ENTRIES.values():
        run_entry(name, sf_dir)
    setup_s = time.perf_counter() - t0
    if tracer is not None:
        tracer.batch = None

    walls: list[float] = []
    cpus: list[float] = []
    passes: list[dict] = []
    t_start = time.perf_counter()
    npass = 0
    while True:
        rec = {"wall_s": 0.0, "jobs": 0, "tasks": 0}
        j_pass = jobs.jobs()
        for fam, name in ENTRIES.items():
            tag = f"p{npass}-{fam}"
            if tracer is not None:
                tracer.batch = tag
            j0 = jobs.jobs()
            if tracer is not None:
                with tracer.span("entry", family=fam, entry=name):
                    wall, cpu = run_entry(name, sf_dir)
                tracer.batch = None
            else:
                wall, cpu = run_entry(name, sf_dir)
            rec[f"catalog.{fam}.wall_s"] = wall
            rec[f"catalog.{fam}.jobs"] = jobs.jobs() - j0
            rec["wall_s"] += wall
            walls.append(wall)
            cpus.append(cpu)
        rec["jobs"] = jobs.jobs() - j_pass
        if tracer is not None:
            rec["tasks"] = jobs.tasks(j_pass, jobs.jobs())
        passes.append(rec)
        npass += 1
        if time.perf_counter() - t_start >= seconds:
            break

    tl = tail(walls)
    out = {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            # entries per second over a median pass: each entry's
            # median wall, so one slow entry does not tilt the rate
            "ops_per_s": len(ENTRIES) / sum(
                median([p[f"catalog.{fam}.wall_s"] for p in passes]) for fam in ENTRIES
            ),
            "setup_s": setup_s,
        },
        "summary": {
            "cpu_ms_per_op": 1000.0 * sum(cpus) / len(cpus),
            "catalog_pass_s": median([p["wall_s"] for p in passes]),
            "query_p50_s": median(walls),
            "query_tail_s": (
                {"percentile": tl[0], "value": tl[1], "n": len(walls)} if tl else
                {"percentile": None, "n": len(walls), "note": "fewer than 11 entries"}
            ),
            "passes": npass,
            "entry_walls_s": {
                fam: [p[f"catalog.{fam}.wall_s"] for p in passes] for fam in ENTRIES
            },
            "entries": dict(ENTRIES),
        },
    }
    if tracer is not None:
        tracer.unwrap_all()
        cost_ms = jobs.cost_ms
        lay: dict[str, float] = {}
        for key in [k for k in passes[0] if k.startswith("catalog.")]:
            lay[key] = median([p[key] for p in passes])
        pass_s = median([p["wall_s"] for p in passes])
        lay["spark.job_cost_ms"] = cost_ms
        lay["spark.jobs"] = median([p["jobs"] for p in passes])
        lay["spark.tasks"] = median([p["tasks"] for p in passes])
        lay["spark.sched_s"] = lay["spark.jobs"] * cost_ms / 1000.0
        lay["spark.compute_s"] = pass_s - lay["spark.sched_s"]
        warm = [s for s in tracer.spans if s["batch"] not in (None, "setup")]
        lay.update({k: v / npass for k, v in layers.span_layers(warm).items()})
        lay.update(layers.build_layers(tracer, "setup"))
        out["layers"] = lay
        out["tracer"] = tracer
    return out
