"""Replicates the driver's correctness gate locally: run every catalog
query on Spark and its DuckDB oracle on the same parquet, compare
row-count + sorted-value equality (sf0.001 for speed)."""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"


def _duck(sql: str):
    con = duckdb.connect()
    for f in glob.glob(f"{SF_DIR}/*.parquet"):
        name = os.path.basename(f).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    return con.execute(sql).fetchdf()


def _normalize(df):
    cols = sorted(df.columns)
    out = df[cols].copy()
    for c in cols:
        if out[c].dtype.kind == "f":
            out[c] = out[c].round(6)
    return sorted(map(tuple, out.itertuples(index=False)))


@pytest.mark.parametrize("name", sorted(entrymod.queries().keys()))
def test_query_matches_oracle(spark, name):
    oracles = entrymod.oracle_sql()
    if name not in oracles:
        # rows-only contract: must run and return a stable non-empty frame
        df = entrymod.queries()[name](spark, SF_DIR)
        assert df.count() > 0
        return
    sdf = entrymod.queries()[name](spark, SF_DIR)
    spark_pdf = sdf.toPandas()
    duck_pdf = _duck(oracles[name])
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), f"{name}: row counts differ"
    # driver-gate parity (VERDICT r04 Wrong #2): the driver's value-hash
    # distinguishes 12345 from 12345.0, so a DuckDB oracle whose sum()
    # comes back HUGEINT->float64 must fail HERE, not at the driver.
    # Compare dtype KIND per column (int width / unsigned vs signed are
    # fine; int-vs-float is not).
    _KIND = {"i": "i", "u": "i"}  # int width / signedness don't affect the hash
    for c in sorted(spark_pdf.columns):
        sk = _KIND.get(spark_pdf[c].dtype.kind, spark_pdf[c].dtype.kind)
        dk = _KIND.get(duck_pdf[c].dtype.kind, duck_pdf[c].dtype.kind)
        assert sk == dk, (
            f"{name}.{c}: dtype kind {spark_pdf[c].dtype} (spark) vs "
            f"{duck_pdf[c].dtype} (duckdb oracle) — driver hash_match would fail"
        )
    assert _normalize(spark_pdf) == _normalize(duck_pdf), f"{name}: values differ"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_pool_jobs_stay_in_caller_job_group(spark):
    """bounded_knn_bound_check runs its searches and ground-truth scan
    from a driver thread pool; every job those threads launch must
    carry the caller's job group (job groups are thread-local), so the
    group's job ids equal the scheduler's job-counter delta."""
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    fn = entrymod.queries()["bounded_knn_bound_check"]
    fn(spark, SF_DIR).collect()  # cold pass: one-time profile build
    group = "pool_job_group_check"
    j0 = dag.numTotalJobs()
    sc.setJobGroup(group, group)
    try:
        fn(spark, SF_DIR).collect()
    finally:
        sc.setJobGroup(None, None)
    issued = dag.numTotalJobs() - j0
    assert issued > 0
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == issued
