"""`load_table` infers a file's schema once per session.

A parquet read without a schema runs a Spark job to read the footer;
`load_table` keeps the inferred schema under the session and the
file's identity, so a warm read plans without a job. These tests pin
the saving, the re-inference after an in-place rewrite, the directory
fallback, and that a cached read returns what an inferred one does.
Each test reads its own copies of the files, so the shared session's
cache for the testdata directory is left as other tests expect it.
"""

from __future__ import annotations

import contextlib
import io
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from jly_flink_spark.io import TABLES, load_table
from jly_flink_spark.plans import REGISTRY
from tests.test_plans import SF_DIR, job_ids_run, jobs_run
from tools.snapshot_plans import normalise


@pytest.fixture
def fresh_dir(tmp_path):
    """A copy of the sf0.001 tables no session has read yet."""
    for name in TABLES:
        shutil.copy(f"{SF_DIR}/{name}.parquet", tmp_path / f"{name}.parquet")
    return str(tmp_path)


def test_first_load_is_one_attributed_job_then_none(spark, fresh_dir):
    """The first read of a file runs one job, described by the call
    site, and puts the caller's description back; the second runs
    none."""
    sc = spark.sparkContext
    first = job_ids_run(spark, lambda: load_table(spark, fresh_dir, "region"))
    assert len(first) == 1, first
    job = sc._jsc.sc().statusStore().job(first[0])
    assert job.description().get() == "load_table region"

    assert jobs_run(spark, lambda: load_table(spark, fresh_dir, "region")) == 0

    sc.setJobDescription("caller")
    try:
        load_table(spark, fresh_dir, "nation")
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)


def test_rewrite_in_place_reinfers(spark, tmp_path):
    """A file rewritten in place with an added column is read with the
    new column: its size and mtime key a new schema."""
    path = tmp_path / "region.parquet"
    base = pq.read_table(f"{SF_DIR}/region.parquet")
    pq.write_table(base, path)
    assert "r_extra" not in load_table(spark, str(tmp_path), "region").columns
    assert "r_extra" not in load_table(spark, str(tmp_path), "region").columns

    ino = path.stat().st_ino
    pq.write_table(
        base.append_column("r_extra", pa.array(range(base.num_rows))), path
    )
    assert path.stat().st_ino == ino
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns[-1] == "r_extra"
    assert sorted(r.r_extra for r in df.collect()) == list(range(base.num_rows))


def test_directory_read_infers_every_time(spark, tmp_path):
    """A table stored as a directory of part files is not keyed: every
    read infers, as a directory listing may change between reads."""
    spark.createDataFrame([(1, "a")], "r_regionkey int, r_name string").write.parquet(
        str(tmp_path / "region.parquet")
    )
    for _ in range(2):
        n = jobs_run(spark, lambda: load_table(spark, str(tmp_path), "region"))
        assert n >= 1


@pytest.mark.parametrize("name", TABLES)
def test_cached_read_matches_inferred(spark, fresh_dir, name):
    """Same schema and same rows from the inferring read and the
    cached one, `events.ts` (nanos read as long, then µs) included."""
    inferred = load_table(spark, fresh_dir, name)
    cached = load_table(spark, fresh_dir, name)
    assert cached.schema == inferred.schema

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    assert rows(cached) == rows(inferred)


def test_cached_build_plan_matches_inferred(spark, fresh_dir):
    """A query built on inferred reads (one job per table) and rebuilt
    on cached ones (no job) gets the same normalised physical plan."""

    def build():
        built = []
        jobs = jobs_run(
            spark,
            lambda: built.append(REGISTRY["join_multiway_q5"].spark_fn(spark, fresh_dir)),
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            built[0].explain("formatted")
        return jobs, normalise(buf.getvalue())

    inferred_jobs, inferred = build()
    cached_jobs, cached = build()
    assert (inferred_jobs, cached_jobs) == (6, 0)
    assert cached == inferred
