"""catalog.load_table: every call returns a fresh DataFrame, but the
parquet schema is inferred once per file version — a repeat load
launches no Spark job, and a rewritten file is re-inferred."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from celeborn_spark.catalog import load_table


def _jobs_during(spark, fn):
    """(result of fn(), ids of the Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_repeat_load_launches_no_job(spark, tmp_path):
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}),
                   tmp_path / "region.parquet")
    first, _ = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "region"))
    again, jobs = _jobs_during(spark, lambda: load_table(spark, str(tmp_path), "region"))
    assert jobs == [], "a repeat load re-ran parquet schema inference"
    assert again is not first
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_returns_new_schema(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [5], "r_comment": ["new"]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [(5, "new")]
