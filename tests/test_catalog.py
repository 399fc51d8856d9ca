"""catalog.load_table infers a table's schema once per file version."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sport_data_pipeline_spark.catalog import load_table

from conftest import SF_DIR


def _load_counting_jobs(spark, sf_dir: str, name: str, group: str):
    """load_table and its schema; returns (frame, ids of the jobs started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
        df.schema  # reading the schema must start no job either
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["orders", "events"])
def test_second_load_of_unchanged_table_starts_no_job(spark, tmp_path, name):
    shutil.copy(f"{SF_DIR}/{name}.parquet", tmp_path / f"{name}.parquet")
    first, first_jobs = _load_counting_jobs(spark, str(tmp_path), name, f"catalog-1-{name}")
    again, again_jobs = _load_counting_jobs(spark, str(tmp_path), name, f"catalog-2-{name}")
    assert first_jobs  # the first load infers
    assert again_jobs == []
    assert again.schema == first.schema
    if name == "events":
        assert dict(again.dtypes)["ts"] == "timestamp"
        key = sorted(first.columns)
        assert sorted(again.select(key).collect()) == sorted(first.select(key).collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["a"]
    assert load_table(spark, str(tmp_path), "region").columns == ["a"]
    pq.write_table(pa.table({"a": pa.array([1], pa.int64()), "b": ["x"]}), path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.dtypes == [("a", "bigint"), ("b", "string")]
    assert [tuple(r) for r in df.collect()] == [(1, "x")]


def test_rewritten_directory_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    spark.range(3).write.parquet(path)
    assert load_table(spark, str(tmp_path), "nation").columns == ["id"]
    assert load_table(spark, str(tmp_path), "nation").columns == ["id"]
    spark.range(2).selectExpr("id", "'x' AS b").write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "nation")
    assert df.columns == ["id", "b"]
    assert df.count() == 2
