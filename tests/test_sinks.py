"""Storage-layout writers: partition pruning and exchange-free bucketed
joins — the write-time halves of the 100 TB plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sport_data_pipeline_spark.sources.sinks import (
    read_parquet_if_exists,
    write_bucketed_table,
    write_partitioned,
)


def test_partitioned_write_prunes(spark, tmp_path):
    path = str(tmp_path / "facts")
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("season"),
        (F.col("id") * 2).alias("v"),
    )
    write_partitioned(df, path, ["season"])

    back = spark.read.parquet(path).filter(F.col("season") == "2")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "season" in plan.split("PartitionFilters")[1][:120]
    assert back.count() == 250


def test_partitioned_dynamic_overwrite_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "facts")
    df = spark.createDataFrame(
        [(1, "2023", 10.0), (2, "2024", 20.0)], "id long, season string, v double"
    )
    write_partitioned(df, path, ["season"])
    # re-run lands only season=2024; 2023 data must survive
    rerun = spark.createDataFrame([(2, "2024", 99.0)], "id long, season string, v double")
    write_partitioned(rerun, path, ["season"])
    # partition-column type inference reads season back as int — stringify
    got = {(str(r["season"]), r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {("2023", 10.0), ("2024", 99.0)}


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    left = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("a"))
    right = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 7).alias("b"))
    write_bucketed_table(left, "t_sink_left", ["k"], 4, sort_by=["k"])
    write_bucketed_table(right, "t_sink_right", ["k"], 4, sort_by=["k"])
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_sink_left").join(spark.table("t_sink_right"), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 1000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_sink_left")
        spark.sql("DROP TABLE IF EXISTS t_sink_right")


def test_zordered_write_localizes_both_dimensions(spark, tmp_path):
    from sport_data_pipeline_spark.sources.sinks import write_zordered

    # 64×64 grid visited in x-major order: a plain sort by x gives perfect
    # x-locality and worst-case y-locality per file.
    df = spark.range(64 * 64).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )

    def per_file_avg_range(path, col):
        got = spark.read.parquet(path)
        agg = (
            got.groupBy(F.input_file_name().alias("f"))
            .agg((F.max(col) - F.min(col)).alias("r"))
            .agg(F.avg("r").alias("avg_r"))
            .collect()[0]
        )
        return agg["avg_r"]

    zpath, xpath = str(tmp_path / "zord"), str(tmp_path / "xsort")
    write_zordered(df, zpath, ("x", "y"), num_files=16)
    df.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(xpath)

    assert spark.read.parquet(zpath).count() == 64 * 64  # data unchanged

    # x-sorted layout: each file spans ~4 x-values but ALL 64 y-values.
    assert per_file_avg_range(xpath, "y") > 48
    # Z-order: BOTH dimensions localized — each of the 16 files covers a
    # quadrant-ish rectangle, so avg per-file range ≤ ~half the domain on
    # both axes (16 files ⇒ 4×4 cells of side ~16 in the ideal tiling).
    assert per_file_avg_range(zpath, "x") < 32
    assert per_file_avg_range(zpath, "y") < 32


def test_retention_drops_old_partitions_only(spark, tmp_path):
    from sport_data_pipeline_spark.sources.sinks import enforce_retention, write_partitioned

    p = str(tmp_path / "events_by_day")
    df = spark.createDataFrame(
        [(i, f"2024-01-{d:02d}") for d in (1, 2, 3, 4) for i in range(d)],
        "v long, day string",
    )
    write_partitioned(df, p, ["day"])
    dropped = enforce_retention(spark, p, "day", cutoff="2024-01-03")
    assert dropped == ["2024-01-01", "2024-01-02"]
    left = spark.read.parquet(p)
    # partition values type-infer to dates on read; compare as ISO strings
    assert sorted(str(r["day"]) for r in left.select("day").distinct().collect()) == [
        "2024-01-03", "2024-01-04",
    ]
    assert left.count() == 3 + 4  # surviving partitions untouched


def test_compaction_preserves_rows_and_shrinks_file_count(spark, tmp_path):
    from sport_data_pipeline_spark.sources.sinks import compact_parquet

    p = str(tmp_path / "small_files")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    df.repartition(20).write.parquet(p)  # 20 tiny files

    def n_parts(path):
        import os
        return sum(
            1 for f in os.listdir(path) if f.startswith("part-") and f.endswith(".parquet")
        )

    assert n_parts(p) == 20
    new_n = compact_parquet(spark, p, target_mb=64)
    assert new_n == 1 and n_parts(p) == 1
    got = spark.read.parquet(p)
    assert got.count() == 1000
    assert got.agg(F.sum("v")).collect()[0][0] == 2 * sum(range(1000))


def test_compaction_recovers_from_mid_swap_crash(spark, tmp_path):
    # a crash between the two swap renames leaves the table only in
    # <path>.__compact_bak; rerunning compaction must restore and proceed
    import os
    import shutil

    from sport_data_pipeline_spark.sources.sinks import compact_parquet

    p = str(tmp_path / "crashy")
    spark.range(100).withColumn("v", F.col("id") + 1).repartition(5).write.parquet(p)
    # simulate: first rename done (path -> bak), second never happened
    os.rename(p, f"{p}.__compact_bak")
    assert not os.path.isdir(p)
    n = compact_parquet(spark, p, target_mb=64)
    assert n == 1 and os.path.isdir(p) and not os.path.isdir(f"{p}.__compact_bak")
    assert spark.read.parquet(p).count() == 100


def test_retention_and_compaction_work_on_file_uris(spark, tmp_path):
    """Both maintenance jobs route their directory ops through the Hadoop
    FileSystem adapter — pinned by driving them through explicit file:
    URIs, which os/shutil-based code would mishandle."""
    from sport_data_pipeline_spark.sources.sinks import (
        compact_parquet,
        enforce_retention,
        write_partitioned,
    )

    p = str(tmp_path / "uri_table")
    uri = "file://" + p
    df = spark.createDataFrame(
        [(i, f"2024-01-{d:02d}") for d in (1, 2, 3) for i in range(d)],
        "v long, day string",
    )
    write_partitioned(df, uri, ["day"])
    assert enforce_retention(spark, uri, "day", cutoff="2024-01-02") == ["2024-01-01"]
    assert spark.read.parquet(uri).count() == 2 + 3

    q = str(tmp_path / "uri_small")
    spark.range(100).repartition(8).write.parquet("file://" + q)
    assert compact_parquet(spark, "file://" + q, target_mb=64) == 1
    assert spark.read.parquet("file://" + q).count() == 100


# read_parquet_if_exists is the data-loss guard of every read-merge-write
# sink: only a missing path may read as "first write".


def test_read_parquet_if_exists_missing_path_is_none(spark, tmp_path):
    assert read_parquet_if_exists(spark, str(tmp_path / "never_written")) is None


def test_read_parquet_if_exists_raises_on_a_non_parquet_file(spark, tmp_path):
    target = tmp_path / "t"
    target.mkdir()
    (target / "part-00000.parquet").write_text("<html>503 upstream timeout</html>")
    with pytest.raises(Exception, match="not a Parquet file"):
        read_parquet_if_exists(spark, str(target))


def test_read_parquet_if_exists_raises_on_an_empty_directory(spark, tmp_path):
    target = tmp_path / "t"
    target.mkdir()
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet_if_exists(spark, str(target))

