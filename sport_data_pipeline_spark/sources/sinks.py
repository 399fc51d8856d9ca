"""Snapshot sinks (SURVEY.md §2.1 S9): timestamped JSON/CSV dumps plus a
``_latest`` alias, the reference's scraper-output convention
(fbref_scraper.py:330-446 writes reports/<name>_<ts>.json and
<name>_latest.json)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.errors import AnalysisException


def read_parquet_if_exists(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a parquet target, returning None ONLY when the path does not
    exist yet (first write). Every other failure — transient IO, schema
    corruption, analysis errors — propagates: swallowing them in a
    read-merge-overwrite loop silently replaces the target with just the
    current batch (data loss)."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        cond = getattr(e, "getCondition", getattr(e, "getErrorClass", lambda: None))()
        if cond == "PATH_NOT_FOUND":
            return None
        raise


def write_snapshot(
    df: DataFrame,
    base_dir: str,
    name: str,
    fmt: str = "json",
    timestamp: dt.datetime | None = None,
    latest: bool = True,
) -> tuple[str, str]:
    """Write a timestamped snapshot and overwrite the `_latest` alias.

    Returns (snapshot_path, latest_path). Caller controls partition count
    (coalesce upstream for small report outputs).

    ``latest=False`` skips the alias write (r15, guide §1.2 "don't compute
    things you throw away"): the alias re-RUNS the whole upstream plan a
    second time (`df.write` is an action), so a pipeline whose reader
    excludes ``*_latest`` anyway — `bronze_snapshot`'s default — was
    paying double for every snapshot it landed. The alias stays the
    default because the latest-only batch lookup consumers depend on it.
    """
    ts = (timestamp or dt.datetime.now()).strftime("%Y%m%d_%H%M%S")
    snap = f"{base_dir}/{name}_{ts}.{fmt}"
    latest_path = f"{base_dir}/{name}_latest.{fmt}"
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", "true").csv(snap)
        if latest:
            df.write.mode("overwrite").option("header", "true").csv(latest_path)
    else:
        writer.json(snap)
        if latest:
            df.write.mode("overwrite").json(latest_path)
    return snap, latest_path


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Write a silver/gold parquet table partitioned by low-cardinality
    key columns (SURVEY.md §7 storage: match facts by season/date).

    At 100 TB the partition layout IS the query plan: a date-range filter
    prunes to the touched directories before any IO happens
    (PartitionFilters in the scan), and dynamic partition overwrite
    replaces only the partitions present in ``df`` — the idempotent
    daily-rerun story. ``max_records_per_file`` caps file size so a hot
    partition splits into parallel-readable chunks instead of one giant
    file.
    """
    writer = df.write.mode(mode).partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.option("partitionOverwriteMode", "dynamic").parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Bucketing pre-shuffles once at write time: two tables bucketed the
    same way join/aggregate on the bucket key with NO exchange at read
    time — the co-located join strategy for repeated big-big joins (fact ×
    fact) where broadcast is impossible. ``sort_by`` additionally removes
    the sort from sort-merge joins.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    bits: int = 12,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on the Morton (Z-order) interleaving of two
    numeric columns, so range filters on EITHER column prune row groups.

    A single-column sort gives perfect min/max locality on that column and
    none on any other; interleaving the quantized bits of two columns
    gives each file a small rectangle of the (x, y) domain, so parquet
    row-group statistics skip files/row-groups for predicates on either
    dimension — the lakehouse multi-dimensional clustering recipe (public
    Delta/Iceberg Z-ORDER semantics), expressed with plain Spark writes.

    Mechanics: per-column min/max (one tiny aggregate, broadcast back — no
    driver collect) → quantize each value to ``bits`` bits → interleave →
    ``repartitionByRange`` on the code (contiguous Z-ranges per file) →
    ``sortWithinPartitions`` (row-group-level locality inside each file).
    ``bits`` ≤ 16 keeps the code in 32 bits; 12 bits (4096 cells/side) is
    plenty — skipping granularity is files × row-groups, not cells.

    The quantization is write-time layout only: stored DATA is unchanged,
    so readers need no decode step and the sink composes with
    ``write_partitioned`` (partition prune first, Z-skip inside).
    """
    x, y = cols
    stats = df.agg(
        F.min(F.col(x).cast("double")).alias("__xmin"),
        F.max(F.col(x).cast("double")).alias("__xmax"),
        F.min(F.col(y).cast("double")).alias("__ymin"),
        F.max(F.col(y).cast("double")).alias("__ymax"),
    )
    top = (1 << bits) - 1

    def quantized(c: str, lo: str, hi: str) -> Column:
        span = F.col(hi) - F.col(lo)
        frac = F.when(span > 0, (F.col(c).cast("double") - F.col(lo)) / span).otherwise(
            F.lit(0.0)
        )
        return F.floor(frac * top).cast("long")

    withz = df.crossJoin(F.broadcast(stats))
    qx = quantized(x, "__xmin", "__xmax")
    qy = quantized(y, "__ymin", "__ymax")
    z: Column = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(qx, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        z = z.bitwiseOR(
            F.shiftleft(F.shiftrightunsigned(qy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    n = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        withz.withColumn("__z", z)
        .repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", "__xmin", "__xmax", "__ymin", "__ymax")
        .write.mode(mode)
        .parquet(path)
    )


def enforce_retention(
    spark: SparkSession,
    path: str,
    partition_col: str,
    cutoff: str,
) -> list[str]:
    """Drop partitions of a `write_partitioned` table older than ``cutoff``.

    Retention is a PARTITION operation, never a row filter: removing
    `<col>=<value>` directories costs O(partitions dropped) and rewrites
    nothing, while the row-filter formulation rewrites the whole table.
    Values compare as strings, so ISO dates (`day=2024-01-31`) and
    zero-padded numerics order correctly. Returns the dropped partition
    values. (On a transactional format this is `ALTER TABLE DROP
    PARTITION` / a lifecycle policy; the directory layout here is the
    plain-parquet equivalent.) Directory ops route through the Hadoop
    FileSystem adapter, so the table may live on HDFS/object storage.
    """
    from ..fsio import HadoopFS, join as fs_join

    fs = HadoopFS(spark, path)
    prefix = f"{partition_col}="
    dropped = []
    if not fs.is_dir(path):
        return dropped
    for d in sorted(fs.listdir(path)):
        if d.startswith(prefix) and d[len(prefix):] < cutoff:
            fs.delete(fs_join(path, d))
            dropped.append(d[len(prefix):])
    return dropped


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = 128,
) -> int:
    """Rewrite a parquet directory into ~``target_mb``-sized files.

    Streaming upserts and partitioned appends accumulate small files, and
    at scan time each file is at least one task — a million 100 KB files
    is a scheduler problem before it is an IO problem. Compaction sizes
    the file count from the actual on-disk bytes, rewrites once into a
    sibling tmp dir, then swaps via two renames. The swap is NOT atomic:
    between the renames the table path briefly does not exist, so readers
    must not run concurrently with compaction (on a transactional table
    format the same rewrite commits as an atomic snapshot — this is the
    plain-parquet approximation). A crash between the renames leaves the
    full table intact in ``<path>.__compact_bak``; rerunning compaction
    is safe because the stale bak dir is cleared first. Returns the new
    file count. Directory ops route through the Hadoop FileSystem
    adapter, so the table may live on HDFS/object storage (on a store
    emulating rename the swap window widens to the copy time — prefer a
    transactional table format there). The ``repartition`` rewrite drops
    the key-range clustering ``operators.merge.merge_into_parquet`` keeps,
    so the next upsert batch into a compacted table touches every file
    once, and re-clusters the rows it rewrites.
    """
    from ..fsio import HadoopFS

    fs = HadoopFS(spark, path)
    tmp, bak = f"{path}.__compact_tmp", f"{path}.__compact_bak"
    if not fs.is_dir(path) and fs.is_dir(bak):
        fs.rename(bak, path)  # recover a mid-swap crash: bak holds the table
    size = sum(n for name, n in fs.files(path) if not name.startswith((".", "_")))
    n_files = max(1, -(-size // (target_mb * 1024 * 1024)))
    fs.delete(tmp)
    spark.read.parquet(path).repartition(n_files).write.mode("overwrite").parquet(tmp)
    fs.delete(bak)  # leftover bak from a prior crash
    fs.rename(path, bak)
    fs.rename(tmp, path)
    fs.delete(bak)
    return n_files
