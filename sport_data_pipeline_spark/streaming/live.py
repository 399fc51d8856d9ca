"""Structured Streaming pipelines replacing the reference's polling loops.

Reference behavior (SURVEY.md §2.9): asyncio `while` loops poll scrapers
every 30 s (live scores, scraping_orchestrator.py:311-320) / 300 s (odds,
:322-331) and upsert into Postgres with ON CONFLICT. Here the same
semantics are: file-drop (or Kafka) source → watermark + business-key
dedup → foreachBatch merge into a parquet target with latest-wins keys.

The upsert in foreachBatch is ``operators.merge.merge_into_parquet``: it
rewrites only the target files that hold a key of the micro-batch, so a
poll costs the rows it touches, not the size of the table, as the
reference's per-row ON CONFLICT did. It is the transactional-format-free
equivalent of MERGE (at production scale the target would be
Delta/Iceberg `MERGE INTO`; that jar is not in this image).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.merge import merge_into_parquet


def read_tick_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-drop source: every new file in `path` is a micro-batch of ticks
    (the equivalent of one poll of the live-score/odds scraper)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def dedup_late_ticks(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked exact-once-per-key dedup (T5: late/duplicate tick
    handling). State for keys older than the watermark is dropped."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates([*keys, ts_col])


def start_upsert_sink(
    stream: DataFrame,
    target_path: str,
    keys: Sequence[str],
    order_by: Sequence[str],
    checkpoint: str,
    trigger_seconds: int | None = 30,
    available_now: bool = False,
) -> StreamingQuery:
    """foreachBatch latest-wins upsert into a parquet target (T1/T2/T5).

    Each micro-batch rewrites only the target files holding its keys
    (``merge_into_parquet``). Idempotent: replaying a batch merges to the
    same state because merge_latest keeps one row per key by (order_by) —
    the reference's ON CONFLICT DO UPDATE with scraped_at ordering.
    """

    def merge_batch(batch: DataFrame, epoch_id: int) -> None:
        merge_into_parquet(batch, target_path, keys, list(order_by))

    writer = stream.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def session_window_stats(
    stream: DataFrame,
    ts_col: str,
    gap: str = "30 minutes",
    group_cols: Sequence[str] = ("user_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming session windows — the streaming twin of
    operators.sessionize (same gap semantics, incremental state)."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), *group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("session_value"),
        )
    )


def join_streams_within(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    window: str,
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join: right events landing within
    ``[left_ts, left_ts + window)`` for the same ``key`` — the streaming
    twin of ``operators.joins.interval_point_join`` with per-left-row
    windows (e.g. attribute purchases to the click that preceded them).

    Both sides are watermarked and the join carries the explicit
    time-range conjunct Structured Streaming needs to bound its state:
    a buffered left row can be evicted once the right watermark passes
    ``left_ts + window``, so state is O(watermark × rate), not unbounded.
    ``how`` additionally supports the outer variants ("left_outer",
    "right_outer", "full_outer"): NULL-padded rows emit only at that
    eviction point — before it, a matching row could still arrive — which
    is exactly why the time-range conjunct is mandatory for outer joins.
    Output columns: all left columns, then all right columns.
    """
    l = left.withWatermark(left_ts, watermark).alias("__sl")
    r = right.withWatermark(right_ts, watermark).alias("__sr")
    cond = (
        (F.col(f"__sl.{key}") == F.col(f"__sr.{key}"))
        & (F.col(f"__sr.{right_ts}") >= F.col(f"__sl.{left_ts}"))
        & (
            F.col(f"__sr.{right_ts}")
            < F.col(f"__sl.{left_ts}") + F.expr(f"INTERVAL {window}")
        )
    )
    return l.join(r, cond, how)
