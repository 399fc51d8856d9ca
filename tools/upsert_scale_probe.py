#!/usr/bin/env python
"""Upsert-sink scaling probe: per-batch cost on a 300k- and a 3M-row target.

Claim under test (operators/merge.py ``merge_into_parquet``): a batch's cost
follows the target files it touches, not the table. The benchmark's polls
(perfbench/datagen.py ``LiveFeed``) go through refine → dedup_late_ticks →
start_upsert_sink, one per availableNow run; poll 0 is a warm-up.

Usage:
  SPARK_GRAFT_DRIVER_MEM=3g PYTHONPATH=. python tools/upsert_scale_probe.py WORK_DIR [POLLS]

Prints ONE JSON line: per target size, each measured batch's seconds
(``triggerExecution``), target files it replaced and target files after it."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
import datagen  # noqa: E402


def write_target(path: str, n: int) -> None:
    """``n`` finished matches (ids 0..n-1) in one file, the feed's column types."""
    os.makedirs(path)
    r = np.random.default_rng(n)
    ts = pa.array(r.integers(1.5e15, 1.7e15, n), pa.timestamp("us", tz="UTC"))
    i64, i32 = (lambda hi: r.integers(0, hi, n)), (lambda hi: r.integers(0, hi, n).astype(np.int32))
    pq.write_table(pa.table({
        "match_id": np.arange(n), "competition_id": i64(21), "season": np.full(n, "2023/2024"),
        "matchday": i32(39), "match_date": ts, "home_team_id": i64(400), "away_team_id": i64(400),
        "venue_id": i64(500), "referee_id": i64(200), "status": np.full(n, "finished"),
        "home_score": i32(6), "away_score": i32(6), "scraped_at": ts, "ingested_at": ts,
    }), f"{path}/part-00000-seed.parquet")


def run(spark, root: str, n: int, polls: int) -> dict:
    from pyspark.sql.types import StructType
    from sport_data_pipeline_spark.schemas import MATCHES
    from sport_data_pipeline_spark.sources.bronze import refine
    from sport_data_pipeline_spark.streaming import live

    target, bronze = f"{root}/matches", f"{root}/bronze"
    shutil.rmtree(root, ignore_errors=True)
    write_target(target, n)
    os.makedirs(bronze)
    feed, out = datagen.LiveFeed(seed=1, target_rows=n), {"batch_s": [], "touched": [], "files": []}
    schema = StructType.fromDDL("scraper_name string, data string, ingested_at timestamp")
    for i in range(polls + 1):
        feed.write_poll(bronze)
        before = {f for f in os.listdir(target) if f.endswith(".parquet")}
        ticks = refine(live.read_tick_stream(spark, bronze, schema, max_files_per_trigger=1),
                       MATCHES, required=["match_id"])
        q = live.start_upsert_sink(live.dedup_late_ticks(ticks, ["match_id"], "scraped_at"), target,
                                   ["match_id"], ["scraped_at"], f"{root}/ck", available_now=True)
        q.awaitTermination()
        after = {f for f in os.listdir(target) if f.endswith(".parquet")}
        if i:
            batch = [p for p in q.recentProgress if p.numInputRows][-1]
            out["batch_s"].append(batch.durationMs["triggerExecution"] / 1000)
            out["touched"].append(len(before - after))
            out["files"].append(len(after))
    return {**out, "median_batch_s": statistics.median(out["batch_s"])}


if __name__ == "__main__":
    from sport_data_pipeline_spark.session import get_session

    work, polls = sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_session("upsert_scale_probe", cpus=4, shuffle_partitions=4)
    print(json.dumps({n: run(spark, f"{work}/t{n}", n, polls) for n in (300_000, 3_000_000)}))
    shutil.rmtree(work, ignore_errors=True)
