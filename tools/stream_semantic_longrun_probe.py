#!/usr/bin/env python
"""Streaming long-run probe, SEMANTIC fold: replay ~100 embedding
micro-batches through the cell-indexed evolving-corpus semantic dedup
(the ``stream_semantic_ingest_dedup`` path, plans/similarity.py) and
record per-batch latency and state growth — the embedding twin of
``stream_longrun_probe.py``.

The registered verdict query proves CORRECTNESS over 4 micro-batches;
this probe answers the long-run question for the vector representation:
does the per-batch cost grow as kept vectors fold into the corpus state?
The design says it shouldn't —

  - the state fold is APPEND-ONLY (``assign_to_cells``: nearest EXISTING
    cell, no refit; radii maintained driver-side as a running max),
  - the routing is the LOSSLESS cell-radius bound (``_route_with_cells``)
    with the verify cosine dim-unrolled to codegen,
  - the only per-batch cost that grows with the corpus is the state
    parquet SCAN — linear in state bytes and spread across executors.

Every ``--compact-every`` batches the probe runs ``compact_parquet`` on
the state dir, exactly like the text probe.

Usage:
  PYTHONPATH=. python tools/stream_semantic_longrun_probe.py [SF_DIR] [N_BATCHES] [COMPACT_EVERY] [N_CELLS]

Defaults: SF_DIR=/root/testdata/sf0.1, N_BATCHES=100, COMPACT_EVERY=25,
N_CELLS=8. Prints ONE JSON line: per-decile mean batch seconds, the
least-squares slope of seconds vs batch index (flat ≈ 0), state growth,
and final routing counts.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


def dir_stats(path: str) -> tuple[int, int]:
    n, b = 0, 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith((".", "_")) and not f.endswith(".crc"):
                n += 1
                b += os.path.getsize(os.path.join(dp, f))
    return n, b


def main() -> None:
    from pyspark.sql import functions as F

    from sport_data_pipeline_spark.catalog import load_table
    from sport_data_pipeline_spark.operators.similarity import (
        _route_with_cells,
        assign_to_cells,
        build_semantic_cell_index,
        cell_vectors,
    )
    from sport_data_pipeline_spark.session import get_session
    from sport_data_pipeline_spark.sources.sinks import compact_parquet

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    compact_every = int(sys.argv[3]) if len(sys.argv) > 3 else 25
    n_cells = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    tau = 0.8

    spark = get_session("sem_longrun_probe")
    n_parts = spark.sparkContext.defaultParallelism
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus0 = emb.filter(F.col("vec_id") % 5 == 0)
    streamed = emb.filter(F.col("vec_id") % 5 != 0).toPandas()

    tmp = tempfile.mkdtemp(prefix="sdp_sem_longrun_")
    in_dir, state_dir, routed_dir, ckpt = (
        f"{tmp}/in",
        f"{tmp}/state",
        f"{tmp}/routed",
        f"{tmp}/ckpt",
    )
    batch_sec: list[float] = []
    state_trend: list[tuple[int, int]] = []
    try:
        prepared0 = cell_vectors(corpus0, "vec_id")
        assigned0, cells0 = build_semantic_cell_index(prepared0, n_cells=n_cells)
        assigned0.write.parquet(state_dir)
        cells = {c: (v, r) for c, v, r in cells0}
        dim = len(cells0[0][1])

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(in_dir)
        arrow_schema = pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
        )
        t0 = time.time() - n_batches * 2
        for k in range(n_batches):
            part = streamed[streamed["vec_id"] % n_batches == k]
            path = os.path.join(in_dir, f"batch_{k:04d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(part, preserve_index=False, schema=arrow_schema),
                path,
            )
            os.utime(path, (t0 + 2 * k, t0 + 2 * k))

        schema = spark.read.parquet(in_dir).schema

        def route_batch(batch, _epoch: int) -> None:
            t = time.perf_counter()
            state = spark.read.parquet(state_dir).repartition(
                n_parts, "__cell", "__cid"
            )
            cell_list = [(c, v, r) for c, (v, r) in sorted(cells.items())]
            routed = _route_with_cells(
                batch, state, cell_list, "vec_id", "embedding", tau, dim=dim
            ).localCheckpoint(eager=True)
            routed.write.mode("append").parquet(routed_dir)
            kept = cell_vectors(
                batch.join(
                    routed.filter(F.col("status") == "kept"), "vec_id", "left_semi"
                ),
                "vec_id",
            )
            folded = assign_to_cells(kept, cell_list, dim=dim)
            for r in folded.groupBy("__cell").agg(F.max("__d").alias("__m")).collect():
                v, old = cells[r["__cell"]]
                cells[r["__cell"]] = (v, max(old, r["__m"]))
            folded.drop("__d").write.mode("append").parquet(state_dir)
            batch_sec.append(round(time.perf_counter() - t, 3))
            state_trend.append(dir_stats(state_dir))
            if compact_every and len(batch_sec) % compact_every == 0:
                tc = time.perf_counter()
                compact_parquet(spark, state_dir, target_mb=128)
                print(
                    f"# compacted state after batch {len(batch_sec)}: "
                    f"{dir_stats(state_dir)[0]} files, "
                    f"{time.perf_counter() - tc:.1f}s",
                    file=sys.stderr,
                )

        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
            .writeStream.foreachBatch(route_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        counts = {
            r["status"]: r["n"]
            for r in spark.read.parquet(routed_dir)
            .groupBy("status")
            .agg(F.count("*").alias("n"))
            .collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()

    n = len(batch_sec)
    decile = max(1, n // 10)
    deciles = [
        round(sum(batch_sec[i : i + decile]) / len(batch_sec[i : i + decile]), 3)
        for i in range(0, n, decile)
    ]
    xbar, ybar = (n - 1) / 2, sum(batch_sec) / n
    slope = sum((i - xbar) * (y - ybar) for i, y in enumerate(batch_sec)) / sum(
        (i - xbar) ** 2 for i in range(n)
    )
    print(
        json.dumps(
            {
                "n_batches": n,
                "decile_mean_sec": deciles,
                "sec_per_batch_slope": round(slope, 5),
                "first10_mean": round(sum(batch_sec[:10]) / 10, 3),
                "last10_mean": round(sum(batch_sec[-10:]) / 10, 3),
                "state_files_final": state_trend[-1][0],
                "state_mb_final": round(state_trend[-1][1] / 1e6, 2),
                "routing_counts": counts,
                "compact_every": compact_every,
                "n_cells": n_cells,
            }
        )
    )


if __name__ == "__main__":
    main()
