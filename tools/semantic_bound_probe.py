#!/usr/bin/env python
"""Routing-selectivity probe for the semantic cell-bound: at a given SF
dir, split embeddings exactly as stream_semantic_ingest_dedup does, build
the auto-k cell index, and count

- candidate member pairs: (batch item, corpus vector) pairs the lossless
  radius bound admits to the exact verify, and
- positive pairs: those with cos >= tau (true duplicates — the
  information-theoretic floor ANY lossless dedup must touch),

plus their ratio (bound selectivity). Run at a base dir and a replica dir:
if candidates/positives stays ~flat while both grow, the bound is doing
its job and the growth is OUTPUT-driven (true-pair-proportional), not a
routing failure. Used for SCALE.md §8h.

Usage: PYTHONPATH=. python tools/semantic_bound_probe.py DIR [TAU] [TARGET_CELL]
Prints one JSON line.
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import functions as F


def main() -> None:
    from sport_data_pipeline_spark.catalog import load_table
    from sport_data_pipeline_spark.operators.similarity import (
        _CELL_BOUND_EPS,
        build_semantic_cell_index,
        cell_vectors,
    )
    from sport_data_pipeline_spark.session import get_session

    sf_dir = sys.argv[1]
    tau = float(sys.argv[2]) if len(sys.argv) > 2 else 0.8
    target = int(sys.argv[3]) if len(sys.argv) > 3 else 128
    spark = get_session("semantic_bound_probe")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.expr("vec_id % 5 = 0"))
    batch = emb.filter(~F.expr("vec_id % 5 = 0"))

    prepared = cell_vectors(corpus, "vec_id")
    assigned, cells = build_semantic_cell_index(prepared, target_cell_size=target)
    dim = len(cells[0][1])

    radii = F.broadcast(
        spark.createDataFrame(
            cells, "__cell int, __centroid array<double>, __r double"
        )
    )
    b = cell_vectors(batch, "vec_id", dim=dim).select(
        F.col("__cid").alias("__bid"),
        F.col("__cv").alias("__bv"),
        F.col("__cn").alias("__bn"),
    )
    q_dot_c = F.lit(0.0)
    for i in range(1, dim + 1):
        q_dot_c = q_dot_c + F.element_at("__bv", i).cast("double") / F.col(
            "__bn"
        ) * F.element_at("__centroid", i)
    cand_cells = (
        b.crossJoin(radii)
        .filter(q_dot_c + F.col("__r") >= F.lit(tau - _CELL_BOUND_EPS))
        .select("__bid", "__bv", "__bn", "__cell")
    )
    pairs = F.broadcast(cand_cells).join(
        assigned.select("__cell", "__cid", "__cv", "__cn"), "__cell"
    )
    dot = F.lit(0.0)
    for i in range(1, dim + 1):
        dot = dot + F.element_at("__bv", i).cast("double") * F.element_at(
            "__cv", i
        ).cast("double")
    agg = pairs.agg(
        F.count(F.lit(1)).alias("candidate_pairs"),
        F.sum(
            (dot / (F.col("__bn") * F.col("__cn")) >= F.lit(tau)).cast("long")
        ).alias("positive_pairs"),
    ).collect()[0]
    n_b, n_c = b.count(), prepared.count()
    exhaustive = n_b * n_c
    out = {
        "dir": sf_dir,
        "tau": tau,
        "n_cells": len(cells),
        "batch_items": n_b,
        "corpus_vectors": n_c,
        "exhaustive_pairs": exhaustive,
        "candidate_pairs": int(agg["candidate_pairs"]),
        "positive_pairs": int(agg["positive_pairs"] or 0),
        "bound_admits_frac": round(agg["candidate_pairs"] / exhaustive, 6),
        "cand_per_positive": (
            round(agg["candidate_pairs"] / agg["positive_pairs"], 2)
            if agg["positive_pairs"]
            else None
        ),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
