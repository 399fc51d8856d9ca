"""ANN operators: exact brute force vs IVF and LSH approximations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sport_data_pipeline_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup,
    ivf_topk,
)

from conftest import SF_DIR


@pytest.fixture()
def emb(spark):
    from sport_data_pipeline_spark.catalog import load_table

    return load_table(spark, SF_DIR, "embeddings")


def test_exact_topk_shape_and_order(emb):
    q = emb.filter(F.col("vec_id") < 3)
    out = cosine_topk(q, emb, "vec_id", "vec_id", k=4).collect()
    assert len(out) == 12
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cosine"], r["neighbor_id"]))
    for qid, rows in by_q.items():
        rows.sort()
        cosines = [c for _, c, _ in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert qid not in {n for _, _, n in rows}  # self excluded


def test_ivf_recall_vs_exact(emb, tmp_path):
    from sport_data_pipeline_spark.operators.similarity import build_ivf_index

    idx = str(tmp_path / "ivf_idx")
    build_ivf_index(emb, "vec_id", idx, n_lists=8)
    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(q, emb, "vec_id", "vec_id", k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(q, idx, "vec_id", "vec_id", k=3, n_probe=4).collect()
    }
    # probing half the lists should recover a majority of true neighbors
    assert len(approx & exact) >= len(exact) * 0.5
    # and every approx hit must be a real corpus vector with a valid rank
    assert all(qid < 5 for qid, _ in approx)


def test_embedding_neardup_threshold_and_ordering(emb):
    out = embedding_near_dup(emb, "vec_id", threshold=0.4).collect()
    assert len(out) > 0
    assert all(r["id_a"] < r["id_b"] for r in out)  # each pair once
    assert all(r["cosine"] >= 0.4 for r in out)


def test_arrow_topk_agrees_with_exact(emb):
    from sport_data_pipeline_spark.operators.similarity import cosine_topk_arrow

    q = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(q, emb, "vec_id", "vec_id", k=4).collect()
    }
    arrow = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_arrow(q, emb, "vec_id", "vec_id", k=4).collect()
    }
    # identical semantics; only float summation order differs, which can
    # swap neighbors whose cosines agree to ~1 ulp
    assert len(arrow & exact) >= len(exact) - 1
    assert len(arrow) == len(exact)


def test_arrow_topk_empty_probe_set_returns_empty_frame(emb):
    """An empty probe set yields zero rows with the output schema, as
    cosine_topk does — not a numpy stack error on the driver."""
    from sport_data_pipeline_spark.operators.similarity import cosine_topk_arrow

    q = emb.filter(F.col("vec_id") < 0)
    out = cosine_topk_arrow(q, emb, "vec_id", "vec_id", k=4)
    exact = cosine_topk(q, emb, "vec_id", "vec_id", k=4)
    assert out.columns == exact.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.collect() == exact.collect() == []


def test_grid_join_matches_pairs_across_blockings(emb):
    """The block-grid self-join is exact regardless of n_blocks: every
    unordered pair meets in exactly one grid cell."""
    base = {
        (r["id_a"], r["id_b"], round(r["cosine"], 12))
        for r in embedding_near_dup(emb, "vec_id", threshold=0.4, n_blocks=1).collect()
    }
    for nb in (3, 8):
        got = {
            (r["id_a"], r["id_b"], round(r["cosine"], 12))
            for r in embedding_near_dup(emb, "vec_id", threshold=0.4, n_blocks=nb).collect()
        }
        assert got == base, f"n_blocks={nb} changed the pair set"


def test_lsh_threshold_pairs_recall_on_planted_neardups(spark):
    """Plant near-duplicate vectors (small perturbations, cos >= ~0.9) in a
    random corpus; multi-table hyperplane LSH must find every planted pair
    the exact operator finds, at a fraction of the candidate comparisons."""
    import math
    import random

    from sport_data_pipeline_spark.operators.similarity import lsh_threshold_pairs

    rng = random.Random(7)
    dim = 64
    rows = []
    vid = 0
    for _ in range(60):  # random background vectors
        rows.append((vid, [rng.gauss(0, 1) for _ in range(dim)]))
        vid += 1
    for _ in range(15):  # planted near-dup pairs
        v = [rng.gauss(0, 1) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v))
        noisy = [x + rng.gauss(0, 0.08 * n / math.sqrt(dim)) for x in v]
        rows.append((vid, v))
        rows.append((vid + 1, noisy))
        vid += 2
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id long, embedding array<float>"
    )
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup(df, "vec_id", threshold=0.85, dim=dim).collect()
    }
    assert len(exact) >= 10  # the planting worked
    lsh = {
        (r["id_a"], r["id_b"])
        for r in lsh_threshold_pairs(df, "vec_id", threshold=0.85, dim=dim).collect()
    }
    assert lsh == exact  # recall 1.0 on this corpus, no false positives


def test_pq_encode_codes_in_range_and_deterministic(emb):
    from sport_data_pipeline_spark.operators.similarity import pq_encode, train_pq

    books = train_pq(emb, "vec_id", m=8, codes=16, dim=64)
    assert len(books) == 8 and all(len(b) == 16 for b in books)
    assert all(len(c) == 8 for b in books for c in b)  # dim/m subvector
    codes1 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, "vec_id", books, dim=64).collect()}
    codes2 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, "vec_id", books, dim=64).collect()}
    assert codes1 == codes2  # same codebooks -> same assignment
    assert all(0 <= c < 16 for cs in codes1.values() for c in cs)
    assert all(len(cs) == 8 for cs in codes1.values())


def test_pq_topk_recall_vs_exact(emb):
    from sport_data_pipeline_spark.operators.similarity import pq_encode, pq_topk, train_pq

    q = emb.filter(F.col("vec_id") < 5)
    books = train_pq(emb, "vec_id", m=16, codes=16, dim=64)
    code_table = pq_encode(emb, "vec_id", books, dim=64)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(q, emb, "vec_id", "vec_id", k=5).collect()
    }
    rows = pq_topk(q, code_table, emb, "vec_id", "vec_id", books, k=5, shortlist=100, dim=64).collect()
    approx = {(r["query_id"], r["neighbor_id"]) for r in rows}
    assert len(approx & exact) >= len(exact) * 0.6
    # re-ranked cosines are EXACT: every reported pair's cosine must match
    # the brute-force value for that pair
    exact_all = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_topk(q, emb, "vec_id", "vec_id", k=10**6).collect()
    }
    for r in rows:
        assert r["cosine"] == exact_all[(r["query_id"], r["neighbor_id"])]


def test_semantic_dedup_cells_components_and_keepers(spark):
    """Per-cell SemDeDup invariants on planted clusters, checked against a
    brute-force component computation: exactly one keeper per component,
    drops route to a keeper inside their own component, identical-vector
    ties keep the min id, zero-norm vectors pass through kept."""
    import numpy as np

    from sport_data_pipeline_spark.operators.similarity import semantic_dedup_cells

    rng = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),          # exact clone of 0 → tie, min id keeps
        (2, [0.98, 0.199, 0.0, 0.0]),        # near 0/1 (cos ≈ 0.98)
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.0, 0.995, 0.0999, 0.0]),     # near 10
        (20, [0.0, 0.0, 1.0, 0.0]),          # singleton
        (30, [0.0, 0.0, 0.0, 0.0]),          # zero-norm → kept
    ]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    routed = {
        r["vec_id"]: (r["keep_id"], r["kept"])
        for r in semantic_dedup_cells(
            df, "vec_id", threshold=0.9, n_cells=1, seed=7
        ).collect()
    }
    assert len(routed) == 7  # row count preserved

    # brute-force expected components at threshold 0.9 (n_cells=1 → the
    # cell graph IS the global graph)
    ids = [i for i, v in rng if np.linalg.norm(v) > 0]
    vecs = {i: np.array(v) for i, v in rng if np.linalg.norm(v) > 0}
    comp = {i: i for i in ids}

    def root(i):
        while comp[i] != i:
            i = comp[i]
        return i

    for a in ids:
        for b in ids:
            if a < b:
                ca = vecs[a] / np.linalg.norm(vecs[a])
                cb = vecs[b] / np.linalg.norm(vecs[b])
                if float(ca @ cb) >= 0.9:
                    ra, rb = root(a), root(b)
                    if ra != rb:
                        comp[max(ra, rb)] = min(ra, rb)
    groups: dict[int, set[int]] = {}
    for i in ids:
        groups.setdefault(root(i), set()).add(i)

    for members in groups.values():
        keepers = {i for i in members if routed[i][1]}
        assert len(keepers) == 1  # exactly one keeper per component
        (k,) = keepers
        for i in members:
            assert routed[i][0] == k  # everyone routes to the keeper
    # clone tie: 0 and 1 identical → keeper of their component is not 1
    assert routed[1][1] is False
    # zero-norm passthrough
    assert routed[30] == (30, True)


def test_embedding_near_dup_arrow_bit_identical_to_expr(emb):
    """The vectorized grid pass must reproduce the expression path
    BIT-exactly (fold-order-preserving accumulation), not merely closely."""
    from sport_data_pipeline_spark.operators.similarity import (
        embedding_near_dup,
        embedding_near_dup_arrow,
    )

    e = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_dup(emb, "vec_id", threshold=0.4, dim=64).collect()
    )
    a = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_near_dup_arrow(emb, "vec_id", threshold=0.4).collect()
    )
    assert e == a
    assert e  # non-vacuous


def test_semantic_dedup_cells_auto_k_scales_with_corpus(spark):
    import numpy as np

    from sport_data_pipeline_spark.operators.similarity import semantic_dedup_cells

    rng = np.random.RandomState(3)
    rows = [(i, (rng.randn(4) + 5).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # auto default: n_cells = ceil(40 / target_cell_size) = 8 — the run
    # must still satisfy the routing invariants with multi-cell k-means
    routed = semantic_dedup_cells(
        df, "vec_id", threshold=0.99, target_cell_size=5, seed=7
    ).collect()
    assert len(routed) == 40
    kept = {r["vec_id"] for r in routed if r["kept"]}
    assert all(r["keep_id"] in kept for r in routed)  # keepers are kept rows
    assert all((r["keep_id"] == r["vec_id"]) == r["kept"] for r in routed)


@pytest.mark.parametrize("n_cells", [None, 1, 4])
def test_semantic_dedup_cells_all_zero_input_passes_through(spark, n_cells):
    """With no nonzero vector there is nothing to cluster: every row comes
    back kept as its own keeper, as zero-norm rows always do — whether the
    cell count is auto-sized or given."""
    from sport_data_pipeline_spark.operators.similarity import semantic_dedup_cells

    df = spark.createDataFrame(
        [(i, [0.0, 0.0, 0.0]) for i in range(3)], "vec_id long, embedding array<float>"
    )
    for verify in (False, True):
        out = semantic_dedup_cells(
            df, "vec_id", threshold=0.7, n_cells=n_cells, verify_neighbors=verify
        )
        assert sorted(tuple(r) for r in out.collect()) == [
            (i, i, True) + ((False,) if verify else ()) for i in range(3)
        ]


def test_semantic_dedup_cells_verify_neighbors_column(spark):
    """verify_neighbors=True appends an independently recomputed
    within-cell neighbor flag and changes nothing else: the base
    (vec_id, keep_id, kept) columns are identical to a plain run, every
    dropped row reads True (the drops_sound invariant — a drop requires a
    ≥2-member within-cell component, hence within-cell degree ≥1), and
    singleton / zero-norm rows read False."""
    from sport_data_pipeline_spark.operators.similarity import semantic_dedup_cells

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # exact clone of 0 → dropped
        (2, [0.98, 0.199, 0.0, 0.0]),  # cos ≈ 0.98 to 0/1 → same component
        (20, [0.0, 0.0, 1.0, 0.0]),  # singleton → kept, no neighbor
        (30, [0.0, 0.0, 0.0, 0.0]),  # zero-norm → kept, flag False
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = {
        r["vec_id"]: (r["keep_id"], r["kept"])
        for r in semantic_dedup_cells(
            df, "vec_id", threshold=0.9, n_cells=1, seed=7
        ).collect()
    }
    flagged = semantic_dedup_cells(
        df, "vec_id", threshold=0.9, n_cells=1, seed=7, verify_neighbors=True
    ).collect()
    assert {r["vec_id"]: (r["keep_id"], r["kept"]) for r in flagged} == base
    nb = {r["vec_id"]: r["__has_neighbor"] for r in flagged}
    assert all(nb[r["vec_id"]] for r in flagged if not r["kept"])
    assert nb[0] and nb[1] and nb[2]
    assert nb[20] is False and nb[30] is False


def test_auto_n_cells_scales_with_corpus():
    # the SemDeDup operating rule: k grows linearly with the corpus so
    # per-cell quadratic work stays constant — a pinned k measured 5.5x
    # at 10x data vs 1.4x with this rule (SCALE.md §8a/8b)
    from sport_data_pipeline_spark.operators.similarity import auto_n_cells

    assert auto_n_cells(0) == 2          # degenerate floor: KMeans needs k>=2
    assert auto_n_cells(512) == 2
    assert auto_n_cells(513) == 2
    assert auto_n_cells(5120) == 10
    assert auto_n_cells(51200) == 100    # 10x data -> 10x cells, same cell size
    assert auto_n_cells(1000, target_cell_size=100) == 10
    # expected cell size never exceeds the target by construction
    for n in (100, 1000, 10_000, 123_457):
        k = auto_n_cells(n)
        assert n / k <= 512 or k == 2


def test_incremental_semantic_dedup_routes_batch(spark):
    from sport_data_pipeline_spark.operators.similarity import (
        incremental_semantic_dedup,
    )

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0]),      # second copy: match_id must be the MIN (0)
            (4, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    batch = spark.createDataFrame(
        [
            (10, [2.0, 0.0, 0.0]),     # same direction as corpus 0/2 → dup of 0
            (11, [0.0, 0.0, 3.0]),     # orthogonal to everything → kept
            (12, [0.0, 0.0, 0.0]),     # zero-norm: cosine defined 0 → kept
            (13, [0.0, 5.0, 0.1]),     # nearly parallel to corpus 4 → dup of 4
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r.vec_id: (r.status, r.match_id)
        for r in incremental_semantic_dedup(
            batch, corpus, "vec_id", threshold=0.9
        ).collect()
    }
    assert got == {
        10: ("semantic_dup", 0),
        11: ("kept", None),
        12: ("kept", None),
        13: ("semantic_dup", 4),
    }


def test_incremental_semantic_dedup_routed_bit_identical(spark):
    # the IVF cell-radius prune is lossless: the routed variant must
    # return exactly the unrouted operator's routing table, at a high
    # threshold (strong pruning) and a low one (bound rarely fires)
    from sport_data_pipeline_spark.catalog import load_table
    from sport_data_pipeline_spark.operators.similarity import (
        incremental_semantic_dedup,
        incremental_semantic_dedup_routed,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    batch = emb.filter(F.col("vec_id") % 5 == 1)
    corpus = emb.filter(F.col("vec_id") % 5 != 1)
    for tau in (0.8, 0.4):
        base = {
            r.vec_id: (r.status, r.match_id)
            for r in incremental_semantic_dedup(
                batch, corpus, "vec_id", threshold=tau
            ).collect()
        }
        routed = {
            r.vec_id: (r.status, r.match_id)
            for r in incremental_semantic_dedup_routed(
                batch, corpus, "vec_id", threshold=tau, n_cells=8
            ).collect()
        }
        assert routed == base


def test_persisted_cell_index_round_trip_bit_identical(spark, tmp_path):
    # the write-time index split: write_semantic_cell_index persists the
    # cell-assigned corpus (partitioned by cell) + the centroid/radius
    # table; routing a batch against the LOADED index must be bit-identical
    # to the inline-fit routed operator AND the unrouted base operator
    from sport_data_pipeline_spark.catalog import load_table
    from sport_data_pipeline_spark.operators.similarity import (
        incremental_semantic_dedup,
        incremental_semantic_dedup_routed,
        read_semantic_cell_index,
        route_against_cell_index,
        write_semantic_cell_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    batch = emb.filter(F.col("vec_id") % 5 == 1)
    corpus = emb.filter(F.col("vec_id") % 5 != 1)
    path = str(tmp_path / "cell_index")
    k = write_semantic_cell_index(corpus, path, "vec_id", n_cells=8)
    assert k == 8
    assigned, cells = read_semantic_cell_index(spark, path)
    assert len(cells) == 8
    # partition pruning is real: the assigned corpus is laid out by cell
    assert any("__cell=" in str(p) for p in (tmp_path / "cell_index" / "assigned").iterdir())
    for tau in (0.8, 0.4):
        from_index = {
            r.vec_id: (r.status, r.match_id)
            for r in route_against_cell_index(
                batch, assigned, cells, "vec_id", threshold=tau
            ).collect()
        }
        inline = {
            r.vec_id: (r.status, r.match_id)
            for r in incremental_semantic_dedup_routed(
                batch, corpus, "vec_id", threshold=tau, n_cells=8
            ).collect()
        }
        base = {
            r.vec_id: (r.status, r.match_id)
            for r in incremental_semantic_dedup(
                batch, corpus, "vec_id", threshold=tau
            ).collect()
        }
        assert from_index == inline == base


def test_route_against_cell_index_rejects_nonpositive_threshold(spark):
    from sport_data_pipeline_spark.operators.similarity import (
        route_against_cell_index,
    )

    emb = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="threshold > 0"):
        route_against_cell_index(emb, emb, [], "vec_id", threshold=-1.0)


def test_incremental_semantic_dedup_routed_rejects_nonpositive_threshold(spark):
    from sport_data_pipeline_spark.operators.similarity import (
        incremental_semantic_dedup_routed,
    )

    emb = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="threshold > 0"):
        incremental_semantic_dedup_routed(emb, emb, "vec_id", threshold=0.0)


def test_persisted_cell_index_route_partition_prunes(spark, tmp_path):
    # the 100 TB story of the write-time index: the cell-partitioned
    # corpus scan must carry a dynamic-partition-pruning subquery on
    # __cell, so a probe touching k candidate cells reads k directories
    # at runtime instead of the whole index (verified live in r9:
    # SubqueryAdaptiveBroadcast dynamicpruning on the assigned FileScan)
    from sport_data_pipeline_spark.catalog import load_table
    from sport_data_pipeline_spark.operators.similarity import (
        read_semantic_cell_index,
        route_against_cell_index,
        write_semantic_cell_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    batch = emb.filter(F.col("vec_id") % 5 == 1)
    corpus = emb.filter(F.col("vec_id") % 5 != 1)
    path = str(tmp_path / "cell_index_dpp")
    write_semantic_cell_index(corpus, path, "vec_id", n_cells=8)
    assigned, cells = read_semantic_cell_index(spark, path)
    routed = route_against_cell_index(batch, assigned, cells, "vec_id", threshold=0.8)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_epoch_cell_index_rebuilds_on_same_size_regeneration(spark, tmp_path, monkeypatch):
    """The epoch cache key must not serve a stale index when the corpus is
    regenerated at IDENTICAL byte size within one second (the r9-advice
    collision): st_mtime_ns + a head/tail content sample + the caller's
    corpus-identity token all enter the key, and $SPARK_GRAFT_CELL_INDEX_REBUILD
    force-rebuilds."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sport_data_pipeline_spark.plans.similarity import _epoch_cell_index

    cache = tmp_path / "cache"
    monkeypatch.setenv("SPARK_GRAFT_CELL_INDEX_CACHE", str(cache))
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    p = str(sf_dir / "embeddings.parquet")

    def gen(seed: int) -> None:
        rng = np.random.default_rng(seed)
        vecs = rng.normal(size=(40, 4)).astype(np.float64)
        t = pa.table(
            {
                "vec_id": pa.array(range(40), pa.int64()),
                "embedding": pa.array(vecs.tolist(), pa.list_(pa.float64())),
            }
        )
        # uncompressed + no dictionary: two generations with the same shape
        # are byte-size-identical, reproducing the collision scenario
        pq.write_table(t, p, compression="NONE", use_dictionary=False)
        os.utime(p, ns=(1_700_000_000_000_000_000, 1_700_000_000_000_000_000))

    def entries() -> int:
        return sum(1 for d in cache.iterdir() if d.is_dir()) if cache.is_dir() else 0

    gen(1)
    size1 = os.path.getsize(p)
    corpus = spark.read.parquet(p)
    _epoch_cell_index(spark, str(sf_dir), corpus, n_cells=4, corpus_token="all")
    assert entries() == 1

    gen(2)  # same byte size, same mtime, different values
    assert os.path.getsize(p) == size1
    corpus2 = spark.read.parquet(p)
    _epoch_cell_index(spark, str(sf_dir), corpus2, n_cells=4, corpus_token="all")
    assert entries() == 2, "same-size same-second regeneration must rebuild"

    # a differently-DEFINED corpus over the same table gets its own entry
    half = corpus2.filter(F.col("vec_id") % 2 == 0)
    _epoch_cell_index(spark, str(sf_dir), half, n_cells=4, corpus_token="vec_id%2==0")
    assert entries() == 3

    # the force-rebuild knob replaces (not duplicates) the entry
    monkeypatch.setenv("SPARK_GRAFT_CELL_INDEX_REBUILD", "1")
    _epoch_cell_index(spark, str(sf_dir), corpus2, n_cells=4, corpus_token="all")
    assert entries() == 3


def test_stream_semantic_restart_reloads_radii_bit_identical(spark, tmp_path):
    """The semantic ingest loop's driver-side radius table is persisted
    per epoch beside the state; a stream RESTART (fresh driver, cells
    unknown) must reload exactly the radii the unbroken run carried, so
    the lossless cell-bound prune stays lossless — pinned by comparing
    the full routing table of a run restarted after epoch 1 against an
    unbroken 4-epoch run, bit-for-bit."""
    from sport_data_pipeline_spark.catalog import load_table
    from sport_data_pipeline_spark.operators.similarity import (
        build_semantic_cell_index,
        cell_vectors,
    )
    from sport_data_pipeline_spark.plans.similarity import (
        _SEM_CORPUS,
        _load_cell_table,
        _persist_cell_table,
        _sem_ingest_process_batch,
    )
    from sport_data_pipeline_spark.streaming.idempotent import epoch_read, epoch_write

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    streamed = emb.filter(~F.expr(_SEM_CORPUS))
    prepared0 = cell_vectors(emb.filter(F.expr(_SEM_CORPUS)), "vec_id")

    def seed(base):
        assigned0, cells0 = build_semantic_cell_index(prepared0, target_cell_size=128)
        epoch_write(assigned0, f"{base}/state", -1)
        holder = {"cells": {c: (v, r) for c, v, r in cells0}}
        _persist_cell_table(spark, f"{base}/cells", holder["cells"], -1)
        return holder, len(cells0[0][1])

    def run(base, holder, dim, epochs):
        for e in epochs:
            _sem_ingest_process_batch(
                spark,
                streamed.filter(F.col("vec_id") % 4 == e),
                e,
                f"{base}/state",
                f"{base}/routed",
                f"{base}/cells",
                holder,
                dim,
            )

    unbroken, restarted = str(tmp_path / "unbroken"), str(tmp_path / "restart")
    h_a, dim = seed(unbroken)
    run(unbroken, h_a, dim, [0, 1, 2, 3])

    h_b, dim_b = seed(restarted)
    run(restarted, h_b, dim_b, [0, 1])
    # "crash": the driver-side dict is gone; the new run reloads from disk
    reloaded = _load_cell_table(spark, f"{restarted}/cells", before_epoch=2)
    assert set(reloaded) == set(h_b["cells"])
    for c, (v, r) in reloaded.items():
        assert r == h_b["cells"][c][1], f"cell {c} radius drifted on reload"
        assert v == [float(x) for x in h_b["cells"][c][0]]
    run(restarted, {"cells": None}, dim_b, [2, 3])

    table = lambda base: sorted(  # noqa: E731
        (r["vec_id"], r["status"], r["match_id"])
        for r in epoch_read(spark, f"{base}/routed").collect()
    )
    got_a, got_b = table(unbroken), table(restarted)
    assert got_a == got_b and len(got_a) > 0


def test_semantic_dedup_cells_drops_cross_checked_globally(spark, emb):
    """Structurally independent oracle of drops_sound (r15 ADVICE): every
    vector semantic_dedup_cells drops must have >=1 global neighbor at the
    threshold according to embedding_near_dup_arrow over the RAW corpus —
    a pipeline that shares nothing with the per-cell stage (block-grid
    self-join, its own staging, its own arithmetic). Planted clones mirror
    the verdict query so the drop set is non-empty."""
    from sport_data_pipeline_spark.operators.similarity import (
        embedding_near_dup_arrow,
        semantic_dedup_cells,
    )

    base = emb.select("vec_id", "embedding")
    planted = base.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(planted)
    routed = semantic_dedup_cells(
        corpus, "vec_id", threshold=0.7, verify_neighbors=True
    )
    dropped = {r["vec_id"] for r in routed.filter(~F.col("kept")).collect()}
    assert dropped  # planted clones guarantee a non-empty drop set
    pairs = embedding_near_dup_arrow(corpus, "vec_id", threshold=0.7).collect()
    with_neighbor = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert dropped <= with_neighbor  # dropped => global neighbor exists


def test_semantic_dedup_cells_boundary_pair_agreement(spark):
    """Boundary regression for the drops_sound arithmetic caveat (r15
    ADVICE): on exact-threshold pairs — identical vectors (cosine exactly
    1.0) and an orthogonal singleton — the BLAS unit-vector decision path
    and the fold-order __has_neighbor recomputation must agree, so the
    documented last-ulp divergence window stays confined to pairs that
    land WITHIN one reduction-order ulp of the threshold, not ON it."""
    from sport_data_pipeline_spark.operators.similarity import semantic_dedup_cells

    # single-nonzero-component vectors: every product, norm and sum in
    # BOTH reductions is exact in float64, so the pair's cosine computes
    # to EXACTLY 1.0 under each path — the threshold boundary itself
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),   # scaled clone: cosine == 1.0 exactly
        (9, [0.0, 3.0, 0.0, 0.0]),   # orthogonal: cosine == 0.0 exactly
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # threshold=1.0: adjacency holds only at the exact boundary value
    out = semantic_dedup_cells(
        df, "vec_id", threshold=1.0, n_cells=1, seed=7, verify_neighbors=True
    ).collect()
    nb = {r["vec_id"]: r["__has_neighbor"] for r in out}
    kept = {r["vec_id"]: r["kept"] for r in out}
    # decision path: {0,1} form one exact-boundary component -> one drop
    assert sorted(v for v, k in kept.items() if not k) == [1]
    # checker path agrees at the boundary: both flagged, 9 not
    assert nb[0] and nb[1] and not nb[9]
