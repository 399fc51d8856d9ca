"""Dedup operator semantics vs brute force on small synthetic corpora."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sport_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_jaccard_pairs,
    simhash_near_dup,
)

DOCS = [
    (0, "b", "the quick brown fox jumps over the lazy dog"),
    (1, "b", "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "b", "completely different words about spark engines"),
    (3, "b", "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (4, "b", "spark query engines shuffle partitions in parallel"),
]


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, blk string, text string")


def test_exact_dedup_drops_identical(docs):
    kept = sorted(r["doc_id"] for r in exact_dedup(docs, "text", "doc_id").collect())
    assert kept == [0, 1, 2, 4]  # 3 collapses into 0


def test_jaccard_pairs_finds_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, "doc_id", "text", ["blk"], 0.5).collect()
    }
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0
    assert not any({a, b} == {0, 2} for a, b in pairs)


def test_minhash_agrees_with_exact_jaccard_on_dups(docs):
    got = {(r["id_a"], r["id_b"]) for r in
           minhash_jaccard_pairs(docs, "doc_id", "text", threshold=0.5, shingle_n=2,
                                 num_hashes=16, bands=4, max_bucket_size=100).collect()}
    # exact duplicates can never be missed (identical signatures in every band)
    assert (0, 3) in got
    # verification step guarantees no false positives below threshold
    exact = {(r["id_a"], r["id_b"]) for r in
             jaccard_pairs(docs, "doc_id", "text", ["blk"], 0.5, shingle_n=2).collect()}
    assert got <= exact


def test_minhash_jaccard_composite_agrees_with_exact(spark):
    """The scale-safe composite (LSH candidates → exact-Jaccard verify)
    must reproduce the blocked all-pairs result exactly: same pairs, same
    jaccard values, blocks respected."""
    from sport_data_pipeline_spark.operators.dedup import minhash_jaccard_pairs

    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lamda mu"
    for i in range(30):
        words = base.split()
        words[i % len(words)] = f"tok{i}"  # 30 mutually-near docs in block x
        rows.append((i, "x", " ".join(words)))
    rows.append((100, "y", base))  # near-dup of block-x docs but in block y
    rows.append((101, "y", "totally unrelated content about query planning"))
    df = spark.createDataFrame(rows, "doc_id long, blk string, text string")

    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(df, "doc_id", "text", ["blk"], 0.5, shingle_n=2).collect()
    }
    comp = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_jaccard_pairs(
            df, "doc_id", "text", ["blk"], 0.5, shingle_n=2, num_hashes=32, bands=16
        ).collect()
    }
    spark.catalog.clearCache()
    assert comp == exact
    assert exact  # non-vacuous: the planted near-dups were found
    assert not any(100 in p for p in comp)  # blocking respected


def test_simhash_identical_docs_distance_zero(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_dup(docs, "doc_id", "text", max_hamming=64).collect()}
    assert pairs.get((0, 3)) == 0


def test_winnow_fingerprints_guarantee(spark):
    from sport_data_pipeline_spark.operators.dedup import winnow_fingerprints

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical → identical fingerprint set
            (3, "one two three " + base + " four five"),  # shares a long run
            (4, "totally different words with no overlap at all here now"),
            (5, "x y"),  # shorter than window + k - 1 → empty
        ],
        "doc_id long, text string",
    )
    fps = {
        r["doc_id"]: set(r["fingerprints"])
        for r in winnow_fingerprints(docs, "doc_id", "text", k=3, window=4).collect()
    }
    assert fps[1] == fps[2] and fps[1]
    # winnowing guarantee: shared run of >= window+k-1 tokens ⇒ shared print
    assert fps[1] & fps[3]
    assert not (fps[1] & fps[4])
    assert fps[5] == set()


@pytest.mark.parametrize("threshold", [0.5, 0.07, 0.28])
def test_jaccard_length_filter_is_lossless(spark, threshold):
    """The size-window prune (min/max >= t, division form) must never drop
    a qualifying pair: compare against the unfiltered brute-force Jaccard
    on a corpus engineered with wide length disparities. t=0.07/0.28 are
    regression thresholds for the floating-point hole in the multiplied
    form: fl(0.07·100)=7.000000000000001 > 7 would prune a subset pair
    whose Jaccard is exactly 7/100 = fl(0.07)."""
    import itertools

    words = [f"w{k}" for k in range(120)]
    rows = []
    for i in range(24):
        # lengths 1..24 tokens, shared-prefix vocab: near-threshold pairs
        rows.append((i, "x", " ".join(words[j] for j in range(i + 1))))
    # exact-threshold case: |A|=7 subset of |B|=100 → J = 7/100 = fl(0.07)
    rows.append((100, "x", " ".join(words[:7])))
    rows.append((101, "x", " ".join(words[:100])))
    df = spark.createDataFrame(rows, "doc_id long, blk string, text string")

    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(df, "doc_id", "text", ["blk"], threshold).collect()
    }

    def toks(s):
        return set(s.split())

    want = {}
    for (ia, _, ta), (ib, _, tb) in itertools.combinations(rows, 2):
        a, b = toks(ta), toks(tb)
        j = len(a & b) / len(a | b) if a | b else 0.0
        if j >= threshold:
            want[(min(ia, ib), max(ia, ib))] = j
    assert set(got) == set(want), (
        f"t={threshold} missing={set(want) - set(got)} extra={set(got) - set(want)}"
    )
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12


# ---------------------------------------------------------------------------
# duplicated_spans: planted shared passages → exact maximal spans
# ---------------------------------------------------------------------------

def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_duplicated_spans_exact_boundaries(spark):
    from sport_data_pipeline_spark.operators.dedup import duplicated_spans

    shared = _words("s", 10)          # 10-token passage planted in docs 0 and 1
    docs = spark.createDataFrame(
        [
            (0, _words("a", 5) + " " + shared + " " + _words("b", 5)),
            (1, _words("c", 3) + " " + shared),
            (2, _words("d", 20)),     # unique — no spans
            (3, _words("e", 4)),      # shorter than k — no shingles at all
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in duplicated_spans(docs, "doc_id", "text", k=8).collect()
    }
    # doc 0: shared occupies tokens [5, 14]; duplicated 8-gram starts are
    # exactly {5, 6, 7} (an 8-gram starting later mixes in b-tokens), so the
    # maximal span is [5, 14] = 10 tokens. doc 1: tokens [3, 12].
    assert rows == {(0, 5, 14, 10), (1, 3, 12, 10)}


def test_duplicated_spans_merges_adjacent_and_splits_distant(spark):
    from sport_data_pipeline_spark.operators.dedup import duplicated_spans

    p1, p2 = _words("x", 8), _words("y", 8)
    gap_small = _words("g", 3)   # spans [0,7] and [11,18]: starts 0 and 11,
    gap_big = _words("h", 20)    # 11 - 0 > 8 → separate; but each stays maximal
    docs = spark.createDataFrame(
        [
            (0, p1 + " " + gap_small + " " + p2),
            (1, p1 + " " + gap_big + " " + p2),
            (2, p1),
            (3, p2),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicated_spans(docs, "doc_id", "text", k=8).collect()
    }
    assert (0, 0, 7) in got and (0, 11, 18) in got      # split across the gap
    assert (1, 0, 7) in got and (1, 28, 35) in got
    assert (2, 0, 7) in got and (3, 0, 7) in got


def test_remove_duplicated_spans_rewrites_clean_text(spark):
    from sport_data_pipeline_spark.operators.dedup import remove_duplicated_spans

    shared = _words("s", 10)
    docs = spark.createDataFrame(
        [
            (0, _words("a", 5) + " " + shared + " " + _words("b", 5)),
            (1, _words("c", 3) + " " + shared),
            (2, shared),                  # ENTIRELY a duplicated span
            (3, _words("d", 20)),         # unique — passes through verbatim
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_tok, r.n_tok_kept, r.text_clean)
        for r in remove_duplicated_spans(docs, "doc_id", "text", k=8).collect()
    }
    # the shared passage is cut from EVERY occurrence (Lee et al. remove
    # all copies of a duplicated substring); surviving tokens keep order
    assert got[0] == (20, 10, _words("a", 5) + " " + _words("b", 5))
    assert got[1] == (13, 3, _words("c", 3))
    assert got[2] == (10, 0, "")          # fully-duplicated doc → empty, not dropped
    assert got[3] == (20, 20, _words("d", 20))


def test_incremental_dedup_routes_batch_docs(spark):
    from sport_data_pipeline_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (0, "b", "the quick brown fox jumps over the lazy dog"),
            (2, "b", "completely different words about spark engines"),
        ],
        "doc_id long, blk string, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "b", "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
            (11, "b", "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
            (12, "b", "entirely novel content never seen before today again"),
        ],
        "doc_id long, blk string, text string",
    )
    got = {
        r.doc_id: (r.status, r.match_id)
        for r in incremental_dedup(
            batch, corpus, "doc_id", "text", ["blk"], threshold=0.3, shingle_n=3
        ).collect()
    }
    assert got[10] == ("dup_exact", 0)
    assert got[11] == ("near_dup", 0)
    assert got[12] == ("kept", None)


def test_incremental_dedup_index_routes_identically(spark):
    # the write-time signature index must route BIT-identically to the raw
    # corpus, on both the blocked and the banded-LSH candidate paths, and
    # keep doing so after the index folds forward with a batch's kept docs
    from sport_data_pipeline_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup,
    )

    corpus = spark.createDataFrame(
        [
            (0, "b", "the quick brown fox jumps over the lazy dog"),
            (2, "b", "completely different words about spark engines"),
            (4, "c", "another block entirely with its own phrasing here"),
        ],
        "doc_id long, blk string, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "b", "the quick brown fox jumps over the lazy dog"),
            (11, "b", "the quick brown fox jumps over the lazy cat"),
            (12, "b", "entirely novel content never seen before today again"),
            (13, "c", "another block entirely with its own phrasing here"),
        ],
        "doc_id long, blk string, text string",
    )

    def routes(c, **kw):
        return sorted(
            tuple(r)
            for r in incremental_dedup(
                batch, c, "doc_id", "text", ["blk"], threshold=0.3, shingle_n=3, **kw
            ).collect()
        )

    index = build_dedup_index(corpus, "doc_id", "text", ["blk"], shingle_n=3)
    assert routes(index) == routes(corpus)
    assert routes(index, minhash_candidates=(32, 16)) == routes(
        corpus, minhash_candidates=(32, 16)
    )
    spark.catalog.clearCache()  # the minhash path persists shingle frames

    # fold forward: kept docs append to BOTH representations; a second
    # batch (re-crawling a doc kept in batch 1) must route identically
    kept = batch.join(
        incremental_dedup(batch, corpus, "doc_id", "text", ["blk"], 0.3, 3)
        .filter("status = 'kept'"),
        "doc_id",
        "left_semi",
    )
    corpus2 = corpus.unionByName(kept)
    index2 = index.unionByName(
        build_dedup_index(kept, "doc_id", "text", ["blk"], shingle_n=3)
    )
    batch2 = spark.createDataFrame(
        [
            (20, "b", "entirely novel content never seen before today again"),  # re-crawl of 12
            (21, "c", "fresh unrelated material for the second batch run"),
        ],
        "doc_id long, blk string, text string",
    )

    def routes2(c):
        return sorted(
            tuple(r)
            for r in incremental_dedup(
                batch2, c, "doc_id", "text", ["blk"], threshold=0.3, shingle_n=3
            ).collect()
        )

    got = routes2(index2)
    assert got == routes2(corpus2)
    assert ("dup_exact") in {r[1] for r in got}  # 20 hits the folded-in 12


def test_incremental_dedup_bloom_prefilter_equivalent_and_projection_only(spark):
    """The Bloom semi-join reduction of the exact gate is invisible to
    results (false negatives impossible) and adds ZERO exchanges on the
    corpus side — only the fixed build-side aggregates over the batch's
    fingerprints (distinct -> bit positions -> word bit_or -> 1-row map,
    all batch-sized)."""
    from sport_data_pipeline_spark.operators.dedup import (
        content_fingerprint,
        incremental_dedup,
    )
    from sport_data_pipeline_spark.operators.sketches import bloom_build, bloom_probe

    corpus = spark.createDataFrame(
        [
            (0, "b", "the quick brown fox jumps over the lazy dog"),
            (2, "b", "completely different words about spark engines"),
            (4, "c", "another block entirely with its own phrasing here"),
        ],
        "doc_id long, blk string, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "b", "the quick brown fox jumps over the lazy dog"),
            (11, "b", "the quick brown fox jumps over the lazy cat"),
            (12, "b", "entirely novel content never seen before today again"),
        ],
        "doc_id long, blk string, text string",
    )

    def routes(**kw):
        return sorted(
            tuple(r)
            for r in incremental_dedup(
                batch, corpus, "doc_id", "text", ["blk"], threshold=0.3, shingle_n=3, **kw
            ).collect()
        )

    on, off = routes(bloom_m_bits=65536), routes(bloom_m_bits=None)
    assert on == off
    assert {r[1] for r in on} == {"dup_exact", "near_dup", "kept"}

    def shuffles(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sum(
            1
            for ln in plan.splitlines()
            if "Exchange" in ln and "BroadcastExchange" not in ln
        )

    def plan_of(**kw):
        return incremental_dedup(
            batch, corpus, "doc_id", "text", ["blk"], threshold=0.3, shingle_n=3, **kw
        )

    # the probe folds the collected word table into the plan as a literal
    # array (the Spark runtime-filter shape), so enabling the Bloom adds
    # ZERO exchanges anywhere in the routing plan — the build's word
    # aggregation runs as its own tiny job at plan-construction time
    assert shuffles(plan_of(bloom_m_bits=65536)) == shuffles(
        plan_of(bloom_m_bits=None)
    )

    # and the probe in isolation is a literal projection over the corpus
    # scan: zero exchanges, zero joins
    bfp = batch.select("doc_id", content_fingerprint("text").alias("__fp"))
    cfp = corpus.select("doc_id", content_fingerprint("text").alias("__fp"))
    words = bloom_build(bfp, "__fp")
    probed = bloom_probe(cfp, "__fp", words).filter("bloom_pass")
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan, plan
