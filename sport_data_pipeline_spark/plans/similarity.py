"""Similarity / dedup / entity-resolution query pack.

Covers SURVEY.md §2.3 J8 (fuzzy entity resolution) and the LLM-pipeline
operators: n-gram Jaccard near-dup, MinHash-LSH, SimHash, and cosine top-k
over the embeddings table. MinHash signatures hash with Spark's xxhash64,
which has no DuckDB twin, so the MinHash queries are oracled by exact
all-pairs Jaccard SQL (valid because measured LSH recall is 1.0 on these
corpora); the SimHash query runs on the md5-based portable signature. Their
*semantics* are also unit-tested against brute-force Jaccard/Hamming in
tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..catalog import load_table
from ..checkpointing import stage_checkpoint
from ..operators.dedup import jaccard_pairs, minhash_jaccard_pairs
from ..operators.entity import resolve_entities
from ..operators.similarity import (
    build_ivf_index,
    cosine_topk,
    cosine_topk_arrow,
    embedding_near_dup,
    ivf_topk,
)
from ..streaming.idempotent import compact_epochs, epoch_read, epoch_write
from .registry import query
from .textops import _NORM_SQL


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# J8: blocked fuzzy entity resolution with 90/75 threshold routing
# (src/common/entity_mapper.py:41-154).
# ---------------------------------------------------------------------------

_N = _NORM_SQL.format(col="c_name")
_E = _NORM_SQL.format(col="s_name")

FUZZY_ORACLE = f"""
WITH n AS (SELECT c_custkey, c_nationkey, {_N} AS nm FROM customer),
e AS (SELECT s_suppkey, s_nationkey, {_E} AS em FROM supplier),
pairs AS (
  SELECT n.c_custkey, e.s_suppkey,
         CASE WHEN GREATEST(LENGTH(nm), LENGTH(em)) = 0 THEN 100.0
              ELSE 100.0 * (1.0 - CAST(levenshtein(nm, em) AS DOUBLE)
                                  / GREATEST(LENGTH(nm), LENGTH(em))) END / 1 AS score
  FROM n JOIN e ON n.c_nationkey = e.s_nationkey
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY score DESC, s_suppkey) AS rn
  FROM pairs
)
SELECT c.c_custkey,
       CASE WHEN b.score >= 75.0 THEN b.s_suppkey END AS matched_id,
       b.score AS score,
       CASE WHEN b.score IS NULL THEN 'new'
            WHEN b.score >= 90.0 THEN 'merged'
            WHEN b.score >= 75.0 THEN 'review'
            ELSE 'new' END AS route
FROM customer c
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON c.c_custkey = b.c_custkey
"""


@query("fuzzy_entity_match", survey="J8,J9,F2", oracle=FUZZY_ORACLE)
def fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers fuzzily resolved against suppliers, blocked by nation only.

    Nation-only blocking (25 blocks) scores every in-block probe, which is
    superlinear by construction (measured 18.1× at 10× data, SCALE.md §8)
    — kept as the exact oracle twin; the headline/driver J8 representative
    is ``fuzzy_entity_match_blocked`` (composite nation+name-tail blocks,
    measured flat), the plan that survives 100×."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    return resolve_entities(
        new=c,
        existing=s,
        new_id="c_custkey",
        existing_id="s_suppkey",
        block_on=[("c_nationkey", "s_nationkey")],
        match_fields=[("c_name", "s_name")],
        auto_threshold=90.0,
        review_threshold=75.0,
    )


# Composite blocking: nation AND the 2-char tail of the entity name. A
# second block key is the standard scale lever (within-block pairs shrink
# ~100×/key here: 25 nations × 100 tails); the routing tradeoff — a best
# candidate outside the shared tail is not considered — is part of the
# operator's declared semantics, and the oracle mirrors the same composite
# key, so candidate pruning regressions break the hash-match.
FUZZY_BLOCKED_ORACLE = f"""
WITH n AS (SELECT c_custkey, c_nationkey, right(c_name, 2) AS tl, {_N} AS nm FROM customer),
e AS (SELECT s_suppkey, s_nationkey, right(s_name, 2) AS tl, {_E} AS em FROM supplier),
pairs AS (
  SELECT n.c_custkey, e.s_suppkey,
         CASE WHEN GREATEST(LENGTH(nm), LENGTH(em)) = 0 THEN 100.0
              ELSE 100.0 * (1.0 - CAST(levenshtein(nm, em) AS DOUBLE)
                                  / GREATEST(LENGTH(nm), LENGTH(em))) END / 1 AS score
  FROM n JOIN e ON n.c_nationkey = e.s_nationkey AND n.tl = e.tl
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY score DESC, s_suppkey) AS rn
  FROM pairs
),
SELECTED AS (SELECT * FROM best WHERE rn = 1)
SELECT c.c_custkey,
       CASE WHEN b.score >= 75.0 THEN b.s_suppkey END AS matched_id,
       b.score AS score,
       CASE WHEN b.score IS NULL THEN 'new'
            WHEN b.score >= 90.0 THEN 'merged'
            WHEN b.score >= 75.0 THEN 'review'
            ELSE 'new' END AS route
FROM customer c
LEFT JOIN SELECTED b ON c.c_custkey = b.c_custkey
"""


@query(
    "fuzzy_entity_match_blocked", survey="J8,J9,skew", oracle=FUZZY_BLOCKED_ORACLE, headline=True
)
def fuzzy_entity_match_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-blocked fuzzy resolution (nation + name tail)."""
    c = _t(spark, sf_dir, "customer").withColumn("c_tail", F.substring("c_name", -2, 2))
    s = _t(spark, sf_dir, "supplier").withColumn("s_tail", F.substring("s_name", -2, 2))
    return resolve_entities(
        new=c,
        existing=s,
        new_id="c_custkey",
        existing_id="s_suppkey",
        block_on=[("c_nationkey", "s_nationkey"), ("c_tail", "s_tail")],
        match_fields=[("c_name", "s_name")],
        auto_threshold=90.0,
        review_threshold=75.0,
    )


# ---------------------------------------------------------------------------
# n-gram (token-set) Jaccard near-dup with blocking.
# ---------------------------------------------------------------------------

# Trigram word shingles: on a small-vocabulary corpus unigram token sets
# make nearly every pair "similar" (Jaccard ≈ 1) — shingles restore
# discriminative power, which is also why MinHash uses them.
JACCARD_ORACLE = """
WITH t AS (
  SELECT doc_id, lang, source,
         list_distinct([ concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
                         for i in range(1, greatest(len(toks) - 2, 0) + 1) ]) AS sh
  FROM (SELECT doc_id, lang, source,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents)
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
              THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(a.sh || b.sh))
              ELSE 0.0 END AS jaccard
  FROM t a JOIN t b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5
"""


@query("ngram_jaccard_neardup", survey="dedup-jaccard", oracle=JACCARD_ORACLE)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact blocked all-pairs Jaccard (the VERIFY-stage shape).

    Candidates here are ~quadratic within blocks (measured 14.5× at 10×
    data, SCALE.md §8), so as a standalone it is the small-corpus / oracle
    twin; the 100×-safe headline path is ``minhash_jaccard_neardup`` below,
    which feeds this same verifier from LSH candidates."""
    d = _t(spark, sf_dir, "documents")
    return jaccard_pairs(
        d, "doc_id", "text", block_cols=["lang", "source"], threshold=0.5, shingle_n=3
    )


# Scale-safe composite: the SAME output contract (and thus the same exact
# all-pairs DuckDB oracle) as ngram_jaccard_neardup, but candidates come
# from banded MinHash-LSH buckets instead of the blocked all-pairs
# self-join — the swap documented on operators/dedup.incremental_dedup,
# now registered as the headline near-dup path. LSH recall vs the exact
# oracle is 1.0 on this corpus at sf0.001/0.01/0.1 (deterministic given
# xxhash64; banding knee 0.25 sits far below the true pairs), so any
# banding/bucketing/verify regression breaks the hash-match.
@query(
    "minhash_jaccard_neardup",
    survey="dedup-jaccard,dedup-minhash-lsh",
    oracle=JACCARD_ORACLE,
    headline=True,
)
def minhash_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate generation feeding the exact-Jaccard verifier."""
    d = _t(spark, sf_dir, "documents")
    return minhash_jaccard_pairs(
        d,
        "doc_id",
        "text",
        block_cols=["lang", "source"],
        threshold=0.5,
        shingle_n=3,
        num_hashes=32,
        bands=16,
    )


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup without block keys (minhash_jaccard_pairs with
# block_cols=()) and SimHash near-dup, each against an exact all-pairs SQL
# oracle; semantics also unit-tested in tests/test_dedup.py.
# ---------------------------------------------------------------------------


# MinHash-LSH is an approximation of exact all-pairs Jaccard, but on these
# corpora its recall is exactly 1.0 (measured sf0.001/0.01/0.1: 28/28,
# 25/25, 256/256 pairs, zero extras — near-dups here sit far above the
# 8-band/4-row S-curve knee, and xxhash64 makes the outcome deterministic),
# so the exact all-pairs trigram-Jaccard SQL is a true oracle: any banding,
# bucketing, or verification regression breaks the hash-match.
MINHASH_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_distinct([ concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
                         for i in range(1, greatest(len(toks) - 2, 0) + 1) ]) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents)
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
              THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / len(list_distinct(a.sh || b.sh))
              ELSE 0.0 END AS jaccard
  FROM t a JOIN t b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.7
"""


# Not headline: the family's bench representative is the composite
# minhash_jaccard_neardup (the same operator, with block keys);
# keeping both in the headline set double-counted the heaviest family and
# maximized the official total's exposure to co-tenant noise (r5 verdict).
@query("minhash_neardup", survey="dedup-minhash-lsh", oracle=MINHASH_ORACLE)
def minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return minhash_jaccard_pairs(
        d, "doc_id", "text", threshold=0.7, shingle_n=3, num_hashes=32, bands=8,
        max_bucket_size=100,
    )


# Registered in the pigeonhole-guaranteed regime (hamming ≤ 3 over 4
# chunks ⇒ chunk blocking is lossless), on the md5-based portable simhash,
# so exact all-pairs Hamming SQL is a true oracle: the signature
# construction, chunk blocking, and verification all must agree. (At
# hamming ≤ 12 chunk blocking recalls only ~13% of pairs on this corpus —
# that regime is candidate mining, not dedup, and stays unregistered.)
SIMHASH_ORACLE = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
th AS (
  SELECT doc_id, [ ('0x' || substr(md5(tok), 1, 15))::BIGINT for tok in t ] AS hs FROM toks
),
sigs AS (
  SELECT doc_id,
         CAST(list_sum([ CASE WHEN list_sum([ CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END
                                              for h in hs ]) > 0
                              THEN (1::BIGINT << b) ELSE 0::BIGINT END
                         for b in generate_series(0, 59) ]) AS BIGINT) AS sig
  FROM th
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
"""


@query("simhash_neardup", survey="dedup-simhash", oracle=SIMHASH_ORACLE)
def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_near_dup_portable

    d = _t(spark, sf_dir, "documents")
    return simhash_near_dup_portable(d, "doc_id", "text", max_hamming=3)


# ---------------------------------------------------------------------------
# Brute-force cosine top-k over embeddings (exact ANN baseline).
# ---------------------------------------------------------------------------

EMBEDDING_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cn
  FROM embeddings
),
pairs AS (
  SELECT query_id, neighbor_id,
         CASE WHEN qn > 0 AND cn > 0
              THEN list_sum(list_transform(list_zip(qv, cv),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (qn * cn)
              ELSE 0.0 END AS cosine
  FROM q, c
  WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
"""


@query("embedding_topk", survey="ann-cosine", oracle=EMBEDDING_TOPK_ORACLE, headline=True)
def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    # 8 queries × corpus ⇒ small pair count: the fold path's per-pair cost
    # never dominates, and it avoids the unrolled expression's fixed
    # compile overhead. Large all-pairs workloads pass dim= (see
    # embedding_cosine_neardup: 26× at 2M pairs).
    return cosine_topk(queries, emb, "vec_id", "vec_id", k=5)


# ---------------------------------------------------------------------------
# IVF approximate top-k (KMeans coarse quantizer — approximate by design,
# so no SQL oracle; recall vs the exact baseline is unit-tested in
# tests/test_similarity.py). The quantizer is fit at WRITE time:
# build_ivf_index persists the corpus partitioned by list id (a one-time
# cost, cached per dataset), and the query probes it with a static __list
# filter so the scan partition-prunes — KMeans never runs in the query
# path after the first call.
# ---------------------------------------------------------------------------


def _ivf_index_path(spark: SparkSession, sf_dir: str, n_lists: int) -> str:
    import os

    tag = sf_dir.strip("/").replace("/", "_")
    # The source file's (size, mtime_ns) is part of the cache key: the test
    # corpus has been regenerated in place before, and an index built from
    # the OLD embeddings would silently skew every probe (and the recall
    # contract) against the new data. Nanosecond mtime so a same-second,
    # same-size rewrite still changes the key.
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    epoch = f"{st.st_size}_{st.st_mtime_ns}"
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".ivf_cache")
    prefix = f"{tag}_l{n_lists}_"
    path = f"{root}/{prefix}{epoch}"
    if not os.path.exists(f"{path}/_SUCCESS"):
        # prune indexes of older epochs of the same dataset — each is a full
        # partitioned copy of the corpus and would otherwise accrue forever
        if os.path.isdir(root):
            import shutil

            for d in os.listdir(root):
                if d.startswith(prefix) and d != f"{prefix}{epoch}":
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        emb = _t(spark, sf_dir, "embeddings")
        build_ivf_index(emb, "vec_id", path, n_lists=n_lists)
    return path


@query("ivf_embedding_topk", survey="ann-cosine-ivf", oracle=None)
def ivf_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    index = _ivf_index_path(spark, sf_dir, n_lists=8)
    return ivf_topk(queries, index, "vec_id", "vec_id", k=5, n_probe=2, dim=64)


# IVF is approximate by design, so its RESULT has no SQL oracle — but its
# recall CONTRACT does. This query runs the exact baseline and the IVF probe
# side by side in Spark, counts overlap, and emits a single verdict row whose
# recall_ok flag is computed against a literal bound. The oracle is the
# expected verdict (n_queries from the data, recall_ok TRUE), so the hash
# matches only when the IVF path actually clears the bound — the approximate
# operator becomes driver-checkable without pretending it is exact.
IVF_RECALL_ORACLE = """
SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
       5 AS k,
       CAST(0.6 AS DOUBLE) AS recall_bound,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 8
"""


@query("ivf_topk_recall", survey="ann-cosine-ivf", oracle=IVF_RECALL_ORACLE)
def ivf_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 contract check for the IVF index (n_probe=4 of 8 lists;
    measured recall 0.82–0.85 at every test SF, so the 0.6 bound holds with
    margin under data regeneration).

    hits = |IVF top-5 ∩ exact top-5| summed over the probe queries;
    recall_ok ⇔ hits ≥ bound · n_queries · k. Integer/boolean output only,
    so the comparison is hash-exact and robust to data regeneration (the
    bound, not a data-dependent recall value, is the contract).
    """
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    index = _ivf_index_path(spark, sf_dir, n_lists=8)
    exact = cosine_topk(queries, emb, "vec_id", "vec_id", k=5)
    approx = ivf_topk(queries, index, "vec_id", "vec_id", k=5, n_probe=4, dim=64)
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    nq = queries.agg(F.countDistinct("vec_id").alias("n_queries"))
    bound = 0.6
    return (
        nq.crossJoin(F.broadcast(hits))
        .select(
            "n_queries",
            F.lit(5).alias("k"),
            F.lit(bound).alias("recall_bound"),
            (
                F.col("__hits").cast("double")
                >= F.lit(bound) * F.col("n_queries") * F.lit(5)
            ).alias("recall_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: exact all-pairs above a cosine threshold.
# Both engines compute the dot product as a left fold over doubles, so the
# threshold cut selects bit-identical pair sets.
# ---------------------------------------------------------------------------

EMBEDDING_NEARDUP_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) AS cosine
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE a.nrm > 0 AND b.nrm > 0
)
SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.4
"""


@query("embedding_cosine_neardup", survey="dedup-embedding-cosine", oracle=EMBEDDING_NEARDUP_ORACLE)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs of embeddings whose cosine similarity is >= 0.4.

    Runs the Arrow-vectorized grid pass (bit-identical to the expression
    path — the fold-order-preserving accumulation, measured 40× faster at
    sf0.1; the expression twin stays unit-tested for agreement)."""
    from ..operators.similarity import embedding_near_dup_arrow

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_arrow(emb, "vec_id", threshold=0.4)


# ---------------------------------------------------------------------------
# Arrow/numpy brute-force top-k: the retrieval throughput path (BLAS matmul
# per Arrow batch). BLAS pairwise summation differs from the SQL engines'
# sequential fold only at ~1 ulp, far below the gaps between adjacent
# ranked cosines here, so the (query, neighbor, rank) projection IS
# oracle-checkable — the cosine VALUE column is what has no cross-engine
# twin and is dropped from the registered output. Value-level agreement
# with the exact operator stays unit-tested in tests/test_similarity.py.
# ---------------------------------------------------------------------------

EMBEDDING_TOPK_ARROW_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS neighbor_id, embedding AS cv,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cn
  FROM embeddings
),
pairs AS (
  SELECT query_id, neighbor_id,
         CASE WHEN qn > 0 AND cn > 0
              THEN list_sum(list_transform(list_zip(qv, cv),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (qn * cn)
              ELSE 0.0 END AS cosine
  FROM q, c
  WHERE query_id <> neighbor_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
"""


@query("embedding_topk_arrow", survey="ann-cosine-arrow", oracle=EMBEDDING_TOPK_ARROW_ORACLE)
def embedding_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk_arrow(queries, emb, "vec_id", "vec_id", k=5).select(
        "query_id", "neighbor_id", "rank"
    )


# ---------------------------------------------------------------------------
# Near-dup clusters: connected components over the MinHash pair graph — the
# iterative-algorithm class. The oracle recomputes the exact pair graph
# (all-pairs trigram Jaccard, valid because measured LSH recall is 1.0 on
# these corpora) and takes its transitive closure with a recursive CTE, so
# the banding, verification, AND the iterative label propagation must all
# agree for the hash-match to hold.
# ---------------------------------------------------------------------------

NEARDUP_CLUSTERS_ORACLE = """
WITH RECURSIVE
t AS (
  SELECT doc_id,
         list_distinct([ concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
                         for i in range(1, greatest(len(toks) - 2, 0) + 1) ]) AS sh
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents)
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM t a JOIN t b ON a.doc_id < b.doc_id
  WHERE CASE WHEN len(list_distinct(a.sh || b.sh)) > 0
             THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                  / len(list_distinct(a.sh || b.sh))
             ELSE 0.0 END >= 0.7
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS id, src AS root FROM edges
  UNION
  SELECT e.dst AS id, r.root FROM reach r JOIN edges e ON e.src = r.id
)
SELECT CAST(id AS BIGINT) AS doc_id, CAST(MIN(root) AS BIGINT) AS cluster_id
FROM reach
GROUP BY id
"""


@query("neardup_clusters", survey="dedup-clusters,iterative", oracle=NEARDUP_CLUSTERS_ORACLE)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster id (= min member doc_id) for every document in a near-dup
    pair, via iterative min-label propagation on the pair graph. Makes
    multi-way duplicate groups consistent: a–b and b–c land in ONE cluster
    even when a–c was never a direct pair."""
    from ..operators.graph import connected_components

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_jaccard_pairs(
        d, "doc_id", "text", threshold=0.7, shingle_n=3, num_hashes=32, bands=8,
        max_bucket_size=100,
    )
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster_id"),
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization of embeddings (the vector-compression step a
# 100 TB ANN index runs at write time: 4 bytes/dim → 1 byte/dim). Codes and
# reconstruction use the same closed-form expression tree in both engines
# (floor(x+0.5) rounding — identical ties behavior everywhere), so the
# per-vector reconstruction-error columns are bit-exact, and the in-query
# error bound (max_abs_err <= scale/2) is asserted as a BOOLEAN the oracle
# recomputes — a cross-engine contract on the quantizer's guarantee.
# ---------------------------------------------------------------------------

QUANTIZE_ORACLE = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
s AS (
  SELECT vec_id, e, list_min(e) AS mn,
         (list_max(e) - list_min(e)) / 255 AS scale
  FROM v
),
err AS (
  SELECT vec_id, mn, scale,
         CASE WHEN scale > 0 THEN
           list_max(list_transform(e,
             x -> abs(mn + floor((x - mn) / scale + 0.5) * scale - x)))
         ELSE 0.0 END AS max_abs_err
  FROM s
)
SELECT vec_id, mn AS qmin, scale AS qscale, max_abs_err,
       max_abs_err <= scale / 2 + 1e-12 AS within_bound
FROM err
"""


@query("embedding_quantize_error", survey="llm-quantize,ann-compression", oracle=QUANTIZE_ORACLE)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar-quantization parameters and reconstruction
    error. Map-only (no shuffle); the within_bound column is the
    quantizer's correctness guarantee checked in both engines."""
    e = _t(spark, sf_dir, "embeddings")
    ed = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", ed.alias("e"))
    mn = F.array_min(F.col("e"))
    scale = (F.array_max(F.col("e")) - mn) / 255
    s = base.select("vec_id", "e", mn.alias("mn"), scale.alias("scale"))
    err = F.when(
        F.col("scale") > 0,
        F.array_max(
            F.transform(
                F.col("e"),
                lambda x: F.abs(
                    F.col("mn")
                    + F.floor((x - F.col("mn")) / F.col("scale") + 0.5) * F.col("scale")
                    - x
                ),
            )
        ),
    ).otherwise(F.lit(0.0))
    out = s.select("vec_id", F.col("mn").alias("qmin"), F.col("scale").alias("qscale"), err.alias("max_abs_err"))
    return out.withColumn(
        "within_bound", F.col("max_abs_err") <= F.col("qscale") / 2 + 1e-12
    )


# ---------------------------------------------------------------------------
# Hard-negative mining: top-k most-similar corpus vectors whose label differs
# from the query's — contrastive-training negatives nearest the decision
# boundary. Same fold dot product on both engines, so values hash-match.
# ---------------------------------------------------------------------------

HARD_NEGATIVE_ORACLE = """
WITH q AS (
  SELECT vec_id AS query_id, label AS query_label, embedding AS qv,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
  FROM embeddings WHERE vec_id < 8
),
c AS (
  SELECT vec_id AS neighbor_id, label AS neighbor_label, embedding AS cv,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cn
  FROM embeddings
),
pairs AS (
  SELECT query_id, query_label, neighbor_id, neighbor_label,
         CASE WHEN qn > 0 AND cn > 0
              THEN list_sum(list_transform(list_zip(qv, cv),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (qn * cn)
              ELSE 0.0 END AS cosine
  FROM q, c
  WHERE query_label <> neighbor_label
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
  FROM pairs
)
SELECT query_id, query_label, neighbor_id, neighbor_label, cosine, rank
FROM ranked WHERE rank <= 5
"""


@query("hard_negative_mining", survey="llm-hard-negatives,ann-cosine", oracle=HARD_NEGATIVE_ORACLE)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 label-mismatched nearest neighbors for the probe query set."""
    from ..operators.similarity import hard_negative_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return hard_negative_topk(queries, emb, "vec_id", "vec_id", "label", k=5)


# ---------------------------------------------------------------------------
# Product-quantization ANN: write-time per-subspace codebooks + encoded
# codes table (epoch-keyed cache, same discipline as the IVF index), ADC
# shortlist over the codes, exact re-rank of the shortlist. Like IVF, the
# result is approximate so the RESULT has no SQL oracle — the recall
# CONTRACT does, as a constant verdict row.
# ---------------------------------------------------------------------------

def _pq_index_path(spark: SparkSession, sf_dir: str, m: int, codes: int) -> str:
    """Epoch-keyed PQ index cache: <path>/codes.parquet (vec_id, codes) and
    <path>/_pq_codebooks.parquet (j, c, centroid). Rebuilt only when the
    source embeddings file changes (size+mtime_ns key), pruning older
    epochs — identical policy to _ivf_index_path."""
    import os

    from ..operators.similarity import pq_encode, train_pq

    tag = sf_dir.strip("/").replace("/", "_")
    st = os.stat(os.path.join(sf_dir, "embeddings.parquet"))
    epoch = f"{st.st_size}_{st.st_mtime_ns}"
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".pq_cache")
    prefix = f"{tag}_m{m}c{codes}_"
    path = f"{root}/{prefix}{epoch}"
    if not os.path.exists(f"{path}/codes.parquet/_SUCCESS"):
        if os.path.isdir(root):
            import shutil

            for d in os.listdir(root):
                if d.startswith(prefix) and d != f"{prefix}{epoch}":
                    shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        emb = _t(spark, sf_dir, "embeddings")
        books = train_pq(emb, "vec_id", m=m, codes=codes, dim=64)
        rows = [
            (j, c, cent)
            for j, book in enumerate(books)
            for c, cent in enumerate(book)
        ]
        spark.createDataFrame(
            rows, "j int, c int, centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_pq_codebooks.parquet")
        pq_encode(emb, "vec_id", books, dim=64).write.mode("overwrite").parquet(
            f"{path}/codes.parquet"
        )
    return path


def _pq_load_codebooks(spark: SparkSession, path: str, m: int, codes: int) -> list:
    # Index metadata: m·codes·(dim/m) doubles — kilobytes, independent of
    # corpus size. Collecting it to the driver is the PQ analogue of the
    # IVF probe-list collect (disclosed, bounded by construction).
    rows = spark.read.parquet(f"{path}/_pq_codebooks.parquet").collect()
    books = [[None] * codes for _ in range(m)]
    for r in rows:
        books[r["j"]][r["c"]] = [float(v) for v in r["centroid"]]
    missing = [(j, c) for j in range(m) for c in range(codes) if books[j][c] is None]
    if missing:  # truncated/foreign index artifact — rebuildable, so say so
        raise ValueError(
            f"PQ codebook file at {path} is incomplete (missing {missing[:4]}...); "
            "delete the cache dir to force a rebuild"
        )
    return books


PQ_RECALL_ORACLE = """
SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_queries,
       5 AS k,
       CAST(0.6 AS DOUBLE) AS recall_bound,
       TRUE AS recall_ok
FROM embeddings WHERE vec_id < 8
"""


@query("pq_topk_recall", survey="ann-cosine-pq", oracle=PQ_RECALL_ORACLE)
def pq_topk_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 contract for PQ-ADC top-k (m=16 subspaces × 16 codes over
    the 64-dim embeddings — an 8-byte code per 256-byte vector, 32x
    smaller scan side), shortlist 100, exact re-rank. Measured recall
    0.85–1.0 at every test SF, so the 0.6 bound holds with margin. Same
    verdict-row pattern as ivf_topk_recall: the hash matches the oracle's
    constant row only when measured recall clears the bound.
    """
    from ..operators.similarity import pq_topk

    m, codes = 16, 16
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    path = _pq_index_path(spark, sf_dir, m, codes)
    books = _pq_load_codebooks(spark, path, m, codes)
    code_table = spark.read.parquet(f"{path}/codes.parquet")
    exact = cosine_topk(queries, emb, "vec_id", "vec_id", k=5)
    approx = pq_topk(
        queries, code_table, emb, "vec_id", "vec_id", books, k=5, shortlist=100, dim=64
    )
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    nq = queries.agg(F.countDistinct("vec_id").alias("n_queries"))
    bound = 0.6
    return nq.crossJoin(F.broadcast(hits)).select(
        "n_queries",
        F.lit(5).alias("k"),
        F.lit(bound).alias("recall_bound"),
        (
            F.col("__hits").cast("double") >= F.lit(bound) * F.col("n_queries") * F.lit(5)
        ).alias("recall_ok"),
    )


# ---------------------------------------------------------------------------
# Incremental batch-vs-corpus dedup: the steady-state ingestion shape (new
# crawl batch checked against the already-deduplicated corpus; no corpus
# self-join). Batch/corpus split is a deterministic id rule: century blocks
# alternate sides (the generator plants near-dup pairs 100 ids apart, so
# they land on opposite sides), and every 17th doc appears on BOTH sides —
# the re-crawl case the exact gate exists for.
# ---------------------------------------------------------------------------

_INCR_BATCH = "(doc_id // 100) % 2 = 1"
_INCR_CORPUS = "(doc_id // 100) % 2 = 0 OR doc_id % 17 = 0"

INCR_DEDUP_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, source,
         list_distinct([ concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
                         for i in range(1, greatest(len(toks) - 2, 0) + 1) ]) AS sh,
         md5({_NORM_SQL.format(col="text")}) AS fp
  FROM (SELECT doc_id, lang, source, text,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents)
),
b AS (SELECT * FROM t WHERE {_INCR_BATCH}),
c AS (SELECT * FROM t WHERE {_INCR_CORPUS}),
ex AS (
  SELECT b.doc_id AS doc_id, MIN(c.doc_id) AS em
  FROM b JOIN c ON b.fp = c.fp GROUP BY 1
),
near AS (
  SELECT b.doc_id AS doc_id, MIN(c.doc_id) AS nm
  FROM b JOIN c ON b.lang = c.lang AND b.source = c.source
  WHERE len(list_distinct(b.sh || c.sh)) > 0
    AND CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
        / len(list_distinct(b.sh || c.sh)) >= 0.5
  GROUP BY 1
)
SELECT b.doc_id,
       CASE WHEN ex.em IS NOT NULL THEN 'dup_exact'
            WHEN near.nm IS NOT NULL THEN 'near_dup'
            ELSE 'kept' END AS status,
       COALESCE(ex.em, near.nm) AS match_id
FROM b
LEFT JOIN ex ON b.doc_id = ex.doc_id
LEFT JOIN near ON b.doc_id = near.doc_id
ORDER BY b.doc_id
"""


@query(
    "incremental_dedup_docs",
    survey="dedup-incremental,U3",
    oracle=INCR_DEDUP_ORACLE,
    headline=True,
)
def incremental_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route every batch doc: dup_exact / near_dup / kept, with the
    smallest matching corpus id. See operators/dedup.incremental_dedup for
    the two one-sided gates and the 100 TB candidate-generator swap."""
    from ..operators.dedup import incremental_dedup

    d = _t(spark, sf_dir, "documents")
    batch = d.filter(F.expr(_INCR_BATCH.replace("//", "div")))
    corpus = d.filter(F.expr(_INCR_CORPUS.replace("//", "div")))
    return incremental_dedup(
        batch, corpus, "doc_id", "text",
        block_cols=["lang", "source"], threshold=0.5, shingle_n=3,
    ).orderBy("doc_id")


@query(
    "incremental_dedup_minhash",
    survey="dedup-incremental,dedup-minhash-lsh,U3",
    oracle=INCR_DEDUP_ORACLE,
)
def incremental_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-corpus-scale variant of ``incremental_dedup_docs``: the
    near gate's candidates come from a one-sided banded-MinHash bucket
    join (batch bands x corpus bands) instead of the blocked batch x
    corpus cross — the swap the base operator documents for 100x. The
    oracle is the SAME exact all-pairs SQL: the routing (including the
    minimum matching corpus id) must be identical, i.e. measured LSH
    recall 1.0 on this corpus family."""
    from ..operators.dedup import incremental_dedup

    d = _t(spark, sf_dir, "documents")
    batch = d.filter(F.expr(_INCR_BATCH.replace("//", "div")))
    corpus = d.filter(F.expr(_INCR_CORPUS.replace("//", "div")))
    return incremental_dedup(
        batch, corpus, "doc_id", "text",
        block_cols=["lang", "source"], threshold=0.5, shingle_n=3,
        minhash_candidates=(32, 16),
    ).orderBy("doc_id")


@query(
    "incremental_dedup_indexed",
    survey="dedup-incremental,U3",
    oracle=INCR_DEDUP_ORACLE,
    headline=True,
)
def incremental_dedup_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE-TIME-INDEX variant of ``incremental_dedup_docs``: the
    corpus signature index (``build_dedup_index`` — fingerprint + shingle
    sets, persisted parquet) is built once and the batch routes against
    it, so corpus TEXT is never read or re-shingled at batch time — the
    configuration an unbounded ingest loop runs at full corpus scale
    (SCALE.md §10a). The oracle is the SAME exact all-pairs SQL: routing
    through the persisted index must be bit-identical to routing against
    the raw corpus."""
    import shutil
    import tempfile

    from ..operators.dedup import build_dedup_index, incremental_dedup

    d = _t(spark, sf_dir, "documents")
    batch = d.filter(F.expr(_INCR_BATCH.replace("//", "div")))
    corpus = d.filter(F.expr(_INCR_CORPUS.replace("//", "div")))
    tmp = tempfile.mkdtemp(prefix="sdp_dedup_idx_")
    try:
        build_dedup_index(
            corpus, "doc_id", "text", ["lang", "source"], shingle_n=3
        ).write.parquet(f"{tmp}/index")
        index = spark.read.parquet(f"{tmp}/index")
        # distributed materialization (r11, same reasoning as the
        # e2e_daily_pipeline fix): stage_checkpoint severs the lineage from
        # the tmp dirs `finally` deletes, keeping the routing table on
        # executors instead of shipping every row through the driver.
        return stage_checkpoint(
            incremental_dedup(
                batch, index, "doc_id", "text",
                block_cols=["lang", "source"], threshold=0.5, shingle_n=3,
            )
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                "status",
                F.col("match_id").cast("long").alias("match_id"),
            )
            .orderBy("doc_id")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# SemDeDup-STYLE semantic dedup (adaptation of Abbas et al. 2023,
# "SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication"): keep ONE document per semantic-duplicate cluster in
# embedding space. Deviations from the paper, deliberately: clusters are
# the TRANSITIVE CLOSURE of cosine>=threshold pairs (threshold chaining
# can merge A-B-C where cos(A,C) < threshold), not the paper's k-means
# cells, and the keeper is the min member id, not the
# farthest-from-centroid point. The closure variant is the one whose
# routing is exactly verifiable by SQL (recursive CTE below); the k-means
# cell partitioning half of the paper lives in build_ivf_index, which an
# in-cell variant would compose with. Composes the two tested stages —
# exact block-grid cosine pairs and min-label connected components — into
# the routing artifact a pipeline actually consumes: every vector mapped
# to its cluster keeper. The keeper IS the component label (min member
# id), so no extra shuffle beyond the closure itself.
# ---------------------------------------------------------------------------

SEMANTIC_DEDUP_ORACLE = """
WITH RECURSIVE
v AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE a.nrm > 0 AND b.nrm > 0
    AND list_sum(list_transform(list_zip(a.embedding, b.embedding),
          x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (a.nrm * b.nrm) >= 0.4
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT DISTINCT src AS id, src AS root FROM edges
  UNION
  SELECT e.dst AS id, r.root FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id, MIN(root) AS root FROM reach GROUP BY id)
SELECT e.vec_id,
       CAST(COALESCE(c.root, e.vec_id) AS BIGINT) AS keep_id,
       COALESCE(c.root, e.vec_id) = e.vec_id AS kept
FROM embeddings e
LEFT JOIN comp c ON e.vec_id = c.id
ORDER BY e.vec_id
"""


_INCR_SEMANTIC_SQL = """
WITH b AS (
  SELECT vec_id, embedding AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
  FROM embeddings WHERE vec_id % 5 = 1
),
c AS (
  SELECT vec_id, embedding AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
  FROM embeddings WHERE vec_id % 5 <> 1
),
m AS (
  SELECT b.vec_id, MIN(c.vec_id) AS match_id
  FROM b JOIN c
    ON b.n > 0 AND c.n > 0
   AND list_sum(list_transform(list_zip(b.v, c.v),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (b.n * c.n)
       >= {tau}
  GROUP BY b.vec_id
)
SELECT b.vec_id,
       CASE WHEN m.match_id IS NULL THEN 'kept' ELSE 'semantic_dup' END AS status,
       m.match_id
FROM b LEFT JOIN m ON m.vec_id = b.vec_id
"""

INCR_SEMANTIC_ORACLE = _INCR_SEMANTIC_SQL.format(tau=0.4)
INCR_SEMANTIC_IVF_ORACLE = _INCR_SEMANTIC_SQL.format(tau=0.8)


@query(
    "incremental_semantic_dedup",
    survey="dedup-semantic,dedup-incremental,U3",
    oracle=INCR_SEMANTIC_ORACLE,
    headline=True,
)
def incremental_semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided SEMANTIC dedup of an incoming batch vs the corpus (new
    r7): each batch vector routes to `semantic_dup` (with the smallest
    corpus id at cosine >= 0.4) or `kept` — the SemDeDup criterion in the
    shape an ingest loop needs, completing the incremental family's
    exact / MinHash / signature-index gates for embeddings. Broadcast
    batch, streaming corpus, map-side-combined min aggregation (see
    operators/similarity.incremental_semantic_dedup); the oracle is the
    exact one-sided all-pairs SQL with the same fold cosine."""
    from ..operators.similarity import incremental_semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 5 == 1)
    corpus = emb.filter(F.col("vec_id") % 5 != 1)
    return incremental_semantic_dedup(batch, corpus, "vec_id", "embedding", threshold=0.4)


#: Write-once cell-index cache root. The index content is a pure seeded
#: function of (embeddings data epoch, n_cells, seed) — caching is sound
#: and makes the registered query time the PROBE path, as production
#: does: the k-means fit is paid once at WRITE time (first run on a data
#: epoch), exactly like a real ingest pipeline's index build. Override
#: for tests via $SPARK_GRAFT_CELL_INDEX_CACHE.
_CELL_INDEX_CACHE_ENV = "SPARK_GRAFT_CELL_INDEX_CACHE"
#: Set to any non-empty value to ignore cached epochs and rebuild — the
#: escape hatch for a corpus regenerated in ways the fingerprint could
#: conceivably miss.
_CELL_INDEX_REBUILD_ENV = "SPARK_GRAFT_CELL_INDEX_REBUILD"


def _epoch_cell_index(
    spark: SparkSession,
    sf_dir: str,
    corpus: DataFrame,
    n_cells: int,
    seed: int = 42,
    corpus_token: str = "",
):
    """Load (building once per data epoch) the persisted semantic cell
    index for ``corpus`` — keyed by the embeddings table's
    size + mtime_ns + sampled-content fingerprint plus a caller-supplied
    ``corpus_token`` naming the corpus DEFINITION (e.g. the filter
    expression), so (a) a regenerated test corpus rebuilds instead of
    serving a stale index even when regenerated byte-identical-size
    within one second (st_mtime_ns + first/last-file content sample close
    the seconds-granularity hole), and (b) two differently-filtered
    corpora over the same table can never share an index entry.
    ``$SPARK_GRAFT_CELL_INDEX_REBUILD`` forces a rebuild — built into a
    tmp dir FIRST and swapped in via rename, so the shared entry is never
    deleted before its replacement exists. Concurrent
    builders race safely: build into a pid-suffixed dir, atomically
    rename, loser cleans up."""
    import hashlib
    import os
    import shutil

    from ..operators.similarity import (
        read_semantic_cell_index,
        write_semantic_cell_index,
    )

    def _sample(fp: str) -> bytes:
        # head + MIDDLE + tail bytes. The middle slice is the load-bearing
        # one: a same-size regeneration can leave head (leading id column
        # pages) and tail (footer — list columns carry no min/max stats)
        # byte-identical while every embedding value changed; the middle of
        # the file lands inside the vector data pages.
        sz = os.path.getsize(fp)
        with open(fp, "rb") as fh:
            head = fh.read(1024)
            fh.seek(max(0, sz // 2 - 512))
            mid = fh.read(1024)
            fh.seek(max(0, sz - 1024))
            tail = fh.read(1024)
        return head + mid + tail

    p = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isdir(p):
        parts = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(p)
            for f in fs
            if not f.startswith((".", "_"))
        )
        size = sum(os.stat(x).st_size for x in parts)
        mtime = max((os.stat(x).st_mtime_ns for x in parts), default=0)
        sample = b"".join(_sample(x) for x in (parts[:1] + parts[-1:]))
    else:
        st = os.stat(p)
        size, mtime = st.st_size, st.st_mtime_ns
        sample = _sample(p)
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{size}|{mtime}|{n_cells}|{seed}|{corpus_token}|v3".encode()
        + sample
    ).hexdigest()
    root = os.environ.get(_CELL_INDEX_CACHE_ENV, "/tmp/sdp_cell_index_cache")
    path = os.path.join(root, key)
    force = bool(os.environ.get(_CELL_INDEX_REBUILD_ENV))
    if force or not os.path.isdir(path):
        os.makedirs(root, exist_ok=True)
        # build-into-tmp first in EVERY case: a force-rebuild must never
        # delete the shared entry before its replacement exists (another
        # session may be mid-scan on it) — swap via rename, then drop the
        # displaced tree (open handles on POSIX stay readable).
        tmp = f"{path}.build{os.getpid()}"
        write_semantic_cell_index(
            corpus, tmp, "vec_id", "embedding", n_cells=n_cells, seed=seed
        )
        if force and os.path.isdir(path):
            old = f"{path}.old{os.getpid()}"
            try:
                os.rename(path, old)
            except OSError:
                old = None
            try:
                os.rename(tmp, path)
            except OSError:  # concurrent replacement won; theirs is fresh too
                shutil.rmtree(tmp, ignore_errors=True)
            if old:
                shutil.rmtree(old, ignore_errors=True)
        else:
            try:
                os.rename(tmp, path)
            except OSError:  # another process won the race; its index is identical
                shutil.rmtree(tmp, ignore_errors=True)
    return read_semantic_cell_index(spark, path)


@query(
    "incremental_semantic_dedup_ivf",
    survey="dedup-semantic,dedup-incremental,ann-cosine-ivf,U3",
    oracle=INCR_SEMANTIC_IVF_ORACLE,
)
def incremental_semantic_dedup_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pre-routed incremental semantic dedup at the production
    threshold (0.8), through the PERSISTED write-time index: the corpus
    is coarse-quantized into k-means cells and written partitioned by
    cell (``write_semantic_cell_index`` — the sink-side builder, same
    discipline as ``build_dedup_index``/``build_ivf_index``), then batch
    vectors route against the LOADED index probing only cells passing
    the LOSSLESS radius bound cos(q,x) <= q_hat.c + r_cell — the
    exact-verify fold then runs on raw vectors, so the routing table is
    bit-identical to the inline-fit and unrouted operators (unit-pinned)
    and to the exact one-sided all-pairs oracle. The index is built ONCE
    per embeddings data epoch (``_epoch_cell_index``) — the query times
    the probe path, the configuration production runs, with the fit paid
    at write time; SCALE.md §8h attributes fit vs probe cost. n_cells
    pinned for cross-run determinism of the cell fit."""
    from ..operators.similarity import route_against_cell_index

    emb = _t(spark, sf_dir, "embeddings")
    batch = emb.filter(F.col("vec_id") % 5 == 1)
    corpus = emb.filter(F.col("vec_id") % 5 != 1)
    assigned, cells = _epoch_cell_index(
        spark, sf_dir, corpus, n_cells=8, corpus_token="vec_id%5!=1"
    )
    return route_against_cell_index(
        batch, assigned, cells, "vec_id", "embedding", threshold=0.8
    )


@query("semantic_dedup", survey="dedup-semantic,iterative,U3", oracle=SEMANTIC_DEDUP_ORACLE)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route every vector to its semantic-cluster keeper (SemDeDup-style;
    see the header comment for the closure/keeper deviations from the
    paper).

    kept=false rows are the ones a training pipeline drops; keep_id is the
    surviving representative (min member id of the cosine-similarity
    component, so the label and the keeper are the same value — the
    closure's output needs no second pass)."""
    from ..operators.graph import connected_components
    from ..operators.similarity import embedding_near_dup_arrow

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_arrow(emb, "vec_id", threshold=0.4)
    cc = connected_components(pairs, "id_a", "id_b")
    return (
        emb.select("vec_id")
        .join(cc, emb["vec_id"] == cc["id"], "left")
        .select(
            "vec_id",
            F.coalesce("component", F.col("vec_id")).cast("long").alias("keep_id"),
            (F.coalesce("component", F.col("vec_id")) == F.col("vec_id")).alias("kept"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Paper-faithful SemDeDup: k-means cells + per-cell pairwise cosine +
# centroid-distance keeper (operators/similarity.semantic_dedup_cells) —
# the 100 TB semantic-dedup path (the closure variant above generates
# exact GLOBAL pairs, measured superlinear at 10×, SCALE.md §8). The cell
# assignment is a seeded k-means, which no SQL engine restates, so the
# oracle is a verdict-row contract (the ivf_topk_recall pattern): the SQL
# derives the row count independently, and the in-Spark checks assert the
# operator's structural invariants over the corpus AUGMENTED with eight
# planted exact clones (vec_id + 1e6 of vec_id < 8 — identical vectors
# land in the same cell and the keeper rule's min-id tie-break can never
# choose the clone, so drops are guaranteed at every SF):
#   keepers_kept:        every keep_id is itself a kept row,
#   routing_consistent:  keep_id == vec_id exactly for kept rows,
#   drops_sound:         every dropped vector has ≥1 within-cell neighbor
#                        at the threshold (verified against an independent
#                        fold-order exact-cosine recomputation in the cell
#                        stage — nothing dropped for nothing; STRICTER
#                        than the former global block-grid sweep, since a
#                        within-cell neighbor is a global neighbor and the
#                        drop rule only ever drops within a cell),
#   planted_dropped:     all eight planted clones were dropped.
# ---------------------------------------------------------------------------

SEMANTIC_CELLS_ORACLE = """
SELECT CAST(COUNT(*) + 8 AS BIGINT) AS n_vectors,
       TRUE AS keepers_kept,
       TRUE AS routing_consistent,
       TRUE AS drops_sound,
       TRUE AS planted_dropped
FROM embeddings
"""

_PLANT_BASE = 1_000_000


@query(
    "semantic_dedup_cells",
    survey="dedup-semantic",
    oracle=SEMANTIC_CELLS_ORACLE,
    headline=True,
)
def semantic_dedup_cells_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cells routing, checked via its structural invariants."""
    from pyspark.sql.types import BooleanType, LongType, StructField, StructType

    from ..operators.similarity import semantic_dedup_cells

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + _PLANT_BASE).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(planted)
    # n_cells=None → the auto-scale rule (k = ⌈n/target⌉, the paper's
    # operating point): the registered query runs the SAME configuration
    # you would run at 100×, where a pinned k is the superlinear knob.
    # Determinism survives because k is a function of the corpus count.
    routed = stage_checkpoint(
        semantic_dedup_cells(corpus, "vec_id", threshold=0.7, verify_neighbors=True)
    )  # 2 rows/vec of lineage reuse below

    # r15 (guide §5 driver discipline + §1.2): the scalar invariant checks
    # fold into ONE aggregation job over the checkpointed routing table —
    # n_vectors, routing consistency, the planted-clone counts AND
    # drops_sound are all row-local predicates, so what used to be five
    # count() jobs plus a global O(n²) block-grid pair sweep collapses to
    # one pass. drops_sound rides verify_neighbors=True: the operator's
    # per-cell stage re-derives each row's within-cell ≥threshold
    # neighbor existence with the SAME fold-order arithmetic the former
    # embedding_near_dup_arrow sweep used — and within-cell is STRICTER
    # than global (dropped ⇒ a ≥2-member within-cell component ⇒
    # within-cell degree ≥1 ⇒ global neighbor), so the verdict is
    # unchanged while the checker's pool only shrinks. Verified bit-exact
    # against the oracle at sf0.001/0.01/0.1. The remaining
    # set-membership check (keepers_kept) stays the anti-join it is.
    scalars = routed.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when((F.col("keep_id") == F.col("vec_id")) != F.col("kept"), 1).otherwise(0)
        ).alias("inconsistent"),
        F.sum(
            F.when((F.col("vec_id") >= _PLANT_BASE) & F.col("kept"), 1).otherwise(0)
        ).alias("planted_kept"),
        F.sum(F.when(F.col("vec_id") >= _PLANT_BASE, 1).otherwise(0)).alias("planted_n"),
        F.sum(
            F.when((~F.col("kept")) & (~F.col("__has_neighbor")), 1).otherwise(0)
        ).alias("drop_viol"),
    ).first()
    n_vectors = scalars["n"]
    routing_consistent = scalars["inconsistent"] == 0
    drops_sound = scalars["drop_viol"] == 0

    kept_ids = routed.filter(F.col("kept")).select(F.col("vec_id").alias("keep_id"))
    keeper_viol = (
        routed.select("keep_id")
        .distinct()
        .join(kept_ids, "keep_id", "left_anti")
        .select(F.lit("keeper").alias("check"))
    )
    keepers_kept = not keeper_viol.limit(1).collect()
    planted_dropped = scalars["planted_kept"] == 0 and scalars["planted_n"] == 8

    verdict_schema = StructType(
        [
            StructField("n_vectors", LongType(), False),
            StructField("keepers_kept", BooleanType(), False),
            StructField("routing_consistent", BooleanType(), False),
            StructField("drops_sound", BooleanType(), False),
            StructField("planted_dropped", BooleanType(), False),
        ]
    )
    return spark.createDataFrame(
        [
            (
                n_vectors,
                bool(keepers_kept),
                bool(routing_consistent),
                bool(drops_sound),
                bool(planted_dropped),
            )
        ],
        verdict_schema,
    )


# ---------------------------------------------------------------------------
# Streaming ingest-dedup with EVOLVING corpus state — the true production
# shape of dedup-at-ingest: micro-batch k routes against corpus ∪ kept
# docs of batches < k (cross-batch state carried through the foreachBatch
# target), so a doc kept in batch 1 deduplicates its re-crawl in batch 3.
# The oracle restates the same 4-stage fold in SQL — batch boundaries are
# deterministic (doc_id arithmetic, like late_dup_ticks' arrival//256) and
# each stage is the proven one-sided routing of INCR_DEDUP_ORACLE — so the
# FULL routing table (not just a verdict) is hash-compared bit-exactly.
# Within-batch docs do not dedup against each other in either engine (the
# operator is one-sided by design; same-crawl dups are the batch-mode
# operators' job).
# ---------------------------------------------------------------------------

_SID_CORPUS = "doc_id % 5 = 0"


def _stream_ingest_oracle(n_batches: int = 4) -> str:
    shingle = """
  SELECT doc_id, lang, source,
         list_distinct([ concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
                         for i in range(1, greatest(len(toks) - 2, 0) + 1) ]) AS sh,
         md5({norm}) AS fp
  FROM (SELECT doc_id, lang, source, text,
               regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents)
""".format(norm=_NORM_SQL.format(col="text"))
    parts = [f"WITH t AS ({shingle}),", f"c0 AS (SELECT * FROM t WHERE {_SID_CORPUS})"]
    for k in range(n_batches):
        parts.append(
            f""",
b{k} AS (SELECT * FROM t WHERE NOT ({_SID_CORPUS}) AND doc_id % {n_batches} = {k}),
ex{k} AS (
  SELECT b.doc_id AS doc_id, MIN(c.doc_id) AS em
  FROM b{k} b JOIN c{k} c ON b.fp = c.fp GROUP BY 1
),
nr{k} AS (
  SELECT b.doc_id AS doc_id, MIN(c.doc_id) AS nm
  FROM b{k} b JOIN c{k} c ON b.lang = c.lang AND b.source = c.source
  WHERE len(list_distinct(b.sh || c.sh)) > 0
    AND CAST(len(list_intersect(b.sh, c.sh)) AS DOUBLE)
        / len(list_distinct(b.sh || c.sh)) >= 0.5
  GROUP BY 1
),
r{k} AS (
  SELECT b.doc_id,
         CASE WHEN ex{k}.em IS NOT NULL THEN 'dup_exact'
              WHEN nr{k}.nm IS NOT NULL THEN 'near_dup'
              ELSE 'kept' END AS status,
         COALESCE(ex{k}.em, nr{k}.nm) AS match_id
  FROM b{k} b
  LEFT JOIN ex{k} ON b.doc_id = ex{k}.doc_id
  LEFT JOIN nr{k} ON b.doc_id = nr{k}.doc_id
),
c{k + 1} AS (
  SELECT * FROM c{k}
  UNION ALL
  SELECT t.* FROM t JOIN r{k} ON t.doc_id = r{k}.doc_id WHERE r{k}.status = 'kept'
)"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM r{k}" for k in range(n_batches))
    parts.append(f"\n{union}\nORDER BY doc_id")
    return "".join(parts)


STREAM_INGEST_DEDUP_ORACLE = _stream_ingest_oracle(4)


@query(
    "stream_ingest_dedup",
    survey="dedup-incremental,T1,X3",
    oracle=STREAM_INGEST_DEDUP_ORACLE,
)
def stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route 4 streamed crawl batches against an evolving corpus.

    Real StreamingQuery: file source (1 file per micro-batch, arrival
    order pinned by mtime), foreachBatch runs the one-sided
    ``incremental_dedup`` against the current corpus state, appends the
    routing, and folds the batch's kept docs back into the state parquet —
    the reference's poll→upsert loop shape applied to corpus hygiene.
    Returns the full (doc_id, status, match_id) routing table.
    """
    import shutil
    import tempfile
    import time as _time

    from ..operators.dedup import incremental_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    corpus0 = docs.filter(F.expr(_SID_CORPUS))
    streamed_docs = docs.filter(~F.expr(_SID_CORPUS))

    tmp = tempfile.mkdtemp(prefix="sdp_ingest_dedup_")
    try:
        in_dir, state_dir, routed_dir, ckpt = (
            f"{tmp}/in",
            f"{tmp}/state",
            f"{tmp}/routed",
            f"{tmp}/ckpt",
        )
        # preseed at __epoch=-1: every batch may observe it (epoch_read
        # filters to strictly-earlier epochs, and -1 precedes them all)
        epoch_write(corpus0, state_dir, -1)
        for k in range(4):
            if k:
                _time.sleep(1.1)  # strictly increasing mtime → batch order
            streamed_docs.filter(F.col("doc_id") % 4 == k).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)

        schema = spark.read.parquet(in_dir).schema

        def route_batch(batch: DataFrame, epoch: int) -> None:
            # epoch-partitioned sinks (streaming/idempotent.py): reads see
            # only COMPLETED earlier epochs (a replayed batch can never
            # match against its own failed attempt's partial state), and
            # writes dynamically overwrite this epoch's partition — so
            # foreachBatch's at-least-once delivery yields exactly-once
            # observable results.
            state = epoch_read(spark, state_dir, before_epoch=epoch)
            routed = stage_checkpoint(
                incremental_dedup(
                    batch,
                    state,
                    "doc_id",
                    "text",
                    block_cols=["lang", "source"],
                    threshold=0.5,
                    shingle_n=3,
                    # steady-state loop: the corpus state grows without
                    # bound, so Bloom semi-join reduction of the exact
                    # gate's corpus scan is the 100 TB setting (routing
                    # is bit-identical either way — unit-pinned); m sized
                    # to the ~10^2-row batches (FP < 0.1% at j=4), which
                    # also keeps the plan-literal bitmap small
                    bloom_m_bits=16384,
                )
            )  # cut lineage before state append
            epoch_write(routed, routed_dir, epoch)
            # fold kept docs into the corpus state APPEND-ONLY: the state
            # grows by exactly the kept rows and is never rewritten, so
            # per-batch write cost is O(batch), not O(corpus) — the shape
            # that stays flat over an unbounded poll loop (small-file
            # accumulation is the maintenance job: compact_parquet).
            epoch_write(
                batch.join(
                    routed.filter(F.col("status") == "kept"), "doc_id", "left_semi"
                ),
                state_dir,
                epoch,
            )
            # NOTE: incremental_dedup persists per-batch shingle frames;
            # they are NOT globally cleared here because a harness may
            # hold its own unmaterialized persist markers (see
            # __spark_entry__). At driver SF the residue is megabytes;
            # bench.py clears between queries where timing matters.

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
        # maintenance between stream runs (same discipline as
        # stream_crawl_ingest): roll completed epochs into the base
        # partition — an unbounded poll loop otherwise accrues one small
        # file per epoch. The result read below runs AFTER the roll-up,
        # so the compaction's content preservation is under the same
        # oracle hash as the routing itself.
        compact_epochs(spark, state_dir, below_epoch=4)
        compact_epochs(spark, routed_dir, below_epoch=4)
        # distributed materialization (r11, same reasoning as the
        # e2e_daily_pipeline fix): localCheckpoint severs the lineage from
        # the tmp dirs `finally` deletes, keeping the routing table on
        # executors instead of shipping every row through the driver.
        return stage_checkpoint(
            spark.read.parquet(routed_dir)
            .select("doc_id", "status", "match_id")
            .orderBy("doc_id")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# Per-language embedding centroids (r8): the domain/cluster mean-embedding
# a curriculum or mixture designer computes per corpus slice. Floating-point
# sums are order-dependent under partial aggregation, so the centroid uses
# the same FIXED-POINT discipline as lm_quality_score: elements scale to
# integers (×2^20, round-half-away), sum exactly as decimal(38,0) — fully
# map-side combinable AND bit-portable across engines — and divide back
# once at the end. Output is (lang, i, c) scalar rows, one per dimension.
# ---------------------------------------------------------------------------

_CENTROID_SCALE = 1 << 20

EMB_CENTROID_ORACLE = f"""
WITH j AS (
  SELECT d.lang, e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
el AS (
  SELECT lang,
         unnest([ CAST(round(CAST(embedding[i] AS DOUBLE) * {_CENTROID_SCALE}) AS DECIMAL(38,0))
                  FOR i IN generate_series(1, len(embedding)) ]) AS q,
         unnest(generate_series(1, len(embedding))) AS i
  FROM j
)
SELECT lang, CAST(i AS INTEGER) AS i,
       CAST(SUM(q) AS DOUBLE) / COUNT(*) / {_CENTROID_SCALE} AS c,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM el GROUP BY lang, i
"""


@query("lang_embedding_centroid", survey="A1,llm-quantize", oracle=EMB_CENTROID_ORACLE)
def lang_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per language, exact and order-independent: element
    values quantize to 2^20 fixed-point longs, sum as decimal(38,0)
    (map-side combinable; no float-accumulation nondeterminism), and
    divide back once. One posexplode (dim-bounded fan-out) + one grouped
    aggregation — wordcount-shaped at any corpus size."""
    d = _t(spark, sf_dir, "documents").select(F.col("doc_id"), "lang")
    e = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    j = e.join(d, e.vec_id == d.doc_id).select("lang", "embedding")
    el = j.select(
        "lang",
        F.posexplode("embedding").alias("i0", "v"),
    ).select(
        "lang",
        (F.col("i0") + 1).cast("int").alias("i"),
        F.round(F.col("v").cast("double") * _CENTROID_SCALE)
        .cast("decimal(38,0)")
        .alias("q"),
    )
    return el.groupBy("lang", "i").agg(
        (
            F.sum("q").cast("double") / F.count(F.lit(1)) / F.lit(_CENTROID_SCALE)
        ).alias("c"),
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# Streaming SEMANTIC ingest-dedup with evolving corpus state (r8): the
# embedding twin of stream_ingest_dedup — micro-batch k routes against
# corpus ∪ kept vectors of batches < k through the one-sided SemDeDup
# criterion, so a vector kept in batch 1 deduplicates its re-embedding in
# batch 3. Batch boundaries are deterministic (vec_id arithmetic) and each
# stage is the proven one-sided routing of the incremental-semantic
# oracle, so the FULL routing table is hash-compared bit-exactly.
# ---------------------------------------------------------------------------

_SEM_CORPUS = "vec_id % 5 = 0"
_SEM_TAU = 0.8


def _stream_semantic_oracle(n_batches: int = 4) -> str:
    parts = [
        """WITH t AS (
  SELECT vec_id, embedding AS v,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
  FROM embeddings
),""",
        f"c0 AS (SELECT * FROM t WHERE {_SEM_CORPUS})",
    ]
    for k in range(n_batches):
        parts.append(
            f""",
b{k} AS (SELECT * FROM t WHERE NOT ({_SEM_CORPUS}) AND vec_id % {n_batches} = {k}),
m{k} AS (
  SELECT b.vec_id, MIN(c.vec_id) AS match_id
  FROM b{k} b JOIN c{k} c
    ON b.n > 0 AND c.n > 0
   AND list_sum(list_transform(list_zip(b.v, c.v),
         x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (b.n * c.n)
       >= {_SEM_TAU}
  GROUP BY 1
),
r{k} AS (
  SELECT b.vec_id,
         CASE WHEN m{k}.match_id IS NULL THEN 'kept' ELSE 'semantic_dup' END AS status,
         m{k}.match_id
  FROM b{k} b LEFT JOIN m{k} ON b.vec_id = m{k}.vec_id
),
c{k + 1} AS (
  SELECT * FROM c{k}
  UNION ALL
  SELECT t.* FROM t JOIN r{k} ON t.vec_id = r{k}.vec_id WHERE r{k}.status = 'kept'
)"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM r{k}" for k in range(n_batches))
    parts.append(f"\n{union}\nORDER BY vec_id")
    return "".join(parts)


STREAM_SEMANTIC_INGEST_ORACLE = _stream_semantic_oracle(4)


def _persist_cell_table(
    spark: SparkSession, cells_dir: str, cells: dict, epoch: int
) -> None:
    """Land the k-row driver-side cell table (centroid + running-max
    radius) as this epoch's partition next to the loop state. The radii
    live on the driver during a run; without this write a stream RESTART
    would reload stale (smaller) radii and the lossless cell-bound prune
    would silently turn lossy. k rows per batch — noise next to the
    state fold. Replay-safe like every epoch_write (idempotent per
    epoch), and the radius update itself is a running max, which
    re-application cannot move."""
    rows = [
        (int(c), [float(x) for x in v], float(r))
        for c, (v, r) in sorted(cells.items())
    ]
    epoch_write(
        spark.createDataFrame(rows, "__cell int, __centroid array<double>, __r double"),
        cells_dir,
        epoch,
    )


def _load_cell_table(
    spark: SparkSession, cells_dir: str, before_epoch: int | None = None
) -> dict:
    """Reload the cell table on stream restart: per-cell MAX radius over
    the visible epochs. Radii only grow (running max) and centroids never
    change after the fit, so the merge is exactly the radius state the
    unbroken run carried after the last completed epoch — the prune stays
    lossless across restarts (unit-pinned: restart-mid-stream routing
    table is bit-identical to an unbroken run's)."""
    rows = (
        epoch_read(spark, cells_dir, before_epoch)
        .groupBy("__cell")
        .agg(F.max("__r").alias("__r"), F.first("__centroid").alias("__centroid"))
        .collect()
    )
    return {
        r["__cell"]: ([float(x) for x in r["__centroid"]], float(r["__r"]))
        for r in rows
    }


def _sem_ingest_process_batch(
    spark: SparkSession,
    batch: DataFrame,
    epoch: int,
    state_dir: str,
    routed_dir: str,
    cells_dir: str,
    cells_holder: dict,
    dim: int,
    tau: float = _SEM_TAU,
) -> None:
    """One micro-batch of the semantic ingest-dedup loop: route against
    corpus state visible at this epoch through the lossless cell-radius
    bound, land the routing idempotently, fold kept vectors into the
    state append-only, advance the driver-side radii, and persist the
    cell table for restart. Module-level (not a closure) so the restart
    path is directly testable: a fresh run passes ``{"cells": None}`` and
    the table reloads from ``cells_dir``."""
    from ..operators.similarity import _route_with_cells, assign_to_cells, cell_vectors

    if cells_holder.get("cells") is None:  # stream (re)start
        # heal any compaction swap a prior run's crash left committed-but-
        # unfinished BEFORE the first state read (epoch_read refuses to
        # read through that window; recovery makes the refusal transient)
        from ..streaming.idempotent import recover_compaction

        for d in (state_dir, routed_dir, cells_dir):
            recover_compaction(spark, d)
        cells_holder["cells"] = _load_cell_table(spark, cells_dir, before_epoch=epoch)
    cells = cells_holder["cells"]
    # spread the state scan: a compacted small state bin-packs into
    # one-few file partitions (openCostInBytes), which serializes the
    # verify join into a single task (measured: one 6-minute task at 10×
    # while 31 cores idled). The exchange is linear in state bytes — the
    # same order as the scan itself — and stands in for the write-time
    # partitioned-by-cell layout a production index directory has, where
    # the scan is born parallel. epoch_read/epoch_write
    # (streaming/idempotent.py): replayed epochs observe only completed
    # predecessors and overwrite their own partition — exactly-once
    # observable folds.
    n_parts = spark.sparkContext.defaultParallelism
    state = epoch_read(spark, state_dir, before_epoch=epoch).repartition(
        n_parts, "__cell", "__cid"
    )
    cell_list = [(c, v, r) for c, (v, r) in sorted(cells.items())]
    routed = stage_checkpoint(
        _route_with_cells(batch, state, cell_list, "vec_id", "embedding", tau, dim=dim)
    )  # cut lineage before state append
    epoch_write(routed, routed_dir, epoch)
    kept = cell_vectors(
        batch.join(routed.filter(F.col("status") == "kept"), "vec_id", "left_semi"), "vec_id"
    )
    folded = assign_to_cells(kept, cell_list, dim=dim)
    # radius running-max per cell (≤ k rows to the driver)
    for r in folded.groupBy("__cell").agg(F.max("__d").alias("__m")).collect():
        v, old = cells[r["__cell"]]
        cells[r["__cell"]] = (v, max(old, r["__m"]))
    epoch_write(folded.drop("__d"), state_dir, epoch)
    _persist_cell_table(spark, cells_dir, cells, epoch)


@query(
    "stream_semantic_ingest_dedup",
    survey="dedup-semantic,dedup-incremental,T1,X3",
    oracle=STREAM_SEMANTIC_INGEST_ORACLE,
)
def stream_semantic_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route 4 streamed embedding batches against an evolving corpus with
    the one-sided SemDeDup criterion (cosine >= 0.8, min corpus id).

    Real StreamingQuery: file source (1 file per micro-batch, arrival
    order pinned by mtime). The corpus state carries a WRITE-TIME cell
    index (``build_semantic_cell_index``: k-means cells fitted ONCE on
    the initial corpus; the k-row centroid+radius table rides driver-side
    across batches): each micro-batch routes through the LOSSLESS
    cell-radius bound (``_route_with_cells`` — bit-identical to the
    unrouted scan), and the batch's kept vectors fold back APPEND-ONLY
    with ``assign_to_cells`` (nearest EXISTING cell, radii updated as a
    running max — no refit; production refits at compaction time).
    The radius running-max rides the driver WITHIN a run and is
    PERSISTED per epoch (``_persist_cell_table`` — k rows beside the
    state), so a stream RESTART reloads exactly the radii the unbroken
    run carried (``_load_cell_table``; restart-mid-stream pinned
    bit-identical in tests/test_similarity.py) — without it, stale
    (smaller) radii would turn the lossless prune lossy. Batch REPLAY
    within a run is safe: max is idempotent and every write is
    epoch-partitioned.
    Per-batch cost is |batch|·k bound checks + the matched cells only —
    the first registration of this query scanned batch × full corpus and
    measured 26× at 10× data (both sides grow); the index routing is what
    makes the ingest loop's cost batch-proportional. Zero-norm kept
    vectors are excluded from the scan state (they can never match a
    positive threshold — lossless). Returns the full
    (vec_id, status, match_id) routing table.
    """
    import shutil
    import tempfile
    import time as _time

    from ..operators.similarity import build_semantic_cell_index, cell_vectors

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus0 = emb.filter(F.expr(_SEM_CORPUS))
    streamed = emb.filter(~F.expr(_SEM_CORPUS))

    tmp = tempfile.mkdtemp(prefix="sdp_sem_ingest_")
    try:
        in_dir, state_dir, routed_dir, cells_dir, ckpt = (
            f"{tmp}/in",
            f"{tmp}/state",
            f"{tmp}/routed",
            f"{tmp}/cells",
            f"{tmp}/ckpt",
        )
        prepared0 = cell_vectors(corpus0, "vec_id")
        # AUTO-sized cells (k = ceil(n / target_cell_size)): pinning k=8 was
        # the r9 structured-replica probe's finding — a fixed cell count
        # lets per-cell membership (and radii) grow with the corpus, so
        # the radius bound stops pruning at 10× and the verify join
        # degrades toward batch × corpus (measured 20.3× before this
        # change, SCALE.md §8h). Auto-k keeps cells ~target-sized at any
        # corpus scale and is just as deterministic: k is a pure function
        # of the corpus count and the fit is seeded. target=128 keeps the
        # per-item bound-check cost trivial (k cheap dot products) while
        # bounding every matched cell's exact-verify fan-out.
        assigned0, cells0 = build_semantic_cell_index(prepared0, target_cell_size=128)
        epoch_write(assigned0, state_dir, -1)  # preseed: visible to all epochs
        # driver-side k-row index, persisted at -1 beside the state so a
        # restart before the first fold reloads the fit-time radii
        holder = {"cells": {c: (v, r) for c, v, r in cells0}}
        _persist_cell_table(spark, cells_dir, holder["cells"], -1)
        # fixed embedding width, read once: lets every per-batch cosine /
        # distance unroll to codegen (the zip_with fold runs on the
        # expression interpreter — a 10× probe of the fold variant spent
        # minutes/batch inside interpreted ZipWith in the verify join)
        dim = len(cells0[0][1])

        for k in range(4):
            if k:
                _time.sleep(1.1)  # strictly increasing mtime → batch order
            streamed.filter(F.col("vec_id") % 4 == k).coalesce(1).write.mode(
                "append"
            ).parquet(in_dir)

        schema = spark.read.parquet(in_dir).schema

        def route_batch(batch: DataFrame, epoch: int) -> None:
            _sem_ingest_process_batch(
                spark, batch, epoch, state_dir, routed_dir, cells_dir, holder, dim
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
        # maintenance between stream runs (same discipline as
        # stream_crawl_ingest): roll completed epochs into the base
        # partition — including the k-row-per-epoch CELL table, whose
        # reload max-merges across rows so compaction is transparent to
        # it. The result read below runs AFTER the roll-up, so the
        # compaction's content preservation is under the same oracle
        # hash as the routing itself.
        compact_epochs(spark, state_dir, below_epoch=4)
        compact_epochs(spark, routed_dir, below_epoch=4)
        compact_epochs(spark, cells_dir, below_epoch=4)
        # distributed materialization (r11, same reasoning as the
        # e2e_daily_pipeline fix): localCheckpoint severs the lineage from
        # the tmp dirs `finally` deletes, keeping the routing table on
        # executors instead of shipping every row through the driver.
        return stage_checkpoint(
            spark.read.parquet(routed_dir)
            .select("vec_id", "status", "match_id")
            .orderBy("vec_id")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
