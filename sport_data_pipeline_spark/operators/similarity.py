"""Similarity search over embedding columns (array<float>).

Every search here is candidate generation followed by an exact verify.
The broadcast cross join (``cosine_topk``, ``hard_negative_topk``), IVF
list probes (``ivf_topk``) and a PQ-ADC shortlist (``pq_topk``) differ
only in WHICH pairs meet; the pairs then score with the same guarded
cosine (``_cosine``) and rank with the same window (``_top_k``). The
near-dup self-joins meet pairs on a block grid (``_grid_sides``) or in
LSH buckets; semantic dedup routes through k-means cells
(``_nearest_cell``) and verifies with the same cosine
(``_dedup_status``). Brute-force cosine top-k is the exact baseline: a
cross join that Catalyst executes as broadcast-nested-loop when the
query side is small — the query set is broadcast once, the corpus
streams.

Dot products fold sequentially inside a single row, so results are
deterministic — no float reduction across partitions.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.storagelevel import StorageLevel


def _fold(
    a: Column | str,
    b: Column | str | None,
    term: Callable[[Column, Column], Column],
    dim: int | None = None,
) -> Column:
    """``0.0 + term(a[1], b[1]) + term(a[2], b[2]) + …``, added left to
    right; ``b=None`` folds ``term(a[i], a[i])``.

    With ``dim`` known, unrolls to a flat ``element_at`` sum — the same
    left-to-right addition order as the fold (bit-identical result), but
    codegen-able instead of interpreted: higher-order functions
    (aggregate/zip_with) run on the expression interpreter — measured 26×
    slower on a 2M-pair all-pairs sweep. The unrolled tree carries a fixed
    ~2 s compile cost per plan, so pass ``dim`` only when the pair count is
    large; small candidate sets (top-k with few queries) are faster on the
    fold. Unknown/ragged dims always use the fold.
    """
    if dim is not None:
        s: Column = F.lit(0.0)
        for i in range(1, dim + 1):
            x = F.element_at(a, i)
            s = s + term(x, x if b is None else F.element_at(b, i))
        return s
    terms = F.transform(a, lambda x: term(x, x)) if b is None else F.zip_with(a, b, term)
    return F.aggregate(terms, F.lit(0.0), lambda acc, v: acc + v)


def _product(x: Column, y: Column) -> Column:
    return x.cast("double") * y.cast("double")


def _dot(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    return _fold(a, b, _product, dim)


def _norm(a: Column | str, dim: int | None = None) -> Column:
    return F.sqrt(_fold(a, None, _product, dim))


def _cosine(a: str, n_a: str, b: str, n_b: str, dim: int | None = None) -> Column:
    """Cosine of vector columns ``a``, ``b`` given their norm columns; a
    zero-norm side defines cosine 0."""
    return F.when(
        (F.col(n_a) > 0) & (F.col(n_b) > 0),
        _dot(F.col(a), F.col(b), dim) / (F.col(n_a) * F.col(n_b)),
    ).otherwise(F.lit(0.0))


def _top_k(pairs: DataFrame, k: int) -> DataFrame:
    """Rank ``(query_id, neighbor_id, cosine)`` rows per query — cosine
    descending, ties to the lower neighbor id, so output is deterministic —
    and keep ranks ≤ ``k``."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cell_vectors(
    df: DataFrame, id_col: str, vec_col: str = "embedding", dim: int | None = None
) -> DataFrame:
    """The prepared vector frame the semantic cell index is built and
    folded from: ``(__cid, __cv, __cn)`` — id, raw vector, its norm — with
    zero-norm rows dropped (they define cosine 0 and can never clear a
    positive threshold)."""
    return df.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col), dim).alias("__cn"),
    ).filter(F.col("__cn") > 0)


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Returns (query_id, neighbor_id, cosine, rank), self-matches excluded
    when ids collide. Ties broken by neighbor id — deterministic output.
    """
    q = queries.select(
        F.col(query_id).alias("__qid"), F.col(query_vec).alias("__qv"),
        _norm(F.col(query_vec), dim).alias("__qn"),
    )
    # The corpus streams against the broadcast query set; a single-file
    # corpus must not fold the whole dot-product sweep into one task.
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.repartition(n_parts, F.col(corpus_id)).select(
        F.col(corpus_id).alias("__cid"), F.col(corpus_vec).alias("__cv"),
        _norm(F.col(corpus_vec), dim).alias("__cn"),
    )
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("__qid") != F.col("__cid"))
    return _top_k(
        pairs.select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("neighbor_id"),
            _cosine("__qv", "__qn", "__cv", "__cn", dim).alias("cosine"),
        ),
        k,
    )


def build_ivf_index(
    corpus: DataFrame,
    corpus_id: str,
    path: str,
    corpus_vec: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
) -> str:
    """Build a persistent IVF index: fit the k-means coarse quantizer ONCE
    (write time — never in a query path), assign every corpus vector to its
    nearest centroid list, and write the corpus parquet PARTITIONED BY the
    list id. Centroids land in ``<path>/_ivf_centroids`` (the underscore
    prefix hides them from readers of the main table).

    The partition layout is the index: a probe that filters on ``__list``
    prunes to n_probe/n_lists of the files before any IO happens
    (PartitionFilters in the scan). Returns ``path``.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..sources.sinks import write_partitioned

    # repartition by id before the fit: parallel training on single-file
    # input, and a fixed layout so the same seed reproduces the same
    # centroids (k-means|| init samples per partition)
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    feat = corpus.repartition(n_parts, F.col(corpus_id)).withColumn(
        "__feat", array_to_vector(F.col(corpus_vec).cast("array<double>"))
    )
    km = KMeans(k=n_lists, seed=seed, featuresCol="__feat", predictionCol="__list")
    model = km.fit(feat)
    assigned = model.transform(feat).drop("__feat")
    write_partitioned(assigned, path, ["__list"])
    centroids = [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]
    corpus.sparkSession.createDataFrame(
        centroids, "__list int, __centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/_ivf_centroids")
    return path


def ivf_topk(
    queries: DataFrame,
    corpus: str,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    n_probe: int = 2,
    dim: int | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: each query probes only its
    ``n_probe`` nearest centroid lists and ranks exact cosine inside them.

    ``corpus`` is the PATH of a prebuilt :func:`build_ivf_index` output —
    the k-means quantizer is fitted at write time, never in the query
    path. Probe lists collect to the driver (n_queries × n_probe ints —
    the probe batch is small by definition) and become a static
    ``__list IN (...)`` filter, so the scan shows PartitionFilters and
    reads n_probe/n_lists of the files.

    Returns (query_id, neighbor_id, cosine, rank). Recall < 1 by design —
    raise ``n_probe`` to trade cost for recall.
    """
    spark = queries.sparkSession
    assigned = spark.read.parquet(corpus).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        _norm(F.col(corpus_vec), dim).alias("__cn"),
        F.col("__list"),
    )
    cdf = spark.read.parquet(f"{corpus}/_ivf_centroids")

    # each query ranks centroids by exact cosine and keeps the top n_probe
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        _norm(F.col(query_vec), dim).alias("__qn"),
    )
    qc = q.crossJoin(F.broadcast(cdf))
    cent_cos = F.when(
        F.col("__qn") > 0,
        _dot(F.col("__qv"), F.col("__centroid"), dim)
        / (F.col("__qn") * _norm(F.col("__centroid"), dim)),
    ).otherwise(F.lit(0.0))
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("__ccos"), F.asc("__list"))
    probed = (
        qc.select("query_id", "__qv", "__qn", "__list", cent_cos.alias("__ccos"))
        .withColumn("__pr", F.row_number().over(w_probe))
        .filter(F.col("__pr") <= n_probe)
        .select("query_id", "__qv", "__qn", "__list")
    )
    # static partition pruning: the probed list ids become a literal IN
    # filter on the partition column before the join
    lists = sorted({r["__list"] for r in probed.select("__list").distinct().collect()})
    assigned = assigned.filter(F.col("__list").isin(lists))

    pairs = probed.join(assigned, "__list").filter(F.col("query_id") != F.col("neighbor_id"))
    return _top_k(
        pairs.select(
            "query_id",
            "neighbor_id",
            _cosine("__qv", "__qn", "__cv", "__cn", dim).alias("cosine"),
        ).dropDuplicates(["query_id", "neighbor_id"]),
        k,
    )


def _grid_sides(v: DataFrame, n_blocks: int) -> tuple[DataFrame, DataFrame]:
    """Replicate the rows of ``v`` (keyed by ``__id``) onto the
    upper-triangular ``n_blocks`` × ``n_blocks`` block grid: a row hashes
    to block g and serves cells (g, j) for j in [g, n_blocks-1] on the row
    side and cells (i, g) for i in [0, g] on the column side; cell id =
    i·n_blocks + j. Every unordered pair of rows meets in exactly one cell
    (the diagonal cell receives each block's rows once per side). Returns
    ``(row side, column side)``, each ``v``'s columns plus ``__cell``."""
    b = n_blocks
    g = v.withColumn("__g", F.pmod(F.xxhash64(F.col("__id")), F.lit(b)))

    def side(cells: Column) -> DataFrame:
        return g.select(F.explode(cells).alias("__cell"), *v.columns)

    return (
        side(F.transform(F.sequence(F.col("__g"), F.lit(b - 1)), lambda j: F.col("__g") * b + j)),
        side(F.transform(F.sequence(F.lit(0), F.col("__g")), lambda i: i * b + F.col("__g"))),
    )


def embedding_near_dup(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int | None = None,
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-space near-duplicate pairs: every (id_a < id_b) pair whose
    cosine similarity clears ``threshold``. Exact — zero-norm vectors can
    never clear a positive threshold and are dropped up front.

    Distributed as a block-grid self-join (the classic triangle join): each
    vector hashes to one of ``n_blocks`` blocks and is replicated to the
    grid cells covering its row and column of the upper-triangular block
    matrix, then cells equi-join on the cell id. Every unordered pair meets
    in exactly one cell, so the result is exact all-pairs with NO broadcast
    side and NO nested-loop join — task memory is bounded by 2·n/n_blocks
    vectors regardless of corpus size, and raising ``n_blocks`` scales the
    grid (B(B+1)/2 cells) with the cluster.

    Exact all-pairs is the right tool at LOW thresholds: below ~cos 0.7
    (60°+) a hyperplane separates a qualifying pair with p≥0.25, so no LSH
    banding prunes candidates below n² without losing recall — the
    geometry, not the implementation, is the limit. For production
    near-dup thresholds (≥0.8) use ``lsh_threshold_pairs``, which prunes
    aggressively and verifies exactly within buckets.

    Returns (id_a, id_b, cosine).
    """
    b = n_blocks
    v = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col), dim).alias("__n"),
    ).filter(F.col("__n") > 0)
    rows, cols = _grid_sides(v, b)
    a_side = rows.select(
        "__cell",
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b_side = cols.select(
        "__cell",
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    # Off-diagonal cells pair distinct blocks, so every unordered pair
    # meets exactly once with the a/b role fixed by block — only the
    # diagonal cell needs the id_a < id_b dedup. Output ids are normalized
    # (least, greatest) so the role assignment never leaks out.
    is_diag = (F.col("__cell") % b) == F.floor(F.col("__cell") / b)
    pairs = a_side.join(b_side, "__cell").filter(
        ~is_diag | (F.col("id_a") < F.col("id_b"))
    )
    cos = _dot(F.col("__va"), F.col("__vb"), dim) / (F.col("__na") * F.col("__nb"))
    return (
        pairs.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def lsh_threshold_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.85,
    n_planes: int = 12,
    n_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """High-threshold cosine near-dup pairs via multi-table hyperplane LSH:
    candidates share a full ``n_planes``-bit signature in at least one of
    ``n_tables`` tables; exact cosine verifies every candidate.

    This is the 100 TB near-dup path for realistic thresholds: at cos 0.85
    (31°) a random hyperplane splits a qualifying pair with p≈0.17, so a
    12-bit signature collides with p≈0.63^… — concretely, missing all 8
    tables has probability (1-(1-θ/π)^12)^8 ≈ 0.004 at the threshold and
    falls off a cliff above it, while bucket sizes shrink the candidate set
    by orders of magnitude versus all-pairs. Planes are deterministic
    (xxhash64-derived), so results are reproducible and recall on a given
    corpus is a fixed measurable fact, not a per-run coin flip. Use
    ``embedding_near_dup`` when the threshold is low (<0.7): there the
    geometry makes any pruning lossy.

    The hyperplanes are data, not expression text: a broadcast plane
    table holds one ``(t, p, __bit, __w)`` row per plane
    (``n_tables·n_planes`` rows, ``__bit = 1 << p``, ``__w`` the ``dim``
    weights). Each vector meets every plane in a broadcast nested-loop
    join, takes its sign bit there from one ``_dot`` (the kernel the
    verify step uses), and the bits sum to a signature per
    ``(vector, table)``. The plan holds one ``dim``-term dot however many
    planes there are; written out per plane, 8 × 12 × 64 products in one
    projection exhausted a 6 GB heap while planning.

    The result is lazy and reads ``df`` twice (signatures, then the
    verify join), so the operator caches nothing it could never
    unpersist: a caller that wants the input read once caches ``df``.

    Returns (id_a, id_b, cosine) with cosine >= threshold.
    """
    v = df.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col), dim).alias("__n"),
    ).filter(F.col("__n") > 0)

    # weight i of plane (t, p) = xxhash64(seed, t, p, i) / 2^63, in
    # [-1, 1]; xxhash64 hashes by type, and t, p, i are all ints
    planes = df.sparkSession.createDataFrame(
        [(t, p, 1 << p) for t in range(n_tables) for p in range(n_planes)],
        "t int, p int, __bit long",
    ).withColumn(
        "__w",
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda i: F.xxhash64(F.lit(seed), F.col("t"), F.col("p"), i).cast("double")
            / F.lit(float(1 << 63)),
        ),
    )
    bit = F.when(_dot(F.col("__v"), F.col("__w"), dim) >= 0, F.col("__bit")).otherwise(0)
    tabled = (
        v.crossJoin(F.broadcast(planes))
        .select("__id", "t", bit.alias("__bit"))
        .groupBy("__id", "t")
        .agg(F.sum("__bit").alias("sig"))
    )

    bucket_w = Window.partitionBy("t", "sig")
    tabled = (
        tabled.withColumn("__bn", F.count(F.lit(1)).over(bucket_w))
        .filter(F.col("__bn") <= max_bucket_size)
        .drop("__bn")
    )
    a = tabled.select("t", "sig", F.col("__id").alias("id_a"))
    b = tabled.select("t", "sig", F.col("__id").alias("id_b"))
    candidates = (
        a.join(b, ["t", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = (
        candidates.join(
            v.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"), F.col("__n").alias("__na")),
            "id_a",
        ).join(
            v.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"), F.col("__n").alias("__nb")),
            "id_b",
        )
    )
    cos = _dot(F.col("__va"), F.col("__vb"), dim) / (F.col("__na") * F.col("__nb"))
    return verified.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= F.lit(threshold)
    )


def cosine_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    batch_topk_only: bool = True,
    max_queries: int = 65_536,
) -> DataFrame:
    """Throughput-path brute-force top-k: numpy matmul over Arrow batches.

    The query set (small by definition — it's the probe batch) is collected
    once and broadcast; the corpus streams through ``mapInPandas``, each
    Arrow batch scoring against the whole query matrix with one BLAS
    matmul and emitting only its local top-k per query. A final window
    keeps the global top-k — input to it is ≤ k·|queries| rows per
    partition, not the corpus.

    Per-pair cost is BLAS-level (~100× the expression path), but Python
    worker startup + Arrow transfer add a fixed ~5 s: below ~10⁷
    query×corpus pairs the expression path (`cosine_topk`) is faster
    (measured at sf0.1: 2 s expression vs 8 s here for 16 k pairs) —
    this operator is for corpus scales where per-pair cost dominates.
    Trades away bit-exact cross-engine reproducibility (BLAS pairwise
    summation vs sequential fold).

    Returns (query_id, neighbor_id, cosine, rank).
    """
    import numpy as np
    import pandas as pd

    qp = queries.select(F.col(query_id), F.col(query_vec)).limit(max_queries + 1).toPandas()
    if len(qp) > max_queries:
        raise ValueError(
            f"cosine_topk_arrow collects the query side to the driver; got more "
            f"than max_queries={max_queries} rows. Batch the probes (or raise "
            f"max_queries deliberately) instead of streaming a corpus through it."
        )
    id_type = corpus.schema[corpus_id].dataType.simpleString()
    out_schema = (
        f"query_id {queries.schema[query_id].dataType.simpleString()}, "
        f"neighbor_id {id_type}, cosine double"
    )
    if qp.empty:  # no probe: nothing to stack or score
        return _top_k(corpus.sparkSession.createDataFrame([], out_schema), k)
    qids = qp[query_id].to_numpy()
    Q = np.stack(qp[query_vec].to_numpy()).astype(np.float64)
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = np.inf  # zero vectors score 0 against everything
    Qn = Q / qn[:, None]
    bc = corpus.sparkSession.sparkContext.broadcast((qids, Qn))

    def score(batches):
        b_qids, b_Qn = bc.value
        m = len(b_qids)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf[corpus_vec].to_numpy()).astype(np.float64)
            cids = pdf[corpus_id].to_numpy()
            cn = np.linalg.norm(C, axis=1)
            cn[cn == 0] = np.inf
            S = b_Qn @ (C / cn[:, None]).T  # (m, batch)
            S[b_qids[:, None] == cids[None, :]] = -np.inf  # self-matches
            kk = min(k, S.shape[1])
            idx = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
            rows = {
                "query_id": np.repeat(b_qids, kk),
                "neighbor_id": cids[idx.ravel()],
                "cosine": S[np.arange(m)[:, None], idx].ravel(),
            }
            out = pd.DataFrame(rows)
            yield out[out["cosine"] > -np.inf]

    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    local = (
        corpus.repartition(n_parts, F.col(corpus_id))
        .select(F.col(corpus_id), F.col(corpus_vec))
        .mapInPandas(score, out_schema)
    )
    return _top_k(local, k)


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    label_col: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Hard-negative mining: top-k most-similar corpus vectors whose label
    DIFFERS from the query's (the contrastive-training negatives that sit
    closest to the decision boundary).

    Same execution shape as :func:`cosine_topk` — broadcast probe set,
    corpus streams, one window per query id — with the label-mismatch
    predicate applied BEFORE ranking so same-label neighbors never occupy
    top-k slots. Returns (query_id, query_label, neighbor_id,
    neighbor_label, cosine, rank).
    """
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(label_col).alias("query_label"),
        F.col(query_vec).alias("__qv"),
        _norm(F.col(query_vec), dim).alias("__qn"),
    )
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    c = corpus.repartition(n_parts, F.col(corpus_id)).select(
        F.col(corpus_id).alias("__cid"),
        F.col(label_col).alias("neighbor_label"),
        F.col(corpus_vec).alias("__cv"),
        _norm(F.col(corpus_vec), dim).alias("__cn"),
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_label") != F.col("neighbor_label"))
    )
    return _top_k(
        pairs.select(
            F.col("__qid").alias("query_id"),
            "query_label",
            F.col("__cid").alias("neighbor_id"),
            "neighbor_label",
            _cosine("__qv", "__qn", "__cv", "__cn", dim).alias("cosine"),
        ),
        k,
    )


def incremental_semantic_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.85,
    dim: int | None = None,
) -> DataFrame:
    """One-sided SEMANTIC dedup of an incoming batch against the existing
    corpus: a batch vector is a semantic duplicate iff some CORPUS vector
    has cosine >= ``threshold``; ``match_id`` is the smallest such corpus
    id. Completes the incremental-dedup family (exact fingerprint /
    MinHash-LSH / signature-index gates in ``operators/dedup``) for the
    embedding representation — the SemDeDup criterion applied the way an
    ingest loop needs it, batch-vs-corpus with no corpus self-join.

    Execution shape: the (bounded) batch broadcasts, the corpus STREAMS —
    each corpus partition scores its vectors against every batch vector
    with the JVM-side fold cosine, keeps only threshold hits, and the
    per-batch-id ``min(corpus id)`` aggregates with full map-side combine
    (≤ |batch| rows leave each partition). One corpus scan, no shuffle of
    corpus vectors, cost exactly |batch| x |corpus| multiply-adds spread
    across the cluster — the same broadcast-probe shape as
    :func:`cosine_topk` / :func:`hard_negative_topk`. For batches too
    large to broadcast, pre-route both sides with the IVF cells
    (:func:`build_ivf_index`) and apply this per cell.

    Zero-norm vectors define cosine 0 and so never match. Returns
    ``(id, status['semantic_dup'|'kept'], match_id)`` with one row per
    batch vector.
    """
    b = batch.select(
        F.col(id_col).alias("__bid"),
        F.col(vec_col).alias("__bv"),
        _norm(F.col(vec_col), dim).alias("__bn"),
    )
    # No repartition of the corpus: parallelism comes from the input
    # splits (spark.sql.files.maxPartitionBytes) — a round-robin Exchange
    # here would shuffle every corpus vector just to rebalance, breaking
    # the one-scan/no-corpus-shuffle contract (plan-asserted in
    # tests/test_plans.py::test_incremental_semantic_dedup_no_corpus_shuffle).
    c = corpus.select(
        F.col(id_col).alias("__cid"),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col), dim).alias("__cn"),
    )
    return _dedup_status(b, F.broadcast(b).crossJoin(c), threshold, id_col, dim)


def _dedup_status(
    b: DataFrame, pairs: DataFrame, threshold: float, id_col: str, dim: int | None
) -> DataFrame:
    """The exact verify and routing tail of semantic dedup: ``pairs``
    (batch ``__bid, __bv, __bn`` × corpus ``__cid, __cv, __cn``) whose
    cosine clears ``threshold`` give each batch id its smallest matching
    corpus id; every row of the batch ``b`` gets ``(id, status, match_id)``
    — 'semantic_dup' with a match, else 'kept'."""
    matches = (
        pairs.filter(_cosine("__bv", "__bn", "__cv", "__cn", dim) >= F.lit(threshold))
        .groupBy("__bid")
        .agg(F.min("__cid").alias("match_id"))
    )
    return (
        b.select("__bid")
        .join(matches, "__bid", "left")
        .select(
            F.col("__bid").alias(id_col),
            F.when(F.col("match_id").isNull(), F.lit("kept"))
            .otherwise(F.lit("semantic_dup"))
            .alias("status"),
            "match_id",
        )
    )


#: FP slack on the IVF cell bound: the triangle-inequality prune is exact
#: in real arithmetic; double rounding of (q·c + r) can land ~1e-14 below
#: the true value, so the comparison concedes 1e-9 — overwhelmingly safe
#: and a negligible pruning loss.
_CELL_BOUND_EPS = 1e-9


def incremental_semantic_dedup_routed(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.85,
    n_cells: int | None = None,
    seed: int = 42,
    target_cell_size: int = 512,
    dim: int | None = None,
) -> DataFrame:
    """IVF-pre-routed :func:`incremental_semantic_dedup` — bit-identical
    result, with the |batch| × |corpus| multiply-adds cut to the cells
    that can POSSIBLY contain a match.

    The broadcast-probe base operator is the right shape while the batch
    broadcasts, but every corpus vector still scores against every batch
    vector. This variant coarse-quantizes the corpus into k-means cells
    (write-time in production — the same machinery and discipline as
    :func:`build_ivf_index`; fitted inline here with a fixed seed) and
    prunes LOSSLESSLY with a per-cell radius bound: for unit vectors,

        cos(q, x) = q̂·x̂ = q̂·ĉ + q̂·(x̂ − ĉ) ≤ q̂·ĉ + ‖x̂ − ĉ‖ ≤ q̂·ĉ + r_cell

    so a (batch vector, cell) pair with ``q̂·ĉ + r_cell < threshold`` can
    be skipped without recall loss — no member of that cell can clear the
    threshold. Pruning power grows with the threshold (at production
    τ ≥ 0.8 most cells fail the bound; at τ → 0 it degrades gracefully to
    the unrouted scan). Requires ``threshold > 0`` (zero-norm vectors
    define cosine 0 and never match, exactly as in the base operator).

    The FINAL cosine check re-runs the base operator's fold on the RAW
    vectors — the bound only selects candidate cells — so the output is
    bit-identical to the unrouted operator (unit-pinned in
    tests/test_similarity.py).

    Execution shape: centroids+radii are a k-row broadcast; the batch ×
    cells bound check is |batch|·k; the surviving (batch, cell) pairs
    broadcast into an equi-join on the cell id against the cell-assigned
    corpus — per-cell work is |batch∩bound| × |cell|, and the corpus
    moves once (at write time in production, where the index is stored
    partitioned by cell like the IVF parquet layout).
    """
    if threshold <= 0:
        raise ValueError("cell-bound routing requires threshold > 0")
    assigned, cells = build_semantic_cell_index(
        cell_vectors(corpus, id_col, vec_col, dim),
        n_cells=n_cells,
        seed=seed,
        target_cell_size=target_cell_size,
    )
    return _route_with_cells(batch, assigned, cells, id_col, vec_col, threshold, dim)


def build_semantic_cell_index(
    c: DataFrame,
    n_cells: int | None = None,
    seed: int = 42,
    target_cell_size: int = 512,
) -> tuple[DataFrame, list[tuple[int, list[float], float]]]:
    """WRITE-TIME half of the cell-bound routing: fit k-means on the unit
    vectors of a :func:`cell_vectors` frame (``__cid, __cv, __cn``,
    zero-norms excluded), assign every vector to its nearest cell,
    and measure each cell's radius ``max ‖x̂ − c‖``.

    Returns ``(assigned, cells)``: the corpus frame with a ``__cell``
    column (persist it partitioned by cell in production, like
    :func:`build_ivf_index`'s layout), and the k-row cell table as a
    plain Python list ``(cell, centroid, radius)`` — kilobytes, so an
    ingest loop can carry it driver-side and maintain radii incrementally
    as the corpus grows (see ``stream_semantic_ingest_dedup``)."""
    # r15: sample-fitted seeded k-means (see kmeans_fit_sample — one
    # TakeOrdered job + driver numpy Lloyd) replaces the distributed
    # pyspark.ml fit, which ran 2 + maxIter full corpus passes as dozens
    # of scheduler-bound jobs. Every consumer is assignment-invariant
    # (the routing bound is lossless for any consistent cell table), so
    # only determinism of the partition matters, which the sample fit
    # preserves. Assignment itself stays distributed and JVM-side
    # (assign_to_cells: broadcast centroids + per-row argmin), and its
    # __d column now yields the radii directly — the former second
    # centroid join is gone.
    unit = c.withColumn(
        "__u", F.transform("__cv", lambda x: x.cast("double") / F.col("__cn"))
    )
    if n_cells is None:
        n_cells = auto_n_cells(c.count(), target_cell_size)
    n_cells = max(2, n_cells)
    centers = list(enumerate(kmeans_fit_sample(unit, "__u", "__cid", n_cells, seed)))
    assigned = assign_to_cells(c, [(i, v, 0.0) for i, v in centers])
    radii = {
        r["__cell"]: r["__r"]
        for r in assigned.groupBy("__cell").agg(F.max("__d").alias("__r")).collect()
    }
    cells = [(i, v, float(radii.get(i, 0.0))) for i, v in centers]
    return assigned.drop("__d"), cells


def write_semantic_cell_index(
    corpus: DataFrame,
    path: str,
    id_col: str,
    vec_col: str = "embedding",
    n_cells: int | None = None,
    seed: int = 42,
    target_cell_size: int = 512,
) -> int:
    """Persist the cell index to ``path`` — the SINK-SIDE half of routed
    semantic dedup, paying the k-means fit ONCE at write time (the same
    discipline as :func:`build_ivf_index` and the dedup signature index):
    the cell-assigned corpus lands partitioned by ``__cell`` (so a probe
    touching k cells reads k directories, not the whole corpus) and the
    k-row centroid/radius table lands beside it. Query time then loads
    with :func:`read_semantic_cell_index` and routes with
    :func:`route_against_cell_index` — no fit in the query path.

    Returns the number of cells fitted."""
    assigned, cells = build_semantic_cell_index(
        cell_vectors(corpus, id_col, vec_col),
        n_cells=n_cells,
        seed=seed,
        target_cell_size=target_cell_size,
    )
    # co-locate cells before the partitioned write: at most k tasks (hash
    # partitioning may fold two cells into one task — layout is unaffected,
    # it just writes two files from that task) instead of
    # shuffle_partitions × cells small files — and the file layout a
    # cluster-side reader partition-prunes on.
    assigned.repartition(len(cells), F.col("__cell")).write.mode(
        "overwrite"
    ).partitionBy("__cell").parquet(f"{path}/assigned")
    corpus.sparkSession.createDataFrame(
        cells, "__cell int, __centroid array<double>, __r double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/cells")
    return len(cells)


def read_semantic_cell_index(
    spark: SparkSession, path: str
) -> tuple[DataFrame, list[tuple[int, list[float], float]]]:
    """Load a persisted cell index written by
    :func:`write_semantic_cell_index`: ``(assigned, cells)`` in the exact
    shape :func:`route_against_cell_index` consumes. The cell table is
    k rows (kilobytes) and collects driver-side, as the ingest loop
    carries it."""
    assigned = spark.read.parquet(f"{path}/assigned")
    cells = [
        (int(r["__cell"]), [float(x) for x in r["__centroid"]], float(r["__r"]))
        for r in spark.read.parquet(f"{path}/cells").collect()
    ]
    return assigned, sorted(cells)


def route_against_cell_index(
    batch: DataFrame,
    assigned: DataFrame,
    cells: list[tuple[int, list[float], float]],
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.85,
    dim: int | None = None,
) -> DataFrame:
    """QUERY-TIME half of routed semantic dedup against a prebuilt index
    (:func:`write_semantic_cell_index`): lossless radius-bound cell
    selection + exact raw-vector verify. Bit-identical to
    :func:`incremental_semantic_dedup_routed` (which fits inline) and to
    the unrouted :func:`incremental_semantic_dedup` — unit-pinned."""
    if threshold <= 0:
        raise ValueError("cell-bound routing requires threshold > 0")
    return _route_with_cells(batch, assigned, cells, id_col, vec_col, threshold, dim)


def _nearest_cell(
    vectors: DataFrame,
    centers: list[tuple[int, list[float]]],
    dist: Callable[[Column], Column],
    id_col: str,
) -> DataFrame:
    """Argmin of ``dist(centroid)`` over ``centers`` — ``(cell id,
    centroid)`` pairs: adds ``__cell`` (ties → lowest cell id) and ``__d``,
    the winning distance.

    Up to ``_ASSIGN_EXPR_MAX_K`` cells the argmin is map-only over the
    centroid LITERALS: one distance per centroid, and the first centroid
    attaining the minimum wins — the cells are sorted by id, so the
    when-chain's first-match rule IS the lowest-id tie-break. No k-fold
    row blowup, no exchange, no sort. Above it the centroid table
    broadcasts and a ``row_number`` per ``id_col`` over ``(__d, __cell)``
    picks the same cell — the same total order; the blowup is bounded per
    task and AQE splits skewed cells. Both paths evaluate the identical
    ``dist`` expression, so the chosen cell and ``__d`` agree bit for bit.
    """
    centers = sorted(centers, key=lambda t: t[0])
    if len(centers) <= _ASSIGN_EXPR_MAX_K:
        ds = [dist(F.array(*[F.lit(float(x)) for x in v])) for _, v in centers]
        dmin = ds[0] if len(ds) == 1 else F.least(*ds)
        cell_expr = F.when(ds[0] == dmin, F.lit(centers[0][0]))
        for (cell, _), d in zip(centers[1:], ds[1:]):
            cell_expr = cell_expr.when(d == dmin, F.lit(cell))
        return vectors.withColumn("__cell", cell_expr.cast("int")).withColumn(
            "__d", dmin
        )
    cent = F.broadcast(
        vectors.sparkSession.createDataFrame(
            centers, "__cell int, __centroid array<double>"
        )
    )
    w = Window.partitionBy(id_col).orderBy("__d", "__cell")
    return (
        vectors.crossJoin(cent)
        .withColumn("__d", dist(F.col("__centroid")))
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "__centroid")
    )


def assign_to_cells(
    vectors: DataFrame,
    cells: list[tuple[int, list[float], float]],
    dim: int | None = None,
) -> DataFrame:
    """Map each :func:`cell_vectors` row to its nearest EXISTING cell —
    the incremental-fold half of the cell index: newly kept vectors join
    the index without refitting centroids (production refits at compaction
    time). Returns the frame with ``__cell`` and ``__d`` (unit-space
    distance ``‖__cv/__cn − centroid‖``, for radius updates)."""

    def unit_sq(x: Column, c: Column) -> Column:
        # try_divide, not `/`: a join on __cell (the routing verify) pushes
        # isnotnull(__cell) down beside cell_vectors' __cn > 0, and
        # subexpression elimination evaluates this fold — repeated in the
        # argmin — on every row before the AND short-circuits, zero-norm
        # rows included, where ANSI `/` raises. Same quotient when __cn > 0.
        d = F.try_divide(x.cast("double"), F.col("__cn")) - c
        return d * d

    return _nearest_cell(
        vectors,
        [(i, v) for i, v, _ in cells],
        lambda c: F.sqrt(_fold("__cv", c, unit_sq, dim)),
        "__cid",
    )


def _route_with_cells(
    batch: DataFrame,
    assigned: DataFrame,
    cells: list[tuple[int, list[float], float]],
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int | None = None,
) -> DataFrame:
    """QUERY half of the cell-bound routing: bound-select candidate cells
    per batch vector (``q̂·c + r ≥ τ − ε`` — lossless), equi-join the
    surviving (vector, cell) pairs against the cell-assigned corpus, and
    re-verify with the base operator's raw-vector fold so the routing
    table is bit-identical to the unrouted scan."""
    spark = batch.sparkSession
    radii = F.broadcast(
        spark.createDataFrame(
            [(i, v, r) for i, v, r in cells],
            "__cell int, __centroid array<double>, __r double",
        )
    )
    b = batch.select(
        F.col(id_col).alias("__bid"),
        F.col(vec_col).alias("__bv"),
        _norm(F.col(vec_col), dim).alias("__bn"),
    )
    live_b = b.filter(F.col("__bn") > 0)
    q_dot_c = _fold(
        "__bv", "__centroid", lambda x, c: x.cast("double") / F.col("__bn") * c, dim
    )
    cand = (
        live_b.crossJoin(radii)
        .filter(q_dot_c + F.col("__r") >= F.lit(threshold - _CELL_BOUND_EPS))
        .select("__bid", "__bv", "__bn", "__cell")
    )
    # exact verify on raw vectors: the base operator's tail
    pairs = F.broadcast(cand).join(
        assigned.select("__cell", "__cid", "__cv", "__cn"), "__cell"
    )
    return _dedup_status(b, pairs, threshold, id_col, dim)


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-side ANN index. IVF prunes WHICH
# vectors a query reads; PQ shrinks WHAT is read per vector — m sub-space
# codebooks of `codes` centroids each turn a dim-float vector into m small
# ints (64 floats -> 8 bytes here, 32x), so the ADC scan streams the codes
# table instead of the raw vectors. All vectors are L2-normalized first, so
# squared-L2 ADC distance ranks exactly like cosine and the recall contract
# can compare against the exact-cosine baseline.
# ---------------------------------------------------------------------------


def _unit(vec: Column, dim: int) -> Column:
    """L2-normalized copy of an array column (zero vector stays zero)."""
    nrm = _norm(vec, dim)
    return F.when(
        nrm > 0, F.transform(vec, lambda x: x.cast("double") / nrm)
    ).otherwise(F.array(*[F.lit(0.0)] * dim))


def train_pq(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str = "embedding",
    m: int = 8,
    codes: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> list[list[list[float]]]:
    """Fit per-subspace k-means codebooks (write time — never in a query
    path, same discipline as ``build_ivf_index``). Returns ``m`` codebooks
    of ``codes`` centroids of ``dim//m`` floats — ~m·codes·dim/m doubles,
    i.e. kilobytes of index metadata regardless of corpus size.

    Training data is L2-normalized, so codebooks quantize directions; the
    hash-partitioned-by-id layout plus fixed seeds makes refits on the same
    data reproduce the same codebooks.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    sub = dim // m
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    unit = (
        corpus.repartition(n_parts, F.col(corpus_id))
        .select(_unit(F.col(vec_col), dim).alias("__u"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    books: list[list[list[float]]] = []
    for j in range(m):
        feat = unit.select(
            array_to_vector(F.slice(F.col("__u"), j * sub + 1, sub)).alias("__feat")
        )
        km = KMeans(k=codes, seed=seed + j, featuresCol="__feat", predictionCol="__c")
        centers = [[float(v) for v in c] for c in km.fit(feat).clusterCenters()]
        if len(centers) != codes:
            # Degenerate corpus (< codes distinct subvectors): fail loudly —
            # a short codebook would otherwise surface later as a confusing
            # None in pq_topk's literal arrays.
            raise ValueError(
                f"PQ subspace {j}: kmeans returned {len(centers)} centers, "
                f"expected {codes}; corpus too small/degenerate for this codebook size"
            )
        books.append(centers)
    unit.unpersist()
    return books


def pq_encode(
    corpus: DataFrame,
    corpus_id: str,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Assign each vector its nearest centroid per subspace → (id, codes).

    Pure expression tree (no UDF): per subspace the argmin over ``codes``
    centroids uses the -2·x·c + |c|² identity (the |x|² term is constant
    under argmin), with the centroid index as a struct tie-break so equal
    distances pick the lowest code deterministically. Map-only — at 100 TB
    this is a projection over one scan, written next to the data.
    """
    sub = dim // len(codebooks)
    u = _unit(F.col(vec_col), dim)
    df = corpus.select(F.col(corpus_id).alias(corpus_id), u.alias("__u"))
    code_cols = []
    for j, book in enumerate(codebooks):
        cands = []
        for ci, cent in enumerate(book):
            s: Column = F.lit(float(sum(v * v for v in cent)))
            for i, v in enumerate(cent):
                if v != 0.0:
                    s = s - 2.0 * float(v) * F.element_at(F.col("__u"), j * sub + i + 1)
            cands.append(F.struct(s.alias("d"), F.lit(ci).alias("i")))
        code_cols.append(F.array_min(F.array(*cands)).getField("i"))
    return df.select(
        corpus_id, F.array(*code_cols).cast("array<int>").alias("codes")
    )


def pq_topk(
    queries: DataFrame,
    code_table: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    codebooks: list[list[list[float]]],
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 5,
    shortlist: int = 50,
    dim: int = 64,
) -> DataFrame:
    """PQ-ADC top-k with exact re-rank: score every corpus CODE row against
    the broadcast query set via the asymmetric distance (query subvector to
    the centroid its code names — centroids are plan literals, so the scan
    reads only (id, codes)), keep a per-query ``shortlist`` by ADC, then
    re-rank the shortlist with exact cosine against the raw vectors.

    The scan side touches m small ints per corpus row instead of dim
    floats — the 100 TB full-sweep path when even IVF's pruned lists are
    too much IO. Returns (query_id, neighbor_id, cosine, rank).
    """
    m = len(codebooks)
    sub = dim // m
    q = queries.select(
        F.col(query_id).alias("query_id"),
        _unit(F.col(query_vec), dim).alias("__qu"),
    )
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    codes_df = code_table.repartition(n_parts, F.col(corpus_id)).select(
        F.col(corpus_id).alias("neighbor_id"), "codes"
    )
    pairs = (
        F.broadcast(q)
        .crossJoin(codes_df)
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    dist: Column = F.lit(0.0)
    for j, book in enumerate(codebooks):
        cent = F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in book])
        cj = F.element_at(cent, F.element_at(F.col("codes"), j + 1) + 1)
        for i in range(sub):
            d = F.element_at(F.col("__qu"), j * sub + i + 1) - F.element_at(cj, i + 1)
            dist = dist + d * d
    w_short = Window.partitionBy("query_id").orderBy(F.asc("__adc"), F.asc("neighbor_id"))
    short = (
        pairs.select("query_id", "neighbor_id", dist.alias("__adc"))
        .withColumn("__r", F.row_number().over(w_short))
        .filter(F.col("__r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    # exact re-rank: shortlist is queries×shortlist rows — broadcast it
    # against the corpus so the raw vectors are read once, for the
    # shortlist only.
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cv"),
        _norm(F.col(corpus_vec), dim).alias("__cn"),
    )
    qv = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv"),
        _norm(F.col(query_vec), dim).alias("__qn"),
    )
    re = c.join(F.broadcast(short), "neighbor_id").join(F.broadcast(qv), "query_id")
    return _top_k(
        re.select(
            "query_id",
            "neighbor_id",
            _cosine("__qv", "__qn", "__cv", "__cn", dim).alias("cosine"),
        ),
        k,
    )


#: Bounded quantizer-training sample (vectors collected to the driver for
#: the k-means fit). 64k × dim-64 float64 is ~33 MB — driver-trivial; at
#: 100 TB this is the point of the knob: coarse quantizers are fitted on a
#: bounded sample (FAISS trains IVF codebooks on ~O(k·256) vectors; the
#: SemDeDup paper's 25k clusters are likewise sample-fitted), never by
#: iterating Lloyd over the full corpus.
_KMEANS_SAMPLE_CAP = 65_536

#: Above this k the literal-centroid argmin expression (k·dim literals,
#: 2k folds per row) stops being a win over the broadcast-join path.
_ASSIGN_EXPR_MAX_K = 32


def kmeans_fit_sample(
    df: DataFrame,
    vec_col: str,
    order_col: str,
    k: int,
    seed: int,
    sample_cap: int = _KMEANS_SAMPLE_CAP,
    max_iter: int = 25,
) -> list[list[float]]:
    """Seeded k-means (k-means++ init + Lloyd) fitted driver-side on a
    DETERMINISTIC bounded sample — the r15 replacement for the inline
    ``pyspark.ml`` fit in the cell-index builders (guide §1.2: fix the
    distributed algorithm first).

    Why: the distributed fit runs 2 + maxIter full passes over the corpus
    as dozens of scheduler-bound jobs — measured 2-5 s to place 4
    centroids over 2008 vectors at sf0.1, and at real scale it re-reads
    the whole corpus per iteration. Every consumer of these centroids is
    assignment-INVARIANT by construction (the cell partition only has to
    be deterministic and disjoint: SemDeDup's per-cell dedup invariants
    hold for any assignment, and the IVF routing bound is lossless for
    any consistent (centroid, radius) table), so the fit needs a
    representative sample, not the corpus.

    Determinism: the sample is the ``sample_cap`` rows with the smallest
    ``xxhash64(order_col)`` (ties broken by ``order_col``) — a seeded
    uniform draw that is stable across partitioning, executed as one
    TakeOrdered job; init and iteration use ``numpy.random.default_rng
    (seed)`` and argmin ties resolve to the lowest cell id. Empty
    clusters keep their previous center. Returns the k centroids (k is
    capped at the sample size).
    """
    x = _kmeans_sample(df, vec_col, order_col, sample_cap)
    if len(x) == 0:
        raise ValueError("kmeans_fit_sample: empty input")
    return _kmeans_fit(x, k, seed, max_iter)


def _kmeans_sample(df: DataFrame, vec_col: str, order_col: str, sample_cap: int):
    """The deterministic bounded sample of ``kmeans_fit_sample`` as an
    ``(n, dim)`` float64 array (n = 0 for empty input)."""
    import numpy as np

    rows = (
        df.select(F.col(vec_col).alias("__x"), F.col(order_col).alias("__o"))
        .orderBy(F.xxhash64(F.col("__o")), F.col("__o"))
        .limit(sample_cap)
        .collect()
    )
    return np.asarray([r["__x"] for r in rows], dtype=np.float64)


def _kmeans_fit(x, k: int, seed: int, max_iter: int) -> list[list[float]]:
    """Seeded k-means++ init + Lloyd on a non-empty sample ``x``."""
    import numpy as np

    n = len(x)
    k = min(k, n)
    rng = np.random.default_rng(seed)
    centers = [x[int(rng.integers(n))]]
    d2 = ((x - centers[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        tot = d2.sum()
        probs = d2 / tot if tot > 0 else np.full(n, 1.0 / n)
        centers.append(x[int(rng.choice(n, p=probs))])
        d2 = np.minimum(d2, ((x - centers[-1]) ** 2).sum(axis=1))
    c = np.vstack(centers)
    xx = (x * x).sum(axis=1)[:, None]
    assign = None
    for _ in range(max_iter):
        dist = xx - 2.0 * (x @ c.T) + (c * c).sum(axis=1)[None, :]
        a = dist.argmin(axis=1)  # ties -> lowest cell id
        if assign is not None and (a == assign).all():
            break
        assign = a
        for j in range(k):
            m = a == j
            if m.any():
                c[j] = x[m].mean(axis=0)
    return [[float(v) for v in row] for row in c]


def auto_n_cells(n_live: int, target_cell_size: int = 512) -> int:
    """SemDeDup's operating rule: cells must GROW with the corpus so
    per-cell |cell|² work stays task-sized (the paper runs 25k clusters
    for 100M+ docs). k = ⌈n/target⌉ keeps expected cell size constant,
    so total pairwise work is O(n · target) — linear in the corpus. A
    fixed k is the superlinear knob: 10× data at k=16 measured 5.5× vs
    1.4× with k scaled (SCALE.md §8a/8b)."""
    return max(2, -(-n_live // target_cell_size))


def semantic_dedup_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.7,
    n_cells: int | None = None,
    seed: int = 42,
    target_cell_size: int = 512,
    max_iter: int = 8,
    verify_neighbors: bool = False,
) -> DataFrame:
    """Paper-faithful SemDeDup (Abbas et al. 2023): k-means cells, per-cell
    pairwise cosine, centroid-distance keeper — the 100 TB semantic-dedup
    scale path.

    ``verify_neighbors=True`` appends a ``__has_neighbor`` boolean: an
    INDEPENDENT recomputation, inside the same per-cell stage, of whether
    the row has ≥1 within-cell neighbor at ``threshold`` — computed with
    the fold-order-preserving accumulation of ``embedding_near_dup_arrow``
    (left-to-right float64 adds, bit-identical to the expression fold),
    NOT the BLAS matmul the dedup decision uses. It exists for the
    verdict query's ``drops_sound`` check (r15, guide §1.2): a vector is
    dropped only when its within-cell ≥threshold component has ≥2 members,
    and every member of a multi-node component has within-cell degree ≥1,
    so dropped ⇒ within-cell neighbor exists — checking neighbors
    within the cell is therefore STRICTER than the former global
    block-grid pair sweep (within-cell neighbor ⇒ global neighbor) while
    replacing an O(n²) global pass with work that rides the existing
    O(Σ|cell|²) stage. Zero-norm rows are always kept; their
    ``__has_neighbor`` is False and never consulted.

    Two documented limits of that equivalence (r15 ADVICE):

    - *Boundary ulp.* The dedup decision evaluates cosines via
      unit-vector BLAS matmul; this check uses the fold-order raw-vector
      cosine. A pair whose cosine sits at the exact float boundary of
      ``threshold`` can be adjacent under one reduction order and not
      the other, so "verdict identical whenever the operator is correct"
      holds only for corpora with no pair within one reduction-order ulp
      of the threshold (none observed at sf0.001–0.1; the two
      arithmetics are pinned against each other on exact-threshold
      clone pairs in tests/test_similarity.py).
    - *Shared staging.* ``__has_neighbor`` is recomputed with independent
      ARITHMETIC but inside the same ``dedup_cell`` function, on the same
      argsort-ordered batch and cell assignment as the decision it
      audits — a consistent row-alignment bug there would corrupt
      decision and check identically. A structurally independent
      end-to-end oracle is retained at small SF:
      tests/test_similarity.py::test_semantic_dedup_cells_drops_cross_checked_globally
      cross-checks every drop against ``embedding_near_dup_arrow`` over
      the raw corpus, and the DuckDB oracle pins the full output.

    ``plans/similarity.semantic_dedup`` (the closure variant) generates
    EXACT global pairs, which is quadratic when the threshold sits below
    the LSH-prunable regime — correct as a verify-stage shape, measured
    superlinear at 10× (SCALE.md §8). This operator is the paper's answer:

      1. coarse-quantize vectors into ``n_cells`` k-means cells (write-time
         in production — same machinery as ``build_ivf_index``; fitted
         inline here with a fixed seed for determinism),
      2. within each cell, compute the pairwise cosine matrix in one
         Arrow-batched numpy pass (``applyInPandas`` per cell — the
         paper's own per-cluster computation, vectorized),
      3. connected components of the ≥``threshold`` graph WITHIN the cell
         (union-find over the boolean adjacency — cells are disjoint, so
         no cross-cell closure exists by construction),
      4. keeper per component = the member with the LOWEST cosine to the
         cell centroid (the paper's keep-outliers rule: retain the least
         redundant representative), ties broken by min id.

    Scale contract: per-cell work is |cell|² — ``n_cells`` must grow with
    the corpus so cells stay task-sized (the paper runs 25k clusters for
    100M+ docs). The default therefore AUTO-SCALES:
    ``n_cells = ⌈n_vectors / target_cell_size⌉`` (one count() action —
    this is a write-time operator in production, where one extra scan is
    the normal cost of fitting the quantizer; a fixed-k run at 10× data
    measured 5.5× work vs 1.4× with k scaled, SCALE.md §8a/8b — the knob
    is the exponent). Pass ``n_cells`` explicitly to pin determinism of
    the cell assignment across corpora (the verdict-row oracle does). The
    shuffle moves each vector exactly once (one exchange on the cell id);
    centroids are a k×dim literal (kilobytes, broadcast like the PQ
    codebooks).

    Zero-norm vectors can never clear a positive threshold: routed
    straight to kept. Returns (id, keep_id, kept) — one row per input
    vector; ``kept=false`` rows are the drops, ``keep_id`` the surviving
    representative in the same cell.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    v = df.select(F.col(id_col), F.col(vec_col).alias("__v")).withColumn(
        "__n", _norm(F.col("__v"))
    )
    zero_cols = [
        F.col(id_col),
        F.col(id_col).alias("keep_id"),
        F.lit(True).alias("kept"),
    ]
    if verify_neighbors:
        zero_cols.append(F.lit(False).alias("__has_neighbor"))
    zero = v.filter(F.col("__n") <= 0).select(*zero_cols)
    live = v.filter(F.col("__n") > 0)

    feat = live.repartition(n_parts, F.col(id_col))
    if n_cells is None:
        n_live = live.count()
        if not n_live:  # nothing to cluster: every row is a zero-norm passthrough
            return zero
        n_cells = auto_n_cells(n_live, target_cell_size)
    if n_cells < 2:
        # degenerate single-cell mode: the cell graph IS the global graph
        # — exact, but one task does all pairs. Test/verify mode only;
        # never the scale path.
        first = feat.select("__v").first()
        if first is None:  # nothing to cluster (see the n_cells=None path)
            return zero
        assigned = feat.withColumn("__cell", F.lit(0))
        dim_n = len(first["__v"])
        means = live.agg(
            *[F.avg(F.element_at("__v", i + 1)).alias(f"m{i}") for i in range(dim_n)]
        ).first()
        centers = [(0, [float(means[i]) for i in range(dim_n)])]
    else:
        # r15: sample-fitted seeded k-means in RAW vector space (the
        # paper clusters raw embeddings) — see kmeans_fit_sample. The
        # former distributed fit (even capped at maxIter=8) cost 2-5 s
        # of scheduler-bound micro-jobs at sf0.1 and re-reads the corpus
        # per iteration at scale; the cells are a coarse partition, not a
        # model — every downstream guarantee (disjoint cells, per-cell
        # exact cosine, keeper rule, the verdict invariants) holds for
        # ANY deterministic assignment. Assignment runs JVM-side via the
        # broadcast-centroid argmin; the converged-sample centroids keep
        # cell balance at least as good as the truncated Lloyd they
        # replace (probed: max-cell share unchanged at sf0.1).
        # kmeans_fit_sample in two halves: its sample is also the free
        # emptiness signal for an explicit n_cells
        sample = _kmeans_sample(feat, "__v", id_col, _KMEANS_SAMPLE_CAP)
        if len(sample) == 0:
            return zero
        centers = list(enumerate(_kmeans_fit(sample, n_cells, seed, max_iter)))
        # nearest centroid by raw-space squared distance (map-only for
        # small k, see _nearest_cell)
        def sq_diff(x: Column, c: Column) -> Column:
            d = x.cast("double") - c
            return d * d

        assigned = _nearest_cell(
            feat, centers, lambda c: _fold("__v", c, sq_diff), id_col
        )
    cent = F.broadcast(
        spark.createDataFrame(centers, "__cell int, __centroid array<double>")
    )
    # cosine-to-centroid computed JVM-side so the pandas stage only sees
    # (id, vector, cell, ccos) — no centroid array per row in the shuffle
    ccos = _dot(F.col("__v"), F.col("__centroid")) / (
        F.col("__n") * _norm(F.col("__centroid"))
    )
    staged = assigned.join(cent, "__cell").select(
        F.col("__cell"), F.col(id_col), F.col("__v"), ccos.alias("__ccos")
    )

    out_schema = f"{id_col} long, keep_id long, kept boolean"
    if verify_neighbors:
        out_schema += ", __has_neighbor boolean"

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        ccs = pdf["__ccos"].to_numpy()[order]
        mat = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["__v"]])[order]
        norms = np.linalg.norm(mat, axis=1)
        unit = mat / norms[:, None]
        adj = (unit @ unit.T) >= threshold
        n = len(ids)
        parent = np.arange(n)

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        rows_i, cols_j = np.nonzero(np.triu(adj, k=1))
        for i, j in zip(rows_i.tolist(), cols_j.tolist()):
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)
        roots = np.array([find(i) for i in range(n)])
        keep_of: dict[int, int] = {}
        for r in np.unique(roots):
            members = np.nonzero(roots == r)[0]
            # paper's rule: keep the member least similar to the centroid
            # (lowest ccos); ids are pre-sorted so argmin ties → min id
            keep_of[int(r)] = int(members[np.argmin(ccs[members])])
        keep_idx = np.array([keep_of[int(r)] for r in roots])
        out = {
            id_col: ids,
            "keep_id": ids[keep_idx],
            "kept": keep_idx == np.arange(n),
        }
        if verify_neighbors:
            # independent adjacency recomputation: fold-order float64
            # accumulation (the arithmetic of embedding_near_dup_arrow /
            # the expression fold), NOT the unit-vector BLAS matmul the
            # dedup decision used — same reduction order as the former
            # global checker, restricted to the cell (see docstring).
            s = np.zeros(n, dtype=np.float64)
            for k in range(mat.shape[1]):
                s = s + mat[:, k] * mat[:, k]
            nrm = np.sqrt(s)
            dot = np.zeros((n, n), dtype=np.float64)
            for k in range(mat.shape[1]):
                dot = dot + mat[:, k, None] * mat[None, :, k]
            cosm = dot / (nrm[:, None] * nrm[None, :])
            am = cosm >= threshold
            np.fill_diagonal(am, False)
            out["__has_neighbor"] = am.any(axis=1)
        return pd.DataFrame(out)

    deduped = staged.groupBy("__cell").applyInPandas(dedup_cell, schema=out_schema)
    return deduped.unionByName(zero)


def embedding_near_dup_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_blocks: int = 8,
) -> DataFrame:
    """Arrow-vectorized twin of ``embedding_near_dup``: same block-grid
    self-join topology, same EXACT result bit-for-bit, but each grid
    cell's cross-cosine matrix is computed in one numpy pass instead of
    per-pair expression evaluation (measured ~23 µs/pair interpreted →
    the vectorized pass amortizes to well under 1 µs/pair).

    Bit-exactness: the dot product accumulates in a Python loop over the
    dimension — ``acc = acc + a[k]*b[k]`` with float64 adds in the same
    left-to-right order as the expression fold (and DuckDB's list_sum), so
    cosines are IDENTICAL to the expression path, not merely close; numpy
    vectorizes across the pair matrix, not across the reduction order.
    (A BLAS matmul would reorder the reduction and drift in the last ulp —
    exactly what the bit-exact oracle exists to catch.)

    Cell topology, memory bound (2·n/n_blocks vectors per task), and the
    id normalization are identical to ``embedding_near_dup`` — see its
    docstring for the grid construction and the LSH guidance at high
    thresholds. Returns (id_a, id_b, cosine).
    """
    import numpy as np
    import pandas as pd

    b = n_blocks
    v = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        _norm(F.col(vec_col)).alias("__n"),
    ).filter(F.col("__n") > 0)
    rows, cols = _grid_sides(v, b)
    staged = rows.select("__cell", F.lit(0).alias("__side"), "__id", "__v", "__n").unionByName(
        cols.select("__cell", F.lit(1).alias("__side"), "__id", "__v", "__n")
    )

    out_schema = "id_a long, id_b long, cosine double"

    def cell_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (cell,) = key
        diag = (cell % b) == (cell // b)
        av = pdf[pdf["__side"] == 0]
        bv = pdf[pdf["__side"] == 1]
        if not len(av) or not len(bv):
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        A = np.asarray([np.asarray(x, dtype=np.float64) for x in av["__v"]])
        B = np.asarray([np.asarray(x, dtype=np.float64) for x in bv["__v"]])
        na = av["__n"].to_numpy(dtype=np.float64)
        nb = bv["__n"].to_numpy(dtype=np.float64)
        ia = av["__id"].to_numpy()
        ib = bv["__id"].to_numpy()
        # fold-order-preserving accumulation: one vectorized FMA per
        # dimension, reduction order identical to the expression fold
        dot = np.zeros((len(A), len(B)), dtype=np.float64)
        for k in range(A.shape[1]):
            dot = dot + A[:, k, None] * B[None, :, k]
        cos = dot / (na[:, None] * nb[None, :])
        mask = cos >= threshold
        if diag:
            mask &= ia[:, None] < ib[None, :]
        r, c = np.nonzero(mask)
        id_a = ia[r]
        id_b = ib[c]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cos[r, c]})

    return staged.groupBy("__cell").applyInPandas(cell_pairs, schema=out_schema)
