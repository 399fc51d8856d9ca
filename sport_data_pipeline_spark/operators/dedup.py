"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Training-data-pipeline dedup at 100 TB is shuffle-bound; each operator here
is designed so the quadratic comparison only ever happens inside small
candidate buckets:

- exact:      one hash-agg on a content fingerprint (md5 of normalized text).
- jaccard:    blocked self-join (caller supplies blocking keys) + set ops.
- minhash:    shingle → K hash permutations → band buckets → pairs only
              within a capped bucket (classic LSH banding; 32 hashes × 16
              bands by default, optional block keys), then the same
              exact-Jaccard verification as jaccard.
- simhash:    64-bit signature; candidates = equal 16-bit chunk (tables
              rotated 4×), verify by Hamming distance.

All hashing is Spark's xxhash64 (deterministic, JVM-side); no Python UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import content_fingerprint, tokens


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per identical (normalized) content.

    One shuffle on the fingerprint; survivors join back by id so the full
    row survives without shuffling wide payloads through the agg.
    """
    fp = df.select(F.col(id_col), content_fingerprint(text_col).alias("__fp"))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col)).drop("__fp")
    return df.join(keep, id_col, "left_semi")


def _jaccard_verify(threshold: float) -> tuple[Column, Column]:
    """The exact verify shared by every Jaccard operator here, over the
    columns ``__set_a``/``__n_a``/``__set_b``/``__n_b`` (distinct shingle
    hashes and their sizes): returns (size_window, jaccard).

    ``size_window`` is the set-similarity length filter: J(A,B) >= t forces
    the sizes into a t-window (|A∩B| <= min, |A∪B| >= max ⇒ min/max >= J).
    Evaluated on two ints before the O(|set|) intersection, it prunes
    candidates before any set op runs — the verify stage otherwise
    dominates the whole job (measured 7.5× on a corpus whose blocks pair
    freely), and at 100× corpus the saving multiplies directly.
    DIVISION form, not t·max <= min: fl(t·max) can round just above an
    integer min and drop a pair whose Jaccard equals t exactly, whereas
    min/max >= inter/union in the reals plus fl-monotonicity guarantees
    fl(min/max) >= fl(inter/union) — exactly consistent with the final
    jaccard >= t filter, hence lossless.
    """
    size_window = (
        F.least("__n_a", "__n_b").cast("double") / F.greatest("__n_a", "__n_b")
        >= F.lit(threshold)
    )
    inter = F.size(F.array_intersect("__set_a", "__set_b"))
    # |A∪B| = |A| + |B| − |A∩B| over distinct arrays: one array op per
    # surviving pair instead of two.
    union = F.col("__n_a") + F.col("__n_b") - inter
    return size_window, F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    threshold: float,
    shingle_n: int = 1,
) -> DataFrame:
    """Near-duplicate pairs by token-set Jaccard within blocks.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    Blocking keeps the self-join linear-ish: pairs only form within a block.
    """
    # Repartition the raw rows (a single-file corpus must not tokenize in
    # one task), then PERSIST the token sets: the self-join references this
    # subtree on both sides, and Catalyst inlines projections straight
    # through exchanges — without the cache the (interpreted, per-element)
    # shingle expression would re-evaluate per reference. The cache is also
    # the scale-correct plan: tokenize each doc once, not once per use.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    shingle_set = _shingle_sets(text_col, shingle_n)
    shingled = (
        df.repartition(n_parts, *[F.col(c) for c in block_cols], F.col(id_col))
        .select(
            *block_cols,
            F.col(id_col),
            shingle_set.alias("__set"),
            F.size(shingle_set).alias("__n"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    a, b = (
        shingled.select(
            *[F.col(c).alias(f"__b{t}_{c}") for c in block_cols],
            F.col(id_col).alias(f"id_{t}"),
            F.col("__set").alias(f"__set_{t}"),
            F.col("__n").alias(f"__n_{t}"),
        )
        for t in "ab"
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(f"__ba_{c}") == F.col(f"__bb_{c}"))
    size_window, jac = _jaccard_verify(threshold)
    return (
        a.join(b, cond & size_window)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _shifted_fold(arr: Column, n: int, combine, null_type: str) -> Column:
    """``combine`` folded over ``n`` shifted copies of ``arr``: element i is
    combine(arr[i], …, arr[i+n-1]), NULL (of ``null_type``) where a window
    runs off the end. zip_with null-pads the shorter side, so the fold is
    O(n · len) with no per-position slicing and no per-element
    ``element_at`` on an expression (which re-evaluates the whole child
    array per access in interpreted mode)."""
    out = arr
    for k in range(1, n):
        shifted = F.slice(arr, k + 1, F.greatest(F.size(arr) - k, F.lit(0)))
        out = F.zip_with(
            out,
            shifted,
            lambda a, b: F.when(a.isNull() | b.isNull(), F.lit(None).cast(null_type)).otherwise(
                combine(a, b)
            ),
        )
    return out


def _positional_shingle_hashes(text_col: str, n: int) -> Column:
    """In-order n-gram shingle hashes (one per start position, trailing
    partials dropped) as array<long>, in O(n · tokens).

    Hashes each token once, then folds ``n`` shifted copies of the hash
    array together — shingle hash = chained xxhash64 of the n consecutive
    token hashes. Avoids O(len²) shingle *strings* (slice+concat per
    position).
    """
    th = F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    return F.array_compact(_shifted_fold(th, n, F.xxhash64, "long"))


def _shingle_sets(text_col: str, shingle_n: int) -> Column:
    """The one shingle-hash-set expression of every Jaccard and MinHash
    operator here and of ``build_dedup_index`` — an indexed corpus routes
    bit-identically to a raw one only because both use it (unit-pinned).

    Hashed shingles (array<long>), not shingle strings: set-intersection
    SIZES — and therefore Jaccard — are identical modulo 2^-64 hash
    collisions, and primitive-array set ops avoid per-element string
    hashing in the pair loop, which dominates the verify stage."""
    return F.array_distinct(
        _positional_shingle_hashes(text_col, shingle_n)
        if shingle_n > 1
        else F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    out_col: str = "fingerprints",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    rolling-hash scheme): the minimum k-gram hash of every ``window``-wide
    sliding window, deduplicated.

    Guarantee: any shared token run of length ≥ window + k - 1 between two
    documents yields at least one shared fingerprint — substring-overlap
    detection at ~1/window the storage of the full shingle set. Same
    shifted fold as the shingle hashes: O(window · grams) per row.

    Returns (id_col, fingerprints array<long>); docs with fewer than
    window + k - 1 tokens get an empty array.
    """
    m = _shifted_fold(_positional_shingle_hashes(text_col, k), window, F.least, "long")
    return df.select(
        F.col(id_col), F.array_distinct(F.array_compact(m)).alias(out_col)
    )


def winnow_fingerprints_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    window: int = 4,
    out_col: str = "fingerprint",
) -> DataFrame:
    """Winnowing fingerprints over md5 k-gram hashes, exploded to one row per
    fingerprint — the cross-engine-checkable twin of ``winnow_fingerprints``.

    Same min-over-sliding-window scheme, but grams hash to md5 hex strings
    (identical in any engine, unlike xxhash64) and the output is scalar rows
    `(id_col, fingerprint string)` instead of `array<long>`, so external
    harnesses can hash-compare it. The xxhash64 array variant stays the
    production fast path; this one is the verification/interchange surface.
    """
    toks = tokens(F.col(text_col))
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k)).cast("binary"))
    )
    fps = F.array_distinct(F.array_compact(_shifted_fold(grams, window, F.least, "string")))
    return df.select(F.col(id_col), F.explode(fps).alias(out_col))


def _minhash_signature(shingle_set: Column, num_hashes: int) -> list[Column]:
    """K minhash values: min over xxhash64(shingle_hash, seed=i) per
    permutation (shingles are already longs — cheap to re-hash)."""
    return [
        F.array_min(F.transform(shingle_set, lambda s: F.xxhash64(s, F.lit(i)))).alias(
            f"__mh_{i}"
        )
        for i in range(num_hashes)
    ]


def _lsh_buckets(
    df: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    set_col: str,
    num_hashes: int,
    bands: int,
    max_bucket_size: int,
    persist: bool = False,
    names: tuple[str, str, str] = ("__band", "band", "sig"),
) -> tuple[DataFrame, DataFrame]:
    """Banded MinHash-LSH buckets over ``df``'s shingle sets.

    Returns (signed, buckets): ``signed`` is ``df`` plus K = ``num_hashes``
    minhash columns (persisted when ``persist``, so a caller that also
    verifies from it computes every shingle set and signature once);
    ``buckets`` has one (key_cols…, id, band, sig) row per band — each band
    signature an xxhash64 of num_hashes/bands consecutive minhashes — with
    buckets (equal key_cols, band, sig) larger than ``max_bucket_size``
    dropped. ``names`` are the exploded struct and its band / sig columns.

    A bucket larger than the cap is non-discriminative (boilerplate
    shingles, skewed signatures) and would make the pair join quadratic in
    its size; at corpus scale the cap is what keeps the worst key from
    dominating the job. It is a window count over the bucket key: ONE
    exchange that also leaves the rows hash-partitioned on exactly the
    pair-join key, so that join runs without re-shuffling either side (vs.
    the obvious groupBy-count + semi-join gate: three exchanges on the same
    key).
    """
    struct_col, band, sig = names
    rows = num_hashes // bands
    signed = df.select("*", *_minhash_signature(F.col(set_col), num_hashes))
    if persist:
        signed = signed.persist(StorageLevel.MEMORY_AND_DISK)
    banded = signed.select(
        *key_cols,
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias(band),
                        F.xxhash64(
                            *[F.col(f"__mh_{bi * rows + r}") for r in range(rows)]
                        ).alias(sig),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias(struct_col),
    ).select(*key_cols, id_col, f"{struct_col}.{band}", f"{struct_col}.{sig}")
    buckets = (
        banded.withColumn("__bn", F.count(F.lit(1)).over(Window.partitionBy(*key_cols, band, sig)))
        .filter(F.col("__bn") <= max_bucket_size)
        .drop("__bn")
    )
    return signed, buckets


def minhash_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str] = (),
    threshold: float = 0.5,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 16,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Near-dup pairs: MinHash-LSH candidates feeding the exact-Jaccard
    verifier.

    shingle → K minhashes → ``bands`` band signatures → explode → capped
    bucket join (pairs share ≥1 band) → dedupe candidates → size-window
    prune → exact Jaccard filter. Same contract as ``jaccard_pairs`` —
    (id_a, id_b, jaccard) with id_a < id_b, both docs in the same block,
    jaccard >= ``threshold`` — but the candidate set comes from banded LSH
    buckets instead of the blocked all-pairs self-join. ``jaccard_pairs``
    stays linear only while blocks stay small (its within-block candidates
    are quadratic: measured 14.5× work at 10× data, SCALE.md §8); here
    candidate volume is driven by LSH bucket sizes, which the
    ``max_bucket_size`` cap bounds, so this is the shape that survives
    100×. The verify is the same as ``jaccard_pairs``'s, so the output
    contract (and its exact-SQL oracle) is unchanged. Block keys ride
    inside the bucket key, so candidates never cross blocks; with no
    ``block_cols`` every doc may pair with every other.

    Banding r = num_hashes/bands puts the candidate S-curve
    1-(1-s^r)^bands knee at (1/bands)^(1/r); the default 32 hashes × 16
    bands (r=2) lands it at 0.25 — loose enough that a true pair at the 0.5
    threshold bands into a candidate bucket with probability
    1−(1−0.5²)^16 ≈ 0.99, and deterministic given xxhash64 (measured recall
    1.0 vs the exact all-pairs oracle at sf0.001/0.01/0.1). Match the knee
    to the threshold: 16 hashes × 4 bands puts it at ≈0.71 for a 0.7
    threshold. A much lower threshold needs looser banding *and* accepts a
    candidate explosion — don't.

    The intermediate signature table is persisted (banding + both verify
    sides read it); its lifetime is caller-owned — materialize the result,
    then ``spark.catalog.clearCache()`` if the session runs more jobs.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    # Repartition raw rows (parallel shingling on single-file input), then
    # PERSIST the signature table: it feeds banding AND both verification
    # sides, and Catalyst inlines projections through exchanges — without
    # the cache the shingle construction and the K minhash expressions
    # re-evaluate once per reference (measured 12× plan duplication).
    base = (
        df.repartition(n_parts, *[F.col(c) for c in block_cols], F.col(id_col))
        .select(*block_cols, F.col(id_col), _shingle_sets(text_col, shingle_n).alias("__set"))
        .filter(F.size("__set") > 0)
        .withColumn("__n", F.size("__set"))
    )
    sig, buckets = _lsh_buckets(
        base, block_cols, id_col, "__set", num_hashes, bands, max_bucket_size, persist=True
    )
    # Bucket-join carries only ids — the wide shingle arrays rejoin after
    # the candidate pairs are deduped, so the shuffle moves (long, long)
    # pairs, not token sets.
    bucket_key = [*block_cols, "band", "sig"]
    a = buckets.select(*bucket_key, F.col(id_col).alias("id_a"))
    b = buckets.select(*bucket_key, F.col(id_col).alias("id_b"))
    candidates = (
        a.join(b, bucket_key)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sets_a, sets_b = (
        sig.select(
            F.col(id_col).alias(f"id_{t}"),
            F.col("__set").alias(f"__set_{t}"),
            F.col("__n").alias(f"__n_{t}"),
        )
        for t in "ab"
    )
    size_window, jac = _jaccard_verify(threshold)
    return (
        candidates.join(sets_a, "id_a")
        .join(sets_b, "id_b")
        .filter(size_window)
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _simhash(hashes: Column, bits: int) -> Column:
    """SimHash fold of an array<long> of token hashes into a ``bits``-bit
    long: every hash votes +1/−1 per bit (weighted by occurrence), and the
    positive bits of the vote vector fold back into the signature."""
    # literal 2^b masks (bit 63 is the sign bit → min-long literal); avoids
    # shiftleft, whose Python API only takes a constant shift amount
    powers = F.array(
        *[F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long") for b in range(bits)]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("int"), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda b: F.when(
                    h.bitwiseAND(F.element_at(powers, b.cast("int") + 1)) != 0, 1
                ).otherwise(-1),
            ),
            lambda a, v: a + v,
        ),
    )
    # Fold sign bits via OR of the 2^b masks (no arithmetic → no ANSI
    # overflow on the sign bit).
    return F.aggregate(
        F.zip_with(
            votes, powers, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash(df: DataFrame, id_col: str, text_col: str, out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash per document, entirely in Spark expressions.

    Token hashes vote per bit (+1/−1, weighted by occurrence); the sign
    vector folds back into a long. Near-dup = small Hamming distance
    (see ``simhash_near_dup``).
    """
    hashes = F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    return df.select(F.col(id_col), _simhash(hashes, 64).alias(out_col))


def _chunk_blocked_hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    n_chunks: int,
    chunk_bits: int,
    max_hamming: int,
) -> DataFrame:
    """Pairs within ``max_hamming`` whose signatures share at least one
    equal ``chunk_bits``-wide chunk. Pigeonhole gives GUARANTEED recall
    only when ``max_hamming < n_chunks`` (fewer differing bits than
    chunks forces an untouched chunk); beyond that the blocking is lossy
    and the caller owns the recall tradeoff."""
    mask = (1 << chunk_bits) - 1
    chunked = sigs.select(
        id_col,
        sig_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col(sig_col), i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("c"),
    ).select(id_col, sig_col, "c.chunk", "c.val")
    a = chunked.select(
        F.col("chunk").alias("chunk_a"), F.col("val").alias("val_a"),
        F.col(id_col).alias("id_a"), F.col(sig_col).alias("sig_a"),
    )
    b = chunked.select(
        F.col("chunk").alias("chunk_b"), F.col("val").alias("val_b"),
        F.col(id_col).alias("id_b"), F.col(sig_col).alias("sig_b"),
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(
            b,
            (F.col("chunk_a") == F.col("chunk_b"))
            & (F.col("val_a") == F.col("val_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: block on the 4 16-bit chunks, verify by
    exact Hamming distance ≤ ``max_hamming``. Recall is guaranteed (by
    pigeonhole) for ``max_hamming`` ≤ 3; wider thresholds trade recall —
    measured on this corpus, chunk blocking finds only ~13% of all
    Hamming-≤12 pairs, so treat >3 as candidate mining, not dedup.
    Returns (id_a, id_b, hamming)."""
    # Parallelize the vote fold (raw repartition) and PERSIST the signature
    # table: both join sides read it, and Catalyst would otherwise inline
    # the 64-bit vote fold into each reference (see minhash_jaccard_pairs).
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    sigs = simhash(df.repartition(n_parts, F.col(id_col)), id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    return _chunk_blocked_hamming_pairs(sigs, id_col, "simhash", 4, 16, max_hamming)


def simhash_portable(df: DataFrame, id_col: str, text_col: str, out_col: str = "simhash") -> DataFrame:
    """60-bit SimHash over md5-derived token hashes — the cross-engine twin
    of ``simhash`` (xxhash64 has no SQL twin; the top 15 hex chars of md5
    give 60 bits that any engine converts identically, and 60 bits stay
    clear of the int64 sign bit in both)."""
    hashes = F.transform(
        tokens(F.col(text_col)),
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10).cast("long"),
    )
    return df.select(F.col(id_col), _simhash(hashes, 60).alias(out_col))


def build_dedup_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    shingle_n: int = 3,
) -> DataFrame:
    """Write-time signature index for ``incremental_dedup``: one compact
    row per corpus doc — content fingerprint, block keys, shingle-hash set
    and its size. Persist this next to the corpus and pass it (instead of
    the raw corpus) to ``incremental_dedup``: the per-batch fold then
    never re-reads or re-shingles corpus TEXT — the only per-batch
    O(corpus) cost left is scanning this index, which is a fraction of the
    text bytes and needs no tokenization. This is the same write-time-
    index pattern as the IVF/PQ ANN tables, applied to the dedup gates;
    it is what keeps an unbounded ingest loop's per-batch cost flat at
    full corpus scale (SCALE.md §10). After a batch routes, append
    ``build_dedup_index(kept_docs, ...)`` rows — the index folds forward
    exactly like the corpus does."""
    from ..partitioning import spread

    # r15: the fingerprint+shingle chain is the expensive map work of the
    # whole indexed-dedup path, and a single-file corpus scans as ONE
    # split — spread it across the cluster first (no-op when the scan is
    # already parallel). Also parallelizes the index WRITE that callers
    # chain onto this frame (one output file per task). Hashing on
    # (blocks, id) — the exact clustering incremental_dedup's raw-corpus
    # branch re-establishes — lets CollapseRepartition fold that branch's
    # own repartition into this one, so the exchange carries TEXT once
    # instead of the (larger) computed shingle sets.
    df = spread(df, *block_cols, id_col)
    # two selects: Catalyst does not guarantee common-subexpression
    # elimination across higher-order-function chains, so computing __set
    # once and deriving __n from the materialized column guarantees the
    # corpus text is tokenized/shingled exactly once per scan
    return df.select(
        F.col(id_col),
        content_fingerprint(text_col).alias("__fp"),
        *[F.col(c) for c in block_cols],
        _shingle_sets(text_col, shingle_n).alias("__set"),
    ).withColumn("__n", F.size(F.col("__set")))


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: Sequence[str],
    threshold: float = 0.5,
    shingle_n: int = 3,
    minhash_candidates: tuple[int, int] | None = None,
    max_bucket_size: int = 200,
    bloom_m_bits: int | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus (incremental ingestion).

    The steady-state shape of a production pipeline: the corpus is already
    deduplicated, and each incoming crawl batch must be checked against it
    without re-running dedup over everything. Two gates, both one-sided
    (batch × corpus, never corpus × corpus):

      1. exact — fingerprint equi-join; a batch doc whose normalized text
         already exists is ``dup_exact`` (re-crawls hit this constantly).
      2. near  — blocked (batch × corpus) join with the lossless Jaccard
         length filter, then exact set Jaccard ≥ ``threshold`` →
         ``near_dup``.

    Everything else is ``kept``. ``match_id`` is the smallest matching
    corpus id (exact match wins over near match), NULL for kept docs.

    Scale: the batch is typically orders of magnitude smaller than the
    corpus, so both joins are skewed in the cheap direction — the corpus
    streams through exactly twice (fingerprint scan + shingle scan), no
    corpus self-join ever forms, and the only quadratic-ish work is
    batch-block × corpus-block pruned by the size-window predicate before
    any set op runs. At full corpus scale pass
    ``minhash_candidates=(num_hashes, bands)``: the near gate's candidate
    pairs then come from a ONE-SIDED banded-LSH bucket join (batch bands ×
    corpus bands — ids only, sets rejoin afterwards) instead of the full
    block cross, with the identical size-window + exact-Jaccard verify —
    same contract, same output schema, candidate volume driven by bucket
    collisions rather than block sizes. With (32, 16) banding the
    candidate S-curve knee sits at 0.25, so threshold-0.5 pairs band
    together w.p. ≈0.99 each; measured recall vs the exact all-pairs
    oracle is 1.0 at sf0.001/0.01/0.1 (same bet, same parameters as
    ``minhash_jaccard_pairs``).

    ``corpus`` may be either the raw corpus (with ``text_col``) or a
    write-time signature index from ``build_dedup_index`` (detected by its
    ``__fp``/``__set`` columns) — the indexed path routes bit-identically
    (unit-pinned) while never touching corpus text at batch time.

    ``bloom_m_bits`` turns on SEMI-JOIN REDUCTION of the
    exact gate: a Bloom bitmap over the (small) batch's fingerprints
    collapses to one broadcast map, and the (huge) corpus fingerprint
    scan is pre-filtered by a pure projection before it ever reaches the
    equi-join — at 100 TB the corpus rows entering the exact join's
    exchange drop to true matches + the ~(1-e^(-jn/m))^j false-positive
    sliver, instead of the whole corpus. False negatives are impossible
    (the Bloom guarantee), so routing is bit-identical with the filter
    on or off (unit-pinned), and the probe adds ZERO exchanges and zero
    joins anywhere (plan-asserted) — the collected word table folds
    into the plan as a literal bitmap, so the only added costs are the
    tiny build job at plan-construction time and four O(1) array probes
    per corpus row. Measured (tools/bloom_crossover_probe.py + the
    isolated exact-gate A/B recorded in SCALE.md §4): the mechanism is
    3.1x on the exact gate in the shuffle regime at 20M corpus rows,
    but within noise at incremental_dedup level at test scale (the
    near gate dominates), and construction adds ~1-2 s per plan.
    Default OFF: headline/bench calls should not pay construction for
    an invisible exec win (SCALE.md §7 — small-SF and 100 TB plans
    intentionally diverge); the steady-state ingest loop
    (stream_ingest_dedup's foreachBatch) enables it with m sized to its
    batches, which is the shape where an unbounded corpus makes the
    exact gate's corpus-side cost dominant.

    Returns one row per batch doc: (id, status, match_id).
    """
    block_exprs = [F.col(c) for c in block_cols]
    n_parts = batch.sparkSession.sparkContext.defaultParallelism

    if "__fp" in corpus.columns and "__set" in corpus.columns:
        cindex = corpus
    else:
        cindex = build_dedup_index(corpus, id_col, text_col, block_cols, shingle_n)

    bfp = batch.select(F.col(id_col), content_fingerprint(text_col).alias("__fp"))
    cfp = cindex.select(F.col(id_col).alias("__cid"), "__fp")
    if bloom_m_bits:
        from .sketches import bloom_build, bloom_probe

        # xxhash64 form: as an ENGINE pre-filter the per-row probe cost is
        # the whole game, and xxhash64 is ~an order of magnitude cheaper
        # than the md5 form the cross-engine-oracled sketch queries pin
        words = bloom_build(bfp, "__fp", m_bits=bloom_m_bits, hash_fn="xxhash64")
        cfp = (
            bloom_probe(cfp, "__fp", words, m_bits=bloom_m_bits, hash_fn="xxhash64")
            .filter(F.col("bloom_pass"))
            .drop("bloom_pass")
        )
    exact = bfp.join(cfp, "__fp").groupBy(id_col).agg(F.min("__cid").alias("__exact"))

    # id_col joins the partition keys so a skewed block (one dominant
    # lang/source) spreads across tasks instead of collapsing into one —
    # the join key is still the block columns, so correctness is unchanged
    # (same rationale as jaccard_pairs).
    a = batch.repartition(n_parts, *block_exprs, F.col(id_col)).select(
        *[F.col(c).alias(f"__a_{c}") for c in block_cols],
        F.col(id_col),
        _shingle_sets(text_col, shingle_n).alias("__set_a"),
    ).withColumn("__n_a", F.size("__set_a"))
    b = cindex.repartition(n_parts, *block_exprs, F.col(id_col)).select(
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
        F.col(id_col).alias("__cid"),
        F.col("__set").alias("__set_b"),
        F.col("__n").alias("__n_b"),
    )
    size_window, jac = _jaccard_verify(threshold)

    if minhash_candidates is None:
        cond = F.lit(True)
        for c in block_cols:
            cond = cond & (F.col(f"__a_{c}") == F.col(f"__b_{c}"))
        pairs = a.join(b, cond & size_window)
    else:
        # One-sided banded LSH: batch bands × corpus bands meet on
        # (block, band, band-signature), each side bucket-capped; ids-only
        # candidates, sets rejoin for the exact verify. Both shingle frames
        # persist — each feeds its banding AND the verify join-back. As with
        # minhash_jaccard_pairs, the persists' lifetime is session-owned:
        # materialize the result, then ``spark.catalog.clearCache()`` (or
        # re-create the session) if the caller keeps running jobs — do NOT
        # call this path inside a long-lived loop that can't clear cache
        # (streaming foreachBatch uses the plain blocked branch).
        num_hashes, bands = minhash_candidates
        # Empty shingle sets can never near-match (the size window is NULL
        # for them) but every one of them would carry the identical
        # all-NULL band signature — one degenerate mega-bucket joining all
        # short docs quadratically. Exclude them BEFORE banding, exactly
        # like minhash_jaccard_pairs' size>0 filter.
        a = a.filter(F.col("__n_a") > 0).persist(StorageLevel.MEMORY_AND_DISK)
        b = b.filter(F.col("__n_b") > 0).persist(StorageLevel.MEMORY_AND_DISK)
        buckets_a, buckets_b = (
            _lsh_buckets(
                side,
                [f"__{t}_{c}" for c in block_cols],
                idc,
                f"__set_{t}",
                num_hashes,
                bands,
                max_bucket_size,
                names=("__bs", f"__band_{t}", f"__sig_{t}"),
            )[1]
            for side, t, idc in ((a, "a", id_col), (b, "b", "__cid"))
        )
        bcond = (F.col("__band_a") == F.col("__band_b")) & (
            F.col("__sig_a") == F.col("__sig_b")
        )
        for c in block_cols:
            bcond = bcond & (F.col(f"__a_{c}") == F.col(f"__b_{c}"))
        cand = (
            buckets_a.join(buckets_b, bcond)
            .select(id_col, "__cid")
            .dropDuplicates([id_col, "__cid"])
        )
        pairs = (
            cand.join(a.select(id_col, "__set_a", "__n_a"), id_col)
            .join(b.select("__cid", "__set_b", "__n_b"), "__cid")
            .filter(size_window)
        )

    near = (
        pairs.select(F.col(id_col), F.col("__cid"), jac.alias("__j"))
        .filter(F.col("__j") >= threshold)
        .groupBy(id_col)
        .agg(F.min("__cid").alias("__near"))
    )

    return (
        batch.select(id_col)
        .join(exact, id_col, "left")
        .join(near, id_col, "left")
        .select(
            id_col,
            F.when(F.col("__exact").isNotNull(), F.lit("dup_exact"))
            .when(F.col("__near").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce("__exact", "__near").alias("match_id"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """Maximal cross-document duplicated token spans (exact-substring dedup).

    The span-level counterpart of document-level dedup, after Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models Better"):
    instead of dropping whole near-duplicate documents, find every maximal
    run of tokens that also appears verbatim in at least one OTHER
    document — the spans a training pipeline would cut out of otherwise
    unique pages (boilerplate, quoted passages, licence blocks).

    Distributed shape (the suffix-array of the paper is a single-machine
    structure; the k-gram formulation is its shuffle-friendly equivalent —
    a token position lies in a duplicated run of length ≥ k iff some
    k-gram covering it is duplicated):

      1. posexplode k-token shingles → (id, pos, md5(shingle)); one
         map-side pass, persisted (feeds the dup-set agg AND the join-back).
      2. duplicated shingles via ``min(id) <> max(id)`` — an ordinary
         partial-aggregatable min/max, NOT countDistinct, so no Expand and
         full map-side combine on the shingle-hash shuffle.
      3. left-semi join positions against the duplicated set (equi-join on
         the hash; both sides already hash-partitioned by it).
      4. gaps-and-islands per document: starts ≤ k apart overlap or touch
         (a start at p covers tokens [p, p+k-1]), so a new span begins when
         ``pos - lag(pos) > k``; one window exchange on ``id_col``.

    md5 (128-bit) rather than xxhash64: the dup-set membership decides the
    output, so collision probability must be negligible at corpus scale,
    and md5 keeps the grouping key portable to external SQL engines.

    The shingle-position frame is persisted (it feeds the dup-set agg AND
    the join-back); as with ``jaccard_pairs``/``minhash_jaccard_pairs``, its
    lifetime is caller-owned — materialize the result, then
    ``spark.catalog.clearCache()`` (or unpersist) if the session keeps
    running more jobs, as bench.py does between queries.

    Returns (id, span_start, span_end, span_tokens) — token positions are
    0-based and inclusive; every span is ≥ k tokens by construction.
    """
    from pyspark.sql import Window

    from ..functions.text import word_shingles

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    # r15 audit note: two restructures of this shape were tried and
    # MEASURED WORSE, so the build-round shape stands (with one narrowing
    # — see unhex below). (a) persist clustered on hash(__h): a cached
    # plan exposes UnknownPartitioning under AQE
    # (canChangeCachedPlanOutputPartitioning default false), so both
    # consumers re-exchanged the full token frame — 3 token-level
    # shuffles instead of 1. (b) no persist + shared explicit hash(__h)
    # exchange: column pruning projects DIFFERENT columns into each
    # consumer's copy of the exchange ((__h,id) vs (__h,id,pos)), the
    # subtrees stop being canonically equal, ReusedExchange never fires,
    # and the explode runs twice (executed-plan check: Generate×2,
    # ReusedExchange×0). The persisted id-clustered frame + the
    # broadcast semi-join is the minimum: explode once, ONE token-level
    # exchange (the dup-set aggregation's), no probe-side exchange (the
    # dup set broadcasts; at scale the estimator flips it to a shuffle
    # join when the dup set outgrows the threshold), and the island
    # window reuses the id clustering the cache preserves.
    sh = (
        df.repartition(n_parts, F.col(id_col))
        .select(F.col(id_col), F.posexplode(word_shingles(text_col, k)).alias("pos", "__s"))
        # (a third rejected variant: unhex(md5) to ship 16 digest bytes
        # instead of 32 hex chars through the exchange — guide §2.3
        # "narrower types" — measured 1.2× SLOWER in-protocol across two
        # bench sessions; the binary key costs more in the hash
        # aggregate/broadcast build than the narrower shuffle saves at
        # this scale)
        .select(id_col, "pos", F.md5(F.col("__s").cast("binary")).alias("__h"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dup = (
        sh.groupBy("__h")
        .agg(F.min(id_col).alias("__mn"), F.max(id_col).alias("__mx"))
        .where(F.col("__mn") != F.col("__mx"))
        .select("__h")
    )
    hits = sh.join(dup, "__h", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    new_span = (
        F.col("pos") - F.lag("pos", 1).over(w) > k
    )  # NULL lag (first row) → NULL → otherwise-branch starts island 1
    islands = hits.withColumn(
        "__isl", F.sum(F.when(new_span, 1).otherwise(F.lit(0))).over(w)
    )
    return (
        islands.groupBy(id_col, "__isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
) -> DataFrame:
    """The REMOVAL half of exact-substring dedup (Lee et al. 2022): cut
    every maximal cross-document duplicated span found by
    :func:`duplicated_spans` out of each document and reassemble the
    surviving tokens in order — the cleaned corpus a training pipeline
    actually feeds the tokenizer, not just the span report.

    Distributed shape, all equi-joins (no range join): span intervals
    explode to their covered token POSITIONS (cost ∝ tokens removed,
    output-bound by construction), tokens anti-join the removal set on
    ``(id, pos)``, and each document reassembles with one
    ``array_sort(collect_list(struct(pos, tok)))`` — position is unique
    per document, so the rebuild is deterministic. Documents with no
    duplicated span pass through verbatim; a document that is ENTIRELY
    duplicated spans survives as an empty string (`n_tok_kept` 0), never
    a dropped row.

    Returns ``(id, n_tok, n_tok_kept, text_clean)`` where ``n_tok`` is
    the pre-removal token count.

    Removal shape (r15 optimization — guide §8 "decide with small rows,
    move big rows once"): the span report collapses to ONE interval-list
    row per affected document (a handful of (start, end) pairs — output-
    bound), that tiny table joins the corpus on the id, and each document
    drops its covered positions with an in-row array filter and
    reassembles in place. The former shape exploded every corpus token to
    a (id, pos, tok) row, anti-joined on (id, pos) and rebuilt with
    array_sort(collect_list(...)) — THREE token-level exchanges (the
    anti-join's two sides plus the rebuild's re-aggregation, since
    hash(id, pos) does not satisfy a groupBy(id)); now corpus text
    crosses exactly one doc-level exchange and tokens never leave their
    row. Output is bit-identical (unit-pinned equivalence): untouched
    documents still reassemble through the same concat_ws, so the
    whitespace normalization the old rebuild applied is preserved.
    """
    spans = duplicated_spans(df, id_col, text_col, k=k)
    # one row per affected doc; sorted for deterministic (and mergeable)
    # interval lists. groupBy(id) reuses the island window's hash(id)
    # partitioning — no extra exchange.
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("span_start", "span_end"))).alias("__spans")
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    no_spans = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    kept = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("tok"), i.alias("pos"))),
        lambda s: ~F.exists(
            F.coalesce(F.col("__spans"), no_spans),
            lambda sp: (sp["span_start"] <= s["pos"]) & (s["pos"] <= sp["span_end"]),
        ),
    )
    return (
        df.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.size(toks).cast("long").alias("n_tok"),
            kept.alias("__kept"),
        )
        .select(
            id_col,
            "n_tok",
            F.size("__kept").cast("long").alias("n_tok_kept"),
            F.concat_ws(
                " ", F.transform("__kept", lambda s: s.getField("tok"))
            ).alias("text_clean"),
        )
    )


def simhash_near_dup_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Portable-simhash near-dup pairs blocked on 4 15-bit chunks.

    With ``max_hamming`` ≤ 3 the chunk blocking is lossless (pigeonhole),
    so the result EQUALS exact all-pairs Hamming filtering — which is what
    lets an external SQL engine verify it value-for-value."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    sigs = simhash_portable(
        df.repartition(n_parts, F.col(id_col)), id_col, text_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    return _chunk_blocked_hamming_pairs(sigs, id_col, "simhash", 4, 15, max_hamming)
