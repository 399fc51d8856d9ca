"""End-to-end training-corpus cleaning: the composition the individual
LLM-pipeline operators exist for.

quality filter → exact dedup → MinHash near-dup removal → token/lang
annotation, as one lazy DataFrame plan. Each stage is the already-tested
operator; this module only sequences them, so the whole pipeline inherits
their scale properties (blocked pair generation, capped buckets, one
shuffle per stage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.text import DEFAULT_LANG_MARKERS, lang_id, quality_features, token_count
from .dedup import exact_dedup, minhash_jaccard_pairs


def weighted_sample(
    df: DataFrame,
    id_col: str,
    k: int,
    weight: Column,
    strata: list[str] | None = None,
) -> DataFrame:
    """Deterministic weighted bottom-k sample — the corpus-mixture draw
    ("sample k docs proportionally to quality/length", per language when
    stratified) behind the ``weighted_doc_sample`` /
    ``stratified_weighted_sample`` queries and ``clean_corpus``'s
    ``sample_k`` knob.

    Each row draws ``w = max(1, int(weight))`` replicated md5 tickets
    keyed by ``(j, id)`` and the k smallest minimum-tickets win:
    inclusion probability grows with the weight, and the draw is
    bit-portable across engines (integer hashes only — the classic
    exp/ln order-statistics keys are not cross-engine reproducible) and
    idempotent (re-running on the same corpus returns the same sample).

    Physical shape is the scale story (plan-pinned in tests/test_plans.py):
    the ticket array and its min are ONE map-side projection
    (``transform`` over ``sequence(1, w)`` — no explode, no shuffle);
    ``strata=None`` bottom-ks globally as TakeOrderedAndProject
    (per-partition top-k, one k-row merge, ZERO exchanges); ``strata``
    takes k per stratum via ONE window over the strata hash partitioning,
    with the rank filter pushed below the shuffle as a WindowGroupLimit.
    At 100 TB either form costs one corpus scan plus a k-row (or
    k-per-stratum) reduce.

    Returns ``df``'s columns plus ``w`` (int), ``skey`` (long), and — for
    the stratified form — ``rk`` (long, 1-based within the stratum);
    those names must not collide with ``df``'s.
    """
    w = F.greatest(F.lit(1), weight.cast("int"))

    def ticket(j: Column) -> Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        j.cast("string"), F.lit(":"), F.col(id_col).cast("string")
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

    skey = F.array_min(F.transform(F.sequence(F.lit(1), w), ticket))
    out = df.withColumn("w", w).withColumn("skey", skey)
    if strata is None:
        return out.orderBy("skey", id_col).limit(k)
    win = Window.partitionBy(*strata).orderBy(F.asc("skey"), F.asc(id_col))
    return out.withColumn("rk", F.row_number().over(win).cast("long")).filter(
        F.col("rk") <= k
    )


def clean_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    min_unique_ratio: float = 0.1,
    max_stopword_ratio: float = 0.95,
    neardup_threshold: float = 0.7,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    sample_k: int | None = None,
    sample_strata: list[str] | None = None,
    sample_weight: Column | None = None,
) -> DataFrame:
    """Clean a document corpus for training-data use.

    Stages:
      1. quality gate: drop too-short / too-repetitive / stopword-soup docs
         (pure filters — pushed into the scan where possible);
      2. exact dedup: one content-fingerprint shuffle, lowest id survives;
      3. near-dup removal: MinHash-LSH pairs at ``neardup_threshold``; for
         every verified pair the higher id is dropped (greedy min-id keep —
         the standard corpus-dedup rule; chains collapse to their minimum
         survivor transitively because every pair independently drops its
         higher member);
      4. annotation: token counts + heuristic language ID on survivors;
      5. (opt-in) mixture draw: ``sample_k`` selects a deterministic
         weighted bottom-k of the survivors via :func:`weighted_sample` —
         globally, or per stratum with ``sample_strata`` (e.g.
         ``["lang_guess"]`` for "k docs per language, proportional to
         length"). ``sample_weight`` defaults to the token-count clamp
         ``min(8, max(1, 1 + word_tokens/100))``; pass any positive
         integer Column (a quality score, a source prior) to change the
         mixture recipe. The draw adds one map-side projection plus a
         k-row (or k-per-stratum) reduce — it does not reshuffle the
         cleaned corpus.

    Returns the surviving rows of ``df`` plus feature columns
    (n_tokens, unique_ratio, stopword_ratio, word_tokens, lang_guess) —
    plus ``w``/``skey`` (and ``rk`` when stratified) when sampling.
    """
    feats = quality_features(text_col)
    passed = (
        df.withColumn("n_tokens", feats["n_tokens"])
        .withColumn("unique_ratio", feats["unique_ratio"])
        .withColumn("stopword_ratio", feats["stopword_ratio"])
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("unique_ratio") >= min_unique_ratio)
            & (F.col("stopword_ratio") <= max_stopword_ratio)
        )
    )

    deduped = exact_dedup(passed, text_col, id_col)

    pairs = minhash_jaccard_pairs(
        deduped,
        id_col,
        text_col,
        threshold=neardup_threshold,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        max_bucket_size=100,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = deduped.join(losers, id_col, "left_anti")

    annotated = survivors.withColumn(
        "word_tokens", token_count(F.col(text_col)).cast("long")
    ).withColumn("lang_guess", lang_id(F.col(text_col), DEFAULT_LANG_MARKERS))
    if sample_k is None:
        return annotated
    weight = (
        sample_weight
        if sample_weight is not None
        else F.least(
            F.lit(8),
            F.greatest(F.lit(1), F.lit(1) + F.floor(F.col("word_tokens") / 100)),
        )
    )
    return weighted_sample(annotated, id_col, sample_k, weight, strata=sample_strata)
