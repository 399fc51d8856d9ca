"""End-to-end corpus cleaning post-conditions."""

from __future__ import annotations

from pyspark.sql import functions as F

from sport_data_pipeline_spark.catalog import load_table
from sport_data_pipeline_spark.functions.text import content_fingerprint
from sport_data_pipeline_spark.operators.corpus import clean_corpus
from sport_data_pipeline_spark.operators.dedup import minhash_jaccard_pairs

from conftest import SF_DIR


def test_clean_corpus_postconditions(spark):
    d = load_table(spark, SF_DIR, "documents")
    cleaned = clean_corpus(d).persist()
    n_in, n_out = d.count(), cleaned.count()
    assert 0 < n_out < n_in  # something survived, something was removed

    # no exact duplicates remain
    fp_dups = (
        cleaned.select(content_fingerprint("text").alias("fp"))
        .groupBy("fp").count().filter(F.col("count") > 1).count()
    )
    assert fp_dups == 0

    # no near-dup pair survives at the removal threshold (banding is
    # deterministic, so re-running finds any remaining pair)
    assert minhash_jaccard_pairs(
        cleaned, "doc_id", "text", threshold=0.7, num_hashes=16, bands=4, max_bucket_size=100
    ).count() == 0

    # quality gate respected + annotations present
    rows = cleaned.select("n_tokens", "unique_ratio", "lang_guess").collect()
    assert all(r["n_tokens"] >= 5 and r["unique_ratio"] >= 0.1 for r in rows)
    assert all(r["lang_guess"] is not None for r in rows)
    cleaned.unpersist()


def test_weighted_sample_semantics_small_data(spark):
    """Deterministic replicated-ticket bottom-k: idempotent draws, weight
    monotonicity in expectation (heavier rows draw more tickets so their
    min-ticket stochastically dominates), and the stratified bound."""
    from sport_data_pipeline_spark.operators.corpus import weighted_sample

    rows = [(i, "a" if i % 2 == 0 else "b", (i % 4) + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, wt int")

    s1 = weighted_sample(df, "doc_id", 20, F.col("wt")).collect()
    s2 = weighted_sample(df, "doc_id", 20, F.col("wt")).collect()
    assert [r["doc_id"] for r in s1] == [r["doc_id"] for r in s2]  # idempotent
    assert len(s1) == 20
    # min-ticket ordering: the selected set is exactly the 20 smallest skeys
    all_keys = {
        r["doc_id"]: r["skey"]
        for r in weighted_sample(df, "doc_id", 10**9, F.col("wt")).collect()
    }
    want = sorted(all_keys, key=lambda i: (all_keys[i], i))[:20]
    assert sorted(r["doc_id"] for r in s1) == sorted(want)
    # heavier weights should be over-represented vs a uniform draw: the
    # mean weight of the winners exceeds the population mean (2.5)
    mean_w = sum(r["w"] for r in s1) / len(s1)
    assert mean_w > 2.5
    # stratified: at most k per stratum, rk within bound, deterministic
    st = weighted_sample(df, "doc_id", 5, F.col("wt"), strata=["lang"]).collect()
    by_lang = {}
    for r in st:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == {"a", "b"}
    for lang, grp in by_lang.items():
        assert len(grp) == 5 and sorted(r["rk"] for r in grp) == [1, 2, 3, 4, 5]


def test_clean_corpus_sample_knob_matches_operator(spark):
    """clean_corpus(sample_k=…) must draw exactly weighted_sample() over
    the cleaned survivors — the engine knob and the registered-query
    machinery are the same operator, configured the same way."""
    from sport_data_pipeline_spark.operators.corpus import weighted_sample

    d = load_table(spark, SF_DIR, "documents")
    base = clean_corpus(d)
    weight = F.least(
        F.lit(8), F.greatest(F.lit(1), F.lit(1) + F.floor(F.col("word_tokens") / 100))
    )
    want = {
        (r["lang_guess"], r["doc_id"], r["w"], r["skey"], r["rk"])
        for r in weighted_sample(
            base, "doc_id", 7, weight, strata=["lang_guess"]
        ).collect()
    }
    got = {
        (r["lang_guess"], r["doc_id"], r["w"], r["skey"], r["rk"])
        for r in clean_corpus(d, sample_k=7, sample_strata=["lang_guess"]).collect()
    }
    assert got == want and len(got) > 0
    # the global (unstratified) knob: k rows, smallest min-tickets win
    glob = clean_corpus(d, sample_k=9).collect()
    assert len(glob) == 9
    keys = [r["skey"] for r in glob]
    assert keys == sorted(keys)
