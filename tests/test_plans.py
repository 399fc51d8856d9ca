"""Physical-plan assertions: the properties that make these queries viable
at 100 TB — predicate pushdown to the parquet scan, column pruning,
broadcast joins for dims, and no Python row-UDFs in any registered query.

These inspect plans without executing them (cheap), so regressions in plan
shape fail fast even when small-data timings would hide them."""

from __future__ import annotations

import pytest

from sport_data_pipeline_spark.plans import all_queries

from conftest import SF_DIR

SPECS = all_queries()


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_top_performers_broadcasts_dims(spark):
    plan = physical_plan(SPECS["top_performers"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan  # nation/region never shuffle


def test_multi_join_pushes_date_range_to_scan(spark):
    plan = physical_plan(SPECS["multi_join_daterange"].fn(spark, SF_DIR))
    # the orders date range must reach the parquet reader, not a post-filter
    assert "PushedFilters: [" in plan
    assert "o_orderdate" in plan.split("PushedFilters")[1][:500]


def test_pricing_summary_prunes_columns(spark):
    plan = physical_plan(SPECS["pricing_summary"].fn(spark, SF_DIR))
    scan = plan[plan.index("ReadSchema") :][:400]
    # only the six touched columns are read; wide columns never leave parquet
    assert "l_orderkey" not in scan and "l_partkey" not in scan


def test_pricing_summary_partial_aggregation(spark):
    # Catalyst supplies map-side partial aggregation automatically — the
    # plan must contain two HashAggregate levels around the exchange.
    plan = physical_plan(SPECS["pricing_summary"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_active(spark):
    # codegen'd operators carry the `*(n)` stage prefix in plan.toString()
    plan = physical_plan(SPECS["projection_case"].fn(spark, SF_DIR))
    assert "*(1)" in plan


@pytest.mark.parametrize("name", sorted(SPECS))
def test_no_python_row_udfs_anywhere(name, spark):
    """Every registered query stays JVM-side: no BatchEvalPython (row UDF)
    nodes. (ArrowEvalPython would mark a pandas UDF — also absent from the
    query pack; the only pandas UDF in the library is the media decoder.)
    Also a global plan lint: no CartesianProduct in ANY registered query —
    broadcast single-row scalars compile to BroadcastNestedLoopJoin (fine,
    build side is one row), but an unkeyed shuffle cartesian is always a
    plan bug at scale."""
    plan = physical_plan(SPECS[name].fn(spark, SF_DIR))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_latest_per_key_single_shuffle(spark):
    # merge_latest is one hash shuffle on the key + window; a second
    # exchange would mean accidental re-partitioning.
    plan = physical_plan(SPECS["latest_per_key"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_nearest_single_exchange_two_windows(spark):
    # nearest-direction as-of join: the forward candidate is a SECOND
    # Sort+Window pass over the SAME hash partitioning — one exchange on
    # the join key total, never a self-join or re-partition.
    plan = physical_plan(SPECS["asof_nearest_clicks"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") == 2
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_time_bucket_rollup_partial_agg(spark):
    plan = physical_plan(SPECS["time_bucket_rollup"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2  # map-side combine
    # exact countDistinct costs a second (key ∪ user_id) exchange — the
    # known trade; sketch_profile is the one-exchange approx alternative
    assert plan.count("Exchange hashpartitioning") == 2


def test_time_bucket_cascade_reaggregates_not_rescans(spark):
    plan = physical_plan(SPECS["time_bucket_cascade"].fn(spark, SF_DIR))
    assert plan.count("FileScan") == 1  # day level reads the hourly agg, not raw events
    assert plan.count("Exchange hashpartitioning") == 2


def test_embedding_neardup_grid_join_no_nested_loop(spark):
    # block-grid self-join: pairs form via an equi-join on the grid cell
    # id — never a nested-loop, and no corpus-sized broadcast side
    plan = physical_plan(SPECS["embedding_cosine_neardup"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__cell" in plan


def test_ivf_probe_prunes_partitions(spark):
    # the prebuilt IVF index is parquet partitioned by __list; the probe
    # filter must reach the scan as PartitionFilters so only n_probe of
    # n_lists directories are read
    plan = physical_plan(SPECS["ivf_embedding_topk"].fn(spark, SF_DIR))
    assert "PartitionFilters: [__list" in plan


def test_arrow_topk_is_map_in_pandas(spark):
    # the one deliberately-Python query: Arrow-batched mapInPandas, never
    # row-at-a-time BatchEvalPython
    plan = physical_plan(SPECS["embedding_topk_arrow"].fn(spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_sketch_aggregates_single_exchange(spark):
    # pure sketch aggregation merges map-side partials through ONE
    # exchange — the property that makes sketches the 100 TB substitute.
    # (The registered sketch_profile query additionally computes exact
    # aggregates to assert the sketch error bounds cross-engine, so it is
    # not the single-exchange shape itself.)
    from pyspark.sql import functions as F

    from sport_data_pipeline_spark.catalog import load_table

    e = load_table(spark, SF_DIR, "events")
    df = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", [0.5, 0.95, 0.99], 10_000).alias("value_quantiles"),
        F.count(F.lit(1)).alias("n_events"),
    )
    plan = physical_plan(df)
    assert plan.count("Exchange hashpartitioning") == 1


def test_doc_chunks_shuffle_free(spark):
    # chunk count is closed-form from the token count, so chunking is
    # generate → explode → slice: a map-only scan, zero exchanges.
    plan = physical_plan(SPECS["doc_chunks"].fn(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "Generate explode" in plan


def test_weighted_doc_sample_zero_exchange_topk(spark):
    # min-ticket bottom-k over replicated md5 tickets: the draw is a
    # map-side scan + k-row merge — TakeOrderedAndProject, ZERO exchanges
    # (the docstring's 100 TB claim, pinned so future edits keep it true).
    plan = physical_plan(SPECS["weighted_doc_sample"].fn(spark, SF_DIR))
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan


def test_stratified_weighted_sample_single_hash_exchange(spark):
    # per-language bottom-k: exactly ONE hash exchange (the lang window's
    # partitioning), with the rank filter pushed into a partial+final
    # WindowGroupLimit (per-partition top-k before the shuffle); the only
    # other exchange is the presentation orderBy's range partitioning.
    plan = physical_plan(SPECS["stratified_weighted_sample"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange rangepartitioning") == 1  # final orderBy only
    assert "Exchange SinglePartition" not in plan
    assert "WindowGroupLimit" in plan  # top-k pushed below the shuffle
    assert "CartesianProduct" not in plan


def test_key_skew_profile_topk_no_global_sort(spark):
    # the skew diagnostic must itself be skew-proof: top keys via
    # TakeOrderedAndProject (per-partition top-k + k-row merge), never a
    # full sort of the key set.
    plan = physical_plan(SPECS["key_skew_profile"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort
    assert "CartesianProduct" not in plan


def test_pii_redaction_map_only(spark):
    # staged regexp_replace chain never shuffles — pure projection.
    plan = physical_plan(SPECS["pii_redaction"].fn(spark, SF_DIR))
    assert "Exchange" not in plan


def test_repetition_profile_partial_agg_no_join(spark):
    # single tagged explode feeds both frequency levels, and the up-front
    # hash(doc_id) repartition of the RAW docs satisfies clustering for
    # both groupBys — exactly ONE exchange (of pre-explosion rows), and
    # crucially NO join between an unigram branch and a bigram branch.
    plan = physical_plan(SPECS["repetition_profile"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 4  # both levels, colocated


def test_term_doc_frequency_no_expand(spark):
    # doc_freq via two-level groupBy, not countDistinct: an Expand node
    # would double the exploded row count through the first exchange.
    plan = physical_plan(SPECS["term_doc_frequency"].fn(spark, SF_DIR))
    assert "Expand" not in plan
    assert "TakeOrderedAndProject" in plan  # top-20 never global-sorts


def test_sequence_packing_single_exchange(spark):
    # the window's hash(lang, source) partitioning satisfies the final
    # groupBy(lang, source, bin_id) clustering — one exchange total.
    plan = physical_plan(SPECS["sequence_packing"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_mixture_sample_docs_never_shuffle(spark):
    # per-language thresholds broadcast back onto the corpus: the documents
    # side reaches its aggregation through a BroadcastHashJoin, never a
    # shuffled join (the doc-side exchanges are the tiny count aggregates).
    plan = physical_plan(SPECS["corpus_mixture_sample"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_funnel_steps_single_user_shuffle_no_join(spark):
    # all three step minimums stack on ONE user_id window partitioning and
    # the groupBy(user_id) reuses it: one hash exchange total, zero joins
    # (the oracle's per-step join cascade is expressed as conditional
    # window minimums instead).
    plan = physical_plan(SPECS["funnel_steps"].fn(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_rolling_active_users_no_range_join(spark):
    # the trailing-7-day distinct count must come from contribute-explode
    # (each user-day emits its window-end days), never from the oracle's
    # day-range self-join, which is a nested-loop at scale.
    plan = physical_plan(SPECS["rolling_active_users"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan


def test_retention_cohorts_only_equi_joins(spark):
    plan = physical_plan(SPECS["retention_cohorts"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_no_expand(spark):
    # df via two-level groupBy (no countDistinct Expand); per-doc top-3 via
    # a doc_id-partitioned window, so no global sort appears.
    plan = physical_plan(SPECS["tfidf_top_terms"].fn(spark, SF_DIR))
    assert "Expand" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_late_dup_ticks_broadcast_watermark_single_dedup_shuffle(spark):
    # the per-batch watermark table is tiny and must broadcast back to the
    # tick stream (never shuffle the ticks against it); dedup is ONE keyed
    # window and the whole policy resolves in a single pass (no survivors-
    # only second scan of the union subtree).
    plan = physical_plan(SPECS["late_dup_ticks"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("row_number") <= 2  # one dedup window (plan prints it twice max)


@pytest.mark.parametrize("name", ["embedding_topk", "hard_negative_mining"])
def test_hard_negative_mining_broadcasts_probe_set(spark, name):
    # probe set broadcasts, corpus streams: the only join is the broadcast
    # nested-loop the crossJoin implies (hard_negative_mining applies its
    # label-mismatch predicate inside it) — no shuffle of the corpus.
    plan = physical_plan(SPECS[name].fn(spark, SF_DIR))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_user_activity_topk_take_ordered(spark):
    # global top-5 must be TakeOrderedAndProject (per-partition top-k +
    # merge), never a single-partition row_number window over all users.
    plan = physical_plan(SPECS["user_activity_topk"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_scd2_point_in_time_equi_joins_on_user(spark):
    # Both join sides derive from the same events scan; the plan must keep
    # user_id as a REAL equi-key (distinct attribute ids) with the validity
    # range as a post-filter — a trivially-true key would silently turn
    # this into a time-only cross match.
    import re

    plan = physical_plan(SPECS["scd2_point_in_time"].fn(spark, SF_DIR))
    m = re.search(r"(BroadcastHash|SortMerge|ShuffledHash)Join \[user_id#(\d+)L?\], \[user_id#(\d+)L?\], LeftOuter", plan)
    assert m, plan[:2000]
    assert m.group(2) != m.group(3)
    assert "valid_from" in plan and "valid_to" in plan


def test_cube_single_pass_expand(spark):
    # CUBE must plan as ONE Expand feeding one aggregation pair — not a
    # union of four scans (4 scans × 1 shuffle each at 100 TB).
    plan = physical_plan(SPECS["cube_order_stats"].fn(spark, SF_DIR))
    assert plan.count("Expand") == 1
    assert "Union" not in plan
    assert plan.count("Scan parquet") == 1


def test_corpus_train_shards_tail_reuses_partitioning(spark):
    # After the cleaning stages, the shard tail (chunk explode → packing
    # window → per-bin groupBy) must add exactly ONE exchange: the window's
    # hash(split, lang) clustering already satisfies the final groupBy.
    plan = physical_plan(SPECS["corpus_train_shards"].fn(spark, SF_DIR))
    clean_plan = physical_plan(SPECS["clean_corpus_docs"].fn(spark, SF_DIR))
    extra = plan.count("Exchange") - clean_plan.count("Exchange")
    assert extra <= 1, f"shard tail added {extra} exchanges"


def test_pq_adc_scan_reads_codes_not_vectors(spark):
    # The ADC stage must stream the (vec_id, codes) table — the scan of the
    # codes parquet may not request the raw embedding column (the 32x IO
    # reduction IS the operator; reading vectors there would defeat it).
    plan = physical_plan(SPECS["pq_topk_recall"].fn(spark, SF_DIR))
    # the Location path is elided in plan.toString(), so match the cache
    # dir, not the codes.parquet basename
    code_scans = [
        seg for seg in plan.split("FileScan parquet")[1:] if ".pq_cache" in seg[:2000]
    ]
    assert code_scans, plan[:2000]
    for seg in code_scans:
        cols = seg.split("]", 1)[0]  # leading "[vec_id#7L,codes#8" column list
        assert "codes" in cols and "embedding" not in cols


def test_dup_span_profile_no_expand_semi_join(spark):
    # duplicated-shingle set is min(id)<>max(id) — partial-aggregatable,
    # so no Expand node (countDistinct would add one); positions filter
    # back through a semi-join, never a nested loop.
    plan = physical_plan(SPECS["dup_span_profile"].fn(spark, SF_DIR))
    assert "Expand" not in plan
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize(
    "name", ["minhash_jaccard_neardup", "minhash_neardup", "incremental_dedup_minhash"]
)
def test_minhash_jaccard_composite_no_nested_loop(spark, name):
    # every MinHash-LSH pair join — with block keys, without them, and the
    # one-sided batch × corpus join — must form via the banded-LSH bucket
    # equi-join (ids only; shingle sets rejoin after candidate dedup) —
    # never a nested loop or cartesian expansion
    plan = physical_plan(SPECS[name].fn(spark, SF_DIR))
    spark.catalog.clearCache()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan  # band signatures explode into buckets


def test_multimodal_meta_arrow_batched(spark):
    # all three extraction paths (image dims, audio meta, frame sampling)
    # must run as Arrow-batched mapInPandas, not row-at-a-time Python
    plan = physical_plan(SPECS["multimodal_meta"].fn(spark, SF_DIR))
    assert plan.count("MapInPandas") >= 3
    assert "BatchEvalPython" not in plan


def test_incident_attribution_bucketized_range_join(spark):
    # the keyless point-in-interval join must form via the bucket-id
    # equi-join (interval_point_join), never a nested loop / cartesian —
    # Catalyst's default plan for a bare range predicate.
    plan = physical_plan(SPECS["incident_window_attribution"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "__bucket" in plan  # the temporal-grid equi-key


def test_lm_quality_no_expand_partial_agg(spark):
    # wordcount-shaped: count tables build with map-side partial
    # aggregation, the single exact-distinct vocabulary scalar compiles to
    # two-phase hash aggregation — no Expand anywhere. (The vocabulary
    # scalar's crossJoin(broadcast(...)) IS a BroadcastNestedLoopJoin with
    # a one-row build side — the allowed scalar-broadcast shape, so no
    # BNLJ assertion here; the global lint still bans CartesianProduct.)
    plan = physical_plan(SPECS["lm_quality_score"].fn(spark, SF_DIR))
    assert "Expand" not in plan
    assert "partial_count" in plan


def test_incident_session_overlap_bucketized_no_nested_loop(spark):
    # interval × interval overlap must also form via the bucket equi-join;
    # pair dedup is the first-shared-bucket FILTER, not a shuffle.
    plan = physical_plan(SPECS["incident_session_overlap"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "__bucket" in plan


def test_percentile_peer_distributed_rank_no_unpartitioned_data_window(spark):
    # VERDICT r7 weak slot: the global percentile rank must be computed
    # distributively (range exchange + __pid-partitioned row_number +
    # broadcast offsets), never via percent_rank() over an unpartitioned
    # window (which moves the whole customer table into ONE partition).
    # The only SinglePartition exchange allowed is the counts rollup,
    # which holds ≤ shuffle-partition-count rows (config-bounded).
    import re

    plan = physical_plan(SPECS["percentile_peer"].fn(spark, SF_DIR))
    assert "percent_rank" not in plan
    assert "Exchange rangepartitioning" in plan
    assert re.search(r"windowspecdefinition\(__pid#\d+, ", plan), (
        "data-side window must be partitioned by the range-partition id"
    )
    assert plan.count("Exchange SinglePartition") == 1


def test_incremental_semantic_dedup_no_corpus_shuffle(spark):
    # ADVICE r7: the corpus must STREAM from its input splits into the
    # broadcast cross join — no round-robin Exchange rebalancing corpus
    # vectors. The only exchanges allowed carry ≤|batch| rows (the
    # post-filter min-id aggregate and the left-join back).
    plan = physical_plan(SPECS["incremental_semantic_dedup"].fn(spark, SF_DIR))
    assert "RoundRobinPartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastNestedLoopJoin BuildLeft" in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_global_exact_quantiles_distributed(spark):
    # exact quantiles must use the range-partitioned rank machinery — the
    # only SinglePartition exchange allowed is the config-bounded counts
    # rollup (plus nothing over the lineitem-scale data)
    plan = physical_plan(SPECS["global_exact_quantiles"].fn(spark, SF_DIR))
    assert "Exchange rangepartitioning" in plan
    assert "percent_rank" not in plan
    assert plan.count("Exchange SinglePartition") <= 2  # counts rollup + 5-row final sort


# ---------------------------------------------------------------------------
# Unpartitioned-window lint: a Window with no PARTITION BY moves its whole
# input into one task — the r7 percentile_peer defect class. Every driver-
# window query must have ZERO unpartitioned window specs except the
# documented-bounded allowances below, where the frame's size is bounded
# by something other than data volume.
# ---------------------------------------------------------------------------

_UNPARTITIONED_SPEC = __import__("re").compile(
    r"windowspecdefinition\([^#]+#\d+L? (?:ASC|DESC)"
)

#: query -> (allowed count, why the frame is bounded)
_BOUNDED_WINDOW_ALLOWANCE = {
    # league standings: one row per (league, season) team — entity-bounded
    "standings": (1, "league table rows are bounded by participating teams"),
    # distributed global rank: the two cumulative-offset windows run over
    # the per-range-partition counts frame (<= spark.sql.shuffle.partitions
    # rows — cluster config, not data)
    "percentile_peer": (2, "counts rollup is <= shuffle-partition-count rows"),
    # the r9 window entrants on the same range-exchange machinery
    # (operators/windows.py: global_quantiles / systematic_weighted_sample):
    # identical two cumulative-offset windows over the <= P-row counts frame
    "global_exact_quantiles": (2, "counts rollup is <= shuffle-partition-count rows"),
    "length_percentile_gate": (2, "counts rollup is <= shuffle-partition-count rows"),
    "systematic_token_sample": (2, "counts rollup is <= shuffle-partition-count rows"),
    # the final rank runs AFTER orderBy().limit(5) — a 5-row frame
    "user_activity_topk": (1, "rank window runs over the post-limit top-5"),
    # gaps-and-islands over DISTINCT minutes: cardinality is elapsed
    # wall-clock time (a year ~= 526k tiny rows), not event volume; the
    # two_level=True variant removes even this for decades-long horizons
    "incident_window_attribution": (2, "minute frame bounded by observation period"),
}


@pytest.mark.parametrize("name", list(__import__(
    "sport_data_pipeline_spark.plans.registry", fromlist=["DRIVER_WINDOW"]
).DRIVER_WINDOW))
def test_no_undocumented_unpartitioned_windows(spark, name):
    plan = physical_plan(SPECS[name].fn(spark, SF_DIR))
    hits = len(_UNPARTITIONED_SPEC.findall(plan))
    allowed = _BOUNDED_WINDOW_ALLOWANCE.get(name, (0, ""))[0]
    assert hits <= allowed, (
        f"{name}: {hits} unpartitioned window spec(s), allowance {allowed} — "
        "either partition the window or document the bound in "
        "_BOUNDED_WINDOW_ALLOWANCE"
    )


def test_lm_quality_saturated_shape_equal_and_leaner(spark):
    """LM_SATURATED_CONF=true switches lm_quality_score to the
    aggregate-before-shuffle shape (r16): results must be BIT-identical
    (including the double lm_score — the same exact integer operands
    reach the one final division), the instance relation must meet the
    quotient table through a SHUFFLED-hash join on the shared hash(bg)
    clustering (the default broadcasts both vocab tables against the
    instance relation — the local-overlap shape), and the shared
    hash(bg) exchange must actually be REUSED at runtime rather than
    re-running the bigram explode per consumer."""
    from sport_data_pipeline_spark.plans.corpusops import (
        LM_SATURATED_CONF,
        lm_quality_score,
    )

    default_df = lm_quality_score(spark, SF_DIR)
    default_plan = physical_plan(default_df)
    default_rows = {
        r["doc_id"]: (r["n_bigrams"], r["lm_score"]) for r in default_df.collect()
    }
    spark.conf.set(LM_SATURATED_CONF, "true")
    try:
        sat_df = lm_quality_score(spark, SF_DIR)
        sat_plan = physical_plan(sat_df)
        sat_rows = {
            r["doc_id"]: (r["n_bigrams"], r["lm_score"]) for r in sat_df.collect()
        }
        # AQE final plan (available after the collect above executed it)
        sat_final = physical_plan(sat_df)
    finally:
        spark.conf.unset(LM_SATURATED_CONF)
    assert sat_rows == default_rows and len(sat_rows) > 0
    assert "BroadcastHashJoin" in default_plan  # vocab x instances, twice
    assert "ShuffledHashJoin" not in default_plan
    assert "ShuffledHashJoin" in sat_plan  # the one join back, on hash(bg)
    # the shared hash(bg) exchange deduplicates at runtime: the bigram
    # explode feeds nb/c12/qt through ONE executed exchange
    assert "ReusedExchange" in sat_final
