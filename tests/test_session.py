"""Session-wide caches that get_session sizes for a repeated query mix."""

from __future__ import annotations

from sport_data_pipeline_spark.plans import all_queries

from conftest import SF_DIR

#: The ten analytics queries of the benchmark's read mix: ~150 generated
#: classes, more than Spark's default code-generation cache of 100 entries.
MIX = (
    "top_performers",
    "multi_join_daterange",
    "pricing_summary",
    "last_n_form",
    "h2h_symmetric",
    "latest_per_key",
    "standings",
    "asof_nearest_clicks",
    "sessionize_events",
    "incident_window_attribution",
)


def test_repeated_query_mix_compiles_no_class(spark):
    specs = all_queries()
    jvm = spark._jvm.org.apache.spark
    compiled = jvm.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for name in MIX:
        specs[name].fn(spark, SF_DIR).toPandas()
    before = compiled.getCount()
    for name in MIX:
        specs[name].fn(spark, SF_DIR).toPandas()
    assert compiled.getCount() - before == 0
