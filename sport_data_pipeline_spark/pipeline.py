"""End-to-end daily pipeline — the reference's scheduled analytics routine
(SURVEY.md §3.3: main.py:171-203 + apps/analytics_app.py:133-189) as one
Spark job graph:

  bronze scraped records
    → refine + validate (schemas)
    → term-map normalization
    → idempotent merge into silver parquet
    → engine analytics (top performers, league dashboard, form, standings)
    → report render / snapshot sinks (collect only here)

Each step is lazy until the sinks; re-running the whole pipeline with the
same bronze input is a no-op on silver state (merge_latest idempotency) —
the property the reference's ON CONFLICT sinks rely on.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .engine import SportsAnalyticsEngine
from .operators.merge import merge_into_parquet
from .reports import render_report
from .schemas import MERGE_KEYS, SILVER_TABLES
from .sources.sinks import read_parquet_if_exists
from .sources.bronze import (
    DEFAULT_TERM_MAP,
    apply_term_mapping,
    refine,
    term_map_df,
)


@dataclass
class SilverStore:
    """Parquet-backed silver tables with latest-wins merge writes."""

    spark: SparkSession
    root: str
    _cache: dict[str, DataFrame] = field(default_factory=dict)

    def path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def read(self, name: str) -> DataFrame | None:
        return read_parquet_if_exists(self.spark, self.path(name))

    def merge_write(self, name: str, batch: DataFrame, order_col: str = "ingested_at") -> DataFrame:
        """Upsert ``batch`` into table ``name``; returns the merged table."""
        keys = list(MERGE_KEYS.get(name, (batch.columns[0],)))
        merge_into_parquet(batch, self.path(name), keys, [order_col])
        return self.read(name)


def ingest_bronze_batch(
    store: SilverStore,
    bronze: DataFrame,
    routing: dict[str, str] | None = None,
) -> dict[str, DataFrame]:
    """Route bronze records to silver tables (the reference's
    scraper_routing map, core/config.py:58-66) and merge each."""
    routing = routing or {
        "squad_scraper": "players",
        "match_scraper": "matches",
        "stats_scraper": "season_player_stats",
    }
    out: dict[str, DataFrame] = {}
    position_map = term_map_df(store.spark, DEFAULT_TERM_MAP["position"], "position")
    for scraper, table in routing.items():
        schema = SILVER_TABLES[table]
        required = list(MERGE_KEYS.get(table, ()))[:1]
        refined = refine(bronze, schema, scraper_name=scraper, required=required)
        if table == "players" and "position" in refined.columns:
            refined = apply_term_mapping(refined, "position", position_map)
        out[table] = store.merge_write(table, refined)
    return out


def run_daily_analytics(
    store: SilverStore,
    as_of_date: dt.date | None = None,
    report_limit: int = 25,
) -> dict[str, object]:
    """The 02:00 analytics routine: engine queries over current silver
    state, one HTML dashboard out (analytics_app.py:133-189)."""
    tables = {name: store.read(name) for name in SILVER_TABLES}
    tables = {k: v for k, v in tables.items() if v is not None}
    eng = SportsAnalyticsEngine(tables, as_of_date)

    sections: dict[str, DataFrame] = {}
    if "players" in tables and "season_player_stats" in tables and "teams" in tables:
        sections["top_performers"] = eng.get_top_performers(limit=report_limit)
    if "matches" in tables:
        league = eng.generate_league_analytics()
        sections["league_summary"] = league["summary"]
        sections["standings"] = league["standings"]
        sections["team_form"] = eng.team_form()
    html = render_report(sections, title="Daily analytics", limit=report_limit)
    return {"sections": sections, "html": html}
