"""The benchmark's workloads. Each is a closed loop with one client: the
next operation starts when the previous one has returned its rows.

A workload generates its inputs from the seed (untimed), then runs
rounds. ``round`` records, in the tracer, one ``op`` span per operation
that the end-to-end latency is taken from and a ``plans`` span for the time
the program took to return the lazy DataFrame. Every Spark job an
operation starts is tagged with the operation's name (``op_tag``), so the
event log of a traced run can be split by operation. ``check`` compares the
last outputs with an independent reference after the clock has stopped.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

import datagen
from eventlog import OP_PROPERTY
from harness import Tracer

ANALYTICS_QUERIES = (
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

#: Batch near-duplicate queries (operators.dedup, operators.similarity).
#: Left out for the time a run may take: semantic_dedup_cells (~10 s cold,
#: ~3.5 s per round) and e2e_daily_pipeline (~27 s cold).
DEDUP_QUERIES = (
    "minhash_jaccard_neardup",
    "incremental_dedup_indexed",
    "embedding_topk",
)

#: Fresh reads after each live cycle (SportsAnalyticsEngine methods).
ENGINE_READS = ("standings", "team_form", "head_to_head", "league_analytics")


@contextlib.contextmanager
def op_tag(spark, name: str):
    """Tag the Spark jobs started inside the block with an operation name."""
    sc = spark.sparkContext
    sc.setLocalProperty(OP_PROPERTY, name)
    try:
        yield
    finally:
        sc.setLocalProperty(OP_PROPERTY, None)


class Failures:
    """Operations attempted and failed in the measured loop. A failing
    operation is logged and the loop goes on with the next one."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, name: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:  # the loop must outlive one bad operation
            self.failed += 1
            print(f"perfbench: operation {name} failed", file=sys.stderr)
            traceback.print_exc()
            return None


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive exact form of a result (sorted columns and rows),
    as tests/test_queries_oracle.py compares Spark with DuckDB."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
        elif df[c].dtype == object and df[c].map(lambda v: isinstance(v, bool)).all():
            df[c] = df[c].astype(bool)
    if len(df):
        df = df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def frames_equal(got: pd.DataFrame, want: pd.DataFrame, name: str) -> bool:
    got, want = normalize(got), normalize(want)
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        print(f"perfbench: {name}: shape {list(got.columns)}x{len(got)} "
              f"!= {list(want.columns)}x{len(want)}", file=sys.stderr)
        return False
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True, obj=name)
    except AssertionError as e:
        print(f"perfbench: {name}: {e}", file=sys.stderr)
        return False
    return True


class AnalyticsRead:
    """The reference's API and report read path — ten registered analytics
    queries — plus three batch near-duplicate queries over the documents
    and embeddings tables. Rows are fully materialized to pandas, the seed
    shuffles the order of each round, and every result is checked against
    its DuckDB oracle (``QuerySpec.oracle``)."""

    name = "analytics_read"
    queries = (*ANALYTICS_QUERIES, *DEDUP_QUERIES)

    def __init__(self, data_dir: str, seed: int):
        self.data_dir = data_dir
        self.seed = seed
        self.rows: dict[str, int] = {}
        self.last: dict[str, pd.DataFrame] = {}

    def generate(self) -> None:
        self.rows = {**datagen.write_star_schema(self.data_dir, self.seed),
                     **datagen.write_corpus(self.data_dir, self.seed)}

    def prepare(self, spark) -> None:
        from sport_data_pipeline_spark.plans import all_queries

        specs = all_queries()
        self.specs = {n: specs[n] for n in self.queries}

    def round(self, spark, rng: np.random.Generator, tracer: Tracer, failures: Failures,
              warm_up: bool = False) -> int:
        """Every query once; returns the number that completed."""
        done = 0
        for name in rng.permutation(list(self.queries)):
            spec = self.specs[name]

            def op():
                t0 = time.time()
                df = spec.fn(spark, self.data_dir)
                t1 = time.time()
                out = df.toPandas()
                t2 = time.time()
                return t0, t1, t2, out

            with op_tag(spark, name):
                res = failures.run(name, op)
            spark.catalog.clearCache()
            if res is None:
                continue
            t0, t1, t2, self.last[name] = res
            op_id = tracer.record(name, "op", t0, t2)
            tracer.record(name, "plans", t0, t1, op_id)
            done += 1
        return done

    def check(self) -> bool:
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET enable_progress_bar = false")
            for t in self.rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data_dir}/{t}.parquet')")
            ok = set(self.last) == set(self.queries)
            for name, got in self.last.items():
                want = con.execute(self.specs[name].oracle).df()
                ok = frames_equal(got, want, name) and ok
            return ok
        finally:
            con.close()

    def layer_metrics(self, spark, tracer: Tracer, window: tuple[float, float],
                      rounds: int) -> dict:
        m = {f"dedup.{q}_s": statistics.median(tracer.seconds("op", q, since=window[0]))
             for q in DEDUP_QUERIES}
        m["dedup.pairs_out"] = len(self.last.get("minhash_jaccard_neardup", ()))
        return m


BRONZE_DDL = "scraper_name string, data string, ingested_at timestamp"


class LiveUpsert:
    """The reference's live-score loop. Each round lands ``polls_per_round``
    bronze poll files (one in the warm-up round), drains them with one
    ``availableNow`` run of the upsert stream (one file per micro-batch),
    then serves the fresh reads of ``SportsAnalyticsEngine`` over the
    target. Its operations are the micro-batches and the fresh reads."""

    name = "live_upsert"
    polls_per_round = 4

    def __init__(self, data_dir: str, seed: int):
        self.seed = seed
        self.target = f"{data_dir}/matches"
        self.bronze = f"{data_dir}/bronze"
        self.checkpoint = f"{data_dir}/checkpoint"
        self.progress: list = []
        self.files: list[str] = []

    def generate(self) -> None:
        os.makedirs(self.bronze, exist_ok=True)
        self.feed = datagen.LiveFeed(self.seed)
        self.feed.write_target(self.target)

    def prepare(self, spark) -> None:
        from pyspark.sql.types import StructType

        self.bronze_schema = StructType.fromDDL(BRONZE_DDL)

    def _stream(self, spark):
        from sport_data_pipeline_spark.schemas import MATCHES
        from sport_data_pipeline_spark.sources.bronze import refine
        from sport_data_pipeline_spark.streaming.live import dedup_late_ticks, read_tick_stream

        ticks = read_tick_stream(spark, self.bronze, self.bronze_schema, max_files_per_trigger=1)
        return dedup_late_ticks(refine(ticks, MATCHES, required=["match_id"]),
                                ["match_id"], "scraped_at")

    def _drain(self, spark, tracer: Tracer) -> int:
        from sport_data_pipeline_spark.streaming.live import start_upsert_sink

        t0 = time.time()
        stream = self._stream(spark)
        tracer.record("stream", "plans", t0, time.time())
        q = start_upsert_sink(stream, self.target, ["match_id"], ["scraped_at"],
                              self.checkpoint, available_now=True)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        rows = 0
        for p in q.recentProgress:
            start = pd.Timestamp(p.timestamp).timestamp()
            self.progress.append((start, p))
            if p.numInputRows > 0:
                tracer.record("batch", "op", start, start + p.durationMs["triggerExecution"] / 1000)
                rows += p.numInputRows
        return rows

    def _reads(self, spark, tracer: Tracer, failures: Failures) -> None:
        from sport_data_pipeline_spark.engine import SportsAnalyticsEngine

        engine = SportsAnalyticsEngine({"matches": spark.read.parquet(self.target)})
        builders = {
            "standings": lambda: [engine.standings()],
            "team_form": lambda: [engine.team_form()],
            "head_to_head": lambda: [engine.head_to_head()],
            "league_analytics": lambda: list(engine.generate_league_analytics().values()),
        }
        # a fixed order: the first read after the writes pays for listing
        # and opening the new target files, and always the same read does
        for name in ENGINE_READS:
            def op():
                t0 = time.time()
                dfs = builders[name]()
                t1 = time.time()
                for df in dfs:
                    df.toPandas()
                return t0, t1, time.time()

            with op_tag(spark, name):
                res = failures.run(name, op)
            if res is None:
                continue
            t0, t1, t2 = res
            read_id = tracer.record(name, "op", t0, t2)
            tracer.record(name, "plans", t0, t1, read_id)

    def round(self, spark, rng: np.random.Generator, tracer: Tracer, failures: Failures,
              warm_up: bool = False) -> int:
        polls = 1 if warm_up else self.polls_per_round
        self.files += [self.feed.write_poll(self.bronze) for _ in range(polls)]
        batches_before = len(tracer.seconds("op"))
        with op_tag(spark, "upsert"):
            rows = failures.run("upsert", lambda: self._drain(spark, tracer))
        # each micro-batch is an operation; run() counted the drain as one
        failures.attempted += max(0, len(tracer.seconds("op")) - batches_before - 1)
        self._reads(spark, tracer, failures)
        return rows or 0

    def layer_metrics(self, spark, tracer: Tracer, window: tuple[float, float],
                      rounds: int) -> dict:
        """Bronze, streaming, sink-layout and engine figures of the loop in
        ``window`` (counts per round); runs while its session is still up."""
        from sport_data_pipeline_spark.schemas import MATCHES
        from sport_data_pipeline_spark.sources.bronze import refine

        lo, hi = window
        progress = [p for start, p in self.progress if lo <= start <= hi]
        batches = [p for p in progress if p.numInputRows]
        # each data batch drained one file, and the loop's files came last
        n_files = len(batches)
        raw = spark.read.schema(self.bronze_schema).parquet(
            *[f"{self.bronze}/{f}" for f in self.files[len(self.files) - n_files:]])
        last_state = progress[-1].stateOperators if progress else []
        m = {
            "bronze.rows_in": sum(p.numInputRows for p in progress) / rounds,
            "bronze.rows_rejected":
                (raw.count() - refine(raw, MATCHES, required=["match_id"]).count()) / rounds,
            "streaming.state_rows": sum(s.numRowsTotal for s in last_state),
            "streaming.state_bytes": sum(s.memoryUsedBytes for s in last_state),
            "streaming.late_rows_dropped": sum(
                s.numRowsDroppedByWatermark for p in progress for s in p.stateOperators) / rounds,
            "sinks.target_files": sum(f.endswith(".parquet") for f in os.listdir(self.target)),
        }
        phases = {"add_batch": "addBatch", "latest_offset": "latestOffset",
                  "planning": "queryPlanning", "commit": "commitOffsets"}
        for name, key in phases.items():
            m[f"streaming.{name}_s"] = statistics.median(
                p.durationMs.get(key, 0) / 1000 for p in batches)
        for name in ENGINE_READS:
            m[f"engine.{name}_s"] = statistics.median(tracer.seconds("op", name, since=lo))
        return m

    def check(self) -> bool:
        want = pd.DataFrame(self.feed.expected(), columns=datagen.MATCH_COLS)
        return frames_equal(read_matches(self.target), want, "matches target")


def read_matches(path: str) -> pd.DataFrame:
    """A ``matches`` parquet table in the feed's form: timestamps as epoch
    milliseconds, whether they were written naive or zoned."""
    import pyarrow.parquet as pq

    df = pq.read_table(path).to_pandas()[list(datagen.MATCH_COLS)]
    for c in ("match_date", "scraped_at"):
        ts = df[c]
        if ts.dt.tz is not None:
            ts = ts.dt.tz_convert(None)
        df[c] = ts.astype("datetime64[ms]").astype("int64")
    return df


WORKLOADS = {w.name: w for w in (AnalyticsRead, LiveUpsert)}
