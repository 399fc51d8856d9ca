"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import eventlog  # noqa: E402
import harness  # noqa: E402
from workloads import frames_equal, read_matches  # noqa: E402


def _digests(path: str) -> dict[str, str]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _live(path: str, seed: int, polls: int = 2) -> datagen.LiveFeed:
    feed = datagen.LiveFeed(seed, target_rows=3_000, poll_rows=500, n_live=200)
    feed.write_target(f"{path}/target")
    os.makedirs(f"{path}/bronze")
    for _ in range(polls):
        feed.write_poll(f"{path}/bronze")
    return feed


@pytest.mark.parametrize("gen", ["star", "corpus", "live"])
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, gen):
    def write(d, seed):
        if gen == "star":
            datagen.write_star_schema(str(d), seed)
        elif gen == "corpus":
            datagen.write_corpus(str(d), seed)
        else:
            _live(str(d), seed)
        return _digests(str(d))

    a, b, c = write(tmp_path / "a", 7), write(tmp_path / "b", 7), write(tmp_path / "c", 8)
    assert a == b
    assert a.keys() == c.keys()
    assert all(a[k] != c[k] for k in a if "region" not in k and "nation" not in k)


def test_live_feed_model_is_latest_wins_over_everything_emitted(tmp_path):
    feed = _live(str(tmp_path), 3, polls=4)
    rows = read_matches(f"{tmp_path}/target")
    ticks, malformed = [], 0
    for f in sorted(os.listdir(f"{tmp_path}/bronze")):
        for data in pq.read_table(f"{tmp_path}/bronze/{f}").column("data").to_pylist():
            try:
                d = json.loads(data)
            except json.JSONDecodeError:
                malformed += 1
                continue
            for c in ("match_date", "scraped_at"):
                d[c] = int(pd.Timestamp(d[c]).timestamp() * 1000)
            ticks.append(d)
    assert malformed == feed.rejected_written > 0
    emitted = pd.concat([rows, pd.DataFrame(ticks)], ignore_index=True)
    # one content per (match_id, scraped_at): duplicates are exact copies
    per_key = emitted.drop_duplicates().groupby(["match_id", "scraped_at"]).size()
    assert (per_key == 1).all()
    assert len(emitted) > len(emitted.drop_duplicates())  # the feed does emit duplicates
    latest = (emitted.sort_values("scraped_at").groupby("match_id").tail(1)
              .sort_values("match_id").reset_index(drop=True))
    want = pd.DataFrame(feed.expected(), columns=datagen.MATCH_COLS)
    assert frames_equal(latest, want, "latest-wins")


def test_live_feed_emits_late_ticks_older_than_current_row(tmp_path):
    feed = datagen.LiveFeed(5, target_rows=3_000, poll_rows=500, n_live=200)
    feed.write_target(f"{tmp_path}/target")
    os.makedirs(f"{tmp_path}/bronze")
    late = 0
    for _ in range(3):
        before = dict(feed.current)
        name = feed.write_poll(f"{tmp_path}/bronze")
        for data in pq.read_table(f"{tmp_path}/bronze/{name}").column("data").to_pylist():
            if not data.startswith("{") or not data.endswith("}"):
                continue
            d = json.loads(data)
            ts = int(pd.Timestamp(d["scraped_at"]).timestamp() * 1000)
            if d["match_id"] in before and ts < before[d["match_id"]][-1]:
                late += 1
                assert ts < feed.current[d["match_id"]][-1]
    assert late > 0


def test_iqr_share():
    values = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    # quartiles of 10..19 by the default (exclusive) method: 11.75 and 17.25
    assert harness.iqr_share(values) == pytest.approx((17.25 - 11.75) / 14.5)


def test_steal_meter_takes_the_stolen_share_out_of_an_interval():
    m = harness.StealMeter()
    # (time, stolen ticks, all ticks): a quarter stolen in the first second,
    # none in the next
    m.samples = [(100.0, 0, 0), (101.0, 100, 400), (102.0, 100, 800)]
    assert m.share(100.0, 101.0) == 0.25
    assert m.share(101.0, 102.0) == 0.0
    assert m.share(100.2, 101.5) == 100 / 800  # widened to whole samples
    assert m.unstolen(100.0, 101.0) == 0.75
    with harness.StealMeter() as live:
        pass
    assert live.samples and 0.0 <= live.share(0.0, float("inf")) <= 1.0


def test_classify_by_sql_execution():
    c = eventlog.classify
    assert c("localCheckpoint at checkpointing.py:74", "", False, False) == "checkpointing"
    assert c("parquet at live.py:83", "Execute InsertIntoHadoopFsRelationCommand (3)",
             False, False) == "sinks"
    assert c("toPandas at run.py:1", "AdaptiveSparkPlan (12)", False, False) == "operators"
    assert c("id = q runId = r batch = 1", "StreamingDeduplicate (8)", False, True) == "streaming"
    assert c("id = q runId = r batch = 1", "AdaptiveSparkPlan (12)", True, False) == "checkpointing"


def test_event_log_parser_on_recorded_stream_log():
    """Three micro-batches of the upsert sink: each has its own root
    execution, a merge materialized by localCheckpoint (two jobs) and one
    parquet write."""
    path = os.path.join(HERE, "fixtures", "eventlog_stream.jsonl")
    with open(path) as f:
        s = eventlog.summarize(f, (0, float("inf")))
    assert {k: s.job_count(k) for k in ("streaming", "checkpointing", "sinks", "operators")} == {
        "streaming": 3, "checkpointing": 6, "sinks": 3, "operators": 0}
    assert s.total("tasks") == 20
    assert s.total("output_tasks", layer="sinks") == 3
    assert s.total("output_rows", layer="sinks") == 6052
    assert s.total("shuffle_bytes", layer="checkpointing") > 0
    assert s.busy_ms("sinks") > 0
    with open(path) as f:
        first_job = min(json.loads(l)["Submission Time"] for l in f if "Submission Time" in l)
    with open(path) as f:
        assert eventlog.summarize(f, (0, first_job - 1)).job_count() == 0


def test_event_log_parser_splits_operations_and_operator_kinds():
    """Two tagged analytics operations: ``standings`` (two broadcast joins
    fused into one codegen stage, then a Window stage) and
    ``minhash_jaccard_neardup``."""
    path = os.path.join(HERE, "fixtures", "eventlog_analytics.jsonl")
    with open(path) as f:
        s = eventlog.summarize(f, (0, float("inf")))
    ops = {t.op for t in s.tasks}
    assert ops == {"standings", "minhash_jaccard_neardup"}

    def standings(op):
        return op == "standings"

    def minhash(op):
        return op == "minhash_jaccard_neardup"

    assert s.total("tasks", op=standings) + s.total("tasks", op=minhash) == s.total("tasks")
    # one stage of standings runs the joins, one the window
    assert s.total("tasks", op=standings, kind="joins") == 1
    assert s.total("tasks", op=standings, kind="windows") == 1
    assert 0 < s.total("run_ms", op=standings, kind="joins") < s.total("run_ms", op=standings)
    assert s.total("input_bytes", op=minhash) > s.total("input_bytes", op=standings) > 0


def test_operator_kinds_see_through_codegen():
    plan = {"nodeName": "WholeStageCodegen (3)", "children": [
        {"nodeName": "Project", "children": [
            {"nodeName": "SortMergeJoin", "children": [
                {"nodeName": "InputAdapter", "children": [
                    {"nodeName": "Window", "children": []}]}]}]}]}
    fused = {}
    eventlog.fused_nodes(plan, fused)
    assert fused == {"WholeStageCodegen (3)": {"Project", "SortMergeJoin"}}
    assert eventlog.operator_kinds(fused["WholeStageCodegen (3)"]) == {"joins"}
    assert eventlog.operator_kinds({"Window", "Exchange"}) == {"windows"}
    assert eventlog.operator_kinds({"Exchange"}) == frozenset()


def test_frames_equal_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert frames_equal(a, b, "t")
    assert not frames_equal(a, b.assign(x=[2, 2]), "t")


def test_run_fails_without_the_package(tmp_path):
    """With only the benchmark's own files, run.py exits non-zero and
    prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".results", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics_read",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
