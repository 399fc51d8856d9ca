"""File-level latest-wins upsert (``operators.merge.merge_into_parquet``)
behind the streaming upsert sink: URL-encoded target paths, crash replay
between the staged renames and the deletes, and a crashed staging
directory that readers never see."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.parquet as pq
import pytest

from sport_data_pipeline_spark.fsio import HadoopFS
from sport_data_pipeline_spark.operators import merge
from sport_data_pipeline_spark.operators.merge import merge_into_parquet, merge_latest
from sport_data_pipeline_spark.streaming.live import read_tick_stream, start_upsert_sink

SCHEMA = "fixture_id long, status string, scraped_at timestamp"
T0 = dt.datetime(2024, 1, 1, 10, 0)


def _ticks(spark, rows):
    return spark.createDataFrame(
        [(k, s, T0 + dt.timedelta(minutes=m)) for k, s, m in rows], SCHEMA
    )


def _poll(spark, src, rows):
    _ticks(spark, rows).coalesce(1).write.mode("append").parquet(src)


def _drain(spark, src, target, ckpt):
    stream = read_tick_stream(spark, src, spark.read.parquet(src).schema, max_files_per_trigger=1)
    q = start_upsert_sink(
        stream, target, keys=["fixture_id"], order_by=["scraped_at"],
        checkpoint=ckpt, available_now=True,
    )
    q.awaitTermination(120)


def _parquet_files(path):
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def _table(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


def test_sink_replaces_files_under_a_path_with_a_space(spark, tmp_path, monkeypatch):
    # _metadata.file_path URL-encodes the space; a delete that took the
    # escape literally would be a no-op and leave the keys duplicated
    monkeypatch.setattr(merge, "ROWS_PER_FILE", 4)
    src, ckpt = str(tmp_path / "ticks"), str(tmp_path / "ck")
    target = str(tmp_path / "a b" / "matches")
    _poll(spark, src, [(k, "scheduled", 0) for k in range(8)])
    _drain(spark, src, target, ckpt)
    before = _parquet_files(target)
    assert len(before) == 4

    _poll(spark, src, [(0, "live", 5), (7, "live", 5)])
    _drain(spark, src, target, ckpt)
    after = _parquet_files(target)
    got = _table(spark, target)
    assert [r[0] for r in got] == list(range(8))  # one row per key
    assert {r[0]: r[1] for r in got} == {k: "live" if k in (0, 7) else "scheduled" for k in range(8)}
    assert len(set(before) - set(after)) == 2 and len(after) == 4


def test_crash_before_deletes_is_repaired_by_the_replay(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(merge, "ROWS_PER_FILE", 16)
    src, target, ckpt = str(tmp_path / "ticks"), str(tmp_path / "t"), str(tmp_path / "ck")
    polls = [
        [(k, "scheduled", 0) for k in range(10, 26)],  # files [10-17] and [18-25]
        # key 17 touches [10-17]; ten new keys split its rewrite three ways
        [(17, "live", 5)] + [(k, "live", 5) for k in range(30, 40)],
    ]
    _poll(spark, src, polls[0])
    _drain(spark, src, target, ckpt)
    first = set(_parquet_files(target))

    def crash(self, uri):
        raise OSError("injected crash before the deletes")

    _poll(spark, src, polls[1])
    with monkeypatch.context() as m:
        m.setattr(HadoopFS, "delete_uri", crash)
        with pytest.raises(Exception, match="injected crash"):
            _drain(spark, src, target, ckpt)
    # the crash window: old and new copies of the touched keys both visible
    assert len(_table(spark, target)) > 26
    # and one new file holds none of the batch's keys, so a replay that
    # only merged the files holding them would leave its rows doubled
    batch_keys = {k for k, _, _ in polls[1]}
    assert any(
        not batch_keys & set(pq.read_table(os.path.join(target, f)).column("fixture_id").to_pylist())
        for f in set(_parquet_files(target)) - first
    )

    _drain(spark, src, target, ckpt)  # the stream replays the failed epoch
    want = merge_latest(
        _ticks(spark, polls[0] + polls[1]), ["fixture_id"], ["scraped_at"]
    ).collect()
    assert _table(spark, target) == sorted(tuple(r) for r in want)
    assert not os.path.exists(os.path.join(target, merge.STAGING))


def test_crashed_staging_is_invisible_and_cleared(spark, tmp_path, monkeypatch):
    target = str(tmp_path / "t")
    merge_into_parquet(_ticks(spark, [(k, "scheduled", 0) for k in range(5)]),
                       target, ["fixture_id"], ["scraped_at"])
    before = _table(spark, target)

    def crash(self, path, text):
        raise OSError("injected crash before the commit marker")

    with monkeypatch.context() as m:
        m.setattr(HadoopFS, "write_text", crash)
        with pytest.raises(OSError, match="injected crash"):
            merge_into_parquet(_ticks(spark, [(2, "live", 5)]), target,
                               ["fixture_id"], ["scraped_at"])
    staging = os.path.join(target, merge.STAGING)
    assert _parquet_files(staging)  # the staged rewrite of key 2 is left behind
    assert _table(spark, target) == before
    assert sorted(pq.read_table(target).column("fixture_id").to_pylist()) == list(range(5))

    merge_into_parquet(_ticks(spark, [(3, "live", 6)]), target, ["fixture_id"], ["scraped_at"])
    assert not os.path.exists(staging)
    assert {r[0]: r[1] for r in _table(spark, target)} == {
        0: "scheduled", 1: "scheduled", 2: "scheduled", 3: "live", 4: "scheduled"}


def test_first_write_never_shows_an_empty_target(spark, tmp_path, monkeypatch):
    target = str(tmp_path / "t")
    renames = []
    orig = HadoopFS.rename

    def rename(self, src, dst):
        renames.append((os.path.exists(dst), os.listdir(src)))
        orig(self, src, dst)

    monkeypatch.setattr(HadoopFS, "rename", rename)
    merge_into_parquet(_ticks(spark, [(1, "scheduled", 0)]), target,
                       ["fixture_id"], ["scraped_at"])
    (target_existed, staged), = renames
    assert not target_existed and any(f.endswith(".parquet") for f in staged)
    assert _table(spark, target) == [(1, "scheduled", T0)]


def test_batch_with_another_type_rewrites_every_file(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(merge, "ROWS_PER_FILE", 4)
    target = str(tmp_path / "t")
    merge_into_parquet(_ticks(spark, [(k, "scheduled", 0) for k in range(8)]),
                       target, ["fixture_id"], ["scraped_at"])
    before = set(_parquet_files(target))
    wide = spark.createDataFrame(
        [(3, "live", T0 + dt.timedelta(minutes=5), 1.5)], SCHEMA + ", xg double")
    assert merge_into_parquet(wide, target, ["fixture_id"], ["scraped_at"]) == len(before)
    assert not before & set(_parquet_files(target))
    assert {pq.read_schema(os.path.join(target, f)).names[-1]
            for f in _parquet_files(target)} == {"xg"}
