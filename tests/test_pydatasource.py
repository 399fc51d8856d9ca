"""Spark 4 Python DataSource: the snapshot layout as a pluggable source
(batch with per-file partitions + file-level filter pushdown, and the
poll-loop-as-stream reader with offset recovery)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

SCHEMA = "home string, away string, score long, snapshot string"


def _write(dir_, name, rows):
    os.makedirs(dir_, exist_ok=True)
    with open(os.path.join(dir_, f"{name}.json"), "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


def _register(spark):
    from sport_data_pipeline_spark.sources.pydatasource import SnapshotDataSource

    spark.dataSource.register(SnapshotDataSource)


def test_batch_read_one_partition_per_file(spark, tmp_path):
    d = str(tmp_path / "snaps")
    _write(d, "scrape_a", [{"home": "X", "away": "Y", "score": 3}])
    _write(d, "scrape_b", [{"home": "P", "away": "Q", "score": 1},
                           {"home": "R", "away": "S", "score": 2}])
    _register(spark)
    df = spark.read.format("bronze_snapshot").schema(SCHEMA).option("path", d).load()
    assert df.rdd.getNumPartitions() == 2  # one task per snapshot file
    got = {(r["home"], r["score"], r["snapshot"]) for r in df.collect()}
    assert got == {("X", 3, "scrape_a"), ("P", 1, "scrape_b"), ("R", 2, "scrape_b")}


def test_batch_read_one_partition_per_part_file(spark, tmp_path):
    """A snapshot written with a parallel upstream is a DIRECTORY of part
    files; each part scans as its own partition (r16: the e2e pipeline's
    snapshot writes went parallel), the snapshot column still carries the
    snapshot stem, and rows are identical to a single-part write."""
    from sport_data_pipeline_spark.sources.sinks import write_snapshot

    rows = [(i, f"h{i}", f"a{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "score long, home string, away string")
    d = str(tmp_path / "snaps")
    import datetime as dt

    write_snapshot(df.repartition(8), d, "live", fmt="json",
                   timestamp=dt.datetime(2024, 1, 1), latest=False)
    _register(spark)
    got = spark.read.format("bronze_snapshot").schema(SCHEMA).option("path", d).load()
    assert got.rdd.getNumPartitions() == 8  # one task per PART file
    out = {(r["home"], r["score"], r["snapshot"]) for r in got.collect()}
    want = {(f"h{i}", i, "live_20240101_000000") for i in range(40)}
    assert out == want  # multi-part read = same rows, same snapshot stem


def test_batch_filter_pushdown_prunes_files(spark, tmp_path):
    d = str(tmp_path / "snaps")
    _write(d, "good", [{"home": "X", "away": "Y", "score": 3}])
    # poison file: JSON-invalid — it can only pass if pruned UNOPENED
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "broken.json"), "w") as fh:
        fh.write("{this is not json\n")
    _register(spark)
    df = (
        spark.read.format("bronze_snapshot").schema(SCHEMA).option("path", d).load()
        .filter(F.col("snapshot") == "good")
    )
    assert [r["home"] for r in df.collect()] == ["X"]  # broken.json never opened


def test_batch_conjunctive_filters_intersect(spark, tmp_path):
    # .filter(a).filter(isin(b, c)) is an AND conjunction; accepted filters
    # are not re-applied by Spark, so the pushdown must INTERSECT the
    # snapshot sets — assignment semantics would return b's rows too.
    d = str(tmp_path / "snaps")
    _write(d, "a", [{"home": "A", "away": "x", "score": 1}])
    _write(d, "b", [{"home": "B", "away": "x", "score": 2}])
    _write(d, "c", [{"home": "C", "away": "x", "score": 3}])
    _register(spark)
    base = spark.read.format("bronze_snapshot").schema(SCHEMA).option("path", d).load()
    got = (
        base.filter(F.col("snapshot") == "a")
        .filter(F.col("snapshot").isin("b", "c"))
        .collect()
    )
    assert got == []  # a ∩ {b,c} = ∅
    got2 = (
        base.filter(F.col("snapshot").isin("a", "b"))
        .filter(F.col("snapshot").isin("b", "c"))
        .collect()
    )
    assert [r["home"] for r in got2] == ["B"]  # {a,b} ∩ {b,c} = {b}


def test_latest_alias_excluded_by_default(spark, tmp_path):
    d = str(tmp_path / "snaps")
    _write(d, "m_20240101", [{"home": "X", "away": "Y", "score": 1}])
    _write(d, "m_latest", [{"home": "X", "away": "Y", "score": 1}])  # alias dup
    _register(spark)
    base = spark.read.format("bronze_snapshot").schema(SCHEMA).option("path", d)
    assert base.load().count() == 1  # alias skipped: no double-count
    # escape hatch: exclude_latest=false reads the alias (latest-only lookup)
    both = base.option("exclude_latest", "false").load()
    assert {r["snapshot"] for r in both.collect()} == {"m_20240101", "m_latest"}


def _schema_struct():
    # built programmatically, NOT StructType.fromDDL: fromDDL needs an
    # active SparkContext, which would make sessionless reader tests
    # order-dependent on whichever test created the session first
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    return StructType(
        [
            StructField("home", StringType()),
            StructField("away", StringType()),
            StructField("score", LongType()),
            StructField("snapshot", StringType()),
        ]
    )


def test_batch_partitions_never_empty_when_snapshots_hold_no_parts(tmp_path):
    # a snapshot directory whose write produced no part file (only the
    # _SUCCESS marker) still lists, but expands to zero parts; the reader
    # must fall back to its one empty sentinel, never return []
    from sport_data_pipeline_spark.sources.pydatasource import SnapshotBatchReader

    d = tmp_path / "snaps"
    (d / "live_20240101_000000.json").mkdir(parents=True)
    (d / "live_20240101_000000.json" / "_SUCCESS").write_text("")
    parts = SnapshotBatchReader({"path": str(d)}, _schema_struct()).partitions()
    assert len(parts) == 1 and parts[0].path is None
    assert list(SnapshotBatchReader({"path": str(d)}, _schema_struct()).read(parts[0])) == []


def test_stream_offset_stays_bounded(tmp_path):
    # the offset persisted per micro-batch must be O(1) in the number of
    # snapshots ever seen (a poll loop runs forever), not a full file list
    from sport_data_pipeline_spark.sources.pydatasource import SnapshotStreamReader

    d = str(tmp_path / "snaps")
    reader = SnapshotStreamReader({"path": d}, _schema_struct())
    off = reader.initialOffset()
    for i in range(25):
        _write(d, f"poll_{i:04d}", [{"home": "H", "away": "A", "score": i}])
        rows, off = reader.read(off)
        assert len(rows) == 1 and rows[0][2] == i
        assert off["recent"] == []  # monotonic stems compact fully
    assert off["floor"] == "poll_0024"
    # legacy seen-list offsets from an old checkpoint still resolve, and
    # the next offset written is the compacted form
    legacy = {"seen": [f"poll_{i:04d}" for i in range(25)]}
    rows, off2 = reader.read(legacy)
    assert rows == []
    assert off2 == {"floor": "poll_0024", "recent": [], "n_below": 25}
    # replay between compacted offsets is exact
    replay = reader.readBetweenOffsets({"floor": "poll_0019"}, {"floor": "poll_0021"})
    assert sorted(r[2] for r in replay) == [20, 21]


def test_stream_picks_up_new_snapshots_across_runs(spark, tmp_path):
    d, out, ckpt = str(tmp_path / "snaps"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write(d, "poll_1", [{"home": "A", "away": "B", "score": 1}])
    _register(spark)

    def run_once():
        q = (
            spark.readStream.format("bronze_snapshot")
            .schema(SCHEMA)
            .option("path", d)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(out).count() == 1
    # the next poll drops a new snapshot; a later run reads ONLY the new file
    _write(d, "poll_2", [{"home": "C", "away": "D", "score": 2},
                         {"home": "E", "away": "F", "score": 3}])
    run_once()
    got = {(r["snapshot"], r["home"]) for r in spark.read.parquet(out).collect()}
    assert got == {("poll_1", "A"), ("poll_2", "C"), ("poll_2", "E")}


def test_snapshot_poll_to_silver_merge_e2e(spark, tmp_path):
    """The reference's full ingest loop, Spark-native end to end:
    write_snapshot (S9 layout) → bronze_snapshot streaming source (X1) →
    foreachBatch latest-wins upsert (T2/S10). Two polls of the same match
    land as ONE silver row carrying the later score."""
    from sport_data_pipeline_spark.sources.sinks import write_snapshot
    from sport_data_pipeline_spark.streaming.live import start_upsert_sink

    d, out, ckpt = str(tmp_path / "snaps"), str(tmp_path / "silver"), str(tmp_path / "ck")
    _register(spark)
    schema = "match_id long, score long, poll long, snapshot string"

    def poll(n, rows):
        df = spark.createDataFrame(rows, "match_id long, score long, poll long")
        # write_snapshot's timestamped-name convention, one dir per poll
        write_snapshot(df.coalesce(1), d, "live", fmt="json",
                       timestamp=__import__("datetime").datetime(2024, 1, 1, 12, 0, n))

    poll(1, [(100, 0, 1), (200, 1, 1)])
    poll(2, [(100, 2, 2)])  # match 100 re-polled with a later score

    stream = (
        spark.readStream.format("bronze_snapshot")
        .schema(schema)
        .option("path", d)
        .option("suffix", ".json")
        .load()
        # the _latest alias write_snapshot emits is excluded by the source
        # by default, so each poll is ingested exactly once
    )
    q = start_upsert_sink(
        stream, target_path=out, keys=["match_id"], order_by=["poll"],
        checkpoint=ckpt, available_now=True,
    )
    q.awaitTermination()
    got = {r["match_id"]: (r["score"], r["poll"]) for r in spark.read.parquet(out).collect()}
    assert got == {100: (2, 2), 200: (1, 1)}


def test_load_snapshots_survives_pushdown_disabled_session(spark, tmp_path):
    # An external harness's vanilla session leaves
    # spark.sql.python.filterPushdown.enabled off, and Spark then refuses
    # to even initialize a pushFilters-implementing reader (the r6 driver
    # regression). load_snapshots must pick the plain reader there and
    # still return correct rows (filters apply Spark-side).
    import pytest

    from sport_data_pipeline_spark.sources.pydatasource import load_snapshots

    d = str(tmp_path / "snaps")
    _write(d, "a", [{"home": "A", "away": "x", "score": 1}])
    _write(d, "b", [{"home": "B", "away": "y", "score": 2}])
    _register(spark)
    conf_key = "spark.sql.python.filterPushdown.enabled"
    before = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "false")
    try:
        # the raw pushdown-default read is what broke in the driver: pin it
        raw = spark.read.format("bronze_snapshot").schema(SCHEMA).option("path", d).load()
        with pytest.raises(Exception, match="PUSHDOWN_DISABLED"):
            raw.collect()
        df = load_snapshots(spark, d, SCHEMA).filter(F.col("snapshot") == "a")
        assert [(r["home"], r["score"]) for r in df.collect()] == [("A", 1)]
    finally:
        spark.conf.set(conf_key, before)
    # and with the conf back on, the helper routes to the pruning reader
    df = load_snapshots(spark, d, SCHEMA).filter(F.col("snapshot") == "b")
    assert [(r["home"], r["score"]) for r in df.collect()] == [("B", 2)]


def test_stream_warns_on_below_floor_arrival(tmp_path):
    # A gap file that lands after the floor passed its stem (slow writer /
    # clock skew) violates the timestamped-naming contract; it is skipped,
    # but the skip must be OBSERVABLE, not silent: the offset's n_below
    # count detects the late landing and warns.
    import pytest

    from sport_data_pipeline_spark.sources.pydatasource import SnapshotStreamReader

    d = str(tmp_path / "snaps")
    reader = SnapshotStreamReader({"path": d}, _schema_struct())
    _write(d, "poll_0001", [{"home": "A", "away": "B", "score": 1}])
    _write(d, "poll_0003", [{"home": "C", "away": "D", "score": 3}])
    rows, off = reader.read(reader.initialOffset())
    assert len(rows) == 2 and off == {"floor": "poll_0003", "recent": [], "n_below": 2}

    _write(d, "poll_0002", [{"home": "E", "away": "F", "score": 2}])  # late gap file
    with pytest.warns(UserWarning, match="below the offset floor"):
        rows, off2 = reader.read(off)
    assert rows == []  # contract: below-floor files are not ingested
    assert off2 == {"floor": "poll_0003", "recent": [], "n_below": 3}

    # steady state: the updated count means no repeat warning
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("error")
        rows, off3 = reader.read(off2)
    assert rows == [] and off3 == off2
