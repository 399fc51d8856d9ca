"""Spark 4 Python DataSource for the reference's snapshot-report format.

The reference's scrapers drop timestamped JSON snapshots plus a
``<name>_latest.json`` alias (fbref_scraper.py:330-446; our
``sources/sinks.write_snapshot`` writes the same layout). This module
exposes that layout as a first-class pluggable Spark source (SURVEY §2.10
X1/X2) via the Spark 4 Python DataSource API — no JVM code:

- **batch** (``spark.read.format("bronze_snapshot")``): one input
  partition PER SNAPSHOT FILE, so a directory of thousands of snapshots
  scans as thousands of parallel tasks; with ``EqualTo``/``In`` filter
  pushdown on the ``snapshot`` file-name column, pruned files are never
  opened (file-level skipping, the Python-source analogue of partition
  pruning).
- **stream** (``spark.readStream.format("bronze_snapshot")``): the
  reference's poll loop inverted into a Structured Streaming source —
  each micro-batch picks up snapshot files that arrived since the last
  offset (offset = sorted-file-list high-water mark), which is exactly
  what the scraping orchestrator's 30 s/300 s poll cadence produces.

Rows are JSON-lines (the layout Spark's own ``df.write.json`` emits, and
what ``write_snapshot`` produces). The user supplies the value schema as a
DDL string via the ``schema`` option (snapshots are schemaless on disk);
the source appends a ``snapshot`` string column carrying the originating
file stem so downstream dedup/latest-wins merges can order arrivals.

``write_snapshot`` always re-emits a ``<name>_latest`` alias of the newest
snapshot, so reading the raw listing would double-count it; the source
skips ``*_latest`` stems by default (``exclude_latest`` option, set
``"false"`` to read the alias — e.g. for a latest-only batch lookup).
"""

from __future__ import annotations

import json
import os
import warnings
from collections.abc import Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType


def _snapshot_files(path: str, suffix: str, exclude_latest: bool = True) -> list[str]:
    if not os.path.isdir(path):
        return []
    out = []
    for f in sorted(os.listdir(path)):
        full = os.path.join(path, f)
        if not f.endswith(suffix):
            continue
        if exclude_latest and _stem(full).endswith("_latest"):
            continue  # alias of the newest snapshot — already in the listing
        if os.path.isdir(full) or os.path.isfile(full):
            # Spark's json writer emits a DIRECTORY of part files
            out.append(full)
    return out


def _truthy(options: dict, key: str, default: bool) -> bool:
    return options.get(key, str(default)).strip().lower() not in ("false", "0", "no")


def _stem(path: str) -> str:
    return os.path.basename(path).rsplit(".", 1)[0]


def _part_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, p)
            for p in os.listdir(path)
            if p.startswith("part-") and not p.endswith(".crc")
        )
    return [path]


def _iter_json_rows(path: str) -> Iterator[dict]:
    for part in _part_files(path):
        with open(part, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _arrow_batches(path: str, schema: StructType, stem: str) -> list | None:
    """Parse a JSON-lines snapshot into Arrow record batches (r15).

    The batch reader originally yielded row-at-a-time Python tuples from
    ``json.loads`` — every snapshot row paid an interpreted parse PLUS
    pickle serialization across the Python→JVM boundary (guide §4.2:
    hand whole batches to vectorized native code instead). pyarrow's
    native JSON reader parses the file in C++ against the declared
    schema and the Spark 4 DataSource API ships ``pyarrow.RecordBatch``
    yields straight through as Arrow — no per-row Python work at all.
    The ``snapshot`` file-stem column is appended as a constant array.

    Returns None when the fast path cannot be used (unsupported type,
    malformed file, pyarrow missing) — the caller falls back to the
    row-at-a-time path, which remains the semantic reference.
    """
    try:
        import pyarrow as pa
        from pyarrow import json as pa_json
        from pyspark.sql.pandas.types import to_arrow_type

        value_schema = pa.schema(
            [
                pa.field(f.name, to_arrow_type(f.dataType))
                for f in schema.fields
                if f.name != "snapshot"
            ]
        )
        out: list = []
        for part in _part_files(path):
            if os.path.getsize(part) == 0:
                continue
            tbl = pa_json.read_json(
                part,
                parse_options=pa_json.ParseOptions(
                    explicit_schema=value_schema,
                    unexpected_field_behavior="ignore",
                ),
            )
            tbl = tbl.append_column(
                pa.field("snapshot", pa.string()),
                pa.array([stem] * tbl.num_rows, type=pa.string()),
            )
            out.extend(tbl.select([f.name for f in schema.fields]).to_batches())
        return out
    except Exception:
        return None


@dataclass
class _SnapshotPartition(InputPartition):
    path: str | None  # None = empty sentinel (all files pruned)
    stem: str | None = None  # snapshot stem (≠ basename for part files)


class SnapshotBatchReader(DataSourceReader):
    """One partition per snapshot PART file.

    A snapshot written by ``df.write.json`` with a parallel upstream is a
    directory of part files; scanning it as one partition made the whole
    snapshot a single parse task (r16: the e2e pipeline's snapshot writes
    went parallel, so the read must not re-serialize them). Plain
    single-file snapshots still scan as one partition each, and file-level
    ``snapshot`` pruning happens BEFORE part expansion, so pruned
    snapshots never even list their parts.

    This base reader deliberately does NOT implement ``pushFilters``:
    Spark refuses to even initialize a pushFilters-implementing reader
    when the session leaves ``spark.sql.python.filterPushdown.enabled``
    unset/false (DATA_SOURCE_PUSHDOWN_DISABLED — the check is on the
    method override, not on whether filters exist). File-level pruning
    lives in the :class:`SnapshotPushdownReader` subclass, selected by
    the ``pushdown`` option; :func:`load_snapshots` picks automatically
    from the session conf. Filters always remain correct either way —
    without pushdown Spark just applies them post-scan."""

    def __init__(self, options: dict, schema: StructType) -> None:
        self.path = options["path"]
        self.suffix = options.get("suffix", ".json")
        self.exclude_latest = _truthy(options, "exclude_latest", True)
        self.out_schema = schema
        self.fields = [f.name for f in schema.fields if f.name != "snapshot"]
        self.keep: set[str] | None = None  # None = no pruning

    def partitions(self) -> Sequence[InputPartition]:
        files = _snapshot_files(self.path, self.suffix, self.exclude_latest)
        if self.keep is not None:
            files = [p for p in files if _stem(p) in self.keep]
        parts = [
            _SnapshotPartition(part, _stem(p)) for p in files for part in _part_files(p)
        ]
        # the API requires >=1 partition even when pruning removed every
        # file or every snapshot directory holds no part files; an empty
        # sentinel keeps the scan a valid zero-row plan
        return parts or [_SnapshotPartition(path=None)]

    def read(self, partition: _SnapshotPartition) -> Iterator:
        if partition is None or partition.path is None:
            return  # empty sentinel: every file pruned
        stem = partition.stem or _stem(partition.path)
        # Arrow fast path (guide §4.2): C++ JSON parse → RecordBatch
        # yields, zero per-row Python. Tuple path kept as the fallback
        # and semantic reference (and for schemas Arrow cannot map).
        batches = _arrow_batches(partition.path, self.out_schema, stem)
        if batches is not None:
            yield from batches
            return
        for rec in _iter_json_rows(partition.path):
            yield tuple(rec.get(k) for k in self.fields) + (stem,)


class SnapshotPushdownReader(SnapshotBatchReader):
    """Adds file-level ``EqualTo``/``In`` pushdown on the ``snapshot``
    column (pruned files are never opened). Requires the session conf
    ``spark.sql.python.filterPushdown.enabled=true``."""

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:  # noqa: N802
        for f in filters:
            # file-name pruning: snapshot = 'x' / snapshot IN (...) prune
            # at the LISTING, before any file opens. The filter list is an
            # AND conjunction and accepted filters are not re-applied by
            # Spark, so multiple snapshot predicates must INTERSECT — an
            # assignment would silently drop all but the last one.
            if isinstance(f, EqualTo) and f.attribute == ("snapshot",):
                new = {f.value}
            elif isinstance(f, In) and f.attribute == ("snapshot",):
                new = set(f.value)  # In.value is the tuple of candidates
            else:
                yield f  # everything else stays Spark-side
                continue
            self.keep = new if self.keep is None else (self.keep & new)


def _offset_seen(offset: dict, stem: str) -> bool:
    """True if ``stem`` is covered by ``offset``. Offsets are a compacted
    seen-set: every stem ``<= floor`` is implicitly seen (the contiguous
    prefix of the sorted listing), plus an explicit ``recent`` residue for
    out-of-order stems above the floor. Legacy ``{"seen": [...]}`` offsets
    from older checkpoints are honored too."""
    return (
        stem <= offset.get("floor", "")
        or stem in offset.get("recent", ())
        or stem in offset.get("seen", ())
    )


class SnapshotStreamReader(SimpleDataSourceStreamReader):
    """Poll-loop-as-stream: each micro-batch reads exactly the files that
    arrived since the last offset.

    The offset written to the checkpoint every micro-batch is O(1), not
    O(total snapshots ever seen): because snapshot stems are timestamped
    (monotonically increasing — ``write_snapshot``'s naming convention),
    the seen-set compacts to a high-water mark ``floor`` plus the (normally
    empty) list of out-of-order stems above it. A file whose stem sorts
    BELOW the floor after the floor has passed it is assumed immutable and
    is not picked up — the documented contract of timestamped snapshot
    naming."""

    def __init__(self, options: dict, schema: StructType) -> None:
        self.path = options["path"]
        self.suffix = options.get("suffix", ".json")
        self.exclude_latest = _truthy(options, "exclude_latest", True)
        self.fields = [f.name for f in schema.fields if f.name != "snapshot"]

    def initialOffset(self) -> dict:  # noqa: N802
        return {"floor": "", "recent": []}

    def _rows(self, files: list[str]) -> Iterator[tuple]:
        for path in files:
            stem = _stem(path)
            for rec in _iter_json_rows(path):
                yield tuple(rec.get(k) for k in self.fields) + (stem,)

    def read(self, start: dict) -> tuple[list[tuple], dict]:
        files = _snapshot_files(self.path, self.suffix, self.exclude_latest)
        # Observability for the timestamped-naming contract: the offset
        # carries the count of listed files at-or-below the floor, so a
        # gap file that lands AFTER the floor passed its stem (slow
        # writer / clock skew) is detected as a count increase and warned
        # about instead of being silently skipped forever. Retention
        # deleting old files only ever DECREASES the count, so it cannot
        # raise a false alarm (a simultaneous delete+late-arrival can
        # mask one warning — acceptable for a warning path).
        floor0 = start.get("floor", "")
        below = sum(1 for p in files if _stem(p) <= floor0)
        expected = start.get("n_below")
        if expected is not None and below > expected:
            warnings.warn(
                f"bronze_snapshot stream at {self.path!r}: {below - expected} "
                f"file(s) appeared below the offset floor {floor0!r} after it "
                "advanced; they violate the timestamped-naming contract and "
                "will NOT be ingested",
                stacklevel=2,
            )
        new = [p for p in files if not _offset_seen(start, _stem(p))]
        # compact: advance the floor over the longest fully-seen prefix of
        # the sorted listing, keep only seen stems above it explicitly
        seen_above = (
            set(start.get("recent", ()))
            | set(start.get("seen", ()))
            | {_stem(p) for p in new}
        )
        floor = start.get("floor", "")
        for stem in (_stem(p) for p in files):
            if stem <= floor:
                continue
            if stem in seen_above:
                floor = stem
            else:
                break
        end = {
            "floor": floor,
            "recent": sorted(s for s in seen_above if s > floor),
            "n_below": sum(1 for p in files if _stem(p) <= floor),
        }
        # a LIST, not a generator: the prefetching runner pickles the rows
        return list(self._rows(new)), end

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        # deterministic replay for recovery: exactly the files in end\start
        files = _snapshot_files(self.path, self.suffix, self.exclude_latest)
        return list(
            self._rows(
                [
                    p
                    for p in files
                    if _offset_seen(end, _stem(p)) and not _offset_seen(start, _stem(p))
                ]
            )
        )


class SnapshotDataSource(DataSource):
    """``spark.dataSource.register(SnapshotDataSource)`` then
    ``spark.read.format("bronze_snapshot").option("path", dir)
    .schema("home string, away string, score string, snapshot string")``.
    The ``snapshot`` column is filled by the source; all other schema
    fields are read from the JSON records by name."""

    @classmethod
    def name(cls) -> str:
        return "bronze_snapshot"

    def schema(self) -> str:
        raise NotImplementedError(
            "bronze_snapshot requires an explicit .schema(...) — snapshots "
            "are schemaless JSON on disk"
        )

    def reader(self, schema: StructType) -> SnapshotBatchReader:
        # the pushdown reader crashes outright in sessions that leave
        # spark.sql.python.filterPushdown.enabled off; the `pushdown`
        # option (set by load_snapshots from the session conf) selects
        # the plain reader there instead of failing the whole scan.
        if _truthy(self.options, "pushdown", True):
            return SnapshotPushdownReader(self.options, schema)
        return SnapshotBatchReader(self.options, schema)

    def simpleStreamReader(self, schema: StructType) -> SnapshotStreamReader:  # noqa: N802
        return SnapshotStreamReader(self.options, schema)


def load_snapshots(spark, path: str, schema: str | StructType, **options) -> "object":
    """Read a snapshot directory through the registered ``bronze_snapshot``
    source, working in ANY session regardless of its pushdown conf.

    Registers the source (idempotent) and checks
    ``spark.sql.python.filterPushdown.enabled``: when the session enables
    it, the pushdown reader prunes snapshot files at the listing; when it
    is unset/false (Spark's default — and what an external harness's
    vanilla session has), the plain reader is selected via the
    ``pushdown`` option so the scan still runs, with snapshot filters
    applied Spark-side instead of at the listing. Extra keyword options
    (``suffix``, ``exclude_latest``) pass through to the source."""
    spark.dataSource.register(SnapshotDataSource)
    enabled = str(
        spark.conf.get("spark.sql.python.filterPushdown.enabled", "false") or "false"
    ).lower() == "true"
    reader = spark.read.format("bronze_snapshot").schema(schema).option("path", path)
    if not enabled:
        reader = reader.option("pushdown", "false")
    for key, value in options.items():
        reader = reader.option(key, str(value))
    return reader.load()
