"""Upsert / MERGE semantics as library operators.

Every reference sink is an ``INSERT ... ON CONFLICT DO UPDATE``
(src/database/manager.py:122-151, src/database/services/*.py). Without a
transactional table format, the scalable rewrite is: union existing and
incoming rows, then keep the latest row per business key — one shuffle on
the key. ``merge_coalesce`` adds the reference's per-column COALESCE
partial-update behavior (fbref_match_scraper.py:622-626: only overwrite
when the new value is non-null). ``merge_into_parquet`` applies the
latest-wins merge to a parquet table on disk, rewriting only the files
that hold a key of the incoming batch.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..checkpointing import stage_checkpoint
from ..fsio import HadoopFS, join
from ..sources.sinks import read_parquet_if_exists
from .windows import latest_per_key

#: Most rows one file of a ``merge_into_parquet`` target holds
#: (``maxRecordsPerFile`` of its writes).
ROWS_PER_FILE = 1 << 16

#: Directory under the target where ``merge_into_parquet`` writes before it
#: renames. The leading underscore hides it from Spark's and pyarrow's
#: dataset readers.
STAGING = "_staging"

#: Commit marker in ``STAGING``: the URIs of the target files the staged
#: files replace, one per line.
_REPLACED = "_replaced"


def merge_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Deduplicate to the latest row per business key (W7).

    This is the idempotency primitive: re-running an ingest and merging
    again yields the same table.
    """
    return latest_per_key(df, keys, order_by)


def upsert(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """UNION + latest-wins merge — the ON CONFLICT DO UPDATE rewrite (S10).

    ``order_by`` must rank update rows above existing rows (e.g. a
    ``scraped_at`` audit column, reference database/schema.sql:833-835).
    """
    return merge_latest(existing.unionByName(updates, allowMissingColumns=True), keys, order_by)


def merge_into_parquet(
    batch: DataFrame,
    target: str,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> int:
    """Latest-wins upsert of ``batch`` into the parquet table at ``target``,
    rewriting only the target files that hold a key of the batch.

    A broadcast join of the target's key columns (plus
    ``_metadata.file_path``) against the batch's distinct keys counts,
    per file, its rows and the batch keys it holds; only the key columns
    are read, and the row counts size the rewrite in the same pass. The
    files holding a batch key are touched: their rows and the batch go
    through ``merge_latest``, and the result is written clustered by key
    range (``repartitionByRange`` plus a sort on the keys, at most
    ``ROWS_PER_FILE`` rows a file) into ``STAGING``. Then the staged
    files are renamed into the target and the replaced files deleted. So
    a batch costs the rows of the files it touches, not the table. When
    the batch's columns are not a subset of the target's, or their types
    differ, every file counts as touched, so the table keeps one schema.
    An empty batch leaves an existing target as it is.

    The first write goes to a sibling ``<target>.__staging`` directory,
    renamed into place whole: an empty target directory is never visible.

    Commit and crash window: the staged files are complete before the
    ``_REPLACED`` marker is published (written to a tmp name, then
    renamed), and the marker is the commit point. A crash before it
    leaves the target as it was; the next call deletes ``STAGING``. A
    crash after it, in the renames or the deletes, leaves both the old
    and the new copy of the touched keys visible until the next call on
    the target, which first finishes the renames and deletes from the
    marker. Readers must therefore not run concurrently with the swap,
    as for ``compact_parquet``: on a transactional table format the same
    rewrite commits as one snapshot, and on a store that emulates rename
    by copying (S3A) the window widens to the copy time. A replay of the
    batch alone would not repair the window: when a rewrite splits, a new
    file can hold none of the batch's keys, and a merge of only the files
    holding them would leave its rows doubled. With the marker, replaying
    a batch after a crash is safe, because the merge is latest-wins per
    key.

    Returns the number of target files the batch replaced.
    """
    spark = batch.sparkSession
    keys = list(keys)
    fs = HadoopFS(spark, target)
    staging = join(target, STAGING)
    _finish_commit(fs, target, staging)  # a crash of an earlier call
    # read twice (its keys, then the merge): run the upstream plan once
    batch = stage_checkpoint(batch)
    batch_keys = batch.select(*[F.col(k).alias(f"__k{i}") for i, k in enumerate(keys)]).distinct()
    n_keys = batch_keys.count()
    existing = read_parquet_if_exists(spark, target)
    if existing is None:
        first = target.rstrip("/") + ".__staging"
        fs.delete(first)
        _write_merged(batch, first, keys, order_by, n_keys)
        fs.rename(first, target)
        return 0
    if n_keys == 0:
        return 0
    types = {f.name: f.dataType for f in existing.schema}
    if all(types.get(f.name) == f.dataType for f in batch.schema):
        file_path = F.col("_metadata.file_path")
        same_key = [F.col(k).eqNullSafe(F.col(f"__k{i}")) for i, k in enumerate(keys)]
        per_file = (
            existing.select(*keys, file_path.alias("__file"))
            .join(F.broadcast(batch_keys.withColumn("__hit", F.lit(1))), same_key, "left")
            .groupBy("__file")
            .agg(F.count(F.lit(1)), F.count("__hit"))
            .collect()
        )
        touched = [(f, rows, hits) for f, rows, hits in per_file if hits]
        replaced = [f for f, _, _ in touched]
        # the metadata filter prunes the scan to the replaced files
        old = existing.where(file_path.isin(replaced))
        n_rows = sum(rows - hits for _, rows, hits in touched) + n_keys
    else:
        old, replaced = existing, existing.inputFiles()
        n_rows = old.count() + n_keys
    _write_merged(old.unionByName(batch, allowMissingColumns=True), staging, keys, order_by, n_rows)
    fs.write_text(join(staging, _REPLACED + ".tmp"), "\n".join(replaced))
    fs.rename(join(staging, _REPLACED + ".tmp"), join(staging, _REPLACED))
    _finish_commit(fs, target, staging)
    return len(replaced)


def _write_merged(
    df: DataFrame,
    path: str,
    keys: list[str],
    order_by: Sequence[Column | str],
    rows: int,
) -> None:
    """Write ``merge_latest(df)`` (at most ``rows`` rows) as key-range
    clustered files of about half ``ROWS_PER_FILE`` rows, so a rewritten
    file has room for new keys before it must split. The range exchange
    on the keys also serves the merge's window: one shuffle in all, and
    none for a single file, whose one partition already clusters it."""
    n = max(1, -(-rows // (ROWS_PER_FILE // 2)))
    clustered = df.coalesce(1) if n == 1 else df.repartitionByRange(n, *keys)
    (
        merge_latest(clustered, keys, order_by)
        .sortWithinPartitions(*keys)
        .write.option("maxRecordsPerFile", str(ROWS_PER_FILE))
        .parquet(path)
    )


def _finish_commit(fs: HadoopFS, target: str, staging: str) -> None:
    """Finish a committed staging directory: rename its data files into
    the target, delete the files its ``_REPLACED`` marker names, then
    drop it. Without the marker the staged write never committed and is
    dropped as it is. Every step is idempotent, so a crash here is
    finished by the next call."""
    marker = join(staging, _REPLACED)
    if fs.exists(marker):
        for name in fs.listdir(staging):
            if not name.startswith(("_", ".")):
                fs.rename(join(staging, name), join(target, name))
        for uri in fs.read_text(marker).split("\n"):
            if uri:
                fs.delete_uri(uri)
    fs.delete(staging)


def merge_coalesce(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """Per-column COALESCE merge: latest non-null value wins per column.

    Mirrors the reference's partial-update sinks
    (``COALESCE(%s, venue_id)`` — only overwrite with non-null). One
    shuffle; per column a ``last(col, ignorenulls=True)`` over the
    key-partitioned, time-ordered window (U4 "latest wins" field merge).
    """
    keys = list(keys)
    unioned = existing.unionByName(updates, allowMissingColumns=True)
    asc = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = (
        Window.partitionBy(*keys)
        .orderBy(*asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    value_cols = [c for c in unioned.columns if c not in keys]
    merged = unioned.select(
        *keys,
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
    )
    return merged.dropDuplicates(keys)


def scd2_intervals(
    df: DataFrame,
    key: Sequence[str],
    ts_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Build SCD2 validity intervals from a change stream (reference:
    club_name_history / venue_name_history, database/schema.sql:182-191,
    237-244 — valid_from/valid_to with generated is_current).

    Each change row opens an interval at its timestamp and closes at the
    next change for the same key (NULL = still current). ``tiebreak``
    columns order same-timestamp changes deterministically: earlier ones
    collapse to zero-length intervals [t, t) that no fact can match, so
    the last change at a timestamp wins — the same latest-wins rule as
    ``merge_latest``.
    """
    w = Window.partitionBy(*key).orderBy(F.col(ts_col), *[F.col(c) for c in tiebreak])
    return (
        df.withColumn(valid_from, F.col(ts_col))
        .withColumn(valid_to, F.lead(ts_col).over(w))
        .withColumn(is_current, F.col(valid_to).isNull())
    )


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare: Sequence[str] | None = None,
) -> DataFrame:
    """Change-data-capture diff between two versions of a keyed table.

    Returns one row per key present in either version, tagged
    ``change ∈ {inserted, deleted, updated, unchanged}`` with both sides'
    compared values as structs (``old_row`` / ``new_row``, NULL on the
    missing side). ``compare`` defaults to all non-key columns shared by
    both frames.

    This is the audit/debug companion to ``upsert``: applied after a merge
    it answers "what did this batch actually change" — the reference logs
    this per-row from its ON CONFLICT sinks; here it is one declarative
    full-outer equi-join on the key (single shuffle per side, AQE-skew
    eligible), with the value comparison as a null-safe struct equality —
    no row-by-row Python, no second pass.
    """
    keys = list(keys)
    if compare is None:
        shared = [c for c in old.columns if c in set(new.columns)]
        compare = [c for c in shared if c not in keys]
    o = old.select(*keys, F.struct(*[F.col(c) for c in compare]).alias("old_row"))
    n = new.select(*keys, F.struct(*[F.col(c) for c in compare]).alias("new_row"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("old_row").isNull(), F.lit("inserted"))
        .when(F.col("new_row").isNull(), F.lit("deleted"))
        .when(F.col("old_row").eqNullSafe(F.col("new_row")), F.lit("unchanged"))
        .otherwise(F.lit("updated"))
    )
    return j.select(*keys, change.alias("change"), "old_row", "new_row")
