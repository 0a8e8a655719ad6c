"""Deletion + retention for the persisted dedup/ANN indexes.

The three index families (MinHash bands+shingles, IVF inverted lists,
perceptual-hash bands — ``operators/dedup.py`` / ``similarity.py`` /
``multimodal.py``) persist per-document rows in parquet. When source
rows are erased (GDPR, takedown, retention windows — the batch twin is
``queries/events.py::orc_gdpr_erase``), their index rows must stop
producing matches too, or the index keeps "remembering" deleted data.

Two-phase shape, the same trade every merge-on-read table format makes
(Delta deletion vectors, Iceberg positional deletes):

- :func:`forget_ids` — O(deleted) APPEND of ids into a ``tombstones/``
  table; every probe anti-joins it at read time. No index rewrite on
  the delete path, so deletes are cheap and immediate at any scale.
- :func:`compact_index` — periodic copy-on-write rewrite that drops
  tombstoned rows physically and retires the applied tombstones,
  bounding probe-side anti-join cost between compactions.
- :func:`readmit_ids` — remove ids from the tombstone set again. The
  per-family ``append_to_*`` functions call this for their batch ids,
  so re-ingesting a previously forgotten id (GDPR re-consent, restored
  content) makes it live again: a forget covers rows ingested BEFORE
  it, exactly like a rebuild-without-them would.

Ordering/concurrency contract: index mutations (append, forget,
readmit, compact) are SINGLE-WRITER — the same way the reference sink
funnels all commits through one checkpoint thread
(``RowOrcBucketingSink.java:153-213``) — and since round 8 the
contract is ENFORCED: every mutation entry point takes the
``index_path`` lease (``flink_orc_sink_spark/lease.py``; per-process
owners, so even two invocations of the same op conflict loudly) and a
concurrent run raises ``LeaseHeldError`` instead of interleaving.
PROBES stay lock-free: they may run concurrently with forgets
(append-only) but not with a compaction swap, exactly as with any
parquet-directory overwrite. Within the single-writer contract every
step is still CRASH-SAFE (a killed job, not a concurrent one):

- compaction snapshots the tombstone data files up front, applies
  exactly that snapshot to every table, and deletes only those files
  at the end — a forget that lands mid-compaction survives into the
  next cycle instead of being silently dropped;
- each table is fully rewritten to ``<subdir>__compacting`` first and
  only then swapped in (write-pending-then-rename, the reference
  sink's protocol). A crash leaves either the old table intact or a
  complete new copy recoverable by :func:`recover_index`; re-running
  compaction heals and resumes;
- a compaction that would leave a table EMPTY (every row tombstoned)
  aborts the swap and keeps serving merge-on-read — a zero-row
  partitioned parquet write has no readable footer, so swapping it in
  would brick the index. The tombstones simply stay until new rows
  are appended;
- the tombstone rewrite in :func:`readmit_ids` uses the same
  pending-then-rename swap, healed on the next read.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_orc_sink_spark.session import (
    fs_exists as _exists,
    hadoop_fs as _fs,
    hadoop_path,
)

_TOMBSTONES = "tombstones"
_PENDING_SUFFIX = "__compacting"
_REWRITE_SUFFIX = "__rewriting"


@dataclass(frozen=True)
class IndexTable:
    """One per-id parquet table of a persisted index.

    ``partition_cols`` are rewritten with ``partitionBy`` (directory
    layout preserved); ``range_cols`` reproduce the build path's
    ``repartitionByRange`` + ``sortWithinPartitions`` so a compacted
    index keeps the same pruning/clustering properties as a fresh
    :func:`build_*` — compaction must never degrade the layout the
    probe cost model depends on.
    """

    subdir: str
    id_col: str
    partition_cols: tuple = ()
    range_cols: tuple = ()
    repartition_cols: tuple = ()


# The concrete layouts, kept next to the machinery so the per-family
# forget/compact wrappers share one source of truth.
MINHASH_TABLES = (
    IndexTable("bands", "doc", ("band",), ("band", "bkey")),
    IndexTable("shingles", "doc"),
)
IVF_TABLES = (IndexTable("data", "cid", ("cell",), (), ("cell",)),)
AHASH_TABLES = (IndexTable("bands", "mid", ("band",), ("band", "key")),)


# _fs/_exists are the shared session-level Hadoop-FS helpers (one
# definition for sinks + retention — round-6 verdict #5), imported
# above under their historical local names.


def _data_files(spark: SparkSession, path: str) -> list[str]:
    """Recursive list of the parquet DATA files under ``path`` (part
    files only — markers like _SUCCESS don't count). Empty when the
    directory is missing or holds no data."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next().getPath()
        if f.getName().startswith("part-"):
            out.append(f.toString())
    return out


def _anti(df: DataFrame, ts: DataFrame, id_col: str) -> DataFrame:
    """THE tombstone anti-join — one definition shared by merge-on-read
    probes and compaction so the two paths can never diverge. The
    tombstone build side is BROADCAST explicitly: it is bounded by
    deletes-since-last-compaction (the compaction cadence is exactly
    the knob that keeps it broadcastable), and without the hint the
    aggregate-free size estimate can fall back to a sort-merge join
    that shuffles the whole index."""
    return df.join(
        # bounded-broadcast: tombstones: O(deletes since last compaction), bounded by the compaction cadence (hint necessity explained above)
        F.broadcast(ts.select(F.col("id").alias(id_col))),
        id_col,
        "left_anti",
    )


def forget_ids(
    ids: DataFrame,
    index_path: str,
    lease: bool = True,
    lease_wait_sec: float = 0.0,
) -> None:
    """Tombstone ids (single-column DataFrame, any name/integer type)
    so every subsequent probe of the index excludes them. O(deleted)
    work: one distinct + append — nothing index-sized runs.

    Takes the ``index_path`` single-writer lease (round 8): although
    the append itself is cheap, a forget racing :func:`readmit_ids`'s
    tombstone-table swap would land its file between the swap's read
    and its recursive delete and be DESTROYED unapplied — the
    forgotten id would keep matching forever, silently. ``lease=False``
    only from a caller already holding the index lease."""
    if lease:
        from flink_orc_sink_spark.lease import process_owner, state_lease

        with state_lease(
            ids.sparkSession,
            index_path,
            process_owner("maintenance:forget"),
            wait_sec=lease_wait_sec,
        ):
            return forget_ids(ids, index_path, lease=False)
    (id_col,) = ids.columns
    (
        ids.select(F.col(id_col).cast("long").alias("id"))
        .distinct()
        .write.mode("append")
        .parquet(f"{index_path}/{_TOMBSTONES}")
    )


def _recover_tombstones(spark: SparkSession, index_path: str) -> None:
    """Heal a crashed :func:`readmit_ids` swap: a complete rewrite
    pending with no live table is renamed into place. No-op otherwise."""
    live = f"{index_path}/{_TOMBSTONES}"
    pending = live + _REWRITE_SUFFIX
    if _exists(spark, pending) and not _exists(spark, live):
        fs, live_p = _fs(spark, live)
        _, pend_p = _fs(spark, pending)
        if not fs.rename(pend_p, live_p):
            raise IOError(f"tombstone recovery rename failed: {pending}")


def read_tombstones(spark: SparkSession, index_path: str) -> DataFrame | None:
    """The tombstone set, or None when nothing is currently forgotten
    (the common case — probes skip the anti-join entirely). May hold
    duplicate ids across forget batches — every consumer (anti-joins,
    the readmit rewrite) is duplicate-insensitive, and skipping the
    distinct keeps the scan's size stats visible so the probe-side
    anti-join stays a broadcast, not an index-wide shuffle."""
    _recover_tombstones(spark, index_path)
    files = _data_files(spark, f"{index_path}/{_TOMBSTONES}")
    if not files:
        return None
    return spark.read.parquet(*files).select("id")


def subtract_tombstones(
    df: DataFrame, id_col: str, spark: SparkSession, index_path: str
) -> DataFrame:
    """Merge-on-read: drop tombstoned rows from an index scan."""
    ts = read_tombstones(spark, index_path)
    if ts is None:
        return df
    return _anti(df, ts, id_col)


def readmit_ids(
    ids: DataFrame,
    index_path: str,
    lease: bool = True,
    lease_wait_sec: float = 0.0,
) -> None:
    """Remove ids from the tombstone set — they become matchable again
    (to the extent their rows still exist or are re-appended). Called
    by every ``append_to_*`` for its batch ids (which already hold the
    index lease and pass ``lease=False``), so re-ingesting a forgotten
    id readmits it; also public for explicit un-forgets (which take
    the lease themselves — the rewrite swap must never race a forget's
    append, see :func:`forget_ids`). O(tombstones) work on a
    deletes-since-compaction-sized table; no-op when nothing is
    forgotten."""
    if lease:
        from flink_orc_sink_spark.lease import process_owner, state_lease

        with state_lease(
            ids.sparkSession,
            index_path,
            process_owner("maintenance:readmit"),
            wait_sec=lease_wait_sec,
        ):
            return readmit_ids(ids, index_path, lease=False)
    spark = ids.sparkSession
    ts = read_tombstones(spark, index_path)
    if ts is None:
        return
    (id_col,) = ids.columns
    rid = (
        ids.select(F.col(id_col).cast("long").alias("id")).distinct()
    )
    if ts.join(rid, "id", "left_semi").isEmpty():
        # the batch readmits nothing — skip the rewrite (the common
        # case: ordinary appends while unrelated ids are tombstoned)
        return
    live = f"{index_path}/{_TOMBSTONES}"
    pending = live + _REWRITE_SUFFIX
    remaining = ts.join(rid, "id", "left_anti")
    fs, live_p = _fs(spark, live)
    if remaining.isEmpty():
        # nothing remains forgotten: drop the table entirely rather
        # than writing a zero-row copy (probes treat absent as "no
        # tombstones" and skip the anti-join)
        fs.delete(live_p, True)
        return
    remaining.write.mode("overwrite").parquet(pending)
    _, pend_p = _fs(spark, pending)
    fs.delete(live_p, True)
    if not fs.rename(pend_p, live_p):
        raise IOError(f"tombstone rewrite swap failed: {pending}")


def recover_index(
    spark: SparkSession, index_path: str, tables: tuple[IndexTable, ...]
) -> None:
    """Finish an interrupted compaction swap: a crash between delete
    and rename leaves a complete ``__compacting`` copy and no live
    table — rename it into place. Safe to call any time (no-op unless
    exactly that state is found); :func:`compact_index` calls it
    first, so simply re-running compaction heals a crashed one."""
    for t in tables:
        live = f"{index_path}/{t.subdir}"
        pending = live + _PENDING_SUFFIX
        if _exists(spark, pending) and not _exists(spark, live):
            fs, live_p = _fs(spark, live)
            _, pend_p = _fs(spark, pending)
            if not fs.rename(pend_p, live_p):
                raise IOError(f"recovery rename failed: {pending}")


def compact_index(
    spark: SparkSession,
    index_path: str,
    tables: tuple[IndexTable, ...],
    lease: bool = True,
    lease_wait_sec: float = 0.0,
) -> None:
    """Copy-on-write: physically drop tombstoned rows from every table
    of the index, preserving each table's partition layout and range
    clustering, then retire exactly the tombstone files that were
    applied. See the module docstring for the crash-safety protocol
    and the empty-table abort.

    The single-writer contract is ENFORCED (round 8): the run takes
    the ``index_path`` lease (``lease.py``) and raises
    ``LeaseHeldError`` if an ingest batch (``append_to_*``) or another
    maintenance op holds it — a compaction swap interleaving with an
    append was the one silent-corruption class left. ``lease=False``
    only from a caller that already holds the index lease."""
    if lease:
        from flink_orc_sink_spark.lease import process_owner, state_lease

        with state_lease(
            spark,
            index_path,
            process_owner("maintenance:compact"),
            wait_sec=lease_wait_sec,
        ):
            return compact_index(spark, index_path, tables, lease=False)
    recover_index(spark, index_path, tables)
    _recover_tombstones(spark, index_path)
    # snapshot: the tombstone files applied to EVERY table below, and
    # the only ones deleted at the end — a forget_ids landing while
    # compaction runs stays pending for the next cycle instead of
    # being applied to some tables and then dropped.
    snapshot = _data_files(spark, f"{index_path}/{_TOMBSTONES}")
    if not snapshot:
        return
    ts = spark.read.parquet(*snapshot).select("id")
    pending: list[tuple[str, str]] = []
    for t in tables:
        live = f"{index_path}/{t.subdir}"
        out = live + _PENDING_SUFFIX
        df = _anti(spark.read.parquet(live), ts, t.id_col)
        if t.range_cols:
            df = df.repartitionByRange(*t.range_cols).sortWithinPartitions(
                *t.range_cols
            )
        elif t.repartition_cols:
            df = df.repartition(*t.repartition_cols)
        w = df.write.mode("overwrite")
        if t.partition_cols:
            w = w.partitionBy(*t.partition_cols)
        w.parquet(out)
        if not _data_files(spark, out):
            # every row of this table is tombstoned: swapping in a
            # zero-row partitioned write would leave no readable
            # parquet footer and brick the index. Abort the whole
            # swap and keep serving merge-on-read (probes stay
            # correct; tombstones stay until rows are appended).
            for _, p in pending + [(live, out)]:
                fs, pp = _fs(spark, p)
                fs.delete(pp, True)
            return
        pending.append((live, out))
    # every new copy is complete on disk — now swap. A crash mid-loop
    # leaves each table either old (recoverable: pending copy still
    # present, rerun compacts again) or new (recover_index finishes
    # the rename); probes see a consistent table either way.
    for live, out in pending:
        fs, live_p = _fs(spark, live)
        _, out_p = _fs(spark, out)
        fs.delete(live_p, True)
        if not fs.rename(out_p, live_p):
            raise IOError(f"compaction swap failed: {out} -> {live}")
    fs, _ = _fs(spark, index_path)
    for f in snapshot:
        fs.delete(hadoop_path(spark, f), False)
    if not _data_files(spark, f"{index_path}/{_TOMBSTONES}"):
        fs.delete(hadoop_path(spark, f"{index_path}/{_TOMBSTONES}"), True)
