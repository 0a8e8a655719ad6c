"""Exactly-once streaming ORC sink + watermark observability.

The reference's core capability (``RowOrcBucketingSink.java``) is a
hand-rolled three-state file lifecycle — in-process → in-pending →
committed, renamed at checkpoint boundaries (``README.md:7-22``,
``snapshotState`` at ``RowOrcBucketingSink.java:153-170``,
``notifyCheckpointComplete`` at ``:172-177``). Spark's Structured
Streaming file sink provides the same contract natively and strictly
stronger:

- **Epoch = micro-batch**: each trigger is one transactional unit,
  like the reference's checkpoint interval (``OrcSinkTest.java:20``).
- **Commit = manifest, not rename**: completed files are recorded in
  ``_spark_metadata``; readers trust only the manifest, so partially
  written or orphaned files are invisible without any rename race —
  the improvement over the reference's rename protocol, and it also
  survives the cancel-with-savepoint hole ``README.md:4`` concedes.
- **Recovery = source replay + idempotent batch ids** from
  ``checkpointLocation`` — the reference instead rebuilds empty state
  and leans on Kafka offset rewind (``README.md:19-22``).

Watermarks: the reference tracks ``context.currentWatermark()`` per
bucket and publishes a gauge shifted −8h for UTC+8 display
(``RowOrcBucketingSink.java:86,114,196-198``). Spark equivalents: the
``withWatermark`` operator on the stream plus
``StreamingQueryProgress["eventTime"]["watermark"]``; the
:class:`WatermarkTracker` listener below reports UTC, un-shifted
(SURVEY.md §2.3 T4 "report UTC").

Checkpoint manager: every sink here starts through
``session.start_stream``, which picks the manager of the query's
offset, commit and ``_spark_metadata`` logs (and its state-store
files) by the checkpoint's scheme:

- ``file:`` gets ``FileSystemBasedCheckpointFileManager``. Spark's
  default goes through Hadoop's ``FileContext``, which without
  libhadoop (none ships with PySpark from pip) spawns subprocesses
  there. Its rename on ``file:`` is a check, a delete and a
  rename anyway; ``FileSystem.rename`` is one ``rename(2)``, so no
  atomicity is given up. The files on disk are the same.
- any other scheme keeps Spark's default: ``hdfs://`` relies on the
  namenode's atomic rename, and object stores need their own manager.
- a manager the caller set on the session is kept.

In-JVM cost per call, Hadoop 3.4.2 on a 4-core host:

=================  ===========  ==========
call               FileContext  FileSystem
=================  ===========  ==========
rename             21.8 ms      0.34 ms
create + close     8.4 ms       7.4 ms
=================  ===========  ==========

So the offset write-ahead commit and the commit-log entry cost about
24 ms each per trigger on the default, against about 6 ms here. The
file source's own log (``sources/0``) is built on the stream thread,
from the reader's session, once ``start()`` has returned; it takes
the manager only when it is built before the setting is unset, so it
usually keeps Spark's default.
"""

from __future__ import annotations

import os
import threading

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

# State probes route through the shared Hadoop-FS helpers in
# ``session.py`` (one definition for sinks + index retention): replay
# markers and state-existence checks must resolve against the SAME
# filesystem Spark writes to — driver-local ``os.path`` probes would
# silently answer False for an ``hdfs://``/``s3a://`` state_path (the
# 100 TB shape) and recompute deltas against a phantom 'absent' state.
from flink_orc_sink_spark.lease import process_owner, state_lease
from flink_orc_sink_spark.session import (
    fs_dir_size as _hfs_dir_size,
    fs_exists as _hfs_exists,
    fs_list_names as _hfs_list_names,
    fs_mkdirs as _hfs_mkdirs,
    fs_rmtree as _hfs_rmtree,
    jvm_class,
    local_df,
    orc_data_files_exist as _orc_files_exist,
    release_local_checkpoint,
    start_stream,
)

# How a set of partitions is replaced is decided in one place, the
# batch sink module; these are its helpers under this module's names.
from flink_orc_sink_spark.sources.orc_sink import (
    overwrite_buckets as _overwrite_buckets,
    overwrite_partitions as _dynamic_overwrite,
    write_batch as _write_batch,
)

# The state-table core calls these helpers, and state_lease,
# _overwrite_buckets, _latest_per_key, FOLD_MIN_BYTES and the public
# fold/cleanup functions, through this module's globals at call time —
# never through a reference bound at import or construction.
# ``orcbench/trace.py`` rebinds them on this module to time and count
# them, and the fold crash-prefix tests rebind them to inject a crash
# at a chosen write; a captured reference would bypass both. The core
# no longer calls ``_orc_files_exist`` (it probes with ``_hfs_exists``,
# :func:`_read_orc`); the name stays bound here for those rebinders.

# LSM fold trigger for the retract sinks' delta logs (round 9): the
# log is folded into the base once it exceeds max(FOLD_MIN_BYTES,
# fold_ratio x base bytes). The byte floor keeps short test/demo
# streams append-only (no fold ever fires), while a bootstrap load or
# sustained churn folds on the ratio — amortized fold cost is
# O(batch / fold_ratio) rows per batch, state-size-independent.
FOLD_MIN_BYTES = 64 * 1024 * 1024

# ORC codec of every state-table write (base, log, deltas, history).
COMPRESSION = "zstd"


def stream_write_orc(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
    trigger: dict | None = None,
    compression: str = "zstd",
    query_name: str | None = None,
) -> StreamingQuery:
    """Start the exactly-once streaming ORC sink.

    Equivalent of constructing + ``addSink``-ing the reference's
    ``RowOrcBucketingSink`` (``OrcSinkTest.java:29,37``):

    - ``path`` ↔ the sink base path (``RowOrcBucketingSink.java:76``)
    - ``partition_cols`` ↔ the ``Bucketer`` (``:41,111``) — pass
      computed columns (e.g. a ``to_date(ts)`` day column) for the
      date-bucketed Hive layout the reference demo targets.
    - ``checkpoint`` ↔ ``env.enableCheckpointing`` + state backend
      (``OrcSinkTest.java:20``); commit cadence = trigger interval.
    - ``trigger`` e.g. ``{"processingTime": "30 seconds"}`` for the
      demo's 30 s epoch, or ``{"availableNow": True}`` for drain-and-
      stop (deterministic tests, backfills).

    At scale: one writer task per partition of the final stage; use
    ``df.repartition(cols)`` upstream to control file count per epoch
    (few big ORC files beat many small ones at 100 TB).
    """
    writer = (
        df.writeStream.format("orc")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .option("compression", compression)
        .outputMode("append")
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if query_name:
        writer = writer.queryName(query_name)
    if trigger:
        writer = writer.trigger(**trigger)
    return start_stream(writer, df.sparkSession, checkpoint)


def _start_foreach_batch(
    df: DataFrame, fn, checkpoint: str, trigger: dict | None = None
) -> StreamingQuery:
    """Start ``df`` into the ``foreachBatch`` body ``fn``, checkpointed
    at ``checkpoint``, with ``trigger`` if given."""
    writer = df.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return start_stream(writer, df.sparkSession, checkpoint)


def stream_write_orc_foreachbatch(
    df: DataFrame,
    path: str,
    checkpoint: str,
    trigger: dict | None = None,
    compression: str = "zstd",
) -> StreamingQuery:
    """The CUSTOM-SINK escape hatch: ``foreachBatch`` with
    batch-id-keyed idempotent writes — the pattern every warehouse
    sink without a native streaming writer uses (JDBC upserts, Delta
    MERGE, multi-table fan-out).

    Exactly-once here comes from idempotence, not a manifest: each
    micro-batch lands in its own ``batch_id=<id>`` partition via
    DYNAMIC partition overwrite, so a crash-replayed batch rewrites
    the same partition instead of duplicating rows (the checkpoint
    guarantees replay delivers the same batch id with the same data).
    This is the second exactly-once mechanism next to the manifest
    file sink (``stream_write_orc``) — the reference's rename protocol
    plays the same role for its ``part-{subtask}-{seq}`` files.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(batch_df, path, batch_id, compression=compression)

    return _start_foreach_batch(df, write_batch, checkpoint, trigger)


def stream_fanout_orc(
    df: DataFrame,
    outputs: dict,
    commit_path: str,
    checkpoint: str,
    trigger: dict | None = None,
    compression: str = "zstd",
) -> StreamingQuery:
    """ATOMIC MULTI-TABLE fan-out: one stream feeding several ORC
    tables (raw + per-source stats, accepted + audit, …) with a
    SINGLE commit point per micro-batch — the reference's 2-phase
    rename protocol (`RowOrcBucketingSink.java:153-213` commits all
    of a checkpoint's buckets together) generalized to N tables.

    ``outputs`` maps table name → ``(path, transform)``; each
    micro-batch writes ``transform(batch)`` (identity when ``None``)
    into every table's ``batch_id=<id>`` partition via dynamic
    overwrite, THEN appends one marker row for the batch under
    ``commit_path`` — strictly after every table landed.
    ``read_committed_fanout`` filters any table to marked batches, so
    a crash between table writes leaves the half-written batch
    invisible in ALL tables (no cross-table torn snapshot — the
    failure mode per-table idempotence alone cannot exclude), and the
    checkpoint replay rewrites the same partitions (transforms must
    be deterministic) and only then re-marks. A replay that crashed
    after the tables but before/after the marker can at worst
    duplicate MARKER ROWS, which read-time ``distinct`` absorbs —
    result rows are never duplicated.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        staged = batch_df.localCheckpoint(eager=True)
        try:
            for _name, (path, transform) in outputs.items():
                out = transform(staged) if transform is not None else staged
                _write_batch(out, path, batch_id, compression=compression)
            # the commit point: one tiny append AFTER all tables —
            # the only write whose visibility readers trust
            (
                local_df(
                    staged.sparkSession, [(batch_id,)], "batch_id long"
                )
                .coalesce(1)
                .write.mode("append")
                .parquet(commit_path)
            )
        finally:
            release_local_checkpoint(staged)

    return _start_foreach_batch(df, write_batch, checkpoint, trigger)


def read_committed_fanout(
    spark: SparkSession, table_path: str, commit_path: str
) -> DataFrame:
    """Read a fan-out table at the transaction boundary: only batches
    whose commit marker exists — every table filtered this way shows
    the SAME set of batches (all-or-nothing across the fan-out). The
    marker set is tiny (one row per micro-batch); broadcast semi
    join, so the filter costs nothing against the table scan."""
    committed = spark.read.parquet(commit_path).select("batch_id").distinct()
    return spark.read.orc(table_path).join(
        # bounded-broadcast: manifest semi-join: one long per committed micro-batch — O(stream lifetime in triggers), MBs/year
        F.broadcast(committed), "batch_id", "left_semi"
    )


class _DeltaLogTable:
    """One keyed ORC state table kept as an LSM pair — the single
    state core behind the CDC, SCD2, retract-agg and retract-join
    sinks. It is the write-ahead log plus idempotent state store of
    *Structured Streaming* (SIGMOD 2018), and the reference's
    in-progress → pending → committed file lifecycle
    (``RowOrcBucketingSink.java:153-213``) with the log as the pending
    stage and the base as the committed one.

    Layout under ``state_path`` (unchanged since round 9; every sink
    also keeps ``layout/<k>=<v>`` markers, and the base partition
    ``kp = pmod(hash(key), nkp)``)::

        sink          base       log           base parts  extra dirs
        CDC           state/     state_log/    kp          —
        SCD2          changes/   changes_log/  kp          history/
        retract agg   state/     state_log/    kp          agg_deltas/ applied/
                                                           replay_horizon/
        retract join  pk_state/  pk_log/       side, kp    jk_state/ view/
                                                           deltas/ applied/
                                                           agg_deltas/
                                                           agg_applied/
                                                           replay_horizon/

    The log is partitioned ``batch_id=N``. Markers are directory
    names, so each is one atomic ``mkdirs``.

    The cycle, per micro-batch (:meth:`start`):

    1. take the ``state_path`` single-writer lease, owner-keyed to the
       checkpoint (a restart reclaims it at once; a maintenance op
       holding it fails the batch loudly instead of interleaving);
    2. record the layout on the query's first batch (a conflicting
       re-record is refused — the layout decides the bucket hash);
    3. retract sinks only: drop rows below the recorded replay horizon
       (NULL-safe: cleanup keeps NULL-order rows, so the guard admits
       them);
    4. hash ``kp``, run the retract sinks' per-batch extras (deltas,
       images) on the checkpointed batch, and append it to the log
       (:meth:`append`: a plain path overwrite of
       ``log/batch_id=N``) — the only per-batch state write, one Spark
       job, O(batch) on any key distribution;
    5. :func:`_should_fold`: fold once the log outgrows
       ``max(FOLD_MIN_BYTES, fold_ratio × base)`` — amortized
       O(batch / fold_ratio) rows per batch; below the byte floor the
       log's size is the only filesystem call;
    6. fold (:meth:`fold`): one scan of the log collects the touched
       buckets and the row count, then union the log with the pruned
       base, resolve, ``localCheckpoint``, overwrite the touched base
       buckets, and ``rmtree`` the log;
    7. retract sinks with ``cleanup_every_n_batches`` + ``horizon_fn``:
       the horizon tombstone cleanup (:meth:`cleanup`) under the same
       lease.

    Reads merge on read: resolve(base ∪ log), a plain base read when
    the log is empty. The resolve is the table's one parameter:
    latest row per key (CDC and retract agg: ``kc`` by ``oc``; join:
    ``(side, pk)`` by ``seq``) or full-row DISTINCT (SCD2: the change
    archive, whose chains ``scd2_history`` rebuilds per bucket). The
    join table adds its image resolve as a fold step that rewrites
    ``jk_state/`` and ``view/`` before the base; the SCD2 table
    rewrites ``history/`` after it. Reads, folds and lookups pay for
    data, not bookkeeping:

    - each directory is probed once, by ``_hfs_exists``, and then
      listed by ``spark.read.orc`` itself (:func:`_read_orc`); a
      directory that exists but holds no ORC data file is caught on
      the failure path (``UNABLE_TO_INFER_SCHEMA``), so no common-path
      probe raises, and a read of a folded table, whose log is gone,
      makes one probe;
    - :meth:`resolve` plans in one partition when its input's
      optimized-plan ``sizeInBytes`` is at most
      ``spark.sql.adaptive.coalescePartitions.minPartitionSize``
      (1 MiB by default), the size below which AQE coalesces the
      resolve's shuffle to one partition anyway: ``coalesce(1)`` ahead
      of the window (or the DISTINCT) drops the map-stage job and its
      shuffle. Above the bound the hash-partitioned plan is unchanged.

    Crash contract: a replayed batch rewrites its own log partition.
    Its extras read the base and ``log[< batch]``, so the retract
    sinks' ``applied/`` marker is load-bearing, not a work-skip: once
    the batch's own fold has run, the base already holds the batch,
    and a replay without the marker would resolve the batch's rows as
    their own pre-images and overwrite its deltas with zeros. The
    log append needs no atomic swap: only the last, uncommitted batch
    is ever replayed, so while its directory is deleted and rewritten
    a reader sees ``log[< N]``, a consistent earlier snapshot, and
    the rewrite drops whatever a crashed attempt left in it. The
    extras keep :func:`_write_batch`'s dynamic swap, as do fan-out,
    quarantine and the ``foreachBatch`` sink: their readers read
    every batch or trust a commit or ``applied/`` marker, not a
    prefix, so a replay's delete-then-write would show them a batch
    that is missing or torn. The
    log is deleted only after everything it says is durably folded,
    and the resolve absorbs base/log duplicates (latest-per-key keeps
    one row, DISTINCT one copy), so after any crash prefix of a fold
    the readers answer exactly and a re-fold converges. Cleanup
    records its horizon before it rewrites anything."""

    def __init__(self, state_path, base, log, parts=("kp",), keys=None,
                 order=None, resolve=None, before_fold=None,
                 after_fold=None, layout=None):
        self.path = state_path
        self.base_dir = os.path.join(state_path, base)
        self.log_dir = os.path.join(state_path, log)
        self.parts = parts
        self._keys, self._order, self._resolve = keys, order, resolve
        self.before_fold, self.after_fold = before_fold, after_fold
        self._layout = layout

    def layout(self, spark: SparkSession) -> dict:
        """The sink's constructor layout, else the recorded markers
        (read once per table object: one ``listStatus``)."""
        if self._layout is None:
            self._layout = _read_layout(spark, self.path)
        return self._layout

    def _marker(self, spark: SparkSession, name: str) -> str:
        lay = self.layout(spark)
        if name not in lay:
            raise ValueError(
                f"no layout/{name}= marker under {self.path}: not a "
                f"state dir written by a stateful sink"
            )
        return lay[name]

    def keys(self, spark: SparkSession) -> list:
        return list(self._keys or [self._marker(spark, "kc")])

    def order(self, spark: SparkSession) -> list:
        return list(self._order or self._marker(spark, "oc").split(","))

    def kp(self, spark: SparkSession):
        """The base bucket of a row: its last key column, hashed."""
        nkp = int(self._marker(spark, "nkp"))
        return F.pmod(F.hash(F.col(self.keys(spark)[-1])), F.lit(nkp))

    def resolve(self, spark: SparkSession, rows: DataFrame) -> DataFrame:
        """The table's resolve of ``rows``, in one partition when they
        fit one AQE partition (class docstring)."""
        if _fits_one_partition(spark, rows):
            rows = rows.coalesce(1)
        if self._resolve is not None:
            return self._resolve(rows)
        order = [F.col(c).desc() for c in self.order(spark)]
        return _latest_per_key(rows, self.keys(spark), order)

    def read_log(self, spark: SparkSession) -> DataFrame | None:
        """The unfolded log without ``batch_id``; None when it holds no
        data."""
        log = _read_orc(spark, self.log_dir)
        return None if log is None else log.drop("batch_id")

    def read(self, spark: SparkSession) -> DataFrame:
        """Merge-on-read snapshot: resolve(base ∪ log)."""
        rows = self.read_log(spark)
        if rows is None:
            return _read_committed(spark, self.base_dir, self.path)
        base = _read_orc(spark, self.base_dir)
        if base is not None:
            rows = rows.unionByName(base)
        return self.resolve(spark, rows)

    def merge_touched(self, spark: SparkSession, log: DataFrame):
        """``(touched buckets, log rows, resolve(log ∪ their base
        rows))`` — the one resolve a fold writes and a merge-on-read
        reader answers from, so a fold never materializes what the
        reader didn't answer. Lazy, but for one scan of the log that
        collects its buckets with their row counts."""
        per_bucket = log.groupBy(*self.parts).count().collect()
        touched = [tuple(r[c] for c in self.parts) for r in per_bucket]
        rows = log
        base = _read_orc(spark, self.base_dir)
        if base is not None:
            rows = rows.unionByName(
                base.filter(_bucket_filter(self.parts, touched))
            )
        n_log = sum(r["count"] for r in per_bucket)
        return touched, n_log, self.resolve(spark, rows)

    def lookup(self, spark: SparkSession, keys: DataFrame,
               upto_batch: int | None = None, buckets=None):
        """Every stored version of the ``keys`` rows: base buckets
        (those of ``buckets``' partition columns, else hashed from
        ``keys``) ∪ log (only ``batch_id < upto_batch`` if given), both
        semi-joined to ``keys`` — a read-only, partition-pruned lookup,
        never a shuffle of state. None when no state exists yet."""
        key_cols = self.keys(spark)
        cand = None
        base = _read_orc(spark, self.base_dir)
        if base is not None:
            if buckets is None:
                buckets = keys.select(
                    *self.parts[:-1], self.kp(spark).alias("kp")
                )
            touched = [
                tuple(r)
                for r in buckets.select(*self.parts).distinct().collect()
            ]
            if touched:
                cand = (
                    base.filter(_bucket_filter(self.parts, touched))
                    .join(keys, key_cols, "left_semi")
                )
        lg = _read_orc(spark, self.log_dir)
        if lg is not None:
            if upto_batch is not None:
                lg = lg.filter(F.col("batch_id") < upto_batch)
            lg = lg.drop("batch_id").join(keys, key_cols, "left_semi")
            cand = lg if cand is None else cand.unionByName(lg)
        return cand

    def fold(self, spark: SparkSession) -> dict:
        """Fold the log into the base (the caller holds the lease):
        the sink's pre-base writes, the touched base buckets, the
        sink's post-base writes, then the log delete — in that order,
        which is the crash contract. A log of empty batches folds to
        nothing; it is kept while the base has no file to carry the
        table's schema."""
        none = {"log_rows_folded": 0, "buckets_rewritten": 0}
        log = self.read_log(spark)
        if log is None:
            return none
        touched, n_log, merged = self.merge_touched(spark, log)
        if not n_log:
            if _read_orc(spark, self.base_dir) is not None:
                _hfs_rmtree(spark, self.log_dir)
            return none
        stats = {}
        if self.before_fold is not None:
            stats = self.before_fold(spark, self, log)
        merged = merged.localCheckpoint(eager=True)
        try:
            _dynamic_overwrite(merged, self.base_dir, *self.parts)
            if self.after_fold is not None:
                self.after_fold(spark, self, merged)
        finally:
            release_local_checkpoint(merged)
        # folded: every log row is now resolved into the base
        _hfs_rmtree(spark, self.log_dir)
        return {
            "log_rows_folded": n_log,
            "buckets_rewritten": len(touched),
            **stats,
        }

    def cleanup(self, spark: SparkSession, horizon: int) -> dict:
        """Drop ``op='D'`` base rows whose first order column is below
        ``horizon`` (the caller holds the lease). The order column
        comes from the layout the sink recorded — the one its ingest
        guard enforces the horizon against."""
        # coerce FIRST so the drop predicate and the recorded marker
        # use the identical value — a fractional horizon would
        # otherwise drop tombstones up to h while the guard admits
        # [int(h), h)
        horizon = int(horizon)
        none = {"tombstones_dropped": 0, "buckets_rewritten": 0}
        # the marker goes first: a crash before the rewrite leaves
        # tombstones in place (harmless, the next cleanup drops them);
        # the reverse order would admit below-horizon replays with the
        # tombstone already gone
        _record_replay_horizon(spark, self.path, horizon)
        # fold first so every expired tombstone sits in the base
        self.fold(spark)
        st = _read_orc(spark, self.base_dir)
        if st is None:
            return none
        expired = (F.col("op") == "D") & (
            F.col(self.order(spark)[0]) < F.lit(horizon)
        )
        # one scan yields both the touched buckets and the drop count
        per_bucket = (
            st.filter(expired).groupBy(*self.parts).count().collect()
        )
        if not per_bucket:
            return none
        touched = [tuple(r[c] for c in self.parts) for r in per_bucket]
        # null-safe negation: ~NULL is NULL and would silently DELETE
        # any row with a NULL op/order value from the rewritten buckets
        keep = (
            st.filter(_bucket_filter(self.parts, touched))
            .filter(~F.coalesce(expired, F.lit(False)))
            .localCheckpoint(eager=True)
        )  # materialize BEFORE overwriting the directory being read
        try:
            _overwrite_buckets(keep, self.base_dir, list(self.parts), touched)
        finally:
            release_local_checkpoint(keep)
        return {
            "tombstones_dropped": sum(r["count"] for r in per_bucket),
            "buckets_rewritten": len(touched),
        }

    def append(self, batch: DataFrame, batch_id: int) -> None:
        """Write ``batch`` as the log's ``batch_id=<batch_id>``
        directory by a plain path overwrite: a replay replaces its own
        batch and no other, without the staging, delete and rename of
        a dynamic partition swap (the crash contract says why the log
        needs none)."""
        (
            batch.write.mode("overwrite")
            .option("compression", COMPRESSION)
            .orc(os.path.join(self.log_dir, f"batch_id={batch_id}"))
        )

    def start(self, changes: DataFrame, checkpoint: str, trigger,
              fold_ratio: float, fold, extras=None, cleanup=None,
              every: int | None = None, horizon_fn=None,
              check=None) -> StreamingQuery:
        """Start the sink's ``foreachBatch`` query: the per-batch half
        of the cycle. ``fold(spark)`` and ``cleanup(spark, horizon)``
        run with the batch's lease held; passing ``cleanup`` also
        turns on the ingest horizon guard. ``extras(spark, ch,
        batch_id)`` sees the batch with ``kp``, checkpointed.
        ``check(spark)`` vets the state dir before the first batch."""
        owner = f"sink:{checkpoint}"
        kp = []  # the bucket column, built with the first batch

        def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
            spark = batch_df.sparkSession
            with state_lease(spark, self.path, owner):
                if not kp:
                    if check is not None:
                        check(spark)
                    _record_layout(spark, self.path, **self._layout)
                    kp.append(self.kp(spark))
                if cleanup is not None:
                    # re-read EVERY batch (one listStatus, no Spark
                    # job): an external cleanup between triggers moves
                    # the horizon, and a cached value would admit
                    # below-horizon replays that resurrect cleaned-up
                    # keys by winning the resolve against a dropped
                    # tombstone
                    horizon = _read_replay_horizon(spark, self.path)
                    if horizon is not None:
                        batch_df = batch_df.filter(F.coalesce(
                            F.col(self.order(spark)[0]) >= F.lit(horizon),
                            F.lit(True),
                        ))
                ch = batch_df.withColumn("kp", kp[0])
                if extras is None:
                    self.append(ch, batch_id)
                else:
                    # read for the buckets, the extras and the log
                    ch = ch.localCheckpoint(eager=True)
                    try:
                        extras(spark, ch, batch_id)
                        self.append(ch, batch_id)
                    finally:
                        # released before the fold, which reads only disk
                        release_local_checkpoint(ch)
                if _should_fold(
                    spark, self.base_dir, self.log_dir, fold_ratio
                ):
                    fold(spark)
                if (
                    every
                    and horizon_fn is not None
                    and (batch_id + 1) % every == 0
                ):
                    cleanup(spark, int(horizon_fn()))

        return _start_foreach_batch(changes, apply_batch, checkpoint, trigger)


def _latest_table(state_path: str, layout: dict | None = None):
    """The CDC and retract-agg table: latest row per ``kc`` by ``oc``."""
    return _DeltaLogTable(state_path, "state", "state_log", layout=layout)


def _scd2_table(state_path: str, layout: dict | None = None):
    """The SCD2 change archive: full-row DISTINCT, chains at fold."""
    return _DeltaLogTable(
        state_path, "changes", "changes_log", layout=layout,
        resolve=lambda rows: rows.distinct(), after_fold=_scd2_fold_history,
    )


def _join_table(state_path: str, layout: dict | None = None):
    """The retract-join pk table: latest row per ``(side, pk)`` by
    ``seq``; jk layer and view rewritten at fold, before the base."""
    return _DeltaLogTable(
        state_path, "pk_state", "pk_log", ("side", "kp"),
        keys=("side", "pk"), order=("seq",), before_fold=_rj_fold_view,
        layout=layout,
    )


def _refuse_pre_r9_cdc(spark: SparkSession, state_path: str) -> None:
    """pre-round-9 CDC state kept its kp=* dirs directly under
    state_path; this sink reads/writes state/ + state_log/ only.
    Silently ignoring the old rows would be data loss (keys not
    re-delivered vanish, re-delivered keys lose latest-wins against
    their pre-upgrade seq), so refuse loudly with the migration step
    instead."""
    if any(n.startswith("kp=") for n in _hfs_list_names(spark, state_path)):
        raise ValueError(
            f"pre-round-9 CDC state layout at {state_path}: kp=* "
            f"partitions sit at the state root, which this version no "
            f"longer reads. Migrate by moving them under "
            f"{os.path.join(state_path, 'state')}/ (one rename) before "
            f"restarting the sink"
        )


def stream_cdc_apply_orc(
    changes: DataFrame,
    state_path: str,
    checkpoint: str,
    key_col: str,
    order_cols: list[str],
    n_key_partitions: int = 16,
    trigger: dict | None = None,
    fold_ratio: float = 0.25,
) -> StreamingQuery:
    """Streaming CDC MERGE into a keyed ORC state table — the
    ``foreachBatch`` upsert every warehouse runs on a change feed when
    the sink has no native MERGE.

    The table is a :class:`_DeltaLogTable` (``state/`` +
    ``state_log/``, resolve = latest ``order_cols`` row per
    ``key_col``), which states the per-batch cycle, the fold and the
    crash contract. Per batch the sink does ONE O(batch) log append —
    no state read, no merge shuffle, no bucket rewrite. Read the
    current table with :func:`read_cdc_table`; fold explicitly with
    :func:`fold_retract_state`.

    State size is O(live keys + unfolded log), never O(stream
    length). Deletes stay as tombstone rows (``op='D'``) so
    re-inserts win later batches; readers filter them. A state dir in
    the pre-round-9 layout (``kp=*`` at the root) is refused."""
    state = _latest_table(state_path, dict(
        kc=key_col, oc=",".join(order_cols), nkp=n_key_partitions
    ))
    return state.start(
        changes, checkpoint, trigger, fold_ratio,
        fold=lambda spark: fold_retract_state(spark, state_path, lease=False),
        check=lambda spark: _refuse_pre_r9_cdc(spark, state_path),
    )


def _read_orc(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.orc(path)``, or None when ``path`` is missing or
    holds no ORC data file (an all-empty partitioned write, a crashed
    write's ``_temporary``). One ``_hfs_exists`` probe, then Spark's
    own listing; the no-data case rides the failure path
    (``UNABLE_TO_INFER_SCHEMA``), so a read of data makes no second
    walk of the directory."""
    if not _hfs_exists(spark, path):
        return None
    try:
        return spark.read.orc(path)
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        return None


def _fits_one_partition(spark: SparkSession, df: DataFrame) -> bool:
    """True when ``df``'s optimized-plan ``sizeInBytes`` is at most
    ``spark.sql.adaptive.coalescePartitions.minPartitionSize``: AQE
    never splits a shuffle that small across partitions, so a plan
    over it may as well run in one."""
    bound = jvm_class(
        spark, "org.apache.spark.network.util.JavaUtils"
    ).byteStringAsBytes(spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    ))
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(size) <= bound


def _read_committed(spark: SparkSession, path: str, state_path: str) -> DataFrame:
    """``spark.read.orc(path)`` of a state dir whose log holds no data:
    a missing ``path`` then means no batch has committed yet. The
    check rides the failure path, so a read makes no extra call."""
    try:
        return spark.read.orc(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        raise FileNotFoundError(
            f"{state_path}: no batch has committed yet (no base or log data)"
        ) from e


def read_cdc_table(spark: SparkSession, state_path: str) -> DataFrame:
    """Current latest-per-key table of a :func:`stream_cdc_apply_orc`
    state dir — merge-on-read over base ⊕ unfolded log, tombstones
    (``op='D'``) included; filter them for the live view."""
    return read_retract_state(spark, state_path)


def stream_scd2_apply_orc(
    changes: DataFrame,
    state_path: str,
    checkpoint: str,
    key_col: str,
    attr_col: str,
    ts_col: str,
    order_cols: list[str],
    n_key_partitions: int = 16,
    trigger: dict | None = None,
    fold_ratio: float = 0.25,
) -> StreamingQuery:
    """Streaming SCD TYPE-2 dimension maintenance — the history-table
    twin of :func:`stream_cdc_apply_orc` (which keeps latest-per-key;
    this keeps every attribute interval with validity bounds).

    The state is a :class:`_DeltaLogTable` over the raw change rows:
    ``changes/`` (the full-row-DISTINCT base — the warehouse's CDC
    source-of-truth archive; row-identity dedup makes a replayed batch
    an exact no-op) + ``changes_log/``. Each fold (:func:`fold_scd2_state`)
    also rebuilds the SCD2 chains (collapse consecutive repeats →
    version / effective_from / effective_to / is_current, via
    ``operators/relational.py::scd2_history``) of the touched buckets
    into ``history/``; :func:`read_scd2_history` rebuilds the
    log-touched buckets' chains at read time between folds.

    Keeping raw change rows (not just collapsed intervals) is what
    buys OUT-OF-ORDER exactness: a late row can split or merge
    existing intervals, and the per-bucket chain rebuild from raw
    rows reproduces exactly what a batch SCD2 over the full feed
    would emit — regardless of arrival order (the registered query's
    oracle feeds hash-scattered batches and must hash-match the
    one-shot ``SCD2_SQL``). An interval-only state cannot do this:
    consecutive-repeat rows it discarded may become version starts
    once a late row lands between them."""
    state = _scd2_table(state_path, dict(
        kc=key_col, ac=attr_col, tc=ts_col, oc=",".join(order_cols),
        nkp=n_key_partitions,
    ))
    return state.start(
        changes, checkpoint, trigger, fold_ratio,
        fold=lambda spark: fold_scd2_state(spark, state_path, lease=False),
    )


def _scd2_chains(spark: SparkSession, table, merged: DataFrame):
    """SCD2 chains of the resolved change rows ``merged`` — the same
    rebuild for the fold and the merge-on-read reader."""
    from flink_orc_sink_spark.operators import relational

    lay = table.layout(spark)
    return relational.scd2_history(
        merged, [lay["kc"]], lay["ac"], lay["tc"], lay["oc"].split(",")
    )


def _scd2_fold_history(spark: SparkSession, table, merged: DataFrame):
    """After-base fold step of the SCD2 table: rewrite ``history/``
    for the folded buckets."""
    _dynamic_overwrite(
        _scd2_chains(spark, table, merged),
        os.path.join(table.path, "history"),
        "kp",
    )


def fold_scd2_state(
    spark: SparkSession, state_path: str, lease: bool = True
) -> dict:
    """Fold a :func:`stream_scd2_apply_orc` change log: full-row
    DISTINCT merge of (touched base buckets ∪ log) into ``changes/``,
    rebuild the ``history/`` SCD2 chains for exactly those buckets,
    then delete the log (:meth:`_DeltaLogTable.fold`). Layout
    parameters come from the state dir's markers."""
    if lease:
        with state_lease(
            spark, state_path, process_owner("maintenance:fold-scd2")
        ):
            return fold_scd2_state(spark, state_path, lease=False)
    return _scd2_table(state_path).fold(spark)


def read_scd2_history(spark: SparkSession, state_path: str) -> DataFrame:
    """Current SCD2 history of a :func:`stream_scd2_apply_orc` state
    dir — merge-on-read: the materialized ``history/`` covers every
    bucket as of the last fold; buckets touched by the unfolded
    change log get their chains rebuilt from DISTINCT(base ∪ log) at
    read time."""
    table = _scd2_table(state_path)
    hist_dir = os.path.join(state_path, "history")
    log = table.read_log(spark)
    if log is None:
        return _read_committed(spark, hist_dir, state_path)
    touched, _, merged = table.merge_touched(spark, log)
    fresh = _scd2_chains(spark, table, merged)
    hist = _read_orc(spark, hist_dir)
    if hist is not None:
        return (
            hist.filter(~_bucket_filter(table.parts, touched))
            .unionByName(fresh)
        )
    return fresh


def _record_layout(spark: SparkSession, state_path: str, **kv) -> None:
    """Persist immutable layout parameters of a state dir as marker
    DIRECTORY NAMES (``layout/<k>=<v>``) — the same atomic ``mkdirs``
    encoding as the replay horizon. Each marker is made once: a
    query's first batch lists them and makes only the missing ones;
    maintenance ops (fold, cleanup) and readers read them back so they
    never need the sink's constructor arguments.

    REFUSES a conflicting re-record: the layout params decide how the
    base buckets were HASHED, so a sink restarted with different
    constructor args (e.g. ``n_key_partitions`` 16 → 32) against
    existing state would prune image lookups with the wrong modulus —
    phantom absent pre-images, wrong deltas, no error anywhere. A
    second marker for the same key with a different value must fail
    loudly instead of letting ``_read_layout`` keep an arbitrary one."""
    existing = _read_layout(spark, state_path)
    for k, v in kv.items():
        if k in existing and existing[k] != str(v):
            raise ValueError(
                f"retract state layout conflict at {state_path}: "
                f"{k}={existing[k]} recorded, {k}={v} requested — the "
                f"state was built with different layout parameters; "
                f"restart the sink with the recorded values or fold "
                f"into a fresh state dir"
            )
        if k not in existing:
            _hfs_mkdirs(
                spark, os.path.join(state_path, "layout", f"{k}={v}")
            )


def _read_layout(spark: SparkSession, state_path: str) -> dict:
    names = _hfs_list_names(spark, os.path.join(state_path, "layout"))
    return dict(n.split("=", 1) for n in names if "=" in n)


def _latest_per_key(df: DataFrame, key_cols: list[str], order_desc):
    """Latest row per key under a strict total order — THE resolve
    primitive of the delta-log state: identical duplicate rows (a
    crash window between a fold's base write and its log delete) are
    absorbed because row_number keeps exactly one of them."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols).orderBy(*order_desc)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _should_fold(
    spark: SparkSession, base_dir: str, log_dir: str, fold_ratio: float
) -> bool:
    """LSM size-ratio fold trigger: fold when the delta log outgrows
    ``max(FOLD_MIN_BYTES, fold_ratio x base bytes)``. One
    getContentSummary call for the log, and a second for the base only
    once the log has passed the byte floor — no data files are read to
    decide."""
    log_bytes = _hfs_dir_size(spark, log_dir)
    if log_bytes == 0 or log_bytes < FOLD_MIN_BYTES:
        return False
    base_bytes = _hfs_dir_size(spark, base_dir)
    return log_bytes >= max(FOLD_MIN_BYTES, fold_ratio * base_bytes)


def fold_retract_state(
    spark: SparkSession, state_path: str, lease: bool = True
) -> dict:
    """Fold the delta log of a :func:`stream_cdc_apply_orc` or
    :func:`stream_retract_agg_orc` state dir into its base:
    latest-per-key over (changed base buckets ∪ log), dynamic
    overwrite of exactly the changed ``kp`` partitions, then delete
    the log (:meth:`_DeltaLogTable.fold`). Key and order columns come
    from the layout markers the sink recorded, so external maintenance
    needs only the state path; a log without them raises. Returns
    ``{"log_rows_folded": n, "buckets_rewritten": k}``."""
    if lease:
        with state_lease(
            spark, state_path, process_owner("maintenance:fold-retract")
        ):
            return fold_retract_state(spark, state_path, lease=False)
    return _latest_table(state_path).fold(spark)


def read_retract_state(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """Resolved latest-per-key snapshot of a
    :func:`stream_retract_agg_orc` state dir — base ⊕ unfolded delta
    log, retained ``op='D'`` tombstones included (what a fold would
    materialize). Key/order columns come from the layout markers."""
    return _latest_table(state_path).read(spark)


def read_retract_pk_state(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """Resolved latest-per-(side,pk) snapshot of a
    :func:`stream_retract_join_orc` pk layer — base ⊕ unfolded delta
    log, tombstones included."""
    return _join_table(state_path).read(spark)


def _contrib(df: DataFrame, group_col: str, val_col: str, sign: int):
    """Signed per-group contribution of resolved key rows: live
    (``op='U'``) rows add ``(val, 1)``, tombstones nothing."""
    live = F.col("op") == "U"
    return df.select(
        F.col(group_col).alias("grp"),
        F.when(live, F.col(val_col) * sign)
        .otherwise(F.lit(0)).cast("long").alias("d_sum"),
        F.when(live, F.lit(sign))
        .otherwise(F.lit(0)).cast("long").alias("d_count"),
    )


def _sum_deltas(deltas: DataFrame) -> DataFrame:
    return deltas.groupBy("grp").agg(
        F.sum("d_sum").alias("d_sum"), F.sum("d_count").alias("d_count")
    )


def stream_retract_agg_orc(
    changes: DataFrame,
    state_path: str,
    checkpoint: str,
    key_col: str,
    group_col: str,
    val_col: str,
    order_cols: list[str],
    n_key_partitions: int = 16,
    trigger: dict | None = None,
    cleanup_every_n_batches: int | None = None,
    horizon_fn=None,
    fold_ratio: float = 0.25,
) -> StreamingQuery:
    """RETRACTION-correct streaming aggregation over a CDC feed — the
    Flink "dynamic table → retract stream" pattern (the ecosystem the
    reference sink serves) on the micro-batch runtime: maintain
    per-group SUM/COUNT of each key's LATEST value while updates
    retract the key's previous contribution (including moving it
    between groups) and delete tombstones retract it entirely.

    The key state is a :class:`_DeltaLogTable` (``state/`` +
    ``state_log/``, latest ``order_cols`` row per ``key_col``), which
    states the lease, append, fold, cleanup and crash contract. The
    per-batch extra, marker-guarded by ``applied/batch_N``:

    1. resolve the batch keys' PRE-images — latest-per-key over
       (base buckets the batch touches ∪ log rows below this batch
       id), both semi-joined to the batch's keys: a read-only,
       partition-pruned lookup, no shuffle of state, no rewrite;
    2. emit per-group DELTA rows = (new contribution − old
       contribution) for the batch's keys only: +``(val, 1)`` into
       the key's new group, −``(val, 1)`` out of its old one — into a
       ``batch_id`` partition of ``agg_deltas``. No group is ever
       rescanned.

    Under uniformly-random key churn the per-batch cost is that
    pruned scan plus the O(batch) append; the full pass happens only
    at fold cadence. The aggregate
    readback (:func:`read_retract_agg`) sums the delta partitions —
    O(batches × groups) rows, corpus-size-independent.

    Tombstone retention: ``op='D'`` rows are KEPT (in base or log) —
    they mask a replayed pre-delete update (an old ``U`` with a lower
    order value re-delivered by a feed replay would otherwise win the
    resolve and resurrect the key). Age them out with
    :func:`cleanup_retract_state` once the source's replay horizon
    has passed; the sink then drops rows below the recorded horizon
    (on ``order_cols[0]``) at ingest. With ``cleanup_every_n_batches``
    + ``horizon_fn`` set that pass runs on the sink's own cadence,
    under the batch's lease."""
    state = _latest_table(state_path, dict(
        kc=key_col, oc=",".join(order_cols), nkp=n_key_partitions
    ))

    def agg_deltas(spark: SparkSession, ch: DataFrame, batch_id: int):
        marker = os.path.join(state_path, "applied", f"batch_{batch_id}")
        if _hfs_exists(spark, marker):
            return
        cand = state.lookup(
            spark, ch.select(key_col).distinct(), batch_id, buckets=ch
        )
        if cand is not None:
            # consumed by BOTH the pre- and post-image resolve:
            # materialize the (small, semi-joined) lookup once
            cand = cand.localCheckpoint(eager=True)
        try:
            post = state.resolve(
                spark, ch if cand is None else cand.unionByName(ch)
            )
            deltas = _contrib(post, group_col, val_col, 1)
            if cand is not None:
                pre = state.resolve(spark, cand)
                deltas = deltas.unionByName(
                    _contrib(pre, group_col, val_col, -1)
                )
            _write_batch(
                _sum_deltas(deltas),
                os.path.join(state_path, "agg_deltas"),
                batch_id,
            )
        finally:
            # released on the failure path too — a retrying stream
            # must not leak one block set per attempt
            if cand is not None:
                release_local_checkpoint(cand)
        _hfs_mkdirs(spark, marker)

    return state.start(
        changes, checkpoint, trigger, fold_ratio,
        fold=lambda spark: fold_retract_state(spark, state_path, lease=False),
        extras=agg_deltas,
        cleanup=lambda spark, h: cleanup_retract_state(
            spark, state_path, h, lease=False
        ),
        every=cleanup_every_n_batches,
        horizon_fn=horizon_fn,
    )


def read_retract_agg(spark: SparkSession, state_path: str) -> DataFrame:
    """Current per-group aggregate of a :func:`stream_retract_agg_orc`
    table: sum the additive delta partitions. Groups whose live-key
    count nets to zero (fully deleted or fully moved away) vanish,
    exactly as a from-scratch aggregate would omit them."""
    return (
        spark.read.orc(os.path.join(state_path, "agg_deltas"))
        .groupBy("grp")
        .agg(
            F.sum("d_sum").alias("sum_val"),
            F.sum("d_count").alias("n_keys"),
        )
        .filter(F.col("n_keys") > 0)
    )


def _record_replay_horizon(
    spark: SparkSession, state_path: str, horizon: int
) -> None:
    """Record ``horizon`` as a marker dir and prune the markers it
    supersedes (only the max matters — monotone — and every
    micro-batch lists this directory, so letting one marker per
    cleanup accumulate forever would grow per-batch list cost with
    deployment age)."""
    hdir = os.path.join(state_path, "replay_horizon")
    _hfs_mkdirs(spark, os.path.join(hdir, f"h={horizon}"))
    for name in _hfs_list_names(spark, hdir):
        if name.startswith("h=") and int(name[2:]) < horizon:
            _hfs_rmtree(spark, os.path.join(hdir, name))


def _read_replay_horizon(spark: SparkSession, state_path: str):
    """Current replay horizon of a retract state dir, or None. The
    horizon is encoded in MARKER DIRECTORY NAMES (``replay_horizon/
    h=<value>``) so recording it is a single atomic ``mkdirs`` on any
    Hadoop filesystem — no read-modify-write file, no partial-content
    crash window; reading it back is one ``listStatus``. Monotone:
    the max marker wins."""
    names = _hfs_list_names(
        spark, os.path.join(state_path, "replay_horizon")
    )
    vals = [int(n[2:]) for n in names if n.startswith("h=")]
    return max(vals) if vals else None


def cleanup_retract_state(
    spark: SparkSession, state_path: str, horizon: int, lease: bool = True
) -> dict:
    """Horizon-bounded tombstone cleanup for a
    :func:`stream_retract_agg_orc` state dir — the state-TTL pass its
    retention contract promises: fold the log, then physically drop
    ``op='D'`` rows whose first order column (the sink's recorded
    ``order_cols[0]``) is below ``horizon``, the caller's guarantee
    that the source can no longer replay anything older (Kafka
    retention is the usual horizon). Without this, a delete-heavy
    feed grows the key state with every key ever deleted.

    The horizon marker is recorded BEFORE the rewrite, and the sink
    enforces it on every later batch, so a pre-delete update replayed
    after cleanup is dropped at ingest instead of resurrecting its
    key. Only the ``kp`` buckets holding expired tombstones are
    rewritten (``_overwrite_buckets``). SINGLE-WRITER: the run takes
    the ``state_path`` lease and fails loudly with ``LeaseHeldError``
    if the sink or another maintenance op holds it; the sink's own
    cadence passes ``lease=False`` under its batch lease.

    Returns ``{"tombstones_dropped": n, "buckets_rewritten": k}``."""
    if lease:
        with state_lease(
            spark, state_path, process_owner("maintenance:cleanup-retract")
        ):
            return cleanup_retract_state(
                spark, state_path, horizon, lease=False
            )
    return _latest_table(state_path).cleanup(spark, horizon)


def cleanup_retract_join_state(
    spark: SparkSession, state_path: str, horizon: int, lease: bool = True
) -> dict:
    """:func:`cleanup_retract_state`'s twin for a
    :func:`stream_retract_join_orc` state dir. Only the PK layer
    retains ``op='D'`` tombstones (the jk layer and the view hold
    live images only), so this drops expired ``D`` rows (``seq``
    below ``horizon``) from the ``(side, kp)``-partitioned pk store,
    with the same ordering, ingest enforcement and lease.

    Returns ``{"tombstones_dropped": n, "buckets_rewritten": k}``."""
    if lease:
        with state_lease(
            spark, state_path, process_owner("maintenance:cleanup-retract")
        ):
            return cleanup_retract_join_state(
                spark, state_path, horizon, lease=False
            )
    return _join_table(state_path).cleanup(spark, horizon)


def _bucket_filter(cols, touched: list):
    """Exact predicate for the ``touched`` partition tuples of
    ``cols`` — ``kp IN (..)``, or per side ``side = s AND kp IN
    (..)`` — shared by every partition-pruned state read."""
    if len(cols) == 1:
        return F.col(cols[0]).isin([t[0] for t in touched])
    by_side: dict = {}
    for s, b in touched:
        by_side.setdefault(s, []).append(b)
    cond = F.lit(False)
    for s, bs in by_side.items():
        cond = cond | ((F.col(cols[0]) == s) & F.col(cols[1]).isin(bs))
    return cond


VIEW_SCHEMA = (
    "l_pk long, jk long, l_val long, r_pk long, r_attr string, jb int"
)


def _rj_bucket_join(sides: DataFrame, how: str) -> DataFrame:
    """The per-bucket join shape shared by the reader, the fold and
    the per-batch aggregate diff: live L rows x live R rows within
    the SAME ``jb`` bucket, selected into the view schema. ``sides``
    holds both sides' live images with a ``jb`` column."""
    lstate = sides.filter(F.col("side") == "L").select(
        F.col("pk").alias("l_pk"),
        "jk",
        F.col("val").alias("l_val"),
        "jb",
    )
    rstate = sides.filter(F.col("side") == "R").select(
        F.col("pk").alias("r_pk"),
        F.col("jk").alias("r_jk"),
        F.col("attr").alias("r_attr"),
        F.col("jb").alias("r_jb"),
    )
    # ``how="left"`` buys OUTER-join IVM — the textbook-hard case (a
    # newly-arriving right partner must RETRACT the left row's
    # null-extended image, a disappearing one must re-extend it) —
    # for free: affected buckets are recomputed from both sides'
    # current state, so null-extension flips fall out of the
    # recompute instead of needing bookkeeping deltas.
    return lstate.join(
        rstate,
        (lstate.jk == rstate.r_jk) & (lstate.jb == rstate.r_jb),
        how=how,
    ).select(
        "l_pk",
        lstate.jk.alias("jk"),
        "l_val",
        "r_pk",
        "r_attr",
        lstate.jb.alias("jb"),
    )


def _rj_jb(n_join_buckets: int):
    """The join bucket of a row: its ``jk``, hashed."""
    return F.pmod(F.hash(F.col("jk")), F.lit(n_join_buckets))


def _rj_images(df: DataFrame, jb_of) -> DataFrame:
    return df.select(
        "side", "pk", "jk", "seq", "op", "val", "attr", jb_of.alias("jb")
    )


def _rj_log_effect(
    spark: SparkSession, table, logpks: DataFrame, cand: DataFrame
):
    """Shared resolution of an unfolded delta log's effect on the jk
    layer — the byte-equivalence contract between the MOR reader
    (:func:`read_retract_join_view`) and the fold: both answer from
    the SAME ``(aff, sides)`` or a fold would materialize a view the
    reader didn't answer. ``cand`` is every stored version of the
    logged pks (base rows of logged pks ∪ all log rows). Affected
    buckets come from the log rows' join keys PLUS the logged pks'
    base images (the only record of a moved pk's OLD bucket)."""
    jb_of = _rj_jb(int(table.layout(spark)["njb"]))
    aff = sorted(
        r.jb for r in cand.select(jb_of.alias("jb")).distinct().collect()
    )
    sides = _rj_images(
        table.resolve(spark, cand).filter(F.col("op") == "U"), jb_of
    )
    jk = _read_orc(spark, os.path.join(table.path, "jk_state"))
    if jk is not None:
        sides = (
            jk.filter(F.col("jb").isin(aff))
            .join(logpks, ["side", "pk"], "left_anti")
            .unionByName(sides)
        )
    return aff, sides


def _rj_fold_view(spark: SparkSession, table, log: DataFrame) -> dict:
    """Before-base fold step of the join table: rewrite the jk layer,
    then the view, for the log-affected join buckets — computed from
    the still-intact base ∪ log, so after any crash prefix the
    merge-on-read answer is unchanged (the log goes last)."""
    lay = table.layout(spark)
    logpks = log.select("side", "pk").distinct()
    held = []  # every eager checkpoint, released on the failure path too
    try:
        cand = table.lookup(spark, logpks, buckets=log)
        cand = cand.localCheckpoint(eager=True)
        held.append(cand)
        aff, sides = _rj_log_effect(spark, table, logpks, cand)
        sides = sides.localCheckpoint(eager=True)
        held.append(sides)
        _overwrite_buckets(
            sides,
            os.path.join(table.path, "jk_state"),
            ["side", "jb"],
            [(s, b) for s in ("L", "R") for b in aff],
        )
        view_aff = _rj_bucket_join(sides, lay["how"])
        view_aff = view_aff.localCheckpoint(eager=True)
        held.append(view_aff)
        _overwrite_buckets(
            view_aff, os.path.join(table.path, "view"), ["jb"],
            [(b,) for b in aff],
        )
    finally:
        for df in held:
            release_local_checkpoint(df)
    return {"jk_buckets": len(aff)}


def read_retract_join_view(
    spark: SparkSession, state_path: str
) -> DataFrame:
    """Snapshot of the maintained join view of a
    :func:`stream_retract_join_orc` state dir — MERGE-ON-READ, like
    any Hudi/Paimon MOR table: the materialized ``view/`` base covers
    every bucket as of the last FOLD; buckets affected by the
    unfolded delta log are recomputed from resolved pk state. With an
    empty log this is a plain read of ``view/``; right after a
    bootstrap load it is a full join of the resolved log."""
    table = _join_table(state_path)
    log = table.read_log(spark)
    view = _read_orc(spark, os.path.join(state_path, "view"))
    if log is None:
        if view is not None:
            return view
        return spark.createDataFrame([], VIEW_SCHEMA)
    logpks = log.select("side", "pk").distinct()
    cand = table.lookup(spark, logpks, buckets=log)
    aff, sides = _rj_log_effect(spark, table, logpks, cand)
    view_aff = _rj_bucket_join(sides, table.layout(spark)["how"])
    if view is not None:
        return view.filter(~F.col("jb").isin(aff)).unionByName(view_aff)
    return view_aff


def fold_retract_join_state(
    spark: SparkSession, state_path: str, lease: bool = True
) -> dict:
    """Fold a :func:`stream_retract_join_orc` delta log: update the
    jk layer and materialized view for the log-affected join buckets,
    fold the pk log into the pk base (latest-per-pk, changed buckets
    only), then drop the log. WRITE ORDER IS THE CRASH CONTRACT —
    jk/view first (computed from the still-intact base ∪ log), pk
    base second, log delete last (:meth:`_DeltaLogTable.fold`).
    Layout parameters come from the state dir's markers. Returns
    fold statistics."""
    if lease:
        with state_lease(
            spark, state_path, process_owner("maintenance:fold-retract")
        ):
            return fold_retract_join_state(spark, state_path, lease=False)
    out = _join_table(state_path).fold(spark)
    return {
        "log_rows_folded": out["log_rows_folded"],
        "jk_buckets": out.get("jk_buckets", 0),
        "pk_buckets": out["buckets_rewritten"],
    }


def stream_retract_join_orc(
    changes: DataFrame,
    state_path: str,
    checkpoint: str,
    n_key_partitions: int = 16,
    n_join_buckets: int = 16,
    trigger: dict | None = None,
    agg_group_col: str | None = None,
    agg_val_col: str | None = None,
    how: str = "inner",
    cleanup_every_n_batches: int | None = None,
    horizon_fn=None,
    fold_ratio: float = 0.25,
) -> StreamingQuery:
    """RETRACTION-correct streaming JOIN over two CDC feeds — Flink's
    delta-join / incremental-view-maintenance pattern (dynamic table ⋈
    dynamic table → retract stream → upsert sink, the ecosystem the
    reference ORC sink serves, ``README.md:19-22``) on the micro-batch
    runtime. The maintained view is::

        SELECT l.*, r.*  FROM latest-live-L l JOIN latest-live-R r
        ON l.jk = r.jk

    where each side is a CDC feed of (pk, jk, seq, op) rows: latest
    ``seq`` per ``pk`` wins, ``op='D'`` is a delete tombstone, and —
    the hard case — an update may MOVE a row to a different join key,
    which must retract every joined row it produced under the OLD key.

    Input stream schema: ``side ('L'|'R'), pk, jk, seq, op,
    val (left payload), attr (right payload)``.

    The pk state is a :class:`_DeltaLogTable` (``pk_state/`` +
    ``pk_log/``, latest ``seq`` per ``(side, pk)``), which states the
    lease, append, fold, cleanup and crash contract. ``jk_state/``
    (live images by ``(side, jb)``, ``jb = hash(jk) %
    n_join_buckets``) and ``view/`` hold the join AS OF THE LAST FOLD;
    between folds :func:`read_retract_join_view` applies the log at
    read time (merge-on-read, the Hudi/Paimon MOR shape). The
    per-batch extras, all reads partition-pruned and semi-joined:

    1. resolve the batch pks' PRE- and POST-images over
       base ∪ log[< batch] ∪ batch, and write the RETRACTION STREAM
       (``deltas/batch_id=N``: pre-image → retract, post-image → add),
       marker-guarded by ``applied/``;
    2. with ``agg_group_col`` set, land additive per-group aggregate
       deltas: the view diff of the batch-AFFECTED join buckets,
       computed from (jk layer ⊕ log overrides) old vs new — never a
       group rescan, never a view rewrite (marker-guarded by
       ``agg_applied/``, ``agg_deltas/batch_id=N``; readback
       :func:`read_retract_agg`).

    ``how="left"`` maintains the left outer join, null-extension flips
    included. Tombstones are kept to mask below-horizon replays until
    :func:`cleanup_retract_join_state` (or the sink's own cadence,
    ``cleanup_every_n_batches`` + ``horizon_fn``) ages them out; the
    sink then drops rows with ``seq`` below the recorded horizon at
    ingest.

    COST MODEL: clustered churn reads only the key- and join-buckets
    the batch touches; uniformly-random churn pays a map-side pruned
    scan for the image lookups plus the O(batch) append, with the
    full pass deferred to fold cadence. ``tools/scale_probe.py
    retract_join`` checks it by plan counters: a fixed uniform batch
    over a folded state 1×, 5× and 10× as large runs the same jobs,
    stages and tasks, and its shuffle bytes do not grow; only the
    rows its lookups scan do. A full feed replay
    through a fresh checkpoint against populated state also
    converges: every step is a pure function of authoritative
    (base ∪ log) state."""
    state = _join_table(state_path, dict(
        nkp=n_key_partitions, njb=n_join_buckets, how=how
    ))
    jb_of = _rj_jb(n_join_buckets)
    live = F.col("op") == "U"
    jk_dir = os.path.join(state_path, "jk_state")

    def images(spark: SparkSession, ch: DataFrame, batch_id: int) -> None:
        marker = os.path.join(state_path, "applied", f"batch_{batch_id}")
        agg_marker = os.path.join(
            state_path, "agg_applied", f"batch_{batch_id}"
        )
        need_deltas = not _hfs_exists(spark, marker)
        need_agg = agg_group_col is not None and not _hfs_exists(
            spark, agg_marker
        )
        if not (need_deltas or need_agg):
            return
        # every eager checkpoint below materializes INSIDE the try: a
        # failure building a later image must still release the
        # earlier ones, or a restarting stream leaks one block set per
        # crash
        held = []
        try:
            cand = state.lookup(
                spark, ch.select("side", "pk").distinct(), batch_id,
                buckets=ch,
            )
            # the images are batch-pk-sized and consumed by up to FOUR
            # downstream DAGs (the deltas write, the affected-bucket
            # collect, both sides of the aggregate diff): materialize
            # each window ONCE (stream_retract_join_agg at sf0.1:
            # 78 -> 68 Spark jobs, 21.3 -> 11.8 s for the drain)
            pre = None
            if cand is not None:
                cand = cand.localCheckpoint(eager=True)
                held.append(cand)
                pre = state.resolve(spark, cand).localCheckpoint(eager=True)
                held.append(pre)
            post = state.resolve(
                spark, ch if cand is None else cand.unionByName(ch)
            ).localCheckpoint(eager=True)
            held.append(post)
            if need_deltas:
                deltas = (
                    post.filter(live).drop("kp")
                    .withColumn("kind", F.lit("add"))
                )
                if pre is not None:
                    deltas = deltas.unionByName(
                        pre.filter(live).drop("kp")
                        .withColumn("kind", F.lit("retract"))
                    )
                _write_batch(
                    deltas, os.path.join(state_path, "deltas"), batch_id
                )
                _hfs_mkdirs(spark, marker)
            if need_agg:
                self_aff = post.filter(live).select(jb_of.alias("jb"))
                if pre is not None:
                    self_aff = self_aff.unionByName(
                        pre.filter(live).select(jb_of.alias("jb"))
                    )
                aff = sorted(r.jb for r in self_aff.distinct().collect())
                if aff:
                    agg_diff(spark, ch, pre, post, aff, batch_id)
                    _hfs_mkdirs(spark, agg_marker)
        finally:
            for df in held:
                release_local_checkpoint(df)

    def agg_diff(spark, ch, pre, post, aff, batch_id) -> None:
        """Additive per-group aggregate deltas of batch ``batch_id``:
        view diff of the affected join buckets, OLD = (jk layer ⊕
        log[<batch] overrides), NEW = same ⊕ batch. Never rewrites
        state; reads are bucket-pruned and semi-joined."""
        in_aff = jb_of.isin(aff)
        S = ch.select("side", "pk").distinct()
        # log pks that can override the jk layer inside the affected
        # buckets: any logged pk with a row whose jk lands there
        anti_pks, imgs_P = S, None
        jk = _read_orc(spark, jk_dir)
        if jk is not None:
            jk = jk.filter(F.col("jb").isin(aff))
        lg = _read_orc(spark, state.log_dir)
        if lg is not None:
            lg = lg.filter(F.col("batch_id") < batch_id).drop("batch_id")
            logpks = lg.select("side", "pk").distinct()
            anti_pks = logpks.unionByName(S).distinct()
            # pks that can contribute to the affected buckets and were
            # anti-joined out of the jk layer: a logged pk's RESOLVED
            # image is either a log row (covered by log rows whose jb
            # lands in aff) or still its base row — when every log row
            # for it is OLDER, e.g. a late out-of-order arrival — so
            # the re-add set must also cover base rows in aff whose pk
            # is logged. Pruning by log rows alone dropped the live
            # image of a folded pk whose only unfolded log rows hash
            # to other buckets, silently skewing the aggregate.
            P = lg.filter(in_aff).select("side", "pk")
            if jk is not None:
                P = P.unionByName(
                    jk.join(logpks, ["side", "pk"], "left_semi")
                    .select("side", "pk")
                )
            P = P.distinct().join(S, ["side", "pk"], "left_anti")
            cand_P = state.lookup(spark, P, batch_id)
            if cand_P is not None:
                imgs_P = _rj_images(
                    state.resolve(spark, cand_P).filter(live).filter(in_aff),
                    jb_of,
                )
        base_part = None
        if jk is not None:
            base_part = jk.join(anti_pks, ["side", "pk"], "left_anti")

        def sides(img):
            parts = [p for p in (base_part, imgs_P) if p is not None]
            if img is not None:
                parts.append(_rj_images(img.filter(live).filter(in_aff), jb_of))
            if not parts:
                return None
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            return out.filter(F.col("jb").isin(aff))

        def gd(view: DataFrame, sign: int) -> DataFrame:
            return view.select(
                F.col(agg_group_col).alias("grp"),
                (F.coalesce(F.col(agg_val_col), F.lit(0)) * sign)
                .cast("long").alias("d_sum"),
                F.lit(sign).cast("long").alias("d_count"),
            )

        deltas = gd(_rj_bucket_join(sides(post), how), 1)
        old_sides = sides(pre)
        if old_sides is not None:
            deltas = deltas.unionByName(gd(_rj_bucket_join(old_sides, how), -1))
        _write_batch(
            _sum_deltas(deltas), os.path.join(state_path, "agg_deltas"),
            batch_id,
        )

    return state.start(
        changes, checkpoint, trigger, fold_ratio,
        fold=lambda spark: fold_retract_join_state(
            spark, state_path, lease=False
        ),
        extras=images,
        cleanup=lambda spark, h: cleanup_retract_join_state(
            spark, state_path, h, lease=False
        ),
        every=cleanup_every_n_batches,
        horizon_fn=horizon_fn,
    )


def stream_quarantine_orc(
    df: DataFrame,
    valid_path: str,
    quarantine_path: str,
    checkpoint: str,
    expectation,
    trigger: dict | None = None,
    compression: str = "zstd",
) -> StreamingQuery:
    """STREAMING validated ingestion with a dead-letter path — the
    ``foreachBatch`` composition of ``write_orc_validated``'s
    contract with batch-id-keyed idempotent writes: per micro-batch,
    rows satisfying ``expectation`` land under ``valid_path``, the
    rest UNCHANGED under ``quarantine_path`` (inspectable,
    replayable), each in its own ``batch_id=<id>`` partition so a
    crash-replayed batch rewrites instead of duplicating — on BOTH
    sides. NULL-expectation rows quarantine rather than vanish. The
    production DLQ shape: a bad record must never poison the table,
    stall the stream, nor disappear.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        staged = batch_df.localCheckpoint(eager=True)  # split reads it twice
        try:
            for target, pred in (
                (valid_path, expectation),
                (quarantine_path, ~F.coalesce(expectation, F.lit(False))),
            ):
                _write_batch(
                    staged.filter(pred), target, batch_id,
                    compression=compression,
                )
        finally:
            # Checkpointed blocks otherwise linger until the JVM
            # ContextCleaner notices — on a long-running stream that
            # is unbounded executor storage growth, one batch per
            # trigger. Release them as soon as both writes land.
            release_local_checkpoint(staged)

    return _start_foreach_batch(df, write_batch, checkpoint, trigger)


def read_committed_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read back ONLY committed files.

    Spark's ORC reader honors the ``_spark_metadata`` manifest when
    present, so uncommitted/abandoned part files are never visible —
    the reader-side half of exactly-once (the reference relies on the
    leading-``_`` Hive convention instead, ``README.md:9-13``).
    """
    return spark.read.orc(path)


def stream_from_files(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replayable file source for deterministic streaming tests
    (SURVEY.md §7.3: socket sources aren't replayable; file sources
    are the test-friendly stand-in with identical sink semantics)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def csv_parse(lines: DataFrame, schema_ddl: str = "x INT, y INT") -> DataFrame:
    """The reference demo's map operator (P1): CSV line → typed row.

    ``OrcSinkTest.java:32-37`` splits on ',' and parses two ints into
    ``Row.of(x, y)``; here it's a single ``from_csv`` over the
    ``value`` column — JVM-side, codegen-friendly, and it handles
    quoting/nulls the hand-split never did.
    """
    return lines.select(
        F.from_csv(F.col("value"), schema_ddl).alias("r")
    ).select("r.*")


def demo_socket_to_orc(
    spark: SparkSession,
    host: str,
    port: int,
    out_path: str,
    checkpoint: str,
    trigger_seconds: int = 30,
) -> StreamingQuery:
    """End-to-end parity with the reference demo (``OrcSinkTest.java:
    16-40``): socket text source → CSV parse → exactly-once ORC sink,
    30 s commit cadence. Kept as a demo — tests use the replayable
    file-source path instead (SURVEY.md §7.3)."""
    lines = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    rows = csv_parse(lines)
    return stream_write_orc(
        rows,
        out_path,
        checkpoint,
        trigger=({"processingTime": f"{trigger_seconds} seconds"}),
        query_name="demo_socket_to_orc",
    )


class WatermarkTracker(StreamingQueryListener):
    """Watermark observability replacing the reference's per-bucket
    gauge (``watermarkPerOrcBucketing``, ``RowOrcBucketingSink.java:86,
    196-198``): records the event-time watermark from every progress
    event, in UTC (no −8h display hack — SURVEY.md §2.3 T4).

    Usage::

        tracker = WatermarkTracker()
        spark.streams.addListener(tracker)
        ... run query ...
        tracker.last_watermark  # ISO-8601 UTC string or None
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.last_watermark: str | None = None
        self.history: list[tuple[str, str]] = []  # (query_id, watermark)

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        progress = event.progress
        wm = (progress.eventTime or {}).get("watermark")
        if wm:
            with self._lock:
                self.last_watermark = wm
                self.history.append((str(progress.id), wm))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass
