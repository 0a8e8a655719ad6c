"""Partitioned, atomically-committed ORC output — batch side.

This is the engine's batch equivalent of the reference's whole raison
d'être (``RowOrcBucketingSink.java``): typed rows → bucketed (Hive
partition) directories of ORC files that a downstream warehouse can
read, with files becoming visible only on successful commit.

What the reference hand-rolls and Spark provides natively:

- Row→columnar transposition in 1024-row batches
  (``RowOrcWriter.java:38,116-119``) → Spark's native vectorized ORC
  writer (``spark.sql.orc.impl=native``).
- Bucket routing via a pluggable ``Bucketer``
  (``RowOrcBucketingSink.java:41,111,251-254``) → ``partitionBy(cols)``
  (Hive-style ``k=v/`` directories), with computed partition columns
  standing in for custom bucketers.
- Collision-safe part-file naming with a retry counter
  (``RowOrcBucketingSink.java:124-151,226-228``) → unique
  ``part-{task}-{uuid}`` names plus a commit protocol; no probe loop.
- Rename-based two-phase commit aligned to checkpoints
  (``RowOrcBucketingSink.java:153-213``) → for batch writes, the file
  output committer publishes files only on job success; for streaming
  see ``flink_orc_sink_spark.streaming.orc_sink``.

Replacing a set of partitions — a batch id's output, a day's
correction, a fold's or an erase's touched buckets — goes through
:func:`overwrite_partitions`, :func:`write_batch` and
:func:`overwrite_buckets` below, batch and streaming alike; no other
module of the package chooses how a partition is replaced.

Scale notes: dynamic-partition writes shuffle-free by default (each
task writes every partition it sees). For very high-cardinality
partition columns pass ``repartition_by_partition_cols=True`` so each
partition's rows are clustered into few tasks — fewer, bigger ORC
files, which is what a 100 TB table wants.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from flink_orc_sink_spark.session import fs_rmtree


def write_orc(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
    repartition_by_partition_cols: bool = False,
    max_records_per_file: int | None = None,
    sort_within_partitions: list[str] | None = None,
) -> None:
    """Write ``df`` to ``path`` as (optionally partitioned) ORC.

    ``partition_cols`` plays the reference ``Bucketer`` role; pass a
    computed column (e.g. ``df.withColumn("dt", F.to_date("ts"))``)
    for date bucketing like the reference demo's Hive layout
    (``OrcSinkTest.java:23``).

    ``sort_within_partitions`` orders rows inside each task before
    writing (no shuffle). ORC keeps min/max statistics per stripe, so
    clustering a filter column (e.g. the event timestamp) lets readers
    skip whole stripes — at 100 TB the difference between scanning a
    day and scanning the table for a time-range query.
    """
    if repartition_by_partition_cols and partition_cols:
        df = df.repartition(*partition_cols)
    if sort_within_partitions:
        df = df.sortWithinPartitions(*sort_within_partitions)
    writer = df.write.mode(mode).format("orc").option("compression", compression)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read ORC back (vectorized reader; partition columns recovered
    from the Hive-style directory layout)."""
    return spark.read.orc(path)


def write_orc_table(
    df: DataFrame,
    table_name: str,
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """Write a CATALOG-REGISTERED partitioned ORC table.

    The reference's commit step registers every new date bucket as a
    Hive partition so warehouse queries see it immediately
    (``RowOrcBucketingSink.java`` commit path; ``README.md:7-22`` —
    "hive could read it"). ``saveAsTable`` is the Spark-native
    equivalent: data + partition metadata land in the session catalog
    atomically, ``SHOW PARTITIONS`` / ``spark.table(name)`` work, and
    on a cluster the same call against a Hive metastore gives every
    engine (Trino, Hive, Spark) the table."""
    writer = (
        df.write.format("orc").mode(mode).option("compression", compression)
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.saveAsTable(table_name)


def overwrite_partitions(
    df: DataFrame, path: str, *part_cols: str, compression: str = "zstd"
) -> None:
    """Replace exactly the ``part_cols`` partitions of the ORC dir
    ``path`` that ``df`` holds, leaving every other partition's files
    untouched, so a repeated write lands in the same state. The
    writer option ``partitionOverwriteMode=dynamic`` scopes this to
    the one write; the session conf is never touched. This is the one
    place in the package that sets the mode (``tools/audit_plans.py``
    flags any other)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", compression)
        .partitionBy(*part_cols)
        .orc(path)
    )


def write_batch(
    df: DataFrame, path: str, batch_id: int, compression: str = "zstd"
) -> None:
    """Write ``df`` as partition ``batch_id=<batch_id>`` of ``path``:
    a replayed batch rewrites its own partition instead of
    duplicating rows — the batch-id-keyed idempotent write of
    *Structured Streaming*'s exactly-once sinks."""
    overwrite_partitions(
        df.withColumn("batch_id", F.lit(batch_id)), path, "batch_id",
        compression=compression,
    )


def overwrite_buckets(
    df: DataFrame,
    path: str,
    part_cols: list[str],
    touched: list[tuple],
    compression: str = "zstd",
) -> None:
    """Overwrite exactly the ``touched`` partitions of ``path`` with
    ``df`` (whose ``part_cols`` tuples are all in ``touched``).

    A dynamic overwrite only replaces partitions PRESENT in the frame,
    so a touched bucket whose new content is EMPTY would silently keep
    its stale files. The write observes which tuples ``df`` held
    (``Dataset.observe``: no extra job, no second scan), and the
    directories of touched-but-now-empty buckets are then deleted (on
    a metastore table this is ``ALTER TABLE .. DROP PARTITION``; here
    a recursive Hadoop-FS delete, so remote paths work). Both steps
    are idempotent, so a crash-replay that repeats them lands in the
    same state."""
    seen = Observation()
    overwrite_partitions(
        df.observe(seen, F.collect_set(F.struct(*part_cols)).alias("p")),
        path, *part_cols, compression=compression,
    )
    present = {tuple(r) for r in seen.get["p"]}
    for vals in touched:
        if tuple(vals) not in present:
            sub = os.path.join(
                *(f"{c}={v}" for c, v in zip(part_cols, vals))
            )
            fs_rmtree(df.sparkSession, os.path.join(path, sub))


def upsert_orc_partitions(
    spark: SparkSession,
    base_path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_cols: list[str],
    compression: str = "zstd",
) -> None:
    """Upsert into a partitioned ORC directory, rewriting ONLY the
    partitions the updates touch (:func:`overwrite_partitions`).

    Semantics: within each touched partition, rows whose ``key_cols``
    match an update are replaced; everything else is carried over;
    new keys are appended. Partitions with no updates are not read,
    not written, not listed — at 100 TB a one-day correction costs
    one day's I/O, not the table's.

    The merge itself is one anti-join (existing minus updated keys)
    unioned with the updates, shuffled on the partition columns so
    each output partition is written by one task.
    """
    touched = updates.select(*partition_cols).distinct()
    existing = spark.read.orc(base_path).join(
        # bounded-broadcast: touched partition keys: distinct partition values of ONE upsert batch — micro-batch-bounded
        F.broadcast(touched), partition_cols, "left_semi"
    )
    merged = existing.join(updates, key_cols, "left_anti").unionByName(
        updates
    )
    overwrite_partitions(
        merged.repartition(*partition_cols), base_path, *partition_cols,
        compression=compression,
    )


def compact_orc(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 256,
    partition_cols: list[str] | None = None,
    compression: str = "zstd",
) -> int:
    """Compact a directory of small ORC files into ~``target_file_mb``
    files — the standard maintenance job behind any streaming file
    sink (each micro-batch epoch writes at least one file per task;
    at a 30 s cadence that is ~2900 files/day/task, and a 100 TB
    table dies by small files long before it dies by bytes).

    Strategy: size the output file count from the input bytes, rewrite
    via ``repartition`` (even-sized round-robin when no partition
    columns; hash on the partition columns otherwise so each output
    task writes one directory), then atomically swap directories.
    Returns the number of files after compaction.

    The reference has no compactor — its sink leans on the checkpoint
    interval to bound file count (``README.md:30``); a real warehouse
    needs this stage regardless of sink.
    """
    import glob
    import shutil

    files = [
        f
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    ]
    total_bytes = sum(os.path.getsize(f) for f in files)
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))

    df = spark.read.orc(path)
    if partition_cols:
        df = df.repartition(n_files, *partition_cols)
    else:
        df = df.repartition(n_files)

    tmp = path.rstrip("/") + ".__compacting__"
    writer = df.write.mode("overwrite").format("orc").option(
        "compression", compression
    )
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(tmp)

    old = path.rstrip("/") + ".__old__"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return len(
        [
            f
            for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
            if os.path.isfile(f)
            and not os.path.basename(f).startswith(("_", "."))
        ]
    )


def write_orc_bucketed(
    df: DataFrame,
    name: str,
    bucket_by: list[str],
    num_buckets: int = 32,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (hash-clustered) ORC table into the session
    catalog — the co-located-join layout.

    Two tables bucketed on the same key with the same bucket count
    join with NO exchange on either side (the scan itself satisfies
    the join's distribution requirement) — at 100 TB that removes the
    single largest cost of repeated fact-to-fact joins. Bucketing
    needs catalog metadata, hence ``saveAsTable`` rather than a bare
    path; ``sort_by`` additionally orders within buckets so the join
    degrades to a merge without sorting.
    """
    writer = df.write.format("orc").mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(name)


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 16
) -> DataFrame:
    """Append a ``_z`` column: the Z-order (Morton) key interleaving
    ``cols``' bits after min-max quantization to ``bits`` bits each.

    Rows close in Z-value are close in EVERY quantized dimension, so
    range-partitioning + sorting by ``_z`` clusters the table for
    MULTI-column selections — the layout trick (Delta/Iceberg OPTIMIZE
    ZORDER) that a single-column sort cannot give: linear order serves
    one filter column and scatters the rest; Z-order serves all of
    them at once with bounded loss.

    The min/max quantization bounds come from one tiny aggregate
    broadcast back onto the scan (no driver round-trip); the bit
    interleave unrolls to ``bits × |cols|`` codegen-friendly integer
    ops (no UDF, no Python).
    """
    from pyspark.sql import types as T

    def numeric(c: str):
        dt = df.schema[c].dataType
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
        if isinstance(dt, T.DateType):
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        return F.col(c).cast("double")

    mins = [F.min(numeric(c)).alias(f"_min_{i}") for i, c in enumerate(cols)]
    maxs = [F.max(numeric(c)).alias(f"_max_{i}") for i, c in enumerate(cols)]
    bounds = df.agg(*mins, *maxs)
    out = df.crossJoin(F.broadcast(bounds))
    qmax = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        span = F.col(f"_max_{i}") - F.col(f"_min_{i}")
        q = F.when(span > 0,
            F.floor(
                (numeric(c) - F.col(f"_min_{i}")) / span * qmax
            ).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        out = out.withColumn(f"_q_{i}", q)
        for b in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col(f"_q_{i}"), b).bitwiseAND(F.lit(1)),
                    b * len(cols) + i,
                ).cast("long")
            )
    return out.withColumn("_z", z).drop(
        *[f"_q_{i}" for i in range(len(cols))],
        *[f"_min_{i}" for i in range(len(cols))],
        *[f"_max_{i}" for i in range(len(cols))],
    )


def write_orc_zordered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int = 16,
    bits: int = 16,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """Write ``df`` as ORC clustered on the Z-order curve of
    ``zorder_by``: range-partition by the Morton key (``n_files``
    output files ≙ curve segments), sort within partitions, drop the
    key. Every ``zorder_by`` column ends up with tight per-file and
    per-stripe min/max ranges, so ORC's stats prune files/stripes for
    selections on ANY of the clustered columns — the multi-dimensional
    data-skipping layout for a 100 TB fact table queried by several
    independent dimensions (measured in tests/test_scale_layouts.py:
    each dimension's range filter touches a small fraction of files,
    where a linear sort serves only its own column)."""
    z = zorder_key(df, zorder_by, bits=bits)
    (
        z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .format("orc")
        .option("compression", compression)
        .save(path)
    )


def build_minmax_index(
    spark: SparkSession, path: str, cols: list[str], index_path: str
) -> None:
    """Build a FILE-LEVEL min/max skipping index (Iceberg-manifest
    style) over an ORC table: one tiny parquet of
    ``(file, <col>_min, <col>_max, n_rows)`` per data file, computed
    in one distributed scan grouped by ``input_file_name()``.

    Spark's planner prunes ORC stripes from embedded stats at READ
    time but still lists and opens every file; this external index
    moves the skip decision to PLAN time — ``pruned_read`` consults
    the (broadcast-sized) index first and hands the reader only the
    files whose range intersects the predicate. At 100 TB that is the
    difference between opening 100k files and opening the 40 a
    time/key-range query touches. Rebuild per partition on append;
    the index is itself a table, so maintenance is an ordinary job.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
        ]
    aggs.append(F.count("*").alias("n_rows"))
    (
        spark.read.orc(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(*aggs)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(index_path)
    )


def pruned_read(
    spark: SparkSession,
    path: str,
    index_path: str,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Read only the files whose ``[col_min, col_max]`` range
    intersects ``[lo, hi]`` (per the min/max index), then apply the
    exact filter — identical rows to a full-scan filter, a fraction of
    the file opens. The driver-side step is bounded: the index has one
    row per FILE (not per row group or record)."""
    idx = spark.read.parquet(index_path)
    files = [
        r.file
        for r in idx.filter(
            (F.col(f"{col}_max") >= F.lit(lo))
            & (F.col(f"{col}_min") <= F.lit(hi))
        ).collect()
    ]
    if not files:
        return (
            spark.read.orc(path)
            .filter(F.lit(False))
        )
    return (
        spark.read.orc(files)
        .filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))
    )


def _versions_dir(base_path: str) -> str:
    return os.path.join(base_path, "_versions")


def snapshot_versions(base_path: str) -> list[int]:
    """Committed snapshot versions of a :func:`snapshot_write` table,
    ascending. A version exists iff its manifest file does — data
    files alone are invisible (same visibility rule as the streaming
    sink's ``_spark_metadata`` and the reference's rename-commit)."""
    import glob

    return sorted(
        int(os.path.basename(p)[1:-5])
        for p in glob.glob(os.path.join(_versions_dir(base_path), "v*.json"))
    )


def snapshot_write(
    df: DataFrame,
    base_path: str,
    mode: str = "append",
    compression: str = "zstd",
) -> int:
    """MANIFEST-COMMITTED versioned ORC write (time travel in
    miniature — the Delta/Iceberg core idea re-expressed on plain ORC
    + JSON, no table-format dependency):

    - data files are IMMUTABLE: each write lands its ORC files in a
      fresh ``data/v{n}-…`` directory (never touching prior files);
    - a snapshot is a JSON manifest listing exactly the files visible
      at that version; ``mode="append"`` carries the parent's list
      forward, ``mode="overwrite"`` starts fresh — either way old
      versions stay readable;
    - the manifest is published with write-temp-then-``os.replace``
      (atomic on POSIX): readers see either the old snapshot or the
      new one, never a partial file list — crash mid-write leaves
      orphan data files that no manifest references (invisible, GC-able),
      the exact failure contract of the reference's pending→committed
      rename and our streaming sink.

    At 100 TB the manifest IS the file listing — readers never
    ``ls`` the data tree (object-store listing is slow and eventually
    consistent), and compaction is just another version whose
    manifest swaps many small files for few big ones. Returns the new
    version number.
    """
    import json
    import uuid

    os.makedirs(_versions_dir(base_path), exist_ok=True)
    prior = snapshot_versions(base_path)
    version = (prior[-1] + 1) if prior else 1
    stage = os.path.join(base_path, "data", f"v{version}-{uuid.uuid4().hex[:8]}")
    df.write.mode("error").format("orc").option(
        "compression", compression
    ).save(stage)
    new_files = sorted(
        os.path.relpath(os.path.join(root, f), base_path)
        for root, _, files in os.walk(stage)
        for f in files
        if f.endswith(".orc") and not f.startswith(("_", "."))
    )
    files = list(new_files)
    if mode == "append" and prior:
        with open(
            os.path.join(_versions_dir(base_path), f"v{prior[-1]:08d}.json")
        ) as fh:
            files = json.load(fh)["files"] + files
    elif mode not in ("append", "overwrite"):
        raise ValueError(f"unknown snapshot mode: {mode}")
    manifest = {"version": version, "mode": mode, "files": files}
    tmp = os.path.join(_versions_dir(base_path), f".v{version:08d}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(
        tmp, os.path.join(_versions_dir(base_path), f"v{version:08d}.json")
    )
    return version


def snapshot_read(
    spark: SparkSession, base_path: str, version: int | None = None
) -> DataFrame:
    """Read a snapshot table AS OF ``version`` (default: latest).
    Only manifest-listed files are scanned — orphans from failed
    writes and files belonging to later versions are invisible.
    Filters/column pruning push into the ORC scan as usual (the
    manifest only fixes the file list)."""
    import json

    versions = snapshot_versions(base_path)
    if not versions:
        raise FileNotFoundError(f"no snapshots at {base_path}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(f"version {v} not in {versions}")
    with open(os.path.join(_versions_dir(base_path), f"v{v:08d}.json")) as fh:
        files = json.load(fh)["files"]
    return spark.read.format("orc").load(
        [os.path.join(base_path, f) for f in files]
    )


def snapshot_diff(
    spark: SparkSession,
    base_path: str,
    key_cols: list[str],
    from_version: int,
    to_version: int,
) -> DataFrame:
    """CHANGE DATA FEED between two committed snapshots — the
    ``table_changes`` readback every downstream incremental consumer
    wants from a versioned table, derived by DIFF (the fallback that
    needs no change capture at write time): one row per changed key
    with ``change_type`` ∈ insert / update / delete, update and
    insert carrying the ``to``-side values, delete the ``from``-side.

    The scale lever is FILE-SET PRUNING off the manifests: snapshot
    data files are immutable, so any file listed by BOTH versions
    contributes identical rows to both sides and cannot produce a
    change. Only the symmetric difference of the two file lists is
    ever read — for an append-only history the ``from`` side prunes
    to NOTHING and the diff is a map-only scan of the new files; a
    100 TB table with a 1 GB append diffs for the cost of the 1 GB.
    This relies on the keyed-table contract (each key at most one row
    per snapshot — the same precondition Delta/Iceberg MERGE
    maintains): under it, a key in a shared file is by construction
    absent from every non-shared file, hence unchanged. Rows
    rewritten byte-identically into NEW files (compaction) fall out
    as equal-value matches and are filtered, not misreported.

    The join shuffles only the pruned sides, hashed on the key; the
    null-safe struct comparison happens entirely JVM-side."""
    import json

    def _files(v: int) -> list[str]:
        with open(
            os.path.join(_versions_dir(base_path), f"v{v:08d}.json")
        ) as fh:
            return json.load(fh)["files"]

    fa, fb = _files(from_version), _files(to_version)
    sa, sb = set(fa), set(fb)
    a_only = [f for f in fa if f not in sb]
    b_only = [f for f in fb if f not in sa]

    def _read(files: list[str]) -> DataFrame:
        paths = [os.path.join(base_path, f) for f in files]
        if paths:
            return spark.read.format("orc").load(paths)
        # empty side (append-only diff): zero-row frame, same schema
        return snapshot_read(spark, base_path, version=to_version).limit(0)

    a, b = _read(a_only), _read(b_only)
    val_cols = [c for c in b.columns if c not in key_cols]
    av = a.select(
        *key_cols, F.struct(*val_cols).alias("_a")
    )
    bv = b.select(
        *key_cols, F.struct(*val_cols).alias("_b")
    )
    joined = av.join(bv, on=key_cols, how="full_outer")
    change = (
        F.when(F.col("_a").isNull(), F.lit("insert"))
        .when(F.col("_b").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return (
        joined.filter(~F.col("_a").eqNullSafe(F.col("_b")))
        .withColumn("change_type", change)
        .withColumn("_v", F.coalesce("_b", "_a"))
        .select(
            "change_type",
            *key_cols,
            *[F.col(f"_v.{c}").alias(c) for c in val_cols],
        )
    )


def snapshot_expire(
    base_path: str, keep_last: int = 1
) -> dict[str, int]:
    """RETENTION / VACUUM for :func:`snapshot_write` tables: drop all
    but the newest ``keep_last`` snapshot manifests, then delete every
    data file no surviving manifest references (committed-but-expired
    files AND orphans from crashed writes — the GC half of the
    reference's abandon-on-recovery contract,
    ``RowOrcBucketingSink.java:165-168`` / ``README.md:19-22``).

    Deletion order is crash-safe: manifests are removed FIRST (atomic
    unlink each), so a crash mid-GC leaves unreferenced-but-present
    data files — invisible to readers, collected by the next expire.
    The reverse order could leave a live manifest naming deleted
    files. At 100 TB this runs as a metadata-only driver job (the
    manifest lists are small); the file deletes fan out to the object
    store. Returns counts: versions_expired, files_deleted,
    files_retained.
    """
    import json

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = snapshot_versions(base_path)
    expired = versions[:-keep_last]
    kept = versions[-keep_last:]
    for v in expired:
        os.unlink(os.path.join(_versions_dir(base_path), f"v{v:08d}.json"))
    live: set[str] = set()
    for v in kept:
        with open(
            os.path.join(_versions_dir(base_path), f"v{v:08d}.json")
        ) as fh:
            live.update(json.load(fh)["files"])
    deleted = 0
    data_root = os.path.join(base_path, "data")
    for root, _, files in os.walk(data_root):
        for f in files:
            full = os.path.join(root, f)
            if os.path.relpath(full, base_path) not in live and f.endswith(
                ".orc"
            ):
                os.unlink(full)
                deleted += 1
    return {
        "versions_expired": len(expired),
        "files_deleted": deleted,
        "files_retained": len(live),
    }


def build_bloom_index(
    spark: SparkSession,
    path: str,
    col: str,
    index_path: str,
    fpp: float = 0.01,
) -> None:
    """Build a FILE-LEVEL BLOOM-FILTER index over an integer key
    column of an ORC table — the equality-lookup complement to
    :func:`build_minmax_index` (ranges skip files for range
    predicates; blooms skip them for point predicates on
    high-cardinality keys, where every file's [min,max] spans the
    whole domain and range skipping admits everything).

    One distributed pass groups rows by ``input_file_name()`` and
    packs each file's distinct keys into a bitset sized for ``fpp``
    (~1.2 bytes/key at 1%): per-file Arrow batches through
    ``applyInPandas``, NumPy bit arithmetic, no per-row Python. The
    index is one row per FILE — broadcast-sized at 100 TB, same as
    ORC's embedded bloom stripes but consultable at PLAN time
    without opening any data file.
    """
    import pandas as pd

    from flink_orc_sink_spark.functions.bloom import build_bloom, sizing

    def make(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = pdf["k"].dropna().unique()
        n_bits, n_hashes = sizing(len(keys), fpp)
        return pd.DataFrame(
            {
                "file": [pdf["file"].iloc[0]],
                "n_keys": [len(keys)],
                "n_bits": [n_bits],
                "n_hashes": [n_hashes],
                "bitset": [build_bloom(keys, n_bits, n_hashes)],
            }
        )

    (
        spark.read.orc(path)
        .select(
            F.input_file_name().alias("file"),
            F.col(col).cast("long").alias("k"),
        )
        .groupBy("file")
        .applyInPandas(
            make,
            "file string, n_keys long, n_bits long, n_hashes long,"
            " bitset binary",
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(index_path)
    )


def bloom_pruned_read(
    spark: SparkSession,
    path: str,
    index_path: str,
    col: str,
    key: int,
) -> DataFrame:
    """Point lookup ``col == key`` reading ONLY the files whose bloom
    admits the key. Blooms have no false negatives, so the result is
    identical to a full-scan filter; false positives cost one extra
    file open each, removed by the exact filter.

    The bitset probes run ON EXECUTORS (a pandas UDF filter over the
    index DataFrame, :func:`bloom_admitted_files`); only the admitted
    file NAMES cross to the driver. This matters at scale: the index
    is one row per file but each row's bitset is ~1.2 bytes per
    distinct key, so total index bytes grow with table cardinality,
    not file count — collecting the bitsets to the driver (the
    round-3 shape) would be a multi-GB pull per lookup on a 100 TB
    high-cardinality key. The admitted-name list is genuinely
    driver-sized: it is the read plan.
    """
    files = [
        r.file for r in bloom_admitted_files(spark, index_path, key).collect()
    ]
    if not files:
        return spark.read.orc(path).filter(F.lit(False))
    return spark.read.orc(files).filter(F.col(col) == F.lit(key))


def bloom_admitted_files(
    spark: SparkSession, index_path: str, key: int
) -> DataFrame:
    """The distributed half of :func:`bloom_pruned_read`: a
    single-column ``file`` DataFrame of index rows whose bloom admits
    ``key``. The probe is a pandas UDF filter, so bitsets are read,
    probed, and discarded executor-side; the driver only ever sees
    names. One Python invocation per FILE (not per data row) — the
    index is Arrow-batched through the UDF in one map stage."""
    from pyspark.sql.functions import pandas_udf

    from flink_orc_sink_spark.functions.bloom import might_contain

    @pandas_udf("boolean")
    def admits(
        bitset: pd.Series, n_bits: pd.Series, n_hashes: pd.Series
    ) -> pd.Series:
        probe = pd.Series([key])
        return pd.Series(
            [
                bool(might_contain(b, int(nb), int(nh), probe).iloc[0])
                for b, nb, nh in zip(bitset, n_bits, n_hashes)
            ]
        )

    return (
        spark.read.parquet(index_path)
        .filter(admits("bitset", "n_bits", "n_hashes"))
        .select("file")
    )


def erase_keys_orc(
    spark: SparkSession,
    base_path: str,
    keys: DataFrame,
    key_col: str,
    bucket_col: str,
    compression: str = "zstd",
) -> None:
    """RIGHT-TO-ERASURE (GDPR/CCPA delete) on a key-bucket-partitioned
    ORC table: physically remove every row whose ``key_col`` is in
    ``keys``, rewriting ONLY the bucket partitions those keys hash to.

    The deletion set is small by nature (a deletion request batch),
    so it broadcasts ONCE: one scan finds the touched buckets and the
    erased keys present in each (at most the request's keys reach the
    driver), and the rewrite drops those keys by value. Untouched
    buckets are not read, not written, not listed
    (:func:`overwrite_buckets`) — at 100 TB an erasure request costs a
    few buckets' I/O, not a table rewrite. A touched bucket the erase
    empties is deleted, not left with its old files. Mtime-stability
    of untouched buckets is pytest-asserted
    (tests/test_maintenance.py), same contract as the streaming CDC
    merge's pruned rewrite.
    """
    base = spark.read.orc(base_path)
    hit = (
        base
        # bounded-broadcast: erase key set: O(deleted) by the GDPR-erase contract
        .join(F.broadcast(keys), key_col, "left_semi")
        .select(bucket_col, key_col)
        .distinct()
        .collect()
    )
    if not hit:
        return
    buckets = sorted({b for b, _ in hit})
    # a null key is in no erase set: coalesce keeps its row
    erased = F.coalesce(F.col(key_col).isin([k for _, k in hit]), F.lit(False))
    remaining = base.filter(F.col(bucket_col).isin(buckets) & ~erased)
    overwrite_buckets(
        remaining.repartition(bucket_col), base_path, [bucket_col],
        [(b,) for b in buckets], compression=compression,
    )


def write_orc_validated(
    df: DataFrame,
    valid_path: str,
    quarantine_path: str,
    expectation: Column,
    compression: str = "zstd",
) -> None:
    """VALIDATED WRITE with a dead-letter path: rows satisfying
    ``expectation`` land in ``valid_path``, the rest — unchanged, so
    they can be inspected and replayed — in ``quarantine_path``. The
    ingestion contract every production pipeline needs: a bad record
    must never poison the table NOR disappear.

    One scan feeds both writes (the filter is pushed into each
    branch; at 100 TB the quarantine branch's selectivity makes its
    write nearly free). Both writes use the same committed ORC path
    as :func:`write_orc` — a crash mid-way leaves only invisible
    temporaries on either side.
    """
    df.filter(expectation).write.mode("overwrite").format("orc").option(
        "compression", compression
    ).save(valid_path)
    df.filter(~F.coalesce(expectation, F.lit(False))).write.mode(
        "overwrite"
    ).format("orc").option("compression", compression).save(
        quarantine_path
    )
