"""SparkSession factory with scale-aware defaults.

The reference wires its runtime in the Flink job builder
(``OrcSinkTest.java:16-21``: checkpointing every 30 s, parallelism 1).
Our equivalent is a tuned ``SparkSession``: AQE for runtime re-planning,
shuffle partitions sized to the local core count (overridable for a real
cluster), Arrow for the Pandas-UDF edges, native vectorized ORC, and UTC
session time so timestamp semantics are stable across engines (the
reference instead subtracts 8h for display, ``RowOrcBucketingSink.java:196-198``
— we report UTC, SURVEY.md §2.3 T4).
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "flink_orc_sink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Defaults target the test harness (``local[$SPARK_GRAFT_CPUS]``) but
    every knob here is what we would set on a 1000-executor cluster too:
    AQE (incl. skew-join splitting), partial-agg-friendly shuffle sizing,
    broadcast threshold generous enough for the dimension tables.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # In local mode driver == executor JVM; the 1g default heap
        # starves 32 concurrent tasks (GCLocker thrash observed at a
        # 16x scale probe). Only effective when this call launches the
        # JVM — a pre-existing session keeps its own sizing.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce small shuffle partitions, split skewed ones,
        # convert to broadcast join at runtime when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow batches for the Pandas-UDF edges (vector ops, multimodal).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Native vectorized ORC reader/writer — the Spark-side replacement
        # for the reference's hand-rolled VectorizedRowBatch encoder
        # (RowOrcWriter.java:38,116-119).
        .config("spark.sql.orc.impl", "native")
        .config("spark.sql.orc.enableVectorizedReader", "true")
        # Stable timestamp semantics vs external readers (DuckDB oracle).
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is TIMESTAMP(NANOS) parquet, which Spark rejects by
        # default; read as int64 ns and convert in sources.catalog.table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # RocksDB state store: streaming state spills to local disk
        # instead of living on the JVM heap (HDFSBackedStateStore keeps
        # every key in memory — the thing that dies first when a
        # 100 TB/day stream's key space grows). Same results, bounded
        # memory; queries still run correctly under a caller session
        # without this conf (it is read per-query at stream start).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # Changelog checkpointing: commit the per-batch DELTA to the
        # checkpoint instead of a full RocksDB snapshot — the
        # production setting for any non-trivial state size, and
        # measurably cheaper per micro-batch here too.
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
        # Dimension tables up to 64 MiB broadcast instead of shuffling.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# --- Hadoop-FS helpers (shared by streaming sinks + index retention) --
# Index/state probes must resolve against the SAME filesystem Spark
# writes to. Driver-local ``os.path`` probes silently answer False for
# an ``hdfs://``/``s3a://`` path (the 100 TB shape), which would e.g.
# recompute CDC deltas against a phantom 'absent' state instead of
# marker-skipping the replay. These wrappers go through the JVM Hadoop
# FileSystem (resolved per-path URI, so ``file:``, ``hdfs:`` and
# ``s3a:`` behave identically); ``os.path.join`` on the path STRINGS
# remains fine (URI-safe "/" join).


def _context_cache(spark: SparkSession) -> dict:
    """The cache of py4j handles: FileSystems keyed by ``(scheme,
    authority)``, JVM classes by their dotted name. It lives on the
    ``SparkContext``, not on the session wrapper: PySpark wraps every
    ``foreachBatch`` micro-batch in a new ``SparkSession``
    (``ForeachBatchFunction.call``), and all of them share the
    context. The FileSystems resolve against the context's Hadoop
    conf, and the cache dies with the context, so a restarted context
    re-resolves cleanly."""
    sc = spark.sparkContext
    cache = getattr(sc, "_fosp_py4j_cache", None)
    if cache is None:
        cache = sc._fosp_py4j_cache = {}
    return cache


def jvm_class(spark: SparkSession, name: str):
    """The py4j handle of the JVM class ``name`` (dotted), resolved
    once per Spark context. Evaluating ``spark._jvm.org.apache...Path``
    costs a py4j round trip per package level every time; a cached
    handle costs none, so a call is one round trip. This is the one
    place the package does such a walk (``tools/audit_plans.py``
    flags any other)."""
    cache = _context_cache(spark)
    cls = cache.get(name)
    if cls is None:
        cls = spark._jvm
        for part in name.split("."):
            cls = getattr(cls, part)
        cache[name] = cls
    return cls


def hadoop_path(spark: SparkSession, path: str):
    """A JVM ``org.apache.hadoop.fs.Path`` for ``path``."""
    return jvm_class(spark, "org.apache.hadoop.fs.Path")(path)


def hadoop_fs(spark: SparkSession, path: str):
    """Resolved ``(FileSystem, Path)`` for ``path``.

    Both the ``Path`` class and the FileSystem handle come from the
    per-context cache (:func:`jvm_class`; FileSystems per
    ``(scheme, authority)``): a stateful sink probes several paths per
    micro-batch, and re-resolving either pays extra py4j round trips
    each time (Hadoop's own JVM-side ``FileSystem.get`` cache doesn't
    help the Python caller)."""
    jpath = hadoop_path(spark, path)
    uri = jpath.toUri()
    key = (uri.getScheme(), uri.getAuthority())
    cache = _context_cache(spark)
    fs = cache.get(key)
    if fs is None:
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        cache[key] = fs
    return fs, jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = hadoop_fs(spark, path)
    return fs.exists(p)


def fs_mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = hadoop_fs(spark, path)
    fs.mkdirs(p)


def fs_rmtree(spark: SparkSession, path: str) -> None:
    fs, p = hadoop_fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def fs_list_names(spark: SparkSession, path: str) -> list[str]:
    """Child entry names of ``path`` (non-recursive); empty when the
    directory is missing. One ``listStatus`` round-trip."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def fs_dir_size(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` (0 when missing) — one
    ``getContentSummary`` call (namenode-side on HDFS, a local walk on
    ``file://``). Used by the retract sinks' LSM fold trigger, where a
    cheap size RATIO decides when the delta log is folded into the
    base — the decision must not require reading any data files."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return 0
    return int(fs.getContentSummary(p).getLength())


# --- Streaming query start (every writeStream in the package) ---------
# Which checkpoint manager each scheme gets, and the per-call costs
# behind the choice, are in the ``streaming/orc_sink.py`` docstring.
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_START_LOCK = threading.Lock()


def start_stream(writer, spark: SparkSession, checkpoint: str):
    """``writer.start()`` with the checkpoint manager chosen by the
    scheme of ``checkpoint``: ``FileSystemBasedCheckpointFileManager``
    on ``file:``, Spark's default elsewhere. ``spark`` is the session of
    the streamed DataFrame.

    On ``file:`` the manager is set only for the ``start()`` call,
    under a module lock, and unset in a ``finally``. Inside
    ``start()`` the query builds its file-sink log and clones the
    session; its offset and commit logs and its state-store files take
    their manager from that clone. So they keep the manager after the
    setting is gone, while the caller's session is left as found. A query another thread starts
    on the same session during that call gets the manager too, as does
    a file source whose log the stream thread builds before the unset.
    A value the caller set is never overridden or removed.
    ``tools/audit_plans.py`` flags any ``writeStream`` start made
    elsewhere."""
    conf = spark.conf
    fs, _ = hadoop_fs(spark, checkpoint)
    if fs.getScheme() != "file":
        return writer.start()
    with _START_LOCK:
        if conf.get(CHECKPOINT_MANAGER_KEY, None) is not None:
            return writer.start()
        conf.set(CHECKPOINT_MANAGER_KEY, LOCAL_CHECKPOINT_MANAGER)
        try:
            return writer.start()
        finally:
            conf.unset(CHECKPOINT_MANAGER_KEY)


def _any_data_file(statuses, suffix: str) -> bool:
    for st in statuses:
        name = st.getPath().getName()
        if name.endswith(suffix) and not name.startswith(("_", ".")):
            return True
    return False


def orc_data_files_exist(spark: SparkSession, path: str) -> bool:
    """True when ``path`` holds at least one ORC data file. A
    directory that exists but contains only ``_SUCCESS`` (an
    all-empty write — e.g. a first micro-batch of pure tombstones)
    must read as ABSENT: ``spark.read.orc`` on it throws an
    unable-to-infer-schema AnalysisException.

    Probe cost is BOUNDED (round-6 advisory): the lazy recursive
    iterator early-exits on the first data file — measured FLAT
    (~15-25 ms) from 32 to 12k state files on the package's own
    layouts, whose dirs front a data file within a couple of entries
    — but is capped at 64 py4j entry round-trips so a directory
    fronted by thousands of non-ORC files can't make the probe
    linear-in-dir-size at ~1 ms/entry (measured: 5.3 s at 3k such
    entries uncapped). Past the cap, bounded-depth ``globStatus``
    calls take over: the glob enumerates JVM-side (~17 µs/file, two
    orders cheaper than py4j iteration) and every state layout here
    is ≤2 partition levels deep; anything deeper resumes the full
    walk for correctness."""
    fs, p = hadoop_fs(spark, path)
    if not fs.exists(p):
        return False
    it = fs.listFiles(p, True)
    seen = 0
    while it.hasNext():
        if seen >= 64:
            break
        name = it.next().getPath().getName()
        if name.endswith(".orc") and not name.startswith(("_", ".")):
            return True
        seen += 1
    else:
        return False  # fully enumerated: genuinely no data files
    # glob metacharacters in the BASE path are backslash-escaped so a
    # bracketed directory name can't be glob-interpreted (an unclosed
    # '[' would even throw from globStatus)
    esc = re.sub(r"([*?\[\]{}\\])", r"\\\1", path.rstrip("/"))
    for depth in range(3):
        pat = hadoop_path(spark, esc + "/*" * depth + "/*.orc")
        if _any_data_file(fs.globStatus(pat) or [], ".orc"):
            return True
    it = fs.listFiles(p, True)  # >2-deep layout fallback
    while it.hasNext():
        name = it.next().getPath().getName()
        if name.endswith(".orc") and not name.startswith(("_", ".")):
            return True
    return False


def spread_for_py_udf(proj, target_stat_bytes: int = 64 * 1024):
    """Spread an under-split projection feeding a CPU-heavy PYTHON
    (Arrow) map stage — with a task count derived from the INPUT's
    plan-statistics size, not the constant ``defaultParallelism``
    (guide §2: scale-adaptive partitioning, never a local-mode
    constant).

    Why not always-to-parallelism: a Python task costs ~250 ms of
    worker CPU in FIXED per-task overhead on Spark 4.1 (measured with
    an identity pandas UDF: 32 tasks = 8.0 s worker CPU and 0.5-0.8 s
    wall regardless of row count, vs 0.2 s CPU at 1 task), so
    spreading a small input 32-wide pays 32 overheads to parallelize
    a sub-second kernel. Measured on the sf0.1 MinHash signature
    stage: 1 task = 1.05 s/eval, 4 = 0.65 s, 8 = 0.6 s,
    32 = 0.8 s wall (9.8 s CPU). The bytes-derived count lands on the
    flat part of that curve at every scale: ~4 tasks at sf0.1, the
    full parallelism for anything over ~2 MB of plan-stat bytes per
    32 cores. At production split counts the input arrives with
    >= parallelism partitions and this is a no-op.

    Only for PYTHON-boundary stages: JVM map stages (tokenize/
    explode) have ~ms task overhead and keep their plain
    to-parallelism spread; superlinear kernels (all-pairs cosine)
    must NOT size by bytes — their cost is O(rows²), see
    operators/similarity.py.

    Callers pass file-scan or localCheckpoint-rooted projections:
    ``.rdd`` on a plan with upstream shuffles would force query-stage
    materialization under AQE (round-12 advice)."""
    sc = proj.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        cur = proj.rdd.getNumPartitions()
    except Exception:
        return proj
    if cur >= par:
        return proj
    try:
        size = int(
            proj._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        size = None
    want = (
        par
        if size is None
        else max(1, min(par, -(-size // target_stat_bytes)))
    )
    if cur >= want:
        return proj
    return proj.repartition(want)


def release_local_checkpoint(df) -> None:
    """Free the executor-storage blocks held by a DataFrame returned
    from ``localCheckpoint``.

    ``Dataset.unpersist`` goes through the CacheManager, which tracks
    only ``persist()`` caches — it silently NO-OPS on checkpoint
    blocks (verified on Spark 4.1: ``getRDDStorageInfo`` still lists
    the RDD after ``df.unpersist()``). The blocks belong to the RDD
    inside the plan's ``LogicalRDD`` node, so release THAT RDD. On a
    long-running stream one leaked block set per trigger is unbounded
    executor storage growth — every ``foreachBatch`` body that
    checkpoints must call this once the batch's writes land
    (``tools/audit_plans.py`` enforces the pairing).

    Only call on a MATERIALIZED checkpoint (``eager=True``, or lazy
    after an action ran): unpersisting a never-materialized lazy
    checkpoint would strip the storage level its later
    materialization depends on. No-op when the plan isn't the
    checkpoint root (nothing safely freeable) or on any py4j
    hiccup — releasing storage must never fail the query itself.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass


def local_df(spark, rows, schema: str):
    """JVM-cheap small local DataFrame.

    ``spark.createDataFrame(<python list>)`` plans a Python-RDD scan:
    EVERY job touching the frame round-trips a Python worker (~5 s
    per job in this container, measured on a 32-row write — and a
    join against such a frame pays it on every downstream action).
    Routing the same rows through a pandas frame engages the Arrow
    conversion, which lands driver-side as JVM-local data: the same
    write drops to ~0.2 s and downstream jobs never touch Python.
    Use for every literal dim table / probe list / metadata frame;
    keep plain ``createDataFrame`` only where a test wants the
    Python-RDD path itself.

    ``schema`` is a DDL string (``"cell int, centroid
    array<double>"``) or a ``StructType``; column order in ``rows``
    (tuples) must match.
    """
    import pandas as pd

    if isinstance(schema, str):
        names = [
            f.split(None, 1)[0].strip("`")
            for f in _split_ddl_fields(schema)
        ]
    else:
        names = list(schema.fieldNames())
    pdf = pd.DataFrame.from_records(list(rows), columns=names)
    prev = spark.conf.get(
        "spark.sql.execution.arrow.pyspark.enabled", "true"
    )
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    try:
        return spark.createDataFrame(pdf, schema=schema)
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.pyspark.enabled", prev
        )


def _split_ddl_fields(schema: str) -> list[str]:
    """Split a DDL column list on top-level commas (commas inside
    ``array<...>`` / ``struct<...>`` / ``decimal(...)`` don't count)."""
    out, depth, cur = [], 0, []
    for ch in schema:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out
