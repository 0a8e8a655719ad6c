"""Streaming exactly-once ORC sink lifecycle (SURVEY.md §5 item 2).

The reference's core claim is exactly-once file output across
checkpoint-aligned commits (``README.md:3``, lifecycle at
``RowOrcBucketingSink.java:153-213``). Here: file-source micro-batches
→ ORC sink with checkpoint; stop the query mid-stream; restart; assert
committed rows are exactly the input set — no loss, no duplicates.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_orc_sink_spark.streaming import (
    WatermarkTracker,
    csv_parse,
    read_committed_orc,
    stream_from_files,
    stream_write_orc,
)

# Tiers: one test per stateful sink, the plain fold's crash window, the
# tombstone-cleanup order column and the state-dir layout run by
# default; the other crash/replay/convergence integration tests carry
# the `slow` mark (see pytest.ini).


def _write_input(spark, path: str, ids: range) -> None:
    spark.createDataFrame(
        [(i, f"u{i % 5}") for i in ids], "id long, user string"
    ).coalesce(1).write.mode("append").parquet(path)


@pytest.mark.slow
def test_exactly_once_across_restart(spark, tmp_path):
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # epoch 1: first input file, drain with availableNow, stop.
    _write_input(spark, src, range(0, 100))
    stream = stream_from_files(spark, src, "id LONG, user STRING")
    q = stream_write_orc(stream, out, ckpt, trigger={"availableNow": True})
    q.awaitTermination(120)
    assert read_committed_orc(spark, out).count() == 100

    # epoch 2: more input arrives while "down"; restart from the same
    # checkpoint — replays nothing already committed, picks up the new
    # file exactly once.
    _write_input(spark, src, range(100, 250))
    stream2 = stream_from_files(spark, src, "id LONG, user STRING")
    q2 = stream_write_orc(stream2, out, ckpt, trigger={"availableNow": True})
    q2.awaitTermination(120)

    back = read_committed_orc(spark, out)
    assert back.count() == 250  # no duplicates, no loss
    ids = {r.id for r in back.select("id").collect()}
    assert ids == set(range(250))

    # a third restart with no new input commits nothing new
    q3 = stream_write_orc(
        stream_from_files(spark, src, "id LONG, user STRING"),
        out, ckpt, trigger={"availableNow": True},
    )
    q3.awaitTermination(120)
    assert read_committed_orc(spark, out).count() == 250


@pytest.mark.slow
def test_partitioned_streaming_sink(spark, tmp_path):
    """Bucketer parity: partition column routes rows to k=v dirs
    (RowOrcBucketingSink.java:41,111) under streaming commit."""
    src = str(tmp_path / "in")
    out = tmp_path / "out"
    ckpt = str(tmp_path / "ckpt")
    _write_input(spark, src, range(0, 50))
    stream = stream_from_files(spark, src, "id LONG, user STRING")
    q = stream_write_orc(
        stream, str(out), ckpt,
        partition_cols=["user"], trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert (out / "user=u0").is_dir()
    back = read_committed_orc(spark, str(out))
    assert back.count() == 50
    assert back.filter(F.col("user") == "u1").count() == 10


@pytest.mark.slow
def test_watermark_tracking(spark, tmp_path):
    """T4/T6 parity: withWatermark + windowed agg; the listener
    observes the event-time watermark advancing (UTC, no −8h hack —
    RowOrcBucketingSink.java:196-198 deviation documented)."""
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    rows = [(i, f"2024-01-01 0{i % 10}:00:00") for i in range(10)]
    spark.createDataFrame(rows, "id long, ts_s string").withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s").coalesce(1).write.mode("append").parquet(src)

    tracker = WatermarkTracker()
    spark.streams.addListener(tracker)
    try:
        stream = stream_from_files(spark, src, "id LONG, ts TIMESTAMP")
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"))
            .agg(F.count("*").alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("wm_sink")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # two micro-batches happen under availableNow; watermark is
        # published in progress events after the first batch.
        assert tracker.last_watermark is not None
        assert tracker.last_watermark.endswith("Z")  # UTC
    finally:
        spark.streams.removeListener(tracker)


@pytest.mark.slow
def test_csv_parse_demo_parity(spark):
    """P1: the reference demo's map (OrcSinkTest.java:32-37)."""
    lines = spark.createDataFrame([("1,2",), ("3,4",), ("bad",)], "value string")
    out = csv_parse(lines)
    got = {(r.x, r.y) for r in out.collect()}
    assert (1, 2) in got and (3, 4) in got
    # malformed line -> nulls, not a crash (improvement over the
    # reference's raw Integer.parseInt)
    assert (None, None) in got


@pytest.mark.slow
def test_foreachbatch_sink_idempotent_replay(spark, tmp_path):
    """The foreachBatch custom sink's exactly-once mechanism is
    idempotence: (1) a restart on a drained checkpoint writes nothing
    new; (2) a crash-replayed micro-batch (same batch id, same data)
    overwrites its own partition instead of duplicating rows."""
    from pyspark.sql import functions as F

    from flink_orc_sink_spark.streaming import (
        stream_from_files,
        stream_write_orc_foreachbatch,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    ).coalesce(1).write.mode("append").parquet(src)

    def run():
        q = stream_write_orc_foreachbatch(
            stream_from_files(spark, src, "id LONG, v DOUBLE"),
            out,
            checkpoint=ckpt,
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    run()
    assert spark.read.orc(out).count() == 100
    run()  # restart on drained checkpoint: no-op
    assert spark.read.orc(out).count() == 100
    # simulate a crash-replay of batch 0: same id, same data, again
    (
        spark.read.parquet(src)
        .withColumn("batch_id", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .orc(out)
    )
    assert spark.read.orc(out).count() == 100  # overwrote, not appended


def test_stream_cdc_apply_incremental_and_restart(spark, tmp_path):
    """Streaming CDC merge: (1) batches compose incrementally —
    feeding changes in two phases converges to latest-per-key over the
    whole feed; (2) a restart on a drained checkpoint is a no-op;
    (3) delete tombstones suppress keys until a later upsert wins."""
    from pyspark.sql import functions as F

    from flink_orc_sink_spark.streaming import (
        stream_cdc_apply_orc,
        stream_from_files,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, seq long, op string, v long"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        q = stream_cdc_apply_orc(
            stream_from_files(spark, src, schema),
            state,
            checkpoint=ckpt,
            key_col="k",
            order_cols=["seq"],
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    def live():
        from flink_orc_sink_spark.streaming import read_cdc_table

        return {
            (r.k, r.seq, r.v)
            for r in read_cdc_table(spark, state)
            .filter(F.col("op") == "U")
            .collect()
        }

    feed([(1, 1, "U", 10), (2, 1, "U", 20), (3, 1, "U", 30)])
    run()
    assert live() == {(1, 1, 10), (2, 1, 20), (3, 1, 30)}

    # phase 2: update k=1, delete k=2, new k=4 — merges into state
    feed([(1, 2, "U", 11), (2, 2, "D", 0), (4, 1, "U", 40)])
    run()
    assert live() == {(1, 2, 11), (3, 1, 30), (4, 1, 40)}

    run()  # restart on drained checkpoint: no-op
    assert live() == {(1, 2, 11), (3, 1, 30), (4, 1, 40)}

    # phase 3: re-insert k=2 after its tombstone — upsert wins. The
    # round-9 LSM I/O contract: a micro-batch only APPENDS its log
    # partition (no base bucket is ever rewritten per batch), and a
    # FOLD rewrites exactly the buckets the log touches.
    import glob
    import os
    import time

    from flink_orc_sink_spark.streaming import fold_retract_state

    fold_retract_state(spark, state)  # materialize the base
    assert not os.path.isdir(f"{state}/state_log")

    def bucket_mtimes():
        return {
            d: max(
                (os.path.getmtime(f) for f in glob.glob(d + "/*")),
                default=0,
            )
            for d in glob.glob(state + "/state/kp=*")
        }

    before = bucket_mtimes()
    assert before, "fold produced no base buckets"
    time.sleep(1.1)
    feed([(2, 3, "U", 22)])
    run()
    assert live() == {(1, 2, 11), (2, 3, 22), (3, 1, 30), (4, 1, 40)}
    after = bucket_mtimes()
    touched = {d for d in before if after[d] != before[d]}
    assert touched == set(), f"batch rewrote base buckets: {touched}"
    # ... and the fold rewrites ONLY k=2's bucket
    stats = fold_retract_state(spark, state)
    assert stats["buckets_rewritten"] == 1, stats
    after2 = bucket_mtimes()
    touched2 = {d for d in before if after2[d] != before[d]}
    assert len(touched2) == 1, f"expected 1 folded bucket, got {touched2}"
    assert live() == {(1, 2, 11), (2, 3, 22), (3, 1, 30), (4, 1, 40)}


@pytest.mark.slow
def test_stream_cdc_apply_no_storage_leak(spark, tmp_path):
    """The CDC sink localCheckpoints every micro-batch; without the
    paired unpersist each trigger leaks one executor-storage block —
    unbounded growth on a long-running stream (round-4 verdict #2;
    the reference's whole T1-T3 story is long-running sink hygiene,
    RowOrcBucketingSink.java:153-213). Drive ≥3 micro-batches and
    assert the JVM block manager holds NO cached RDDs afterwards."""
    import time

    from flink_orc_sink_spark.streaming import (
        stream_cdc_apply_orc,
        stream_from_files,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, seq long, op string, v long"

    def cached_rdds():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    baseline = cached_rdds()
    for batch in range(3):
        spark.createDataFrame(
            [(k, batch + 1, "U", 100 * batch + k) for k in range(5)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q = stream_cdc_apply_orc(
            stream_from_files(spark, src, schema),
            state,
            checkpoint=ckpt,
            key_col="k",
            order_cols=["seq"],
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)
    # unpersist(blocking=False) is async in the block manager — give
    # it a moment, then require we're back at the baseline.
    deadline = time.time() + 10
    while cached_rdds() > baseline and time.time() < deadline:
        time.sleep(0.2)
    assert cached_rdds() <= baseline, (
        f"{cached_rdds() - baseline} cached RDD(s) leaked across 3 "
        "micro-batches (localCheckpoint without unpersist)"
    )
    # and the merge itself still converged to latest-per-key
    from pyspark.sql import functions as F

    from flink_orc_sink_spark.streaming import read_cdc_table

    rows = {
        (r.k, r.v)
        for r in read_cdc_table(spark, state)
        .filter(F.col("op") == "U")
        .collect()
    }
    assert rows == {(k, 200 + k) for k in range(5)}


@pytest.mark.slow
def test_backfill_to_live_handoff_exactly_once(spark, tmp_path):
    """The reference's replay story (README.md:19-22: rebuild state,
    rewind Kafka offsets) as the Spark-native BACKFILL → LIVE handoff:
    drain the historical backlog with trigger=availableNow, then
    reopen the SAME checkpoint under a continuous processingTime
    trigger for live data. The source WAL must carry the file cursor
    across the trigger-mode switch — committed rows stay exactly the
    union of backlog + live, no replays, no gaps, manifest hides
    nothing else."""
    import time

    from pyspark.sql import functions as F

    from flink_orc_sink_spark.streaming import (
        read_committed_orc,
        stream_from_files,
        stream_write_orc,
    )

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def feed(lo, hi):
        spark.range(lo, hi).select(
            F.col("id"), (F.col("id") * 10).alias("v")
        ).coalesce(1).write.mode("append").parquet(src)

    # phase 1: 3-file backlog, drained under availableNow (backfill)
    feed(0, 40)
    feed(40, 70)
    feed(70, 100)
    q = stream_write_orc(
        stream_from_files(spark, src, "id LONG, v LONG"),
        out,
        checkpoint=ckpt,
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert read_committed_orc(spark, out).count() == 100

    # phase 2: SAME checkpoint, continuous trigger — live rows arrive
    # while the query runs; the cursor must resume past the backlog.
    q = stream_write_orc(
        stream_from_files(spark, src, "id LONG, v LONG"),
        out,
        checkpoint=ckpt,
        trigger={"processingTime": "1 seconds"},
    )
    try:
        feed(100, 130)
        feed(130, 150)
        deadline = time.time() + 60
        while time.time() < deadline:
            if read_committed_orc(spark, out).count() >= 150:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination(30)

    got = read_committed_orc(spark, out)
    assert got.count() == 150  # no replays of the backlog, no gaps
    ids = sorted(r.id for r in got.select("id").collect())
    assert ids == list(range(150))
    assert got.filter(F.col("v") != F.col("id") * 10).count() == 0


@pytest.mark.slow
def test_socket_demo_pipeline_end_to_end(spark, tmp_path):
    """The reference demo VERBATIM (OrcSinkTest.java:16-40): a live
    TCP socket text source → CSV parse → exactly-once ORC sink —
    driven against a real in-process localhost server (the sandbox
    allows loopback sockets, so S1 is testable after all; a 1 s
    commit cadence replaces the demo's 30 s). Committed rows must be
    exactly the lines sent, and the manifest must hide nothing else."""
    import socket
    import threading
    import time

    from flink_orc_sink_spark.streaming.orc_sink import (
        demo_socket_to_orc,
        read_committed_orc,
    )

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)
    sent = [(i, i * 10) for i in range(1, 21)]

    def serve():
        conn, _ = srv.accept()
        for x, y in sent:
            conn.sendall(f"{x},{y}\n".encode())
        time.sleep(15)  # keep the connection up past the last commit
        conn.close()

    threading.Thread(target=serve, daemon=True).start()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = demo_socket_to_orc(
        spark, "127.0.0.1", port, out, ckpt, trigger_seconds=1
    )
    deadline = time.time() + 60
    got = []
    while time.time() < deadline:
        try:
            got = read_committed_orc(spark, out).collect()
        except Exception:
            got = []
        if len(got) >= len(sent):
            break
        time.sleep(1)
    q.stop()
    srv.close()
    assert sorted((r.x, r.y) for r in got) == sent


@pytest.mark.slow
def test_stream_quarantine_splits_and_replays(spark, tmp_path):
    """Streaming DLQ: every input row lands on exactly one side
    (NULL-expectation rows quarantine), and both sides are batch-id
    partitioned for idempotent replay."""
    import glob

    from flink_orc_sink_spark.streaming.orc_sink import (
        stream_quarantine_orc,
    )

    src = str(tmp_path / "in")
    (
        spark.createDataFrame(
            [(1, 10.0), (2, -3.0), (3, None), (4, 0.0)],
            "id long, v double",
        )
        .coalesce(1)
        .write.parquet(src)
    )
    sdf = spark.readStream.schema("id long, v double").parquet(src)
    valid, quar = str(tmp_path / "valid"), str(tmp_path / "dlq")
    q = stream_quarantine_orc(
        sdf,
        valid,
        quar,
        str(tmp_path / "ckpt"),
        F.col("v") >= 0,
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    g = {r.id for r in spark.read.orc(valid).collect()}
    b = spark.read.orc(quar).collect()
    assert g == {1, 4}
    assert {r.id for r in b} == {2, 3}
    assert {r.v for r in b if r.id == 2} == {-3.0}  # unchanged
    # batch-id partitioning present on both sides
    assert glob.glob(f"{valid}/batch_id=*") and glob.glob(
        f"{quar}/batch_id=*"
    )


@pytest.mark.slow
def test_stream_fanout_atomic_across_tables(spark, tmp_path):
    """Multi-table fan-out commit protocol: (1) a committed batch is
    visible in BOTH tables; (2) a torn batch — one table written, no
    marker, the crash-between-table-writes state — is invisible in
    ALL tables, even garbage left behind by the dying attempt; (3)
    the checkpoint replay overwrites the torn partition and only then
    marks, after which both tables show the batch; (4) replay-
    duplicated marker rows don't duplicate results."""
    from pyspark.sql import functions as F

    from flink_orc_sink_spark.streaming import (
        read_committed_fanout,
        stream_fanout_orc,
        stream_from_files,
    )

    src = str(tmp_path / "in")
    raw = str(tmp_path / "raw")
    stats = str(tmp_path / "stats")
    commits = str(tmp_path / "commits")
    ckpt = str(tmp_path / "ckpt")
    outputs = {
        "raw": (raw, None),
        "stats": (
            stats,
            lambda d: d.groupBy("user").agg(F.count("*").alias("n")),
        ),
    }

    def run():
        q = stream_fanout_orc(
            stream_from_files(spark, src, "id LONG, user STRING"),
            outputs,
            commits,
            ckpt,
            trigger={"availableNow": True},
        )
        assert q.awaitTermination(120), "fanout stream did not drain"

    def write_input(ids):
        spark.createDataFrame(
            [(i, f"u{i % 3}") for i in ids], "id long, user string"
        ).coalesce(1).write.mode("append").parquet(src)

    # (1) batch 0 through the real sink: visible in both tables
    write_input(range(0, 100))
    run()
    assert read_committed_fanout(spark, raw, commits).count() == 100
    got = {
        (r.user, r.n)
        for r in read_committed_fanout(spark, stats, commits).collect()
    }
    assert got == {("u0", 34), ("u1", 33), ("u2", 33)}

    # (2) torn batch: the crash-between-writes state — raw's batch-1
    # partition holds a dying attempt's GARBAGE, stats has nothing,
    # no marker. Committed reads of BOTH tables must not move.
    (
        spark.createDataFrame(
            [(-1, "garbage")], "id long, user string"
        )
        .withColumn("batch_id", F.lit(1))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .orc(raw)
    )
    assert read_committed_fanout(spark, raw, commits).count() == 100
    assert read_committed_fanout(spark, stats, commits).count() == 3

    # (3) recovery: the real batch 1 arrives, replay through the same
    # checkpoint overwrites the torn partition, then marks — both
    # tables flip to the new batch together, garbage gone
    write_input(range(100, 250))
    run()
    back = read_committed_fanout(spark, raw, commits)
    assert back.count() == 250
    assert back.filter(F.col("id") < 0).count() == 0
    stats_back = read_committed_fanout(spark, stats, commits)
    assert stats_back.groupBy("user").agg(
        F.sum("n").alias("n")
    ).filter(F.col("user") == "u0").collect()[0].n == 84  # 34 + 50

    # (4) a crash right around the marker write can replay the marker
    # append itself — duplicate marker rows must not duplicate rows
    spark.createDataFrame([(0,)], "batch_id long").coalesce(1).write.mode(
        "append"
    ).parquet(commits)
    assert read_committed_fanout(spark, raw, commits).count() == 250


def test_stream_scd2_late_row_splits_interval(spark, tmp_path):
    """SCD2 maintenance must absorb OUT-OF-ORDER arrival: a late
    change landing between two existing versions splits the chain,
    and a late row landing between two consecutive REPEATS turns the
    second repeat into a version start — the case an interval-only
    state (which discards repeats) gets wrong. Also: replaying the
    whole feed through a fresh checkpoint into the same state is a
    no-op (full-row-distinct merge)."""
    from flink_orc_sink_spark.streaming import (
        stream_from_files,
        stream_scd2_apply_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = "k long, attr string, ts long, seq long"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(ckpt):
        q = stream_scd2_apply_orc(
            stream_from_files(spark, src, schema),
            state,
            checkpoint=str(tmp_path / ckpt),
            key_col="k",
            attr_col="attr",
            ts_col="ts",
            order_cols=["ts", "seq"],
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    def history():
        from flink_orc_sink_spark.streaming import read_scd2_history

        return {
            (r.k, r.attr, r.version, r.effective_from, r.effective_to)
            for r in read_scd2_history(spark, state).collect()
        }

    # k=1: A@10, A@30 (consecutive repeat -> ONE interval)
    # k=2: A@10, B@30 (two intervals)
    feed([(1, "A", 10, 1), (1, "A", 30, 2), (2, "A", 10, 3), (2, "B", 30, 4)])
    run("ckpt1")
    assert history() == {
        (1, "A", 1, 10, None),
        (2, "A", 1, 10, 30),
        (2, "B", 2, 30, None),
    }

    # late rows: k=1 B@20 lands between the repeats -> A,B,A chain
    # (the discarded-repeat hazard); k=2 C@20 splits A->B into A,C,B
    feed([(1, "B", 20, 5), (2, "C", 20, 6)])
    run("ckpt2")
    want = {
        (1, "A", 1, 10, 20),
        (1, "B", 2, 20, 30),
        (1, "A", 3, 30, None),
        (2, "A", 1, 10, 20),
        (2, "C", 2, 20, 30),
        (2, "B", 3, 30, None),
    }
    assert history() == want

    # full-feed replay through a FRESH checkpoint re-applies every
    # batch against the populated state: must converge, not duplicate
    run("ckpt3")
    assert history() == want


def test_stream_retract_agg_moves_deletes_replay(spark, tmp_path):
    """Retraction aggregation: an update MOVES a key's contribution
    between groups (negative delta out, positive in), a tombstone
    retracts it entirely, a late OLDER row changes nothing, and a
    crash-replayed micro-batch (same checkpoint, commit file removed)
    converges — the delta marker makes the re-applied batch a no-op
    instead of double-retracting."""
    import os
    import shutil

    from flink_orc_sink_spark.streaming import (
        read_retract_agg,
        stream_from_files,
        stream_retract_agg_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, grp string, v long, op string, seq long"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        import time

        # Spark 4 guards a checkpoint against concurrent use and the
        # prior run's lock release can lag its termination — retry
        # the start briefly instead of flaking.
        for attempt in range(10):
            q = stream_retract_agg_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=ckpt,
                key_col="k",
                group_col="grp",
                val_col="v",
                order_cols=["seq"],
                trigger={"availableNow": True},
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def agg():
        return {
            (r.grp, r.sum_val, r.n_keys)
            for r in read_retract_agg(spark, state).collect()
        }

    feed([(1, "a", 10, "U", 1), (2, "a", 20, "U", 1), (3, "b", 30, "U", 1)])
    run()
    assert agg() == {("a", 30, 2), ("b", 30, 1)}

    # k=1 moves a->b; k=2 deleted; k=3 gets a LATE OLDER row (seq=0,
    # must not retract anything) — drained on the SAME checkpoint
    feed([(1, "b", 11, "U", 2), (2, "a", 0, "D", 2), (3, "b", 99, "U", 0)])
    run()
    want = {("b", 41, 2)}  # group a vanished (n_keys netted to 0)
    assert agg() == want

    # crash-replay: drop the last commit so the restart re-runs the
    # final micro-batch against the ALREADY-UPDATED state — without
    # the marker its deltas would recompute as zero and clobber the
    # real ones
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    run()
    assert agg() == want

    # restart on the drained checkpoint: a full no-op
    run()
    assert agg() == want


def test_stream_retract_join_moves_deletes_replay(spark, tmp_path):
    """Retraction JOIN (incremental view maintenance): a left pk
    MOVING to a new join key retracts its view rows under the old
    key, a right tombstone takes every joined row with it (emptying
    a view bucket — the dynamic-overwrite stale-partition hazard), a
    late OLDER row changes nothing, a resurrection re-joins, a
    crash-replayed micro-batch converges, and a FULL feed replay
    through a fresh checkpoint against populated state converges
    (the jk-layer apply is a fixpoint of authoritative state, not a
    blind re-application of stored images)."""
    import os
    import shutil
    import time

    from flink_orc_sink_spark.streaming import (
        stream_from_files,
        stream_retract_join_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = (
        "side string, pk long, jk long, seq long, op string,"
        " val long, attr string"
    )

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(ckpt="ckpt"):
        ckpt = str(tmp_path / ckpt)
        for attempt in range(10):
            q = stream_retract_join_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=ckpt,
                trigger={"availableNow": True},
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def view():
        from flink_orc_sink_spark.streaming import read_retract_join_view

        return {
            (r.l_pk, r.jk, r.l_val, r.r_attr)
            for r in read_retract_join_view(spark, state).collect()
        }

    L, R = "L", "R"
    feed(
        [
            (L, 101, 1, 1, "U", 10, None),
            (L, 102, 2, 1, "U", 20, None),
            (L, 103, 1, 1, "U", 30, None),
            (R, 1, 1, 1, "U", None, "x"),
            (R, 2, 2, 1, "U", None, "y"),
        ]
    )
    run()
    assert view() == {
        (101, 1, 10, "x"),
        (103, 1, 30, "x"),
        (102, 2, 20, "y"),
    }

    # 101 moves jk 1->2 (old-bucket retraction); right jk=2 is
    # tombstoned (its bucket's view EMPTIES); 103 gets a late OLDER
    # row that must change nothing; right jk=3 appears with no left
    # partners (touched bucket, empty view)
    feed(
        [
            (L, 101, 2, 2, "U", 11, None),
            (R, 2, 2, 2, "D", None, "y"),
            (L, 103, 9, 0, "U", 999, None),
            (R, 3, 3, 1, "U", None, "z"),
        ]
    )
    run()
    assert view() == {(103, 1, 30, "x")}

    # resurrection: right jk=2 comes back with a newer image -> its
    # left partners (101 moved, 102 original) re-join
    feed([(R, 2, 2, 3, "U", None, "y2")])
    run()
    want = {(103, 1, 30, "x"), (101, 2, 11, "y2"), (102, 2, 20, "y2")}
    assert view() == want

    # crash-replay: drop the last commit so the restart re-runs the
    # final micro-batch against the ALREADY-UPDATED state
    ckpt = str(tmp_path / "ckpt")
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    run()
    assert view() == want

    # restart on the drained checkpoint: a full no-op
    run()
    assert view() == want

    # full-feed replay through a FRESH checkpoint re-applies every
    # batch against the populated state: must converge (stale stored
    # images must NOT resurrect 101's jk=1 row or drop live rows)
    run("ckpt2")
    assert view() == want


@pytest.mark.slow
def test_stream_retract_join_agg_deltas_replay(spark, tmp_path):
    """The maintained aggregate over the retraction join: summed
    per-batch deltas equal the aggregate of the materialized view
    after every drain — through join-key moves, tombstones (a group
    vanishing entirely), resurrections, a crash-replayed micro-batch
    and a fresh-checkpoint full replay (the agg marker keeps replays
    from double-counting)."""
    import os
    import time

    from flink_orc_sink_spark.streaming import (
        read_retract_agg,
        stream_from_files,
        stream_retract_join_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = (
        "side string, pk long, jk long, seq long, op string,"
        " val long, attr string"
    )

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run(ckpt="ckpt"):
        ckpt = str(tmp_path / ckpt)
        for attempt in range(10):
            q = stream_retract_join_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=ckpt,
                trigger={"availableNow": True},
                agg_group_col="r_attr",
                agg_val_col="l_val",
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def agg():
        return {
            (r.grp, r.sum_val, r.n_keys)
            for r in read_retract_agg(spark, state).collect()
        }

    def view_agg():
        from flink_orc_sink_spark.streaming import read_retract_join_view

        return {
            (r.r_attr, r.s, r.n)
            for r in read_retract_join_view(spark, state)
            .groupBy("r_attr")
            .agg(
                F.sum("l_val").alias("s"), F.count(F.lit(1)).alias("n")
            )
            .collect()
        }

    L, R = "L", "R"
    feed(
        [
            (L, 101, 1, 1, "U", 10, None),
            (L, 102, 2, 1, "U", 20, None),
            (L, 103, 1, 1, "U", 30, None),
            (R, 1, 1, 1, "U", None, "x"),
            (R, 2, 2, 1, "U", None, "y"),
        ]
    )
    run()
    assert agg() == {("x", 40, 2), ("y", 20, 1)}
    assert agg() == view_agg()

    # move + tombstone ("y" group vanishes) + late older row
    feed(
        [
            (L, 101, 2, 2, "U", 11, None),
            (R, 2, 2, 2, "D", None, "y"),
            (L, 103, 9, 0, "U", 999, None),
        ]
    )
    run()
    assert agg() == {("x", 30, 1)}
    assert agg() == view_agg()

    # resurrection under a new group label
    feed([(R, 2, 2, 3, "U", None, "y2")])
    run()
    want = {("x", 30, 1), ("y2", 31, 2)}
    assert agg() == want

    # crash-replay of the final micro-batch: the agg marker must keep
    # the replayed batch from re-landing (now-zero) deltas
    ckpt = str(tmp_path / "ckpt")
    commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
    last = [c for c in commits if not c.startswith(".")][-1]
    os.remove(os.path.join(ckpt, "commits", last))
    run()
    assert agg() == want

    # fresh-checkpoint full replay converges without double-counting
    run("ckpt2")
    assert agg() == want


@pytest.mark.slow
def test_stream_retract_join_left_null_extension_flips(spark, tmp_path):
    """Outer-join IVM: an order with no live customer shows up
    null-extended; the customer ARRIVING retracts the null-extended
    row, the customer's TOMBSTONE re-extends it — across micro-batches
    — and the maintained aggregate tracks the flips (NULL group =
    currently-unmatched)."""
    import os
    import time

    from flink_orc_sink_spark.streaming import (
        read_retract_agg,
        stream_from_files,
        stream_retract_join_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = (
        "side string, pk long, jk long, seq long, op string,"
        " val long, attr string"
    )

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(10):
            q = stream_retract_join_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=str(tmp_path / "ckpt"),
                trigger={"availableNow": True},
                agg_group_col="r_attr",
                agg_val_col="l_val",
                how="left",
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def view():
        from flink_orc_sink_spark.streaming import read_retract_join_view

        return {
            (r.l_pk, r.r_attr)
            for r in read_retract_join_view(spark, state).collect()
        }

    def agg():
        return {
            (r.grp, r.sum_val, r.n_keys)
            for r in read_retract_agg(spark, state).collect()
        }

    # order 101 arrives before its customer exists -> null-extended
    feed([("L", 101, 1, 1, "U", 10, None)])
    run()
    assert view() == {(101, None)}
    assert agg() == {(None, 10, 1)}

    # customer arrives -> null-extended row retracted, joined row in
    feed([("R", 1, 1, 1, "U", None, "x")])
    run()
    assert view() == {(101, "x")}
    assert agg() == {("x", 10, 1)}

    # customer tombstoned -> order flips BACK to null-extended
    feed([("R", 1, 1, 2, "D", None, "x")])
    run()
    assert view() == {(101, None)}
    assert agg() == {(None, 10, 1)}


@pytest.mark.slow
def test_dedup_ttl_state_bounded(spark, tmp_path):
    """dropDuplicatesWithinWatermark state must EVICT expired keys:
    after draining three time-ordered files spanning hours with a
    10-minute TTL, the dedup operator's state holds only the newest
    window's keys — while unbounded dropDuplicates holds every key
    ever seen. This (not the value gate, which both pass) is the
    100 TB distinction: O(keys-per-TTL) vs O(all history)."""
    import glob
    import os
    import shutil

    n_per = 200

    def mk(stage_name, dedup):
        stage = str(tmp_path / stage_name)
        os.makedirs(stage)
        build = str(tmp_path / (stage_name + "_b"))
        for i in range(3):
            rows = [
                (i * n_per + k, f"2024-01-01 {i * 2:02d}:00:00")
                for k in range(n_per)
            ]
            df = spark.createDataFrame(rows, "id long, ts_s string")
            df.coalesce(1).write.mode("overwrite").parquet(
                f"{build}/f{i}"
            )
            shutil.copy(
                glob.glob(f"{build}/f{i}/part-*.parquet")[0],
                f"{stage}/{i:03d}.parquet",
            )
        sdf = (
            spark.readStream.schema("id long, ts_s string")
            .option("maxFilesPerTrigger", "1")
            .parquet(stage)
            .withColumn("ts", F.to_timestamp("ts_s"))
        )
        if dedup == "ttl":
            sdf = sdf.withWatermark("ts", "10 minutes")
            sdf = sdf.dropDuplicatesWithinWatermark(["id"])
        else:
            sdf = sdf.dropDuplicates(["id"])
        q = (
            sdf.writeStream.format("noop")
            .outputMode("append")
            .option(
                "checkpointLocation", str(tmp_path / (stage_name + "_ck"))
            )
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120), "stream did not drain"
        state_rows = [
            op["numRowsTotal"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        ]
        return max(state_rows) if state_rows else 0

    ttl_state = mk("ttl", "ttl")
    unbounded_state = mk("unb", "unbounded")
    assert unbounded_state == 3 * n_per  # every key ever seen
    assert ttl_state <= 2 * n_per  # expired windows evicted


@pytest.mark.slow
def test_stream_retract_join_tombstone_first_batch(spark, tmp_path):
    """A fresh state whose FIRST micro-batch is pure tombstones (a
    legitimate CDC shape) must not crash on schema inference over
    all-empty state directories, and later batches must build up the
    view normally."""
    import os
    import time

    from flink_orc_sink_spark.streaming import (
        stream_from_files,
        stream_retract_join_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = (
        "side string, pk long, jk long, seq long, op string,"
        " val long, attr string"
    )

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(5):
            q = stream_retract_join_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=str(tmp_path / "ckpt"),
                trigger={"availableNow": True},
                agg_group_col="r_attr",
                agg_val_col="l_val",
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 4
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    from flink_orc_sink_spark.streaming import read_retract_join_view

    # batch 1: nothing but delete tombstones for unseen keys — the
    # view snapshot must be empty (and nothing forces a view
    # materialization: the MOR reader answers from base ⊕ log)
    feed([("L", 1, 1, 1, "D", 0, None), ("R", 2, 2, 1, "D", None, "x")])
    run()
    assert read_retract_join_view(spark, state).count() == 0

    # batch 2: real rows join up
    feed([("L", 10, 5, 1, "U", 7, None), ("R", 5, 5, 1, "U", None, "s")])
    run()
    rows = {
        (r.l_pk, r.r_attr)
        for r in read_retract_join_view(spark, state).collect()
    }
    assert rows == {(10, "s")}


@pytest.mark.slow
def test_orc_probe_uri_schemes_and_depths(spark, tmp_path):
    """session.orc_data_files_exist: bounded-depth globs find data at
    layouts 0-2 levels deep, the recursive fallback still covers
    deeper ones, marker-only dirs read as absent — and all of it
    behaves identically through a ``file:``-schemed URI (the code
    path the Hadoop-FS routing exists for)."""
    import os

    from flink_orc_sink_spark.session import (
        fs_exists,
        fs_mkdirs,
        fs_rmtree,
        orc_data_files_exist,
    )

    def both(relpath):
        local = str(tmp_path / relpath)
        return [local, "file:" + local]

    for p in both("missing"):
        assert not orc_data_files_exist(spark, p)

    markers = tmp_path / "markers"
    markers.mkdir()
    (markers / "_SUCCESS").touch()
    (markers / ".part-0.orc.crc").touch()
    for p in both("markers"):
        assert not orc_data_files_exist(spark, p)

    for depth, sub in [(0, ""), (1, "kp=3"), (2, "side=L/kp=3"),
                       (3, "a=1/b=2/c=3")]:
        d = tmp_path / f"d{depth}" / sub
        d.mkdir(parents=True)
        (d / "_SUCCESS").touch()
        (d / "part-00000.orc").write_bytes(b"ORC")
        for p in both(f"d{depth}"):
            assert orc_data_files_exist(spark, p), (depth, p)

    # fs_exists / fs_mkdirs / fs_rmtree round-trip through the URI form
    uri = "file:" + str(tmp_path / "made")
    assert not fs_exists(spark, uri)
    fs_mkdirs(spark, uri)
    assert fs_exists(spark, uri)
    assert os.path.isdir(str(tmp_path / "made"))
    fs_rmtree(spark, uri)
    assert not fs_exists(spark, uri)


@pytest.mark.slow
def test_stream_retract_agg_file_scheme_state_path(spark, tmp_path):
    """stream_retract_agg_orc with a ``file:``-schemed state_path: the
    replay markers and state probes must resolve through the Hadoop
    FileSystem (streaming/orc_sink.py round-6 fix) — a driver-local
    os.path probe would answer False for the URI form, recompute
    deltas against a phantom 'absent' state, and double-count on
    replay."""
    import os
    import time

    from flink_orc_sink_spark.streaming import (
        read_retract_agg,
        stream_from_files,
        stream_retract_agg_orc,
    )

    src = str(tmp_path / "in")
    state = "file:" + str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, grp string, v long, op string, seq long"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(10):
            q = stream_retract_agg_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=ckpt,
                key_col="k",
                group_col="grp",
                val_col="v",
                order_cols=["seq"],
                trigger={"availableNow": True},
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def agg():
        return {
            (r.grp, r.sum_val, r.n_keys)
            for r in read_retract_agg(spark, state).collect()
        }

    feed([(1, "a", 10, "U", 1), (2, "a", 20, "U", 1)])
    run()
    assert agg() == {("a", 30, 2)}

    # second batch reads the EXISTING state through the URI probe:
    # k=1 moves a->b — the old contribution must retract
    feed([(1, "b", 11, "U", 2)])
    run()
    want = {("a", 20, 1), ("b", 11, 1)}
    assert agg() == want

    # crash-replay on the URI state path: the marker (also URI-routed)
    # must make the re-applied batch a delta no-op
    commits = sorted(
        c
        for c in os.listdir(os.path.join(ckpt, "commits"))
        if not c.startswith(".")
    )
    os.remove(os.path.join(ckpt, "commits", commits[-1]))
    run()
    assert agg() == want


@pytest.mark.slow
def test_stream_retract_agg_tombstone_cleanup(spark, tmp_path):
    """cleanup_retract_state: the horizon-bounded state-TTL pass the
    retention contract promises. After deletes, the key state carries
    one D row per deleted key; cleanup at a horizon past their seqs
    shrinks state back to the live-key count without changing the
    aggregate — and a pre-delete update replayed AFTER cleanup (below
    the recorded horizon) is dropped at ingest instead of
    resurrecting its key. Deletes newer than the horizon survive."""
    import time

    from flink_orc_sink_spark.streaming import (
        cleanup_retract_state,
        read_retract_agg,
        stream_from_files,
        stream_retract_agg_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = "k long, grp string, v long, op string, seq long"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(10):
            q = stream_retract_agg_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=str(tmp_path / "ck"),
                key_col="k",
                group_col="grp",
                val_col="v",
                order_cols=["seq"],
                trigger={"availableNow": True},
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def agg():
        return {
            (r.grp, r.sum_val, r.n_keys)
            for r in read_retract_agg(spark, state).collect()
        }

    def state_rows():
        from flink_orc_sink_spark.streaming import read_retract_state

        return read_retract_state(spark, state).count()

    # 3 live keys, then delete k=2 (seq=2) and k=3 (seq=9)
    feed([(1, "a", 10, "U", 1), (2, "a", 20, "U", 1), (3, "b", 30, "U", 1)])
    feed([(2, "x", 0, "D", 2), (3, "x", 0, "D", 9)])
    run()
    want = {("a", 10, 1)}
    assert agg() == want
    assert state_rows() == 3  # 1 live U + 2 retained D tombstones

    # horizon=5: k=2's tombstone (seq 2) expires, k=3's (seq 9) stays
    stats = cleanup_retract_state(spark, state, horizon=5)
    assert stats == {"tombstones_dropped": 1, "buckets_rewritten": 1}
    assert state_rows() == 2  # live key + the still-masked newer D
    assert agg() == want

    # idempotent: nothing left below the horizon
    stats = cleanup_retract_state(spark, state, horizon=5)
    assert stats == {"tombstones_dropped": 0, "buckets_rewritten": 0}
    # superseded markers are pruned: only the max horizon survives
    import os as _os

    stats = cleanup_retract_state(spark, state, horizon=6)
    assert sorted(
        n
        for n in _os.listdir(_os.path.join(state, "replay_horizon"))
        if n.startswith("h=")
    ) == ["h=6"]

    # replay attack: the source re-delivers a pre-delete update of
    # k=2 (seq 1 < horizon) as a new micro-batch — with the tombstone
    # gone, only the ingest horizon filter stands between it and a
    # resurrection
    feed([(2, "a", 20, "U", 1)])
    run()
    assert agg() == want
    assert state_rows() == 2

    # ...but genuinely new data (seq >= horizon) still lands
    feed([(2, "a", 25, "U", 6)])
    run()
    assert agg() == {("a", 35, 2)}
    assert state_rows() == 3

    # NULL-seq rows must stay ADMITTED after a cleanup recorded the
    # horizon: the guard is coalesce'd null-safe to match the
    # cleanup's keep-predicate (a bare `seq >= h` is NULL → dropped)
    feed([(4, "b", 7, "U", None)])
    run()
    assert agg() == {("a", 35, 2), ("b", 7, 1)}
    assert state_rows() == 4


@pytest.mark.slow
def test_stream_retract_join_tombstone_cleanup(spark, tmp_path):
    """cleanup_retract_join_state: the pk layer's D tombstones expire
    below the horizon (state shrinks to live rows + newer tombstones)
    while the view stays intact; a below-horizon pre-delete replay is
    dropped at ingest instead of resurrecting the joined row; newer
    data still lands."""
    import os
    import time

    from flink_orc_sink_spark.streaming import (
        cleanup_retract_join_state,
        stream_from_files,
        stream_retract_join_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = (
        "side string, pk long, jk long, seq long, op string,"
        " val long, attr string"
    )

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        ckpt = str(tmp_path / "ckpt")
        for attempt in range(10):
            q = stream_retract_join_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=ckpt,
                trigger={"availableNow": True},
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def view():
        from flink_orc_sink_spark.streaming import read_retract_join_view

        return {
            (r.l_pk, r.jk, r.l_val, r.r_attr)
            for r in read_retract_join_view(spark, state).collect()
        }

    def pk_rows():
        from flink_orc_sink_spark.streaming import read_retract_pk_state

        return read_retract_pk_state(spark, state).count()

    L, R = "L", "R"
    feed(
        [
            (L, 101, 1, 1, "U", 10, None),
            (L, 102, 1, 1, "U", 20, None),
            (R, 1, 1, 1, "U", None, "x"),
        ]
    )
    feed([(L, 102, 1, 2, "D", None, None), (R, 9, 7, 9, "D", None, None)])
    run()
    assert view() == {(101, 1, 10, "x")}
    assert pk_rows() == 4  # L101 U, L102 D, R1 U, R9 D

    # horizon=5: L102's tombstone (seq 2) expires; R9's (seq 9) stays
    stats = cleanup_retract_join_state(spark, state, horizon=5)
    assert stats["tombstones_dropped"] == 1
    assert stats["buckets_rewritten"] == 1
    assert pk_rows() == 3
    assert view() == {(101, 1, 10, "x")}

    # idempotent
    stats = cleanup_retract_join_state(spark, state, horizon=5)
    assert stats == {"tombstones_dropped": 0, "buckets_rewritten": 0}

    # replay attack: the source re-delivers 102's pre-delete image
    # (seq 1 < horizon) — with its tombstone gone, only the ingest
    # horizon filter prevents (102, 1, 20, "x") from re-joining
    feed([(L, 102, 1, 1, "U", 20, None)])
    run()
    assert view() == {(101, 1, 10, "x")}
    assert pk_rows() == 3

    # genuinely new data (seq >= horizon) still lands and re-joins
    feed([(L, 102, 1, 6, "U", 25, None)])
    run()
    assert view() == {(101, 1, 10, "x"), (102, 1, 25, "x")}

    # NULL-seq rows must stay ADMITTED after cleanup (null-safe
    # ingest guard, matching the cleanup's coalesce'd keep-predicate)
    feed([(R, 2, 1, None, "U", None, "y")])
    run()
    assert view() == {
        (101, 1, 10, "x"),
        (102, 1, 25, "x"),
        (101, 1, 10, "y"),
        (102, 1, 25, "y"),
    }


@pytest.mark.slow
def test_orc_probe_glob_metachar_path(spark, tmp_path):
    """A state path containing glob metacharacters must probe
    correctly: the glob arm is skipped (an unclosed bracket would
    throw from globStatus) and the full walk answers instead."""
    from flink_orc_sink_spark.session import orc_data_files_exist

    d = tmp_path / "state[2024]" / "kp=1"
    d.mkdir(parents=True)
    for i in range(70):  # more than the 64-entry cap
        (d / f"aaa-{i:03d}.txt").touch()
    assert not orc_data_files_exist(spark, str(tmp_path / "state[2024]"))
    (d / "part-00000.orc").write_bytes(b"ORC")
    assert orc_data_files_exist(spark, str(tmp_path / "state[2024]"))


@pytest.mark.slow
def test_stream_retract_agg_random_feed_converges(spark, tmp_path):
    """Randomized (seeded) end-to-end convergence: a shuffled CDC
    feed with group moves, deletes and out-of-order seqs, split
    across four micro-batches, must land exactly on the from-scratch
    reference aggregate — and an at-least-once re-delivery of an
    entire earlier batch must change nothing (latest-per-key merge +
    retained tombstones absorb it)."""
    import os
    import random
    import time

    from flink_orc_sink_spark.streaming import (
        read_retract_agg,
        stream_from_files,
        stream_retract_agg_orc,
    )

    rng = random.Random(42)
    keys = list(range(8))
    groups = ["a", "b", "c"]
    rows = []
    for k in keys:
        seqs = rng.sample(range(1, 40), rng.randint(3, 8))
        for seq in seqs:
            op = "D" if rng.random() < 0.2 else "U"
            rows.append(
                (k, rng.choice(groups), rng.randint(1, 100), op, seq)
            )
    rng.shuffle(rows)
    batches = [rows[i::4] for i in range(4)]

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = "k long, grp string, v long, op string, seq long"

    def feed(rs):
        spark.createDataFrame(rs, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(10):
            q = stream_retract_agg_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=str(tmp_path / "ck"),
                key_col="k",
                group_col="grp",
                val_col="v",
                order_cols=["seq"],
                trigger={"availableNow": True},
            )
            try:
                assert q.awaitTermination(180), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    for b in batches:
        feed(b)
        run()

    def reference():
        latest = {}
        for k, grp, v, op, seq in rows:
            if k not in latest or seq > latest[k][3]:
                latest[k] = (grp, v, op, seq)
        want = {}
        for k, (grp, v, op, _) in latest.items():
            if op == "U":
                s, n = want.get(grp, (0, 0))
                want[grp] = (s + v, n + 1)
        return {(g, s, n) for g, (s, n) in want.items()}

    def agg():
        return {
            (r.grp, r.sum_val, r.n_keys)
            for r in read_retract_agg(spark, state).collect()
        }

    want = reference()
    assert agg() == want

    # at-least-once: the source re-delivers ALL of batch 2 as a new
    # micro-batch — every row is stale history, nothing may move
    feed(batches[1])
    run()
    assert agg() == want


@pytest.mark.slow
def test_stream_retract_join_random_feed_converges(spark, tmp_path):
    """Randomized (seeded) IVM convergence for the retraction JOIN:
    shuffled two-sided CDC (join-key moves, deletes, out-of-order
    seqs) over four micro-batches must materialize exactly the
    from-scratch latest-live inner join, and re-delivering a whole
    earlier batch must change nothing."""
    import os
    import random
    import time

    from flink_orc_sink_spark.streaming import (
        stream_from_files,
        stream_retract_join_orc,
    )

    rng = random.Random(7)
    rows = []
    for side, pks in (("L", range(100, 112)), ("R", range(1, 7))):
        for pk in pks:
            for seq in rng.sample(range(1, 30), rng.randint(2, 5)):
                rows.append(
                    (
                        side,
                        pk,
                        rng.randint(1, 5),  # jk
                        seq,
                        "D" if rng.random() < 0.15 else "U",
                        rng.randint(1, 99) if side == "L" else None,
                        f"attr{pk}s{seq}" if side == "R" else None,
                    )
                )
    rng.shuffle(rows)
    batches = [rows[i::4] for i in range(4)]

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = (
        "side string, pk long, jk long, seq long, op string,"
        " val long, attr string"
    )

    def feed(rs):
        spark.createDataFrame(rs, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(10):
            q = stream_retract_join_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=str(tmp_path / "ck"),
                trigger={"availableNow": True},
            )
            try:
                assert q.awaitTermination(180), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    for b in batches:
        feed(b)
        run()

    def reference():
        latest = {}
        for side, pk, jk, seq, op, val, attr in rows:
            cur = latest.get((side, pk))
            if cur is None or seq > cur[2]:
                latest[(side, pk)] = (jk, op, seq, val, attr)
        left = [
            (pk, jk, val)
            for (s, pk), (jk, op, _, val, _) in latest.items()
            if s == "L" and op == "U"
        ]
        right = [
            (pk, jk, attr)
            for (s, pk), (jk, op, _, _, attr) in latest.items()
            if s == "R" and op == "U"
        ]
        return {
            (lpk, ljk, lval, rpk, rattr)
            for (lpk, ljk, lval) in left
            for (rpk, rjk, rattr) in right
            if ljk == rjk
        }

    def view():
        from flink_orc_sink_spark.streaming import read_retract_join_view

        return {
            (r.l_pk, r.jk, r.l_val, r.r_pk, r.r_attr)
            for r in read_retract_join_view(spark, state).collect()
        }

    want = reference()
    assert want, "seed produced an empty join — pick another seed"
    assert view() == want

    # at-least-once re-delivery of a whole earlier batch: no-op
    feed(batches[2])
    run()
    assert view() == want


@pytest.mark.slow
def test_retract_agg_cleanup_cadence_long_replay(spark, tmp_path):
    """cleanup_every_n_batches + horizon_fn: the sink runs the
    state-TTL pass on its OWN cadence, under the same per-batch
    single-writer lease — no external cron. Across 3 cleanup cycles
    with interleaved below-horizon replays, the key state returns to
    exactly the live-key count every cycle and the aggregate never
    moves: replays arriving before the cycle's cleanup are masked by
    the retained tombstone, replays arriving after it are dropped by
    the recorded ingest horizon."""
    import os
    import time

    from flink_orc_sink_spark.streaming import (
        read_retract_agg,
        stream_from_files,
        stream_retract_agg_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = "k long, grp string, v long, op string, seq long"
    h = {"v": 0}

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(10):
            q = stream_retract_agg_orc(
                stream_from_files(
                    spark, src, schema, max_files_per_trigger=1
                ),
                state,
                checkpoint=str(tmp_path / "ck"),
                key_col="k",
                group_col="grp",
                val_col="v",
                order_cols=["seq"],
                trigger={"availableNow": True},
                cleanup_every_n_batches=1,
                horizon_fn=lambda: h["v"],
            )
            try:
                assert q.awaitTermination(180), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def agg():
        return {
            (r.grp, r.sum_val, r.n_keys)
            for r in read_retract_agg(spark, state).collect()
        }

    def state_rows():
        from flink_orc_sink_spark.streaming import read_retract_state

        return read_retract_state(spark, state).count()

    # 3 permanent live keys
    feed([(1, "a", 10, "U", 1), (2, "a", 20, "U", 1), (3, "b", 30, "U", 1)])
    run()
    base = {("a", 30, 2), ("b", 30, 1)}
    assert agg() == base and state_rows() == 3

    for cycle, (key, s) in enumerate([(9, 10), (8, 20), (7, 30)], 1):
        # churn: temp key appears then is deleted (tombstone retained
        # until the cycle's horizon passes)
        feed([(key, "a", 5, "U", s)])
        feed([(key, "a", 0, "D", s + 1)])
        run()
        assert state_rows() == 3 + 1, cycle  # 3 live + this cycle's D
        # source's replay horizon advances past the delete
        h["v"] = s + 2
        # replay the pre-delete image BEFORE the cadence cleanup has
        # run at the new horizon: the retained tombstone masks it,
        # then the cleanup (same batch, under the batch's lease)
        # drops the tombstone and records the horizon
        feed([(key, "a", 5, "U", s)])
        run()
        assert state_rows() == 3, cycle
        assert agg() == base, cycle
        # replay it AGAIN after the cleanup: only the recorded ingest
        # horizon stands between it and a resurrection
        feed([(key, "a", 5, "U", s)])
        run()
        assert state_rows() == 3, cycle
        assert agg() == base, cycle
        # the per-batch lease never lingers after a drained stream
        assert not os.path.exists(os.path.join(state, "_lease")), cycle


@pytest.mark.slow
def test_retract_join_cleanup_cadence(spark, tmp_path):
    """The JOIN sink's cleanup cadence (cleanup_every_n_batches +
    horizon_fn under the batch's lease): the pk-layer tombstone is
    dropped by the sink itself once the horizon passes, and a
    below-horizon replay arriving after that cleanup is rejected at
    ingest instead of re-joining."""
    import os
    import time

    from flink_orc_sink_spark.streaming import (
        stream_from_files,
        stream_retract_join_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = (
        "side string, pk long, jk long, seq long, op string,"
        " val long, attr string"
    )
    h = {"v": 0}

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(10):
            q = stream_retract_join_orc(
                stream_from_files(
                    spark, src, schema, max_files_per_trigger=1
                ),
                state,
                checkpoint=str(tmp_path / "ck"),
                trigger={"availableNow": True},
                cleanup_every_n_batches=1,
                horizon_fn=lambda: h["v"],
            )
            try:
                assert q.awaitTermination(180), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def view():
        from flink_orc_sink_spark.streaming import read_retract_join_view

        return {
            (r.l_pk, r.jk, r.l_val, r.r_attr)
            for r in read_retract_join_view(spark, state).collect()
        }

    def pk_rows():
        from flink_orc_sink_spark.streaming import read_retract_pk_state

        return read_retract_pk_state(spark, state).count()

    feed(
        [
            ("L", 101, 1, 10, "U", 10, None),
            ("L", 102, 1, 11, "U", 20, None),
            ("L", 102, 1, 12, "D", None, None),
            ("R", 1, 1, 13, "U", None, "x"),
        ]
    )
    run()  # cadence cleanup runs at h=0: drops nothing
    assert view() == {(101, 1, 10, "x")}
    assert pk_rows() == 3  # L101 U, L102 D, R1 U

    # horizon passes the delete; the NEXT batch's cadence cleanup
    # (same lease as the batch) drops the tombstone
    h["v"] = 20
    feed([("L", 103, 1, 20, "U", 30, None)])
    run()
    assert view() == {(101, 1, 10, "x"), (103, 1, 30, "x")}
    assert pk_rows() == 3  # L101, L103, R1 — L102's D is GONE

    # below-horizon replay of 102's pre-delete image: only the
    # recorded ingest horizon prevents a resurrection now
    feed([("L", 102, 1, 11, "U", 20, None)])
    run()
    assert view() == {(101, 1, 10, "x"), (103, 1, 30, "x")}
    assert pk_rows() == 3
    # lease never lingers after the drained stream
    assert not os.path.exists(os.path.join(state, "_lease"))


@pytest.mark.slow
def test_retract_agg_fold_preserves_resolution(spark, tmp_path):
    """LSM fold (round 9): folding the delta log into the base must
    change NOTHING observable — resolved state, aggregate readback —
    and later batches must keep composing on top of the folded base.
    Also runs the whole scenario again with the auto-fold trigger
    forced on EVERY batch (FOLD_MIN_BYTES=0), which must land on the
    identical aggregate."""
    import os
    import time

    from flink_orc_sink_spark.streaming import (
        fold_retract_state,
        read_retract_agg,
        read_retract_state,
        stream_from_files,
        stream_retract_agg_orc,
    )

    schema = "k long, grp string, v long, op string, seq long"

    def scenario(tag, fold_every_batch):
        import flink_orc_sink_spark.streaming.orc_sink as sink_mod

        src = str(tmp_path / f"in_{tag}")
        state = str(tmp_path / f"state_{tag}")

        def feed(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        def run():
            for attempt in range(10):
                q = stream_retract_agg_orc(
                    stream_from_files(spark, src, schema),
                    state,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                    key_col="k",
                    group_col="grp",
                    val_col="v",
                    order_cols=["seq"],
                    trigger={"availableNow": True},
                )
                try:
                    assert q.awaitTermination(120), "no drain"
                    return
                except Exception:
                    if attempt == 9 or "concurrently using" not in str(
                        q.exception()
                    ):
                        raise
                    time.sleep(1)

        def agg():
            return {
                (r.grp, r.sum_val, r.n_keys)
                for r in read_retract_agg(spark, state).collect()
            }

        old_min = sink_mod.FOLD_MIN_BYTES
        if fold_every_batch:
            sink_mod.FOLD_MIN_BYTES = 0
        try:
            feed([(1, "a", 10, "U", 1), (2, "a", 20, "U", 1),
                  (3, "b", 30, "U", 1)])
            run()
            if not fold_every_batch:
                before = {
                    tuple(r) for r in read_retract_state(
                        spark, state
                    ).drop("kp").collect()
                }
                stats = fold_retract_state(spark, state)
                assert stats["log_rows_folded"] == 3, stats
                assert not os.path.isdir(f"{state}/state_log")
                after = {
                    tuple(r) for r in read_retract_state(
                        spark, state
                    ).drop("kp").collect()
                }
                assert before == after
                # idempotent: second fold is a no-op
                assert fold_retract_state(spark, state)[
                    "log_rows_folded"
                ] == 0
            assert agg() == {("a", 30, 2), ("b", 30, 1)}
            # later batches compose on the folded base: move + delete
            feed([(1, "b", 11, "U", 2), (2, "a", 0, "D", 2)])
            run()
            assert agg() == {("b", 41, 2)}
        finally:
            sink_mod.FOLD_MIN_BYTES = old_min
        return agg()

    assert scenario("manual", False) == scenario("auto", True)


@pytest.mark.slow
def test_retract_join_fold_preserves_view_and_agg(spark, tmp_path):
    """Join-sink fold: jk layer + materialized view are brought up to
    the log, the pk base is folded, the log dropped — and the MOR
    reader, the aggregate readback and subsequent batches (including
    a join-key move against the FOLDED base) are unchanged. The
    every-batch auto-fold run must land on the identical view."""
    import os
    import time

    from flink_orc_sink_spark.streaming import (
        fold_retract_join_state,
        read_retract_agg,
        read_retract_join_view,
        stream_from_files,
        stream_retract_join_orc,
    )

    schema = (
        "side string, pk long, jk long, seq long, op string,"
        " val long, attr string"
    )

    def scenario(tag, fold_every_batch):
        import flink_orc_sink_spark.streaming.orc_sink as sink_mod

        src = str(tmp_path / f"in_{tag}")
        state = str(tmp_path / f"state_{tag}")

        def feed(rows):
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)

        def run():
            for attempt in range(10):
                q = stream_retract_join_orc(
                    stream_from_files(spark, src, schema),
                    state,
                    checkpoint=str(tmp_path / f"ck_{tag}"),
                    trigger={"availableNow": True},
                    agg_group_col="r_attr",
                    agg_val_col="l_val",
                )
                try:
                    assert q.awaitTermination(120), "no drain"
                    return
                except Exception:
                    if attempt == 9 or "concurrently using" not in str(
                        q.exception()
                    ):
                        raise
                    time.sleep(1)

        def view():
            return {
                (r.l_pk, r.jk, r.l_val, r.r_attr)
                for r in read_retract_join_view(spark, state).collect()
            }

        def agg():
            return {
                (r.grp, r.sum_val, r.n_keys)
                for r in read_retract_agg(spark, state).collect()
            }

        old_min = sink_mod.FOLD_MIN_BYTES
        if fold_every_batch:
            sink_mod.FOLD_MIN_BYTES = 0
        try:
            feed([
                ("L", 101, 1, 1, "U", 10, None),
                ("L", 102, 2, 1, "U", 20, None),
                ("R", 1, 1, 1, "U", None, "x"),
                ("R", 2, 2, 1, "U", None, "y"),
            ])
            run()
            want = {(101, 1, 10, "x"), (102, 2, 20, "y")}
            assert view() == want
            if not fold_every_batch:
                stats = fold_retract_join_state(spark, state)
                assert stats["log_rows_folded"] == 4, stats
                assert not os.path.isdir(f"{state}/pk_log")
                # post-fold the reader answers from the materialized
                # view alone — and identically
                assert view() == want
                assert fold_retract_join_state(spark, state)[
                    "log_rows_folded"
                ] == 0
            # a join-key MOVE against the folded base: the OLD bucket
            # lives only in pk_state now — fold/reader must retract it
            feed([("L", 101, 2, 2, "U", 11, None)])
            run()
            want2 = {(101, 2, 11, "y"), (102, 2, 20, "y")}
            assert view() == want2
            assert agg() == {("y", 31, 2)}
        finally:
            sink_mod.FOLD_MIN_BYTES = old_min
        return view(), agg()

    assert scenario("manual", False) == scenario("auto", True)


@pytest.mark.slow
def test_stream_retract_join_agg_late_row_other_bucket_after_fold(
    spark, tmp_path
):
    """Regression (round-9 review): after a FOLD, a late out-of-order
    log row for pk=1 whose jk hashes to a DIFFERENT join bucket must
    not make pk=1's live base image invisible to _agg_diff's
    affected-bucket pruning. The old prune set (log rows in aff only)
    dropped the pk from both the old and new computed sides of its
    real bucket, silently omitting its contribution to the aggregate
    deltas of every later batch touching that bucket."""
    import time

    from flink_orc_sink_spark.streaming import (
        fold_retract_join_state,
        read_retract_agg,
        read_retract_join_view,
        stream_from_files,
        stream_retract_join_orc,
    )

    # pick two jk values that land in DIFFERENT join buckets under
    # the sink's default n_join_buckets=16
    cand = spark.createDataFrame(
        [(v,) for v in (5, 9, 7, 11, 13)], "jk long"
    ).select("jk", F.pmod(F.hash("jk"), F.lit(16)).alias("jb")).collect()
    jk_main = cand[0].jk
    jk_other = next(r.jk for r in cand[1:] if r.jb != cand[0].jb)

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = (
        "side string, pk long, jk long, seq long, op string,"
        " val long, attr string"
    )

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(10):
            q = stream_retract_join_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=str(tmp_path / "ckpt"),
                trigger={"availableNow": True},
                agg_group_col="r_attr",
                agg_val_col="l_val",
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def agg():
        return {
            (r.grp, r.sum_val, r.n_keys)
            for r in read_retract_agg(spark, state).collect()
        }

    def view_agg():
        return {
            (r.r_attr, r.s, r.n)
            for r in read_retract_join_view(spark, state)
            .groupBy("r_attr")
            .agg(F.sum("l_val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        }

    feed(
        [
            ("L", 1, jk_main, 100, "U", 10, None),
            ("R", 2, jk_main, 1, "U", None, "g"),
        ]
    )
    run()
    assert agg() == {("g", 10, 1)}
    # fold: pk=1's latest image now lives ONLY in the jk/pk base
    fold_retract_join_state(spark, state)
    # late arrival for pk=1, OLDER seq, jk in a DIFFERENT bucket —
    # appended to the log, loses latest-per-key, changes nothing
    feed([("L", 1, jk_other, 50, "U", 999, None)])
    run()
    assert agg() == {("g", 10, 1)}
    assert agg() == view_agg()
    # a new R row joins in the ORIGINAL bucket: pk=1 is logged (so
    # anti-joined out of the jk layer) but its only log row hashes
    # elsewhere — the re-add set must still resolve its base image
    feed([("R", 3, jk_main, 1, "U", None, "g")])
    run()
    assert agg() == {("g", 20, 2)}
    assert agg() == view_agg()


@pytest.mark.slow
def test_retract_layout_conflict_refused(spark, tmp_path):
    """Restarting a retract sink with different layout parameters
    against existing state must fail loudly (the params decide how
    the base buckets were hashed — a silent mismatch corrupts every
    pruned image lookup)."""
    from flink_orc_sink_spark.streaming import (
        stream_from_files,
        stream_retract_agg_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = "k long, grp string, v long, seq long, op string"
    spark.createDataFrame(
        [(1, "a", 5, 1, "U")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_retract_agg_orc(
        stream_from_files(spark, src, schema),
        state,
        checkpoint=str(tmp_path / "c1"),
        key_col="k",
        group_col="grp",
        val_col="v",
        order_cols=["seq"],
        n_key_partitions=16,
        trigger={"availableNow": True},
    )
    assert q.awaitTermination(120)
    spark.createDataFrame(
        [(2, "a", 7, 2, "U")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_retract_agg_orc(
        stream_from_files(spark, src, schema),
        state,
        checkpoint=str(tmp_path / "c2"),
        key_col="k",
        group_col="grp",
        val_col="v",
        order_cols=["seq"],
        n_key_partitions=32,  # conflicts with the recorded nkp=16
        trigger={"availableNow": True},
    )
    try:
        q.awaitTermination(120)
        exc = q.exception()
    except Exception as e:  # surfaced through awaitTermination
        exc = e
    assert exc is not None and "layout conflict" in str(exc)


@pytest.mark.slow
def test_cdc_pre_r9_layout_refused(spark, tmp_path):
    """A CDC state dir in the pre-round-9 layout (kp=* partitions at
    the state root) must be refused loudly, not silently ignored —
    reading past it would be data loss."""
    import os

    from flink_orc_sink_spark.streaming import (
        stream_cdc_apply_orc,
        stream_from_files,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(os.path.join(state, "kp=0"))
    schema = "k long, v long, seq long, op string"
    spark.createDataFrame(
        [(1, 5, 1, "U")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q = stream_cdc_apply_orc(
        stream_from_files(spark, src, schema),
        state,
        checkpoint=str(tmp_path / "c"),
        key_col="k",
        order_cols=["seq"],
        trigger={"availableNow": True},
    )
    try:
        q.awaitTermination(120)
        exc = q.exception()
    except Exception as e:  # surfaced through awaitTermination
        exc = e
    assert exc is not None and "pre-round-9" in str(exc)


@pytest.mark.slow
def test_fold_retract_join_crash_prefixes_converge(spark, tmp_path):
    """The fold's write order (jk -> view -> pk base -> log delete) IS
    its crash contract: after ANY prefix of the writes, the
    merge-on-read reader must still answer exactly, and a clean
    re-fold must converge. Drive every crash window by fault
    injection instead of trusting the docstring."""
    import time

    import pytest

    import flink_orc_sink_spark.streaming.orc_sink as sink_mod
    from flink_orc_sink_spark.streaming import (
        fold_retract_join_state,
        read_retract_join_view,
        stream_from_files,
        stream_retract_join_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = (
        "side string, pk long, jk long, seq long, op string,"
        " val long, attr string"
    )

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(10):
            q = stream_retract_join_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=str(tmp_path / "ckpt"),
                trigger={"availableNow": True},
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def view():
        return {
            (r.l_pk, r.jk, r.l_val, r.r_attr)
            for r in read_retract_join_view(spark, state).collect()
        }

    # two batches -> non-empty pk_log, including a join-key move
    feed(
        [
            ("L", 101, 1, 1, "U", 10, None),
            ("L", 102, 2, 1, "U", 20, None),
            ("R", 1, 1, 1, "U", None, "x"),
            ("R", 2, 2, 1, "U", None, "y"),
        ]
    )
    feed([("L", 101, 2, 2, "U", 11, None)])
    run()
    want = {(101, 2, 11, "y"), (102, 2, 20, "y")}
    assert view() == want

    # W1: crash before the VIEW write (jk layer already rewritten)
    orig_ob = sink_mod._overwrite_buckets
    calls = {"n": 0}

    def boom_ob(*a, **k):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected crash before view write")
        return orig_ob(*a, **k)

    sink_mod._overwrite_buckets = boom_ob
    try:
        with pytest.raises(RuntimeError, match="injected"):
            fold_retract_join_state(spark, state)
    finally:
        sink_mod._overwrite_buckets = orig_ob
    assert view() == want, "reader diverged after jk-write crash"

    # W2: crash after the view write, before the pk-base write (the
    # fold's 2nd _latest_per_key call starts the pk base resolve;
    # the 1st is the jk-side resolve inside _rj_log_effect)
    orig_lpk = sink_mod._latest_per_key
    calls = {"n": 0}

    def boom_lpk(*a, **k):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise RuntimeError("injected crash before base write")
        return orig_lpk(*a, **k)

    sink_mod._latest_per_key = boom_lpk
    try:
        with pytest.raises(RuntimeError, match="injected"):
            fold_retract_join_state(spark, state)
    finally:
        sink_mod._latest_per_key = orig_lpk
    assert view() == want, "reader diverged after view-write crash"

    # W3: every write landed, crash before the log delete
    orig_rm = sink_mod._hfs_rmtree

    def boom_rm(spark_, path):
        if str(path).rstrip("/").endswith("pk_log"):
            raise RuntimeError("injected crash before log delete")
        return orig_rm(spark_, path)

    sink_mod._hfs_rmtree = boom_rm
    try:
        with pytest.raises(RuntimeError, match="injected"):
            fold_retract_join_state(spark, state)
    finally:
        sink_mod._hfs_rmtree = orig_rm
    assert view() == want, "reader diverged after base-write crash"

    # clean re-fold converges; the log is gone; view answers alone
    stats = fold_retract_join_state(spark, state)
    assert stats["log_rows_folded"] > 0
    assert view() == want
    assert fold_retract_join_state(spark, state)["log_rows_folded"] == 0
    assert view() == want


@pytest.mark.slow
def test_fold_scd2_crash_prefixes_converge(spark, tmp_path):
    """Same contract for the SCD2 fold (changes -> history -> log
    delete): every crash prefix leaves the merge-on-read history
    exact, and a clean re-fold converges."""
    import time

    import pytest

    import flink_orc_sink_spark.operators.relational as rel_mod
    import flink_orc_sink_spark.streaming.orc_sink as sink_mod
    from flink_orc_sink_spark.streaming import (
        fold_scd2_state,
        read_scd2_history,
        stream_from_files,
        stream_scd2_apply_orc,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = "k long, attr string, ts long, seq long"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(10):
            q = stream_scd2_apply_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=str(tmp_path / "ckpt"),
                key_col="k",
                attr_col="attr",
                ts_col="ts",
                order_cols=["seq"],
                trigger={"availableNow": True},
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def hist():
        return {
            tuple(r)
            for r in read_scd2_history(spark, state)
            .select("k", "attr", "effective_from", "effective_to")
            .collect()
        }

    feed([(1, "a", 10, 1), (2, "p", 10, 1)])
    feed([(1, "b", 20, 2)])
    run()
    want = hist()
    assert want, "empty history"

    # W1: crash after the changes/ write, before the history rebuild
    orig_sh = rel_mod.scd2_history

    def boom_sh(*a, **k):
        raise RuntimeError("injected crash before history write")

    rel_mod.scd2_history = boom_sh
    try:
        with pytest.raises(RuntimeError, match="injected"):
            fold_scd2_state(spark, state)
    finally:
        rel_mod.scd2_history = orig_sh
    assert hist() == want, "reader diverged after changes-write crash"

    # W2: everything written, crash before the log delete
    orig_rm = sink_mod._hfs_rmtree

    def boom_rm(spark_, path):
        if str(path).rstrip("/").endswith("changes_log"):
            raise RuntimeError("injected crash before log delete")
        return orig_rm(spark_, path)

    sink_mod._hfs_rmtree = boom_rm
    try:
        with pytest.raises(RuntimeError, match="injected"):
            fold_scd2_state(spark, state)
    finally:
        sink_mod._hfs_rmtree = orig_rm
    assert hist() == want, "reader diverged after history-write crash"

    stats = fold_scd2_state(spark, state)
    assert stats["log_rows_folded"] > 0
    assert hist() == want
    assert fold_scd2_state(spark, state)["log_rows_folded"] == 0
    assert hist() == want


def test_fold_retract_state_crash_before_log_delete_converges(
    spark, tmp_path
):
    """The plain base fold's crash window (base written, log not yet
    deleted) leaves every log row duplicated in the base —
    latest-per-key must absorb the duplicates so the reader answers
    exactly and a re-fold converges."""
    import time

    import pytest

    import flink_orc_sink_spark.streaming.orc_sink as sink_mod
    from flink_orc_sink_spark.streaming import (
        fold_retract_state,
        read_retract_state,
        stream_cdc_apply_orc,
        stream_from_files,
    )

    src = str(tmp_path / "in")
    state = str(tmp_path / "state")
    schema = "k long, v long, seq long, op string"

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def run():
        for attempt in range(10):
            q = stream_cdc_apply_orc(
                stream_from_files(spark, src, schema),
                state,
                checkpoint=str(tmp_path / "ckpt"),
                key_col="k",
                order_cols=["seq"],
                trigger={"availableNow": True},
            )
            try:
                assert q.awaitTermination(120), "stream did not drain"
                return
            except Exception:
                if (
                    attempt == 9
                    or "concurrently using" not in str(q.exception())
                ):
                    raise
                time.sleep(1)

    def table():
        return {
            (r.k, r.v, r.seq, r.op)
            for r in read_retract_state(spark, state).collect()
        }

    feed([(1, 10, 1, "U"), (2, 20, 1, "U")])
    feed([(1, 11, 2, "U"), (3, 30, 1, "U"), (2, None, 2, "D")])
    run()
    want = table()
    assert want == {(1, 11, 2, "U"), (3, 30, 1, "U"), (2, None, 2, "D")}

    orig_rm = sink_mod._hfs_rmtree

    def boom_rm(spark_, path):
        if str(path).rstrip("/").endswith("state_log"):
            raise RuntimeError("injected crash before log delete")
        return orig_rm(spark_, path)

    sink_mod._hfs_rmtree = boom_rm
    try:
        with pytest.raises(RuntimeError, match="injected"):
            fold_retract_state(spark, state)
    finally:
        sink_mod._hfs_rmtree = orig_rm
    # base now holds the folded rows AND the log still exists: the
    # merge-on-read resolve must absorb the duplicates
    assert table() == want, "reader diverged in the crash window"
    stats = fold_retract_state(spark, state)
    assert stats["log_rows_folded"] > 0
    assert table() == want
    assert fold_retract_state(spark, state)["log_rows_folded"] == 0
    assert table() == want


def test_cleanup_retract_state_uses_recorded_order_cols(spark, tmp_path):
    """cleanup_retract_state folds and expires tombstones by the order
    columns the sink recorded, not by a caller default: with
    ``order_cols=["ts"]`` a cleanup that resolved by ``seq`` would
    bring back the stale ``a`` row (higher seq, older ts) and leave
    the aggregate counting group ``b`` for a key that is gone from
    the state."""
    from flink_orc_sink_spark.streaming import (
        cleanup_retract_state,
        read_retract_agg,
        read_retract_state,
        stream_from_files,
        stream_retract_agg_orc,
    )

    src, state = str(tmp_path / "in"), str(tmp_path / "state")
    schema = "k long, g string, v long, ts long, seq long, op string"

    def run(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = stream_retract_agg_orc(
            stream_from_files(spark, src, schema, max_files_per_trigger=1),
            state,
            checkpoint=str(tmp_path / "ckpt"),
            key_col="k",
            group_col="g",
            val_col="v",
            order_cols=["ts"],
            trigger={"availableNow": True},
        )
        assert q.awaitTermination(120), "stream did not drain"

    run([(1, "a", 5, 1, 9, "U")])
    run([(1, "b", 6, 2, 1, "U")])
    cleanup_retract_state(spark, state, horizon=0)
    rows = read_retract_state(spark, state).collect()
    assert [(r.g, r.ts) for r in rows] == [("b", 2)]
    run([(2, "c", 1, 1, 1, "U")])
    agg = {
        r.grp: (r.sum_val, r.n_keys)
        for r in read_retract_agg(spark, state).collect()
    }
    assert agg == {"b": (6, 1), "c": (1, 1)}


def test_stateful_sinks_state_dir_layout(spark, tmp_path):
    """The on-disk layout of every stateful sink is a compatibility
    surface — state dirs written by an earlier version must still
    read. Feed each sink two batches, fold, and pin the directory
    tree under ``state_path`` (part-file names ignored)."""
    import os

    from flink_orc_sink_spark import streaming as S

    def run(name, sink, schema, batches, fold, **kw):
        d = tmp_path / name
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(d / "in"))
        q = sink(
            S.stream_from_files(
                spark, str(d / "in"), schema, max_files_per_trigger=1
            ),
            str(d / "state"),
            checkpoint=str(d / "ckpt"),
            trigger={"availableNow": True},
            **kw,
        )
        assert q.awaitTermination(120), "stream did not drain"
        fold(spark, str(d / "state"))
        return sorted(
            os.path.relpath(dp, d / "state")
            for dp, _dirs, _files in os.walk(d / "state")
            if dp != str(d / "state")
        )

    layout = ["layout", "layout/kc=k", "layout/nkp=16", "layout/oc=seq"]
    state = ["state", "state/kp=13", "state/kp=3", "state/kp=8"]
    assert run(
        "cdc",
        S.stream_cdc_apply_orc,
        "k long, v long, seq long, op string",
        [
            [(1, 10, 1, "U"), (2, 20, 1, "U"), (3, 30, 1, "U")],
            [(1, 11, 2, "U"), (2, None, 2, "D")],
        ],
        S.fold_retract_state,
        key_col="k",
        order_cols=["seq"],
    ) == layout + state
    assert run(
        "agg",
        S.stream_retract_agg_orc,
        "k long, grp string, v long, seq long, op string",
        [
            [(1, "a", 5, 1, "U"), (2, "a", 7, 1, "U"), (3, "b", 1, 1, "U")],
            [(1, "b", 6, 2, "U"), (2, "a", None, 2, "D")],
        ],
        S.fold_retract_state,
        key_col="k",
        group_col="grp",
        val_col="v",
        order_cols=["seq"],
    ) == sorted(
        ["agg_deltas", "agg_deltas/batch_id=0", "agg_deltas/batch_id=1",
         "applied", "applied/batch_0", "applied/batch_1"]
        + layout + state
    )
    assert run(
        "scd2",
        S.stream_scd2_apply_orc,
        "k long, attr string, ts long, seq long",
        [[(1, "a", 10, 1), (2, "p", 10, 1)], [(1, "b", 20, 2), (2, "p", 30, 2)]],
        S.fold_scd2_state,
        key_col="k",
        attr_col="attr",
        ts_col="ts",
        order_cols=["seq"],
    ) == [
        "changes", "changes/kp=13", "changes/kp=8",
        "history", "history/kp=13", "history/kp=8",
        "layout", "layout/ac=attr", "layout/kc=k", "layout/nkp=16",
        "layout/oc=seq", "layout/tc=ts",
    ]
    assert run(
        "join",
        S.stream_retract_join_orc,
        "side string, pk long, jk long, seq long, op string, val long,"
        " attr string",
        [
            [("L", 101, 1, 1, "U", 10, None), ("L", 102, 2, 1, "U", 20, None),
             ("R", 1, 1, 1, "U", None, "x"), ("R", 2, 2, 1, "U", None, "y")],
            [("L", 101, 2, 2, "U", 11, None), ("R", 1, 1, 2, "D", None, None)],
        ],
        S.fold_retract_join_state,
        agg_group_col="r_attr",
        agg_val_col="l_val",
        how="left",
    ) == [
        "agg_applied", "agg_applied/batch_0", "agg_applied/batch_1",
        "agg_deltas", "agg_deltas/batch_id=0", "agg_deltas/batch_id=1",
        "applied", "applied/batch_0", "applied/batch_1",
        "deltas", "deltas/batch_id=0", "deltas/batch_id=1",
        "jk_state", "jk_state/side=L", "jk_state/side=L/jb=8",
        "jk_state/side=R", "jk_state/side=R/jb=8",
        "layout", "layout/how=left", "layout/njb=16", "layout/nkp=16",
        "pk_state", "pk_state/side=L", "pk_state/side=L/kp=1",
        "pk_state/side=L/kp=5", "pk_state/side=R", "pk_state/side=R/kp=13",
        "pk_state/side=R/kp=8",
        "view", "view/jb=8",
    ]
