"""Engine-surface queries: ORC round-trip and streaming-vs-batch
equivalence (queries/engine.py)."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def _rowset(df):
    return {tuple(r) for r in df.collect()}


def test_orc_roundtrip_events_identical(spark):
    from flink_orc_sink_spark.queries.engine import orc_roundtrip_events
    from flink_orc_sink_spark.sources.catalog import table

    src = table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    back = orc_roundtrip_events(spark, SF_DIR)
    assert _rowset(back) == _rowset(src)


def test_stream_tumbling_matches_batch(spark):
    from flink_orc_sink_spark.queries.engine import stream_tumbling_hourly
    from flink_orc_sink_spark.queries.events import events_tumbling_hourly

    streamed = stream_tumbling_hourly(spark, SF_DIR)
    batch = events_tumbling_hourly(spark, SF_DIR)
    assert _rowset(streamed) == _rowset(batch)


def test_drain_or_fail_contract(spark):
    """_drain_or_fail: returns on a clean drain, raises TimeoutError on
    a stuck query (stopping it first), and the TimeoutError survives a
    query whose own failure surfaces during the stop path."""
    import pytest

    from flink_orc_sink_spark.queries.engine import _drain_or_fail

    class Fake:
        def __init__(self, drained, stop_raises=False):
            self._drained = drained
            self._stop_raises = stop_raises
            self.stopped = False

        def awaitTermination(self, secs=None):
            if self._stop_raises and self.stopped:
                raise RuntimeError("query died with its own error")
            return self._drained

        def stop(self):
            self.stopped = True

    _drain_or_fail(Fake(True), 1, "ok stream")  # no raise

    stuck = Fake(False)
    with pytest.raises(TimeoutError, match="stuck stream"):
        _drain_or_fail(stuck, 1, "stuck stream")
    assert stuck.stopped  # stopped BEFORE the checkpoint dir goes away

    # a failure raised while stopping must not mask the diagnostic
    with pytest.raises(TimeoutError, match="dying stream"):
        _drain_or_fail(Fake(False, stop_raises=True), 1, "dying stream")


def test_replay_harness_stops_and_cleans_up(spark, monkeypatch):
    """_Replay: when the query body raises, when an availableNow drain
    times out, and when a processingTime query never drains, the query
    is stopped (a stuck one is not waited on) and the stage and
    checkpoint dirs are gone."""
    import os
    import threading
    import time

    import pytest

    from flink_orc_sink_spark.queries import engine as eng

    monkeypatch.setattr(eng, "_DRAIN_SECS", 2)
    started = []

    def kept(q):
        started.append(q)
        return q

    def boom(df, batch_id):
        raise RuntimeError("batch body failed")

    with pytest.raises(Exception, match="batch body failed"):
        with eng._Replay(spark, SF_DIR, "t_raise") as r:
            spark.range(3).write.mode("overwrite").parquet(r.stage)
            r.run(
                lambda: kept(
                    spark.readStream.schema("id long").parquet(r.stage)
                    .writeStream.foreachBatch(boom)
                    .option("checkpointLocation", r.ckpt)
                    .trigger(availableNow=True)
                    .start()
                ),
                "raising stream",
            )
    assert not started[-1].isActive
    assert not os.path.exists(r.stage) and not os.path.exists(r.ckpt)

    class Stuck:
        def __init__(self):
            self.stopped = threading.Event()

        def awaitTermination(self, secs=None):
            return self.stopped.is_set()

        def stop(self):
            self.stopped.set()

    stuck = Stuck()
    with pytest.raises(TimeoutError, match="stuck stream"):
        with eng._Replay(spark, SF_DIR, "t_stuck") as r:
            r.run(lambda: stuck, "stuck stream")
    assert stuck.stopped.is_set()
    assert not os.path.exists(r.stage) and not os.path.exists(r.ckpt)

    # a source with a new micro-batch on every trigger never drains:
    # processAllAvailable alone would wait forever
    from flink_orc_sink_spark.sources.pydatasource import register

    register(spark)
    endless = (
        spark.readStream.format("synthetic_events")
        .option("n_rows", 1_000_000)
        .option("rows_per_batch", 1)
        .load()
    )
    t0 = time.monotonic()
    with pytest.raises(TimeoutError, match="did not drain in 2s"):
        with eng._Replay(spark, SF_DIR, "t_live") as r:
            r.memory(endless, "append", live=True)
    assert time.monotonic() - t0 < 30
    assert not [q for q in spark.streams.active if q.name.startswith("stream_t_live_")]
    assert not os.path.exists(r.stage) and not os.path.exists(r.ckpt)


def test_release_local_checkpoint_frees_blocks(spark):
    """release_local_checkpoint must actually free the blocks
    (Dataset.unpersist silently no-ops on checkpoint blocks — the bug
    class round 5 fixed) and must no-op safely on a derived frame."""
    import time

    from flink_orc_sink_spark.session import release_local_checkpoint

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    base = n_cached()
    ch = spark.range(10_000).selectExpr("id", "id * 2 AS v").localCheckpoint()
    assert n_cached() > base  # blocks exist
    release_local_checkpoint(ch)
    deadline = time.time() + 10
    while n_cached() > base and time.time() < deadline:
        time.sleep(0.2)
    assert n_cached() == base

    # derived plan (not the LogicalRDD root): must be a harmless no-op
    ch2 = spark.range(100).localCheckpoint()
    derived = ch2.filter("id > 10")
    release_local_checkpoint(derived)  # no exception, nothing freed
    assert derived.count() == 89
    release_local_checkpoint(ch2)


def test_fidx_phase_split_equals_lifecycle(spark, sf_dir):
    """The four bench-only forget-lifecycle phases (build → ingest →
    forget → probe, chained through one index dir and one streaming
    checkpoint) must reproduce EXACTLY the registered
    stream_index_forget_ingest result — the phase split re-times the
    lifecycle, it must never re-define it (round-10 verdict #6)."""
    from flink_orc_sink_spark.queries import engine as eng

    full = sorted(
        tuple(r)
        for r in eng.stream_index_forget_ingest(spark, sf_dir).collect()
    )
    eng.BENCH_ONLY["stream_fidx_build"](spark, sf_dir).count()
    eng.BENCH_ONLY["stream_fidx_ingest"](spark, sf_dir).count()
    eng.BENCH_ONLY["stream_fidx_forget"](spark, sf_dir).count()
    phased = sorted(
        tuple(r)
        for r in eng.BENCH_ONLY["stream_fidx_probe"](spark, sf_dir).collect()
    )
    assert phased == full
    # phases are resumable: re-running the probe alone is pure read
    again = sorted(
        tuple(r)
        for r in eng.BENCH_ONLY["stream_fidx_probe"](spark, sf_dir).collect()
    )
    assert again == full
