"""The delta-log state table's per-cycle work, pinned as exact counts.

A CDC stream's batch is one Spark job and one filesystem size probe;
a restarted query records no layout marker twice; a fold is four
Spark jobs; a merge-on-read query over a state that fits one AQE
partition is one job with no shuffle and probes each directory once.
Jobs are counted from the DAG scheduler's next job id, filesystem
calls by rebinding the sink module's ``_hfs_*`` and
``_orc_files_exist`` helpers.
A query builds its bucket column once, not once per batch.
The replay tests pin the log append's contract: a batch id delivered
twice leaves exactly its replayed rows, and an empty batch reads and
folds to nothing.
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from flink_orc_sink_spark.session import orc_data_files_exist
from flink_orc_sink_spark.streaming import orc_sink

SCHEMA = "k long, v long, seq long, op string"
FS_HELPERS = [n for n in vars(orc_sink) if n.startswith("_hfs_")] + [
    "_orc_files_exist"
]


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.fixture
def fs_calls(monkeypatch):
    """Per-helper call counts of the sink's filesystem helpers."""
    calls = dict.fromkeys(FS_HELPERS, 0)

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return wrapper

    for name in FS_HELPERS:
        monkeypatch.setattr(orc_sink, name, counted(name, getattr(orc_sink, name)))
    return calls


def _feed(spark, src, name, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
        os.path.join(src, name)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "v", "seq", "op").collect())


def _run(spark, src, state, ckpt, fs_calls) -> tuple[int, int, dict]:
    """(batches, Spark jobs, filesystem calls) of one availableNow run."""
    before = dict(fs_calls)
    job0 = _next_job(spark)
    q = orc_sink.stream_cdc_apply_orc(
        orc_sink.stream_from_files(
            spark, os.path.join(src, "*"), SCHEMA, max_files_per_trigger=1
        ),
        state, ckpt, "k", ["seq"], trigger={"availableNow": True},
    )
    assert q.awaitTermination(120), "stream did not drain"
    jobs = _next_job(spark) - job0
    batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    return batches, jobs, {n: fs_calls[n] - before[n] for n in fs_calls}


def test_cdc_cycle_work_is_exact(spark, tmp_path, fs_calls):
    src, state, ckpt = (str(tmp_path / d) for d in ("in", "state", "ckpt"))
    feed = [
        [(1, 10, 1, "U"), (2, 20, 1, "U"), (3, 30, 1, "U")],
        [(1, 11, 2, "U"), (2, None, 2, "D"), (4, 40, 2, "U")],
        [(5, 50, 3, "U"), (3, 31, 3, "U")],
    ]
    for i, rows in enumerate(feed[:2]):
        _feed(spark, src, f"f{i}", rows)
    batches, jobs, calls = _run(spark, src, state, ckpt, fs_calls)
    assert batches == 2
    assert jobs == batches
    assert calls["_hfs_dir_size"] == batches
    assert calls["_hfs_mkdirs"] == 3  # kc, nkp and oc, once each

    # a restarted query finds every marker recorded and makes none
    _feed(spark, src, "f2", feed[2])
    batches, jobs, calls = _run(spark, src, state, ckpt, fs_calls)
    assert batches == 1
    assert jobs == batches
    assert calls["_hfs_dir_size"] == batches
    assert calls["_hfs_mkdirs"] == 0

    job0 = _next_job(spark)
    out = orc_sink.fold_retract_state(spark, state)
    assert _next_job(spark) - job0 == 4
    # keys 1-5 hash to kp 13, 8, 3, 4 and 12
    assert out == {"log_rows_folded": 8, "buckets_rewritten": 5}
    assert _rows(orc_sink.read_cdc_table(spark, state)) == [
        (1, 11, 2, "U"), (2, None, 2, "D"), (3, 31, 3, "U"),
        (4, 40, 2, "U"), (5, 50, 3, "U"),
    ]


def test_bucket_column_is_built_once_per_query(spark, tmp_path, monkeypatch):
    """A query builds the ``kp`` bucket column with its first batch and
    reuses it: three micro-batches, one ``kp`` call."""
    src, state, ckpt = (str(tmp_path / d) for d in ("in", "state", "ckpt"))
    calls = []
    real = orc_sink._DeltaLogTable.kp
    monkeypatch.setattr(
        orc_sink._DeltaLogTable, "kp",
        lambda self, spark: calls.append(1) or real(self, spark),
    )
    for i in range(3):
        _feed(spark, src, f"f{i}", [(i, 10 * i, 1, "U"), (i + 5, i, 1, "U")])
    q = orc_sink.stream_cdc_apply_orc(
        orc_sink.stream_from_files(
            spark, os.path.join(src, "*"), SCHEMA, max_files_per_trigger=1
        ),
        state, ckpt, "k", ["seq"], trigger={"availableNow": True},
    )
    assert q.awaitTermination(120), "stream did not drain"
    assert sum(1 for p in q.recentProgress if p["numInputRows"] > 0) == 3
    assert len(calls) == 1
    assert len(_rows(orc_sink.read_cdc_table(spark, state))) == 6


def _apply_batch(spark, state, ckpt):
    """The CDC sink's ``foreachBatch`` body, taken from a writer that
    is never started."""
    from pyspark.sql.streaming import DataStreamWriter

    bodies = []
    real = DataStreamWriter.foreachBatch

    def capture(self, fn):
        bodies.append(fn)
        return real(self, fn)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataStreamWriter, "foreachBatch", capture)
        mp.setattr(DataStreamWriter, "start", lambda self: None)
        orc_sink.stream_cdc_apply_orc(
            spark.readStream.format("rate").load(), state, ckpt, "k", ["seq"]
        )
    (body,) = bodies
    return body


def test_replayed_batch_replaces_its_log_partition(spark, tmp_path):
    state = str(tmp_path / "state")
    apply_batch = _apply_batch(spark, state, str(tmp_path / "ckpt"))
    first = [(1, 10, 1, "U"), (2, 20, 1, "U"), (3, 30, 1, "U")]
    second = [(1, 11, 2, "U"), (2, None, 2, "D")]
    apply_batch(spark.createDataFrame(first, SCHEMA), 0)
    apply_batch(spark.createDataFrame(second, SCHEMA), 1)
    # the crashed first attempt of batch 1 also left a part file whose
    # row would win the resolve for key 3
    stray = str(tmp_path / "stray")
    spark.createDataFrame([(3, 99, 9, "U")], SCHEMA).withColumn(
        "kp", F.lit(0)
    ).coalesce(1).write.orc(stray)
    (part,) = [n for n in os.listdir(stray) if n.endswith(".orc")]
    part_dir = os.path.join(state, "state_log", "batch_id=1")
    os.rename(os.path.join(stray, part), os.path.join(part_dir, "part-09999-stale.orc"))
    assert _rows(spark.read.orc(part_dir)) == sorted(second + [(3, 99, 9, "U")])

    apply_batch(spark.createDataFrame(second, SCHEMA), 1)  # the replay
    assert _rows(spark.read.orc(part_dir)) == sorted(second)
    latest = {}
    for row in first + second:
        if row[0] not in latest or row[2] > latest[row[0]][2]:
            latest[row[0]] = row
    assert _rows(orc_sink.read_cdc_table(spark, state)) == sorted(latest.values())


def test_empty_batch_reads_and_folds_to_nothing(spark, tmp_path):
    state = str(tmp_path / "state")
    apply_batch = _apply_batch(spark, state, str(tmp_path / "ckpt"))
    apply_batch(spark.createDataFrame([], SCHEMA), 0)
    assert orc_sink.read_cdc_table(spark, state).count() == 0
    assert orc_sink.fold_retract_state(spark, state) == {
        "log_rows_folded": 0, "buckets_rewritten": 0,
    }
    assert orc_sink.read_cdc_table(spark, state).count() == 0


def test_fresh_state_dir_read_names_the_dir(spark, tmp_path):
    """Before its first committed batch a state dir, empty or holding
    only layout markers, reads as a FileNotFoundError that names it."""
    empty, marked = str(tmp_path / "empty"), str(tmp_path / "marked")
    os.makedirs(empty)
    for marker in ("kc=k", "oc=seq", "nkp=16"):
        os.makedirs(os.path.join(marked, "layout", marker))
    for state in (empty, marked):
        for read in (orc_sink.read_cdc_table, orc_sink.read_scd2_history):
            with pytest.raises(FileNotFoundError, match="no batch has committed"):
                read(spark, state)
            with pytest.raises(FileNotFoundError, match=state):
                read(spark, state)


def test_applied_marker_guards_a_replay_after_its_fold(spark, tmp_path, monkeypatch):
    """With no fold floor every batch folds itself into the base, so a
    replayed batch finds its own rows there: the retract agg's
    ``applied/`` marker is what keeps the replay from overwriting the
    batch's deltas with zeros."""
    monkeypatch.setattr(orc_sink, "FOLD_MIN_BYTES", 0)
    src, state, ckpt = (str(tmp_path / d) for d in ("in", "state", "ckpt"))
    schema = "k long, grp string, v long, seq long, op string"
    feed = [[(1, "a", 10, 1, "U"), (2, "a", 20, 1, "U")], [(1, "b", 11, 2, "U")]]
    for i, rows in enumerate(feed):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"f{i}")
        )

    def run_and_read():
        q = orc_sink.stream_retract_agg_orc(
            orc_sink.stream_from_files(
                spark, os.path.join(src, "*"), schema, max_files_per_trigger=1
            ),
            state, ckpt, key_col="k", group_col="grp", val_col="v",
            order_cols=["seq"], trigger={"availableNow": True},
        )
        assert q.awaitTermination(120), "stream did not drain"
        return sorted(
            tuple(r) for r in orc_sink.read_retract_agg(spark, state).collect()
        )

    assert run_and_read() == [("a", 20, 1), ("b", 11, 1)]
    # both batches folded themselves: the log is empty
    assert not orc_data_files_exist(spark, os.path.join(state, "state_log"))
    # crash after batch 1's sink work, before its commit: it replays
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    assert run_and_read() == [("a", 20, 1), ("b", 11, 1)]


MIN_PART = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


def _mor_state(spark, tmp_path):
    """A CDC state dir holding a folded base plus two log batches, and
    the latest-per-key oracle of every row fed."""
    state = str(tmp_path / "state")
    apply_batch = _apply_batch(spark, state, str(tmp_path / "ckpt"))
    feed = [
        [(k, 10 * k, 1, "U") for k in range(1, 9)],
        [(1, 11, 2, "U"), (2, None, 2, "D"), (9, 90, 2, "U")],
        [(3, 31, 3, "U"), (9, None, 3, "D"), (4, 41, 3, "U"), (1, 12, 3, "U")],
    ]
    apply_batch(spark.createDataFrame(feed[0], SCHEMA), 0)
    orc_sink.fold_retract_state(spark, state)
    for i, rows in enumerate(feed[1:], start=1):
        apply_batch(spark.createDataFrame(rows, SCHEMA), i)
    latest = {}
    for row in (r for rows in feed for r in rows):
        if row[0] not in latest or row[2] > latest[row[0]][2]:
            latest[row[0]] = row
    return state, sorted(latest.values())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_mor_read_of_a_small_state_runs_one_job_without_shuffle(spark, tmp_path):
    state, oracle = _mor_state(spark, tmp_path)
    assert os.listdir(os.path.join(state, "state_log"))  # unfolded log
    t = orc_sink.read_cdc_table(spark, state)
    assert "Exchange" not in _plan(t)
    live = t.filter(F.col("op") != "D")
    job0 = _next_job(spark)
    assert live.count() == sum(1 for r in oracle if r[3] != "D")
    assert _next_job(spark) - job0 == 1
    assert _rows(t) == oracle


def test_mor_read_above_the_bound_keeps_the_hash_exchange(spark, tmp_path):
    state, oracle = _mor_state(spark, tmp_path)
    spark.conf.set(MIN_PART, "1b")
    try:
        t = orc_sink.read_cdc_table(spark, state)
        assert "Exchange hashpartitioning" in _plan(t)
        assert _rows(t) == oracle
    finally:
        spark.conf.unset(MIN_PART)


def _raised_in_sink(fn):
    """``fn()``'s result and the exceptions that passed through a frame
    of the sink module while it ran."""
    raised = []

    def local(frame, event, arg):
        if event == "exception":
            raised.append(arg[0])
        return local

    def tracer(frame, event, arg):
        return local if frame.f_code.co_filename == orc_sink.__file__ else None

    sys.settrace(tracer)
    try:
        return fn(), raised
    finally:
        sys.settrace(None)


def _probes(fs_calls, before) -> tuple[int, int]:
    return tuple(
        fs_calls[n] - before[n] for n in ("_hfs_exists", "_orc_files_exist")
    )


def test_reads_probe_each_directory_once(spark, tmp_path, fs_calls):
    state, oracle = _mor_state(spark, tmp_path)
    # merge on read: the log, then the base
    before = dict(fs_calls)
    t = orc_sink.read_cdc_table(spark, state)
    assert _probes(fs_calls, before) == (2, 0)
    assert _rows(t) == oracle

    orc_sink.fold_retract_state(spark, state)
    assert not os.path.exists(os.path.join(state, "state_log"))
    before = dict(fs_calls)
    t, raised = _raised_in_sink(lambda: orc_sink.read_cdc_table(spark, state))
    assert _probes(fs_calls, before) == (1, 0)
    assert raised == []
    assert _rows(t) == oracle
