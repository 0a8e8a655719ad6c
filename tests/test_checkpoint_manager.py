"""Every sink starts through ``session.start_stream``: on a ``file:``
checkpoint its offset, commit and ``_spark_metadata`` logs commit
through the Hadoop FileSystem API instead of ``FileContext``, the
caller's session conf is left as found, a value the caller set wins,
and a checkpoint written by the ``FileContext`` manager resumes
exactly once."""

from __future__ import annotations

import sys
import threading
import time

import pytest

from flink_orc_sink_spark import session
from flink_orc_sink_spark.session import (
    CHECKPOINT_MANAGER_KEY,
    LOCAL_CHECKPOINT_MANAGER,
    start_stream,
)
from flink_orc_sink_spark.streaming import (
    read_cdc_table,
    read_committed_orc,
    stream_cdc_apply_orc,
    stream_from_files,
    stream_write_orc,
)

FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)
SCHEMA = "id LONG, user STRING"


def _write_input(spark, path: str, ids: range) -> None:
    spark.range(ids.start, ids.stop).selectExpr(
        "id", "concat('u', id % 5) AS user"
    ).coalesce(1).write.mode("append").parquet(path)


def _managers(q) -> dict[str, str]:
    """Class names of the started query's checkpoint managers: its
    offset and commit logs and, for the file sink, ``_spark_metadata``
    (a private field, read by reflection)."""
    se = q._jsq.streamingQuery()
    out = {
        "offsets": se.offsetLog().fileManager().getClass().getName(),
        "commits": se.commitLog().fileManager().getClass().getName(),
    }
    sink = se.sink()
    if sink.getClass().getSimpleName() == "FileStreamSink":
        field = sink.getClass().getDeclaredField("fileLog")
        field.setAccessible(True)
        out["sink"] = field.get(sink).fileManager().getClass().getName()
    return out


@pytest.fixture
def unset_manager(spark):
    """The manager key unset before and after the test."""
    spark.conf.unset(CHECKPOINT_MANAGER_KEY)
    yield
    spark.conf.unset(CHECKPOINT_MANAGER_KEY)


def test_sinks_log_through_filesystem_on_a_file_checkpoint(
    spark, tmp_path, unset_manager
):
    src = str(tmp_path / "in")
    _write_input(spark, src, range(0, 50))
    q = stream_write_orc(
        stream_from_files(spark, src, SCHEMA),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert _managers(q) == {
        "offsets": LOCAL_CHECKPOINT_MANAGER,
        "commits": LOCAL_CHECKPOINT_MANAGER,
        "sink": LOCAL_CHECKPOINT_MANAGER,
    }
    assert read_committed_orc(spark, str(tmp_path / "out")).count() == 50

    # a stateful sink: foreachBatch, through _start_foreach_batch
    cdc = stream_from_files(spark, src, SCHEMA).selectExpr(
        "user AS k", "id AS seq", "'U' AS op"
    )
    q = stream_cdc_apply_orc(
        cdc, str(tmp_path / "state"), str(tmp_path / "ck_cdc"), "k",
        ["seq"], trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert _managers(q) == {
        "offsets": LOCAL_CHECKPOINT_MANAGER,
        "commits": LOCAL_CHECKPOINT_MANAGER,
    }
    # the query's own session, which its batches and state stores run
    # on, keeps the manager
    stream_conf = q._jsq.streamingQuery().sparkSessionForStream().conf()
    assert stream_conf.get(CHECKPOINT_MANAGER_KEY) == LOCAL_CHECKPOINT_MANAGER
    assert read_cdc_table(spark, str(tmp_path / "state")).count() == 5
    # left as found
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None


def test_start_leaves_the_session_conf_unset(spark, tmp_path, unset_manager):
    src = str(tmp_path / "in")
    _write_input(spark, src, range(0, 10))
    ck = str(tmp_path / "ck")
    seen = []

    class Writer:
        """Records the setting ``start()`` ran under, then fails as a
        bad sink option would."""

        def start(self):
            seen.append(spark.conf.get(CHECKPOINT_MANAGER_KEY, None))
            raise RuntimeError("sink refused to start")

    with pytest.raises(RuntimeError, match="refused"):
        start_stream(Writer(), spark, ck)
    assert seen == [LOCAL_CHECKPOINT_MANAGER]
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None

    # a real start that Spark rejects (a file sink with no path)
    writer = stream_from_files(spark, src, SCHEMA).writeStream.format(
        "orc"
    ).option("checkpointLocation", ck)
    with pytest.raises(Exception):
        start_stream(writer, spark, ck)
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None


def test_a_value_the_caller_set_is_kept(spark, tmp_path, unset_manager):
    src = str(tmp_path / "in")
    _write_input(spark, src, range(0, 10))
    spark.conf.set(CHECKPOINT_MANAGER_KEY, FILE_CONTEXT_MANAGER)
    q = stream_write_orc(
        stream_from_files(spark, src, SCHEMA),
        str(tmp_path / "out"),
        str(tmp_path / "ck"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert set(_managers(q).values()) == {FILE_CONTEXT_MANAGER}
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY) == FILE_CONTEXT_MANAGER


def test_concurrent_starts_each_run_under_the_manager(
    spark, tmp_path, unset_manager
):
    """Starts from more threads than cores: each ``start()`` runs with
    the manager set, and the last unset leaves the conf as found. An
    unlocked set/unset would let one thread's ``finally`` unset the
    value under another thread's start, or take another thread's
    value for the caller's."""
    ck = str(tmp_path / "ck")
    seen, errors = [], []

    class Writer:
        def start(self):
            time.sleep(0.002)
            seen.append(spark.conf.get(CHECKPOINT_MANAGER_KEY, None))

    def worker():
        try:
            for _ in range(5):
                start_stream(Writer(), spark, ck)
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert seen == [LOCAL_CHECKPOINT_MANAGER] * 40
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None


def test_other_schemes_keep_sparks_default(spark, monkeypatch, unset_manager):
    """An ``hdfs://`` checkpoint starts with the session as it is: the
    scheme comes from ``hadoop_fs``, and no setting is made."""

    class Fs:
        def getScheme(self):
            return "hdfs"

    probed, seen = [], []
    monkeypatch.setattr(
        session, "hadoop_fs", lambda s, p: (probed.append(p), (Fs(), p))[1]
    )

    class Writer:
        def start(self):
            seen.append(spark.conf.get(CHECKPOINT_MANAGER_KEY, None))
            return "started"

    ck = "hdfs://localhost:8020/ck"
    assert start_stream(Writer(), spark, ck) == "started"
    assert probed == [ck]
    assert seen == [None]
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None


def test_restart_on_a_file_context_checkpoint_is_exactly_once(
    spark, tmp_path, unset_manager
):
    """Logs that Spark's default ``FileContext`` manager wrote resume
    under the FileSystem-based one: the restart neither replays a
    committed file nor drops a new one."""
    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    _write_input(spark, src, range(0, 100))
    spark.conf.set(CHECKPOINT_MANAGER_KEY, FILE_CONTEXT_MANAGER)
    q = stream_write_orc(
        stream_from_files(spark, src, SCHEMA), out, ck,
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    assert _managers(q)["commits"] == FILE_CONTEXT_MANAGER
    spark.conf.unset(CHECKPOINT_MANAGER_KEY)

    _write_input(spark, src, range(100, 250))
    q2 = stream_write_orc(
        stream_from_files(spark, src, SCHEMA), out, ck,
        trigger={"availableNow": True},
    )
    q2.awaitTermination(120)
    assert set(_managers(q2).values()) == {LOCAL_CHECKPOINT_MANAGER}
    back = read_committed_orc(spark, out)
    assert back.count() == 250
    assert {r.id for r in back.select("id").collect()} == set(range(250))
    assert q2.lastProgress is not None
    assert q2.lastProgress["batchId"] == 1
