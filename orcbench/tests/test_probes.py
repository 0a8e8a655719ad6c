"""Collectors: exact job, stage and task counts of tiny fixed jobs, and
parsing of streaming progress and the file-source log."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from orcbench.probes import REF_MS, Reference, SparkLedger, percentile, source_files_by_batch, trigger_rows


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from flink_orc_sink_spark.session import get_spark

    return get_spark("orcbench-tests", master="local[2]", shuffle_partitions=2, extra_conf={"spark.ui.showConsoleProgress": "false"})


def test_map_only_job_counts(spark):
    ledger = SparkLedger(spark)
    mark = ledger.mark()
    spark.range(0, 1000, 1, 4).write.mode("overwrite").format("noop").save()
    got = ledger.since(mark)
    assert (got["jobs"], got["stages"], got["tasks"], got["python_tasks"]) == (1, 1, 4, 0)
    assert got["shuffle_bytes"] == 0
    assert got["task_run_ms"] >= 0 and got["task_cpu_ms"] > 0


def test_python_udf_tasks_are_counted(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    ledger = SparkLedger(spark)
    mark = ledger.mark()
    spark.range(0, 100, 1, 3).select(plus_one("id")).write.mode("overwrite").format("noop").save()
    got = ledger.since(mark)
    assert (got["jobs"], got["stages"], got["tasks"], got["python_tasks"]) == (1, 1, 3, 3)
    # one task: the metric is a bare total that names no stage
    mark = ledger.mark()
    spark.range(0, 100, 1, 1).select(plus_one("id")).write.mode("overwrite").format("noop").save()
    got = ledger.since(mark)
    assert (got["jobs"], got["stages"], got["tasks"], got["python_tasks"]) == (1, 1, 1, 1)


def test_trigger_rows_skip_empty_batches():
    progress = [
        {"batchId": 0, "numInputRows": 5, "timestamp": "2024-01-01T00:00:00.000Z", "durationMs": {"triggerExecution": 250, "addBatch": 100}},
        {"batchId": 1, "numInputRows": 0, "timestamp": "2024-01-01T00:00:01.000Z", "durationMs": {"triggerExecution": 3}},
    ]
    rows = trigger_rows(progress)
    assert len(rows) == 1
    assert rows[0]["end"] - rows[0]["start"] == pytest.approx(0.25)
    assert rows[0]["addBatch"] == 100 and rows[0]["walCommit"] == 0


def test_source_log_maps_files_to_batches(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    entry = lambda p, b: json.dumps({"path": p, "timestamp": 1, "batchId": b})  # noqa: E731
    (log / "0").write_text("v1\n" + entry("file:///in/a", 0))
    (log / "1").write_text("v1\n" + entry("file:///in/b", 1))
    (log / "1.compact").write_text("v1\n" + entry("file:///in/a", 0) + "\n" + entry("file:///in/b", 1))
    (log / ".1.crc").write_text("x")
    assert source_files_by_batch(str(tmp_path)) == {"file:///in/a": 0, "file:///in/b": 1}


def test_percentile_interpolates():
    assert percentile([1, 2, 3, 4], 50) == 2.5
    assert percentile([10.0], 90) == 10.0


def test_reference_scales_by_the_samples_around_a_moment():
    # two samples on each side count, fewer near either end
    ref = Reference(None)
    ref.marks = [(10.0, 100.0), (20.0, 300.0), (30.0, 200.0), (40.0, 400.0), (50.0, 100.0)]
    assert ref.scale_at(25.0) == pytest.approx(REF_MS / 250.0)
    assert ref.scale_at(35.0) == pytest.approx(REF_MS / 250.0)
    assert ref.scale_at(15.0) == pytest.approx(REF_MS / 200.0)
    assert ref.scale_at(5.0) == pytest.approx(REF_MS / 200.0)
    assert ref.scale_at(55.0) == pytest.approx(REF_MS / 250.0)
    assert ref.scaled(50.0, 25.0) == pytest.approx(50.0 * REF_MS / 250.0)
    other = Reference(None, ref_ms=60.0)
    other.marks = ref.marks
    assert other.scale_at(25.0) == pytest.approx(60.0 / 250.0)
    assert Reference(None).scale_at(15.0) == 1.0


def test_reference_records_only_marks_and_only_when_enabled():
    calls = []
    ref = Reference(lambda: calls.append(1))
    ref.warm(2)
    ref.mark()
    ref.mark()
    assert len(calls) == 4 and len(ref.samples()) == 2 and ref.spent_s > 0
    off = Reference(lambda: calls.append(1), enabled=False)
    off.warm(2)
    off.mark()
    assert len(calls) == 4 and off.samples() == [] and off.scale_at(0.0) == 1.0
