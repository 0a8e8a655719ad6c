"""tools/bench_regression.py: the gate on exact per-query plan counters.

The JSON cases pin each rule of the gate; whole-run cases are in
``test_bench_regression_gate.py``. The Spark case measures real
queries through ``bench.Telemetry`` and checks that the gate passes a
run against a repeat of itself, and flags an injected shuffle and an
injected Python pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

GATE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "bench_regression.py",
)
MIB = 1 << 20


def _entry(**over):
    t = {
        "sec": 2.0,
        "jobs": 5,
        "stages": 6,
        "tasks": 20,
        "python_tasks": 4,
        "shuffle_bytes": 50 * MIB,
        "task_cpu_ms": 1500,
        "py_cpu_ms": 800,
        "py_spawns": 0,
        "steal_pct": 0.5,
    }
    t.update(over)
    return t


def _run(telemetry, cpus=4, sf=0.01):
    return {"cpus": cpus, "sf": sf, "telemetry": telemetry}


def _gate(tmp_path, fresh, base):
    paths = []
    for name, run in (("fresh.json", fresh), ("base.json", base)):
        p = tmp_path / name
        p.write_text(json.dumps(run))
        paths.append(str(p))
    return subprocess.run(
        [sys.executable, GATE, *paths], capture_output=True, text=True
    )


@pytest.mark.parametrize("key", ["jobs", "stages", "tasks", "python_tasks"])
def test_hard_counter_rise_by_one_fails(tmp_path, key):
    base = _run({"q": _entry()})
    fresh = _run({"q": _entry(**{key: _entry()[key] + 1})})
    proc = _gate(tmp_path, fresh, base)
    assert proc.returncode == 1, proc.stdout
    assert f"FAIL q: {key}" in proc.stdout


def test_counter_drop_passes(tmp_path):
    base = _run({"q": _entry()})
    fresh = _run(
        {"q": _entry(jobs=3, stages=4, tasks=9, python_tasks=0,
                     shuffle_bytes=MIB)}
    )
    proc = _gate(tmp_path, fresh, base)
    assert proc.returncode == 0, proc.stdout


@pytest.mark.parametrize(
    "base_bytes, fresh_bytes, rc",
    [
        # over 10 % but under 1 MiB: a small shuffle's noise
        (4 * MIB, 4 * MIB + MIB, 0),
        (50 * MIB, 55 * MIB, 0),
        (50 * MIB, 55 * MIB + 1, 1),
        (4 * MIB, 5 * MIB + 1, 1),
    ],
)
def test_shuffle_bytes_tolerance(tmp_path, base_bytes, fresh_bytes, rc):
    base = _run({"q": _entry(shuffle_bytes=base_bytes)})
    fresh = _run({"q": _entry(shuffle_bytes=fresh_bytes)})
    proc = _gate(tmp_path, fresh, base)
    assert proc.returncode == rc, proc.stdout


@pytest.mark.parametrize("key, other", [("cpus", 32), ("sf", 0.1)])
def test_different_settings_cannot_compare(tmp_path, key, other):
    base = _run({"q": _entry()})
    fresh = dict(base, **{key: other})
    proc = _gate(tmp_path, fresh, base)
    assert proc.returncode == 2
    assert key in proc.stderr


def test_missing_counters_cannot_compare(tmp_path):
    base = _run({"q": _entry()})
    old = {k: v for k, v in _entry().items() if k != "python_tasks"}
    proc = _gate(tmp_path, _run({"q": old}), base)
    assert proc.returncode == 2
    assert "python_tasks" in proc.stderr


def test_advisory_blowup_passes(tmp_path):
    base = _run({"q": _entry()})
    fresh = _run({"q": _entry(sec=20.0, task_cpu_ms=9000, steal_pct=14.0)})
    proc = _gate(tmp_path, fresh, base)
    assert proc.returncode == 0, proc.stdout
    assert "info q: task_cpu_ms 1500 -> 9000, sec 2.0 -> 20.0" in proc.stdout
    assert "steal 0.5% -> 14.0%" in proc.stdout


def test_dropped_query_fails_and_new_query_is_listed(tmp_path):
    base = _run({"q": _entry(), "r": _entry()})
    fresh = _run({"q": _entry(), "s": _entry()})
    proc = _gate(tmp_path, fresh, base)
    assert proc.returncode == 1
    assert "FAIL r: missing" in proc.stdout
    assert "new  s" in proc.stdout


def test_gate_flags_injected_shuffle_and_python_pass(spark, sf_dir, tmp_path):
    import bench
    from flink_orc_sink_spark.queries import all_queries

    queries = all_queries()
    names = ("q3_shipping_priority", "stream_cdc_apply")
    variants = {
        "base": lambda df: df,
        "again": lambda df: df,
        "shuffle": lambda df: df.repartition(7),
        "python": lambda df: df.mapInArrow(lambda it: it, df.schema),
    }
    tel = bench.Telemetry(spark)
    runs = {label: {} for label in variants}
    for name in names:
        for label, wrap in variants.items():
            runs[label][name] = tel.measure(
                lambda: wrap(queries[name](spark, sf_dir)).count()
            )
    cpus = spark.sparkContext.defaultParallelism

    def gate(fresh, base):
        return _gate(tmp_path, _run(runs[fresh], cpus), _run(runs[base], cpus))

    for fresh, base in (("again", "base"), ("base", "again")):
        proc = gate(fresh, base)
        assert proc.returncode == 0, (proc.stdout, runs)
    for label, flagged in (
        ("shuffle", ("jobs", "stages", "tasks")),
        ("python", ("python_tasks",)),
    ):
        proc = gate(label, "base")
        assert proc.returncode == 1, (proc.stdout, runs)
        fails = [x for x in proc.stdout.splitlines() if x.startswith("FAIL")]
        assert len(fails) == len(names), fails
        for line in fails:
            assert any(f" {k} " in line for k in flagged), line
