"""tools/bench_regression.py on whole runs: a clean repeat, a host
that slowed every query down, and a base written before the gate read
plan counters. The per-rule cases are in ``test_bench_gate.py``.
"""

from __future__ import annotations

import json
import os

from test_bench_gate import GATE, _entry, _gate, _run


def test_clean_run_passes(tmp_path):
    run = _run({"q": _entry(), "r": _entry(python_tasks=0)})
    proc = _gate(tmp_path, run, run)
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert proc.stdout.splitlines() == [
        "2 queries compared; wall 4.0 -> 4.0 s (advisory); pass"
    ]


def test_host_degradation_summary_line(tmp_path):
    """A host losing CPU to steal runs the same plans 3x slower: each
    query gets an advisory line with its steal, the summary line shows
    the wall as advisory, and the gate passes."""
    names = ("q1_pricing_summary", "docs_token_stats", "stream_cdc_apply")
    base = _run({n: _entry() for n in names})
    slow = _entry(sec=6.0, task_cpu_ms=4500, py_cpu_ms=2400, steal_pct=18.0)
    fresh = _run({n: slow for n in names})
    proc = _gate(tmp_path, fresh, base)
    assert proc.returncode == 0, proc.stdout
    lines = proc.stdout.splitlines()
    assert lines[-1] == "3 queries compared; wall 6.0 -> 18.0 s (advisory); pass"
    info = [x for x in lines if x.startswith("info ")]
    assert len(info) == len(names), lines
    assert all(x.endswith("(steal 0.5% -> 18.0%)") for x in info), info


def test_single_sample_legacy_pin_does_not_crash(tmp_path):
    """A base written before the gate read plan counters cannot be
    compared: the committed BENCH_PIN_r11.json (wall pin with probes)
    and a single-sample calibration pin both exit 2 with a reason, not
    a traceback."""
    fresh = _run({"q1_pricing_summary": _entry()})
    root = os.path.dirname(os.path.dirname(GATE))
    with open(os.path.join(root, "BENCH_PIN_r11.json")) as f:
        pin_r11 = json.load(f)
    single = {
        "queries": {"q1_pricing_summary": 1.0},
        "calibration_first_sec": 1.0,
        "probes": {"io": [0.5, 0]},
    }
    for base in (pin_r11, single):
        proc = _gate(tmp_path, fresh, base)
        assert proc.returncode == 2, proc.stdout + proc.stderr
        assert proc.stderr.startswith("cannot compare: ")
        assert "Traceback" not in proc.stderr
