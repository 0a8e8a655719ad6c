"""Self-time arithmetic and span parenting of the recorder."""

from __future__ import annotations

import threading

import pytest

from orcbench.trace import Recorder, Span, _covered, self_times


def test_covered_merges_overlaps_and_clips():
    assert _covered([(1, 3), (2, 5), (8, 12)], 0, 10) == 6
    assert _covered([], 0, 10) == 0
    assert _covered([(-5, 20)], 0, 10) == 10


def test_self_time_subtracts_children_per_layer():
    spans = [
        Span(1, "streaming.apply", 0.0, 10.0, None, "r"),
        Span(2, "lease.acquire", 1.0, 3.0, 1, "r"),
        Span(3, "cdc.fs", 2.0, 5.0, 1, "r"),
        Span(4, "cdc.fs", 8.0, 12.0, 1, "r"),
        Span(5, "cdc.fold", 2.5, 4.0, 3, "r"),
    ]
    got = self_times(spans)
    assert got["streaming"] == pytest.approx(10 - 4 - 2)
    assert got["lease"] == pytest.approx(2)
    assert got["cdc"] == pytest.approx((3 - 1.5) + 4 + 1.5)


def test_spans_on_a_callback_thread_take_the_main_threads_open_span():
    rec = Recorder(True, "r")
    with rec.span("streaming.apply"):
        with rec.span("cdc.read"):
            pass

        def callback():
            with rec.span("lease.acquire"):
                with rec.span("cdc.fs"):
                    pass

        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    by_name = {s.name: s for s in rec.spans}
    outer = by_name["streaming.apply"].id
    assert by_name["cdc.read"].parent == outer
    assert by_name["lease.acquire"].parent == outer
    assert by_name["cdc.fs"].parent == by_name["lease.acquire"].id
    assert by_name["streaming.apply"].parent is None


def test_disabled_recorder_keeps_nothing():
    rec = Recorder(False)
    with rec.span("cdc.fs"):
        rec.add("lease.acquires")
    assert rec.spans == [] and rec.counts == {}
