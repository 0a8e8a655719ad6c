"""Guards on the driver-verified priority window (round-10 advice):
the hand-rotated 50-entry ``_PRIORITY`` tuple must never silently
demote a query — a typo'd or stale name, or a duplicate, fails loudly
at registry-build time instead of quietly dropping out of the
driver's correctness window.
"""

from __future__ import annotations

import pytest

from flink_orc_sink_spark import queries as reg


def test_priority_window_resolves_and_leads():
    q = list(reg.all_queries())
    # every priority name resolved, in order, at the front
    assert q[: len(reg._PRIORITY)] == list(reg._PRIORITY)
    assert len(reg._PRIORITY) == 50  # the driver checks exactly 50
    assert len(set(q)) == len(q)


def test_priority_typo_fails_loudly(monkeypatch):
    bad = reg._PRIORITY[:-1] + ("q1_pricing_summary_TYPO",)
    monkeypatch.setattr(reg, "_PRIORITY", bad)
    with pytest.raises(ValueError, match="not in any registry"):
        reg.all_queries()


def test_priority_duplicate_fails_loudly(monkeypatch):
    bad = reg._PRIORITY[:-1] + (reg._PRIORITY[0],)
    monkeypatch.setattr(reg, "_PRIORITY", bad)
    with pytest.raises(ValueError, match="duplicates"):
        reg.all_queries()


def test_every_oracle_names_a_registered_query():
    q = set(reg.all_queries())
    assert set(reg.all_oracles()) <= q


# bench.py HEADLINE entries where each probe reads what its build
# persisted
HEADLINE_CHAINS = (
    ["stream_fidx_build", "stream_fidx_ingest",
     "stream_fidx_forget", "stream_fidx_probe"],
    ["docs_index_build", "docs_index_probe"],
    ["docs_bm25_index_build", "docs_bm25_index_probe"],
)


def test_bench_headline_names_resolve():
    """Every bench.py HEADLINE name must resolve in the registry or a
    BENCH_ONLY map — a typo would kill the whole bench run at minute
    four (same failure mode the _PRIORITY guard closes) — and the
    chained build/probe entries must stay in order."""
    import bench
    from flink_orc_sink_spark.queries import engine, llm

    known = (
        set(reg.all_queries())
        | set(llm.BENCH_ONLY)
        | set(engine.BENCH_ONLY)
    )
    missing = [n for n in bench.HEADLINE if n not in known]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    # each probe reads what its build persisted, so a chain must run
    # in order
    for chain in HEADLINE_CHAINS:
        idx = [bench.HEADLINE.index(q) for q in chain]
        assert idx == sorted(idx), f"chain {chain} out of order"
