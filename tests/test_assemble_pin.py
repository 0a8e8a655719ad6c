"""bench.py's headline families."""

from __future__ import annotations

import bench
from test_registry_window import HEADLINE_CHAINS


def test_order_dependent_headline_chains_share_a_family():
    """The printed line sums the headline walls per family. A chained
    build and probe share a family, so one family's sum holds the whole
    chain however the work shifts between them. Their order is checked
    in ``test_registry_window``."""
    for chain in HEADLINE_CHAINS:
        fams = {bench._family(q) for q in chain}
        assert len(fams) == 1, f"chain {chain} spans families {fams}"


def test_family_selection_preserves_headline_order():
    """The printed line's family sums over a selection of headline
    queries hold each selected family once, in headline order."""
    fams = {"docs", "stream"}
    sub = [q for q in bench.HEADLINE if bench._family(q) in fams]
    sums = bench._family_sums({q: 1.0 for q in sub})
    order = list(dict.fromkeys(bench._family(q) for q in bench.HEADLINE))
    assert list(sums) == [f for f in order if f in fams]
    for fam, total in sums.items():
        assert total == sum(bench._family(q) == fam for q in sub)
