"""The generators are deterministic in their seed, and the CDC replay
resolves latest-per-key by sequence number."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from orcbench import gen


def _bytes(tmp_path, sub: str, table) -> bytes:
    path = gen.write_parquet(table, str(tmp_path / sub), "f.parquet")
    with open(path, "rb") as f:
        return f.read()


def test_event_files_are_byte_identical_for_a_seed(tmp_path):
    a = _bytes(tmp_path, "a", gen.event_table(7, 3, 500))
    b = _bytes(tmp_path, "b", gen.event_table(7, 3, 500))
    c = _bytes(tmp_path, "c", gen.event_table(8, 3, 500))
    assert a == b
    assert a != c


def test_cdc_files_are_byte_identical_for_a_seed(tmp_path):
    a = _bytes(tmp_path, "a", gen.cdc_table(7, 2, 400, 100))
    b = _bytes(tmp_path, "b", gen.cdc_table(7, 2, 400, 100))
    c = _bytes(tmp_path, "c", gen.cdc_table(8, 2, 400, 100))
    assert a == b
    assert a != c


def test_no_temp_file_is_left_behind(tmp_path):
    gen.write_parquet(gen.event_table(1, 0, 10), str(tmp_path), "x.parquet")
    assert sorted(p.name for p in tmp_path.iterdir()) == ["x.parquet"]


def test_event_ids_are_unique_and_some_rows_are_late():
    t = pa.concat_tables([gen.event_table(1, i, 1000) for i in range(3)])
    ids = t.column("event_id").to_numpy()
    assert len(np.unique(ids)) == len(ids) == 3000
    ts = t.column("ts").cast(pa.int64()).to_numpy()
    hour_start = gen.EPOCH_US + (ids // 1000) * gen.HOUR_US
    assert 0.05 < np.mean(ts < hour_start) < 0.15


def test_cdc_sequence_numbers_are_unique_with_late_changes_and_tombstones():
    tables = [gen.cdc_table(1, i, 2000, 500) for i in range(4)]
    seq = np.concatenate([t.column("seq").to_numpy() for t in tables])
    assert len(np.unique(seq)) == len(seq)
    first_of_last = 3 * 2000 << 20
    assert np.any(tables[3].column("seq").to_numpy() < first_of_last)
    ops = np.concatenate([t.column("op").to_numpy(zero_copy_only=False) for t in tables])
    assert 0.15 < np.mean(ops == "D") < 0.25


def test_replay_keeps_the_highest_sequence_per_key():
    replay = gen.CdcReplay()
    replay.apply(pa.table({"k": [1, 1, 2, 3], "seq": [5, 9, 4, 1], "op": ["U", "U", "U", "U"], "val": [10, 11, 20, 30]}))
    replay.apply(pa.table({"k": [1, 2, 3], "seq": [7, 6, 2], "op": ["U", "D", "U"], "val": [12, 21, 31]}))
    assert replay.latest == {1: (9, "U", 11), 2: (6, "D", 21), 3: (2, "U", 31)}
    ans = replay.answers(hot_key=1)
    assert ans["hot"] == 11
    assert ans["live"] == 2
    assert ans["groups"] == {1: (1, 11), 3: (1, 31)}


def test_event_signature_sum_matches_rows():
    t = gen.event_table(2, 0, 100)
    n, s = gen.event_truth(t)
    assert n == 100
    rows = t.to_pylist()
    want = 0
    for r in rows:
        ts_us = int(r["ts"].timestamp()) * 1_000_000
        want += gen.event_sig(r["event_id"], r["user_id"], ts_us, r["kind"], r["amount_cents"])
    assert s == want


def test_doc_batches_are_byte_identical_for_a_seed(tmp_path):
    a = _bytes(tmp_path, "a", gen.doc_table(7, 1, 60, [])[0])
    b = _bytes(tmp_path, "b", gen.doc_table(7, 1, 60, [])[0])
    c = _bytes(tmp_path, "c", gen.doc_table(8, 1, 60, [])[0])
    assert a == b
    assert a != c


def test_planted_near_duplicates_copy_an_earlier_original():
    admitted: list = []
    first, dups0, _ = gen.doc_table(3, 0, 200, admitted)
    second, dups1, pii = gen.doc_table(3, 1, 200, admitted)
    assert len(admitted) == 400 - len(dups0) - len(dups1)
    assert 0.05 < len(dups1) / 200 < 0.25
    assert 0.15 < pii / (200 - len(dups1)) < 0.5

    def shingles(text):
        toks = text.split()
        return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}

    originals = {d: shingles(" ".join(t)) for d, t in admitted}
    texts = dict(zip(second.column("doc_id").to_pylist(), second.column("text").to_pylist()))
    for doc_id, text in texts.items():
        sh = shingles(text)
        best = max(len(sh & o) / len(sh | o) for d, o in originals.items() if d != doc_id)
        # a planted copy is a near-duplicate of an earlier original; a
        # decoy or a fresh doc stays below the 0.7 threshold
        assert (best >= 0.8) == (doc_id in dups1), (doc_id, best)
        assert doc_id in dups1 or best < 0.7
    decoys = [d for d, t in texts.items() if d not in dups1 and max(len(shingles(t) & o) / len(shingles(t) | o) for e, o in originals.items() if e != d) > 0.2]
    assert 0.03 < len(decoys) / 200 < 0.2
