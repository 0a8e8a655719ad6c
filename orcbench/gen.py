"""Seeded input generators for the workloads and the curation phase.

Everything here runs outside Spark: generators write Parquet files with
pyarrow and return the ground truth the workload checks against. The same
seed gives byte-identical files (``tests/test_gen.py`` pins this).

A file becomes visible to the streaming source by an atomic rename from a
dot-prefixed temp name, which Spark's file source ignores.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Event time of the first event: 2024-01-01T00:00:00Z, in microseconds.
EPOCH_US = 1_704_067_200_000_000
HOUR_US = 3_600_000_000
SIG_MOD = 2_147_483_647  # 2^31 - 1

EVENT_SCHEMA = "event_id long, user_id long, ts timestamp, kind int, amount_cents long"
CDC_SCHEMA = "k long, seq long, op string, val long"
DOC_SCHEMA = "doc_id long, text string"


def _rng(seed: int, stream: str, index: int) -> np.random.Generator:
    """Independent generator per (seed, stream, file index), so a file's
    bytes do not depend on which other files were generated before it."""
    tag = int.from_bytes(stream.encode(), "little") % (2**31)
    return np.random.default_rng([seed, tag, index])


def write_parquet(table: pa.Table, directory: str, name: str) -> str:
    """Write ``table`` to ``directory/name`` through a hidden temp file and
    a rename, so a streaming source never sees a half-written file."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    final = os.path.join(directory, name)
    os.replace(tmp, final)
    return final


# --- ingest_append: click events ---------------------------------------


def event_sig(event_id, user_id, ts_us, kind, amount_cents):
    """Per-row signature whose sum over a table is an order-independent
    hash of it. Written with numpy-compatible operators so the same
    expression runs on arrays here and on Spark columns in the checker."""
    return (
        event_id * 1_000_003
        + user_id * 7_919
        + (ts_us // 1_000_000) % 1_000_003 * 31
        + amount_cents * 13
        + kind
    ) % SIG_MOD


def event_table(seed: int, index: int, rows: int) -> pa.Table:
    """File ``index`` of the event stream: ``rows`` events with globally
    unique ids, Zipf-skewed user ids, and event time advancing one hour
    per file with ~10 % of rows arriving up to three hours late."""
    rng = _rng(seed, "events", index)
    event_id = np.arange(index * rows, (index + 1) * rows, dtype=np.int64)
    user_id = np.minimum(rng.zipf(1.3, rows), 100_000).astype(np.int64)
    offset = rng.integers(0, HOUR_US, rows, dtype=np.int64)
    late = rng.random(rows) < 0.10
    offset -= late * rng.integers(0, 3 * HOUR_US, rows, dtype=np.int64)
    ts_us = EPOCH_US + index * HOUR_US + offset
    kind = rng.integers(0, 8, rows).astype(np.int32)
    amount = rng.integers(1, 100_000, rows, dtype=np.int64)
    return pa.table(
        {
            "event_id": event_id,
            "user_id": user_id,
            "ts": pa.array(ts_us, type=pa.timestamp("us", tz="UTC")),
            "kind": kind,
            "amount_cents": amount,
        }
    )


def event_truth(table: pa.Table) -> tuple[int, int]:
    """(row count, signature sum) of one generated event file."""
    cols = [table.column(c).to_numpy() for c in ("event_id", "user_id")]
    ts_us = table.column("ts").cast(pa.int64()).to_numpy()
    kind = table.column("kind").to_numpy().astype(np.int64)
    amount = table.column("amount_cents").to_numpy()
    sig = event_sig(cols[0], cols[1], ts_us, kind, amount)
    return table.num_rows, int(sig.sum())


# --- cdc_upsert: keyed change feed -------------------------------------


def cdc_table(seed: int, index: int, rows: int, keys: int) -> pa.Table:
    """File ``index`` of the change feed over ``keys`` keys: Zipf-skewed
    keys, ~20 % delete tombstones, globally unique sequence numbers, and
    ~5 % of changes carrying a sequence number from up to three files
    back (late arrivals that must lose to newer changes)."""
    rng = _rng(seed, "cdc", index)
    k = (rng.zipf(1.2, rows) - 1) % keys
    pos = np.arange(index * rows, (index + 1) * rows, dtype=np.int64)
    late = (rng.random(rows) < 0.05) & (index > 0)
    back = rng.integers(1, 3 * rows, rows, dtype=np.int64)
    # Sequence numbers stay unique (a strict order per key): on-time
    # changes take pos << 20; a late one sorts just after position
    # pos - back, tagged in the low bits by its own position. Unique while
    # the feed has under 2^20 - 1 changes.
    lane = 1 << 20
    seq = np.where(
        late, np.maximum(pos - back, 0) * lane + pos % (lane - 1) + 1, pos * lane
    )
    perm = rng.permutation(rows)
    op = np.where(rng.random(rows) < 0.2, "D", "U")
    val = rng.integers(0, 1_000_000, rows, dtype=np.int64)
    return pa.table(
        {
            "k": k.astype(np.int64)[perm],
            "seq": seq[perm],
            "op": pa.array(op[perm]),
            "val": val[perm],
        }
    )


class CdcReplay:
    """Plain-Python latest-per-key replay of the change feed: the oracle
    for every CDC read."""

    def __init__(self) -> None:
        self.latest: dict[int, tuple[int, str, int]] = {}

    def apply(self, table: pa.Table) -> None:
        cols = table.to_pydict()
        for k, seq, op, val in zip(cols["k"], cols["seq"], cols["op"], cols["val"]):
            cur = self.latest.get(k)
            if cur is None or seq > cur[0]:
                self.latest[k] = (seq, op, val)

    def live(self) -> dict[int, int]:
        return {k: v for k, (_, op, v) in self.latest.items() if op != "D"}

    def answers(self, hot_key: int) -> dict:
        """The round's read answers: hot-key lookup, live-key count, and
        live count and value sum grouped by ``k % 10``."""
        live = self.live()
        groups: dict[int, list[int]] = {}
        for k, v in live.items():
            g = groups.setdefault(k % 10, [0, 0])
            g[0] += 1
            g[1] += v
        return {
            "hot": live.get(hot_key),
            "live": len(live),
            "groups": {g: tuple(c) for g, c in sorted(groups.items())},
        }


# --- curation: documents with planted near-duplicates -------------------

VOCAB = 20_000
DOC_TOKENS = 80


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = []
    i += 26 * 26  # at least three letters
    while i:
        i, r = divmod(i, 26)
        out.append(letters[r])
    return "".join(out)


@functools.cache
def _words() -> list[str]:
    return [_word(i) for i in range(VOCAB)]


def doc_table(
    seed: int, index: int, rows: int, admitted: list[tuple[int, list[str]]]
) -> tuple[pa.Table, set[int], int]:
    """Batch ``index`` of the document stream.

    About 15 % of the docs are planted near-duplicates: a copy of an
    earlier original, from a previous batch (``admitted``) or from this
    one, with 2 of its 80 tokens replaced (3-shingle Jaccard ≥ 0.85,
    above the 0.7 threshold). About 10 % are decoys: a copy with 16
    tokens replaced (Jaccard ≤ 0.67, typically ~0.4), which LSH often
    makes a candidate and verification must keep. Decoys and fresh docs
    are originals. About 30 % of the fresh docs carry an email or a
    phone number for the PII scrub. Returns the table, the planted
    duplicate ids, and the number of originals that carry PII.
    Originals of this batch are appended to ``admitted`` so later
    batches can copy them."""
    rng = _rng(seed, "docs", index)
    words = _words()
    base_id = index * rows
    ids, texts, dups = [], [], set()
    fresh: list[tuple[int, list[str]]] = []
    pii = 0
    for j in range(rows):
        doc_id = base_id + j
        pool = admitted + fresh
        kind = rng.random() if pool else 1.0
        if kind < 0.25:
            _, src = pool[int(rng.integers(0, len(pool)))]
            toks = list(src)
            for pos in rng.choice(len(toks), 2 if kind < 0.15 else 16, replace=False):
                toks[pos] = words[int(rng.integers(0, VOCAB))]
        else:
            toks = [words[int(w)] for w in rng.integers(0, VOCAB, DOC_TOKENS)]
            draw = rng.random()
            if draw < 0.15:
                toks[int(rng.integers(0, DOC_TOKENS))] = f"user{doc_id}@example.com"
            elif draw < 0.30:
                toks[int(rng.integers(0, DOC_TOKENS))] = f"+1 555-{doc_id % 1000:03d}-{j % 10000:04d}"
        if kind < 0.15:
            dups.add(doc_id)
        else:
            pii += int(any("@" in t or t.startswith("+1 ") for t in toks))
            fresh.append((doc_id, toks))
        ids.append(doc_id)
        texts.append(" ".join(toks))
    admitted.extend(fresh)
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}), dups, pii
