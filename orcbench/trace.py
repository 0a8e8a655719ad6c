"""Span recorder for the traced run, and the rebinding that puts spans
inside the sinks without editing the package.

A span is (id, name, start, end, parent, run id). Its layer is the part
of the name before the first dot. Spans stay in memory and are written
out once, at the end. A layer's self time is the time its spans cover
minus the part of each span that its child spans cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer, in seconds."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(children.get(s.id, []), s.start, s.end)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


class Recorder:
    """Collects spans; disabled, :meth:`span` costs one attribute test.

    The parent of a span is the innermost open span on its thread. A span
    opened on a thread with none open (a ``foreachBatch`` callback runs on
    a py4j thread) takes the innermost open span of the main thread."""

    def __init__(self, enabled: bool, run_id: str = "") -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))

    def add(self, key: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[key] = self.counts.get(key, 0) + value

    def total_ms(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name) * 1000.0

    def number(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# --- rebinding inside the sinks ---------------------------------------

_FS_HELPERS = ("_hfs_dir_size", "_hfs_exists", "_hfs_list_names", "_hfs_mkdirs", "_hfs_rmtree", "_orc_files_exist")


def _timed(rec: Recorder, name: str, fn):
    def wrapper(*args, **kwargs):
        with rec.span(name):
            return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


def _traced_lease(rec: Recorder, lease_cm):
    @contextlib.contextmanager
    def state_lease(*args, **kwargs):
        cm = lease_cm(*args, **kwargs)
        with rec.span("lease.acquire"):
            value = cm.__enter__()
        rec.add("lease.acquires")
        try:
            yield value
        except BaseException as exc:
            with rec.span("lease.release"):
                if not cm.__exit__(type(exc), exc, exc.__traceback__):
                    raise
        else:
            with rec.span("lease.release"):
                cm.__exit__(None, None, None)

    return state_lease


def _traced_fold(rec: Recorder, fold):
    def fold_retract_state(*args, **kwargs):
        # A call that takes the lease recurses once with lease=False; the
        # inner call is the fold itself and the one counted.
        inner = kwargs.get("lease", True) is False
        with rec.span("cdc.fold" if inner else "cdc.fold_leased"):
            out = fold(*args, **kwargs)
        if inner:
            rec.add("cdc.folds")
            rec.add("cdc.log_rows_folded", out.get("log_rows_folded", 0))
            rec.add("cdc.buckets_rewritten", out.get("buckets_rewritten", 0))
        return out

    return fold_retract_state


@contextlib.contextmanager
def rebind_sink_helpers(rec: Recorder):
    """Wrap the names ``streaming/orc_sink.py`` imported (the lease
    context manager, the ``session.fs_*`` helpers) and its
    ``fold_retract_state`` in spans, for the duration of the block.
    Module attributes are rebound, so the sink's own calls go through
    the wrappers; the package files are untouched."""
    from flink_orc_sink_spark.streaming import orc_sink

    saved = {name: getattr(orc_sink, name) for name in (*_FS_HELPERS, "state_lease", "fold_retract_state")}
    try:
        for name in _FS_HELPERS:
            setattr(orc_sink, name, _timed(rec, "cdc.fs", saved[name]))
        orc_sink.state_lease = _traced_lease(rec, saved["state_lease"])
        orc_sink.fold_retract_state = _traced_fold(rec, saved["fold_retract_state"])
        yield orc_sink.fold_retract_state
    finally:
        for name, fn in saved.items():
            setattr(orc_sink, name, fn)
