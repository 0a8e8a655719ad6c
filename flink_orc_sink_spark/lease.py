"""Single-writer lease for shared state directories.

The stateful read-modify-write sinks (``streaming/orc_sink.py``) and
their maintenance ops (``cleanup_retract_state`` /
``cleanup_retract_join_state``, ``operators/retention.py``'s
``compact_index`` / ``forget_ids`` / ``readmit_ids``, and the
``append_to_*`` index appenders) mutate the same state directory
under a single-writer contract. Until round 8 that contract was
documented only — a cron mistake running a cleanup concurrently with
the sink's micro-batch would silently interleave a partition
overwrite with a read. This module makes the violation LOUD.

Scope (deliberate): the lease protects READ-MODIFY-WRITE state — a
store that is read, merged and partially overwritten, or a table
swapped by rename. The append-only, batch-id-keyed sinks
(``stream_quarantine_orc``, ``stream_fanout_orc``, the plain ORC
sink) are excluded by design: their writes are idempotent per
``batch_id`` partition and have no read-modify-write cycle for a
second writer to corrupt.

Primitive: ``FileSystem.create(path, overwrite=False)`` — atomic
create-if-absent (the same family as the replay-horizon ``mkdirs``
markers, but exclusive). The lease is a single file
``<state_path>/_lease`` whose content names the holder.

Atomicity scope (be honest about the primitive, per filesystem):

- **HDFS**: ``create(overwrite=False)`` is namenode-arbitrated —
  truly atomic, used as-is.
- **Local** (``file://``): Hadoop's ``LocalFileSystem`` decomposes
  the exclusive create into exists-then-create, so the lease write
  drops to POSIX ``O_CREAT|O_EXCL`` instead — kernel-arbitrated,
  truly atomic, proven by the cross-process barrier-race pytest.
- **Object stores (S3A etc.)**: no atomic create at this API level.
  Acquisition RE-READS the lease content after the create and
  yields unless its own owner name won (last-write-wins); that
  narrows the race window to the read-back instant but cannot close
  it — deploying there, prefer a natively conditional primitive
  (S3 conditional PUT ``If-None-Match``, or DynamoDB-based locking
  as S3A committers use) and keep ``ttl_sec`` generously above the
  clock skew.

The rename-based steal and release paths are single-winner on every
Hadoop filesystem (rename is atomic on HDFS and local, and fails for
the loser on S3A's copy-delete emulation too).

Liveness: while held via :func:`state_lease`, a daemon HEARTBEAT
thread refreshes the lease file's modification time every
``ttl_sec/3`` (``setTimes``; content-rewrite fallback for filesystems
that don't support it), so a LIVE holder is never judged stale no
matter how long its section runs — the age-based steal below only
ever fires on a genuinely crashed holder whose heartbeats stopped.

Acquisition rules, in order:

1. **No lease file** → create it (atomic; a concurrent racer loses
   the create and raises).
2. **Same owner** → reclaim immediately. ``owner`` must uniquely name
   the LOGICAL writer: the sinks derive it from their checkpoint path
   (Spark already guarantees one active stream per checkpoint, so a
   crash-restarted stream reclaims instantly and two live same-owner
   sinks are impossible); maintenance ops and appenders default to a
   PER-PROCESS owner (``<kind>:<host>:<pid>``), so two overlapping
   cron ticks or two concurrent ingest jobs are DIFFERENT owners and
   conflict loudly instead of silently sharing a constant name.
3. **Different owner, heartbeat older than ``ttl_sec``** →
   crash-orphan steal: the stale file is first ``rename``d to a
   unique tomb (rename is atomic — exactly one of N concurrent
   stealers wins; losers raise and retry later), then a fresh lease
   is created.
4. **Different owner, fresh** → :class:`LeaseHeldError`, loudly.

Release re-claims the file by rename before deleting it, so a lease
that was stolen (possible only after the holder's heartbeats stopped
for a full TTL) is never deleted out from under the thief.

Clock caveat (inherent to lease-over-FS designs): staleness compares
the lease file's mtime against the caller's clock; on object stores
with skewed clients keep ``ttl_sec`` generously above the worst skew.

The reference funnels all of its commit-path mutations through one
checkpoint thread (``RowOrcBucketingSink.java:153-213``) — this lease
is that serialization made explicit and multi-process.
"""

from __future__ import annotations

import os
import socket
import threading
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import SparkSession

from flink_orc_sink_spark.session import hadoop_fs, hadoop_path, jvm_class

LEASE_NAME = "_lease"
# With heartbeats every ttl/3, a live holder's lease never ages past
# ~ttl/3 — the TTL only bounds how long a CRASHED holder blocks a
# different owner. 15 minutes recovers crash orphans reasonably fast
# while tolerating long heartbeat hiccups (GC pauses, FS blips).
DEFAULT_TTL_SEC = 900.0


class LeaseHeldError(RuntimeError):
    """Another writer holds the state directory's single-writer lease.

    Raised instead of proceeding — the caller must NOT retry in a
    tight loop around a live writer; schedule maintenance between the
    sink's triggers, pass ``lease=False`` from a caller that already
    holds the state lease (as the sinks' own cleanup cadence does),
    or opt into bounded waiting with ``wait_sec`` when serializing
    behind the other writer is acceptable (concurrent index
    appenders, a maintenance op yielding to a sink's batch)."""


class LeaseLostError(RuntimeError):
    """The lease was lost WHILE held: the heartbeat observed the
    lease file gone or renamed to another owner mid-section. Possible
    only after heartbeats failed to land for a full TTL (so a thief
    legitimately stole the orphan) or after out-of-band interference
    with the lease file. The section's writes may have interleaved
    with the new holder's — the caller must treat the work as
    suspect, not commit it."""


def process_owner(kind: str) -> str:
    """Default lease owner for a maintenance op / appender: unique
    per INVOCATION (host:pid plus a random suffix), so ANY two
    overlapping runs — even same kind, even same process — are
    different owners and conflict loudly. The cost: a crashed run's
    orphan blocks for up to the TTL (which a crash implies anyway —
    a new process could never match a pid-based name either); a
    restarted STREAM avoids that wait because its owner is its
    checkpoint path, which Spark already serializes."""
    return (
        f"{kind}:{socket.gethostname()}:{os.getpid()}:"
        f"{uuid.uuid4().hex[:8]}"
    )


def _read_lease(spark: SparkSession, path: str) -> str:
    fs, p = hadoop_fs(spark, path)
    ins = fs.open(p)
    try:
        return str(
            jvm_class(spark, "org.apache.commons.io.IOUtils").toString(
                ins, "UTF-8"
            )
        )
    finally:
        ins.close()


def _write_lease(fs, p, owner: str) -> None:
    if fs.getScheme() == "file":
        # POSIX O_CREAT|O_EXCL — the one TRULY atomic create-if-absent
        # the local filesystem offers. Hadoop's LocalFileSystem
        # decomposes create(overwrite=False) into exists-then-create,
        # so two same-instant racers could both pass it; the kernel
        # arbitrates O_EXCL. (No .crc side file is written; the
        # ChecksumFileSystem reads a crc-less file without verifying,
        # and its own rename/delete keep any later crc in sync.)
        local = p.toUri().getPath()
        os.makedirs(os.path.dirname(local), exist_ok=True)
        fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, owner.encode("utf-8"))
        finally:
            os.close(fd)
        return
    out = fs.create(p, False)
    try:
        out.write(bytearray(owner.encode("utf-8")))
    finally:
        out.close()


def _try_acquire(
    spark: SparkSession,
    state_path: str,
    owner: str,
    ttl_sec: float,
) -> None:
    """One acquisition attempt (raises :class:`LeaseHeldError` on a
    live conflict)."""
    lease = state_path.rstrip("/") + "/" + LEASE_NAME
    fs, p = hadoop_fs(spark, lease)
    for attempt in range(2):
        if fs.exists(p):
            try:
                holder = _read_lease(spark, lease)
                age = time.time() - (
                    fs.getFileStatus(p).getModificationTime() / 1000.0
                )
            except Exception:
                # vanished between exists() and open(): released or
                # stolen under us — fall through and try the create
                holder, age = None, 0.0
            if holder is not None and holder != owner:
                if age <= ttl_sec:
                    raise LeaseHeldError(
                        f"state dir {state_path!r} lease is held by "
                        f"{holder!r} (heartbeat {age:.0f}s old, ttl "
                        f"{ttl_sec:.0f}s) — refusing to run {owner!r} "
                        f"concurrently"
                    )
                # crash orphan (heartbeats stopped a full TTL ago):
                # atomically retire it. Exactly one of N concurrent
                # stealers wins the rename; losers re-loop and (next
                # iteration) see the winner's fresh lease.
                tomb = hadoop_path(
                    spark, f"{lease}.stale.{uuid.uuid4().hex}"
                )
                if not fs.rename(p, tomb):
                    raise LeaseHeldError(
                        f"state dir {state_path!r}: lost the race to "
                        f"steal {holder!r}'s expired lease — retry"
                    )
                fs.delete(tomb, False)
            elif holder == owner:
                # our own (restart of this logical writer — the sinks'
                # checkpoint-derived owners): refresh in place
                fs.delete(p, False)
        try:
            _write_lease(fs, p, owner)
        except Exception as exc:
            if attempt == 0:
                continue  # racer created between our probe and create
            raise LeaseHeldError(
                f"state dir {state_path!r}: lease create lost a race "
                f"twice — a concurrent writer is active ({exc})"
            ) from None
        # Read-back verification (see module docstring): on stores
        # where create(overwrite=False) is exists-then-create, two
        # racers can both pass the create — whoever's content landed
        # last owns the file; the other yields here instead of both
        # proceeding. Skipped where the create is already atomic
        # (local O_EXCL, HDFS namenode-arbitrated) — the verify read
        # would be a wasted round trip per micro-batch.
        if fs.getScheme() not in ("file", "hdfs"):
            try:
                winner = _read_lease(spark, lease)
            except Exception:
                winner = None  # released/stolen instantly
            if winner is not None and winner != owner:
                raise LeaseHeldError(
                    f"state dir {state_path!r}: lease create raced "
                    f"with {winner!r} and lost the write — refusing "
                    f"to run {owner!r} concurrently"
                )
        return
    raise AssertionError("unreachable")


def acquire_lease(
    spark: SparkSession,
    state_path: str,
    owner: str,
    ttl_sec: float = DEFAULT_TTL_SEC,
    wait_sec: float = 0.0,
) -> None:
    """Take the single-writer lease on ``state_path`` for ``owner``.

    Raises :class:`LeaseHeldError` when a different owner holds it
    and its heartbeat is fresher than ``ttl_sec``. With the default
    ``wait_sec=0`` a conflict fails immediately and LOUDLY (the
    round-8 contract). ``wait_sec>0`` opts into BOUNDED waiting:
    jittered exponential backoff retries until the lease is won or
    the budget is exhausted (then the last :class:`LeaseHeldError`
    propagates) — the composition ergonomics for writers that should
    serialize rather than crash (two index appenders, a maintenance
    op scheduled next to a sink's cadence). The jitter desynchronizes
    N waiters so they don't re-collide on the same tick. Prefer
    :func:`state_lease`, which also heartbeats while held."""
    deadline = time.monotonic() + max(0.0, wait_sec)
    delay = 0.25
    while True:
        try:
            _try_acquire(spark, state_path, owner, ttl_sec)
            return
        except LeaseHeldError:
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                raise
            # deterministic-free jitter: uuid4 bits, not random()
            # (process-seeded RNGs would sync N forked waiters)
            jitter = 0.5 + (uuid.uuid4().int & 0xFFFF) / 0xFFFF
            time.sleep(min(delay * jitter, remaining))
            delay = min(delay * 2.0, 10.0)


def release_lease(
    spark: SparkSession, state_path: str, owner: str
) -> None:
    """Release ``owner``'s lease. The file is CLAIMED BY RENAME first
    (atomic), so a lease stolen after the holder's heartbeats stopped
    is never deleted out from under the thief: if the rename loses,
    someone else moved it (no-op); if the renamed content turns out
    not to be ours, it is restored. Releasing an already-released
    lease is a no-op; releasing must never fail the work that just
    finished."""
    lease = state_path.rstrip("/") + "/" + LEASE_NAME
    fs, p = hadoop_fs(spark, lease)
    tomb_path = f"{lease}.rel.{uuid.uuid4().hex}"
    try:
        if not fs.exists(p):
            return
        tomb = hadoop_path(spark, tomb_path)
        if not fs.rename(p, tomb):
            return  # moved under us: stolen/released — not ours
        if _read_lease(spark, tomb_path) == owner:
            fs.delete(tomb, False)
        elif not fs.rename(tomb, p):
            # someone created a new lease while we held the tomb
            # (possible only against a thief of OUR stolen lease —
            # i.e. our heartbeats already stopped a full TTL ago).
            # Drop the tomb; the dispossessed holder learns of the
            # loss through its own heartbeat's ownership check (the
            # ``lost`` flag on its LeaseHandle), not by assumption.
            fs.delete(tomb, False)
    except Exception:
        pass


class LeaseHandle:
    """What :func:`state_lease` yields: liveness introspection for
    long-running sections. ``lost`` is set by the heartbeat thread
    the moment it observes the lease gone or re-owned (which can
    only follow a full TTL of failed heartbeats, or out-of-band
    interference); call :meth:`check` at convenient barriers inside
    a long section to fail fast instead of racing the thief, and
    :func:`state_lease` itself re-checks on clean exit."""

    def __init__(self, state_path: str, owner: str) -> None:
        self.state_path = state_path
        self.owner = owner
        self.lost = threading.Event()

    def check(self) -> None:
        if self.lost.is_set():
            raise LeaseLostError(
                f"lease on {self.state_path!r} was lost while held by "
                f"{self.owner!r} — heartbeat found it gone or owned by "
                f"another writer; treat this section's writes as suspect"
            )


def _heartbeat(
    spark: SparkSession,
    lease: str,
    owner: str,
    stop: threading.Event,
) -> bool:
    """Refresh the lease's liveness signal once. ``setTimes`` where
    supported; content rewrite (create-overwrite, which also resets
    mtime) as the object-store fallback. Returns False if the lease
    is gone or no longer ours (stop heartbeating). ``stop`` is
    re-checked before any write: once release has begun, a lagging
    heartbeat must never RECREATE the file it just deleted (a phantom
    lease would block every writer for a full TTL)."""
    fs, p = hadoop_fs(spark, lease)
    try:
        if stop.is_set():
            return False
        if not fs.exists(p) or _read_lease(spark, lease) != owner:
            return False
        now_ms = int(time.time() * 1000)
        try:
            fs.setTimes(p, now_ms, now_ms)
        except Exception:
            # object-store fallback: re-verify ownership and the stop
            # flag right before the rewrite — create(overwrite=True)
            # would happily resurrect a just-released lease
            if stop.is_set() or _read_lease(spark, lease) != owner:
                return False
            out = fs.create(p, True)  # atomic-replace rewrite
            try:
                out.write(bytearray(owner.encode("utf-8")))
            finally:
                out.close()
        return True
    except Exception:
        return True  # transient FS blip: keep trying until TTL logic


@contextmanager
def state_lease(
    spark: SparkSession,
    state_path: str,
    owner: str,
    ttl_sec: float = DEFAULT_TTL_SEC,
    wait_sec: float = 0.0,
):
    """``with state_lease(...) as handle:`` — acquire around a
    mutation section and HEARTBEAT while inside it, so the section
    may run arbitrarily long without becoming stealable. The sinks
    wrap each micro-batch; the maintenance ops wrap their whole run.
    Pass the SAME ``state_path`` both sides use. ``wait_sec`` opts
    into bounded jittered waiting on a held lease (see
    :func:`acquire_lease`); the default 0 fails loudly.

    Yields a :class:`LeaseHandle`. If the heartbeat ever observes the
    lease lost (stolen after a full TTL of failed heartbeats), the
    handle's ``lost`` flag is set for sections that poll, and a
    section that completes without its own exception raises
    :class:`LeaseLostError` on exit — a dispossessed holder must not
    silently report success."""
    acquire_lease(spark, state_path, owner, ttl_sec, wait_sec)
    lease = state_path.rstrip("/") + "/" + LEASE_NAME
    handle = LeaseHandle(state_path, owner)
    stop = threading.Event()
    interval = min(max(ttl_sec / 3.0, 0.5), 300.0)

    def beat() -> None:
        while not stop.wait(interval):
            if not _heartbeat(spark, lease, owner, stop):
                if not stop.is_set():
                    # gone or re-owned while we believed we held it
                    handle.lost.set()
                return

    t = threading.Thread(
        target=beat, name=f"lease-heartbeat:{state_path}", daemon=True
    )
    t.start()
    try:
        yield handle
    finally:
        stop.set()
        # FS heartbeat calls are milliseconds; 30 s covers any blip.
        # Joining BEFORE release (with stop already set) is what makes
        # the release→phantom-recreate race all but impossible — the
        # in-flight heartbeat also re-checks `stop` before writing.
        t.join(timeout=30)
        release_lease(spark, state_path, owner)
    # reached only when the section body exited cleanly — its own
    # exception (if any) must win over the loss report
    handle.check()
