"""Outside-in collectors: Spark's status store, /proc, and streaming
progress. None of them changes what Spark executes.

- :class:`SparkLedger` reads completed stages from the status store
  (``statusStore().stageList``), the DAG scheduler's job and stage
  counters and the SQL status store, and reports what ran between a
  mark and now.
- :class:`ProcSampler` samples the JVM and its Python workers from /proc.
- :class:`ProgressListener` receives every streaming progress event;
  :func:`trigger_rows` and :func:`source_files_by_batch` turn progress and
  the source log of a checkpoint into per-trigger records.
- :class:`Reference` times a fixed Spark job between measured operations,
  so that timings can be reported at a fixed machine speed.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import time
from datetime import datetime

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

PY_SENT = "data sent to Python workers"
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _int(counter) -> int:
    """Value of a JVM counter that py4j returns as an int or an AtomicInteger."""
    return counter if isinstance(counter, int) else int(counter.get())


class SparkLedger:
    """Counts jobs, stages, tasks and stage metrics since a mark."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._complete = jvm.java.util.ArrayList()
        self._complete.add(jvm.org.apache.spark.status.api.v1.StageStatus.COMPLETE)
        self._gateway = spark.sparkContext._gateway

    def _sc(self):
        return self.spark.sparkContext._jsc.sc()

    def mark(self) -> dict:
        dag = self._sc().dagScheduler()
        return {"job": _int(dag.nextJobId()), "stage": _int(dag.nextStageId()), "execution": self._next_execution()}

    def _next_execution(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        ids = [e.executionId() for e in self._conv.asJava(store.executionsList())]
        return max(ids, default=-1) + 1

    def _python_tasks(self, first_execution: int, tasks: dict[int, int]) -> int:
        """Tasks that ran a Python UDF node, from the node's "data sent to
        Python workers" metric. Its text names the stage when several
        tasks updated it, and is a bare total when one task did."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        count = 0
        for e in self._conv.asJava(store.executionsList()):
            eid = e.executionId()
            if eid < first_execution:
                continue
            ids = [m.accumulatorId() for m in self._conv.asJava(e.metrics()) if m.name() == PY_SENT]
            if not ids:
                continue
            values = self._conv.asJava(store.executionMetrics(eid))
            for acc in ids:
                text = values.get(acc)
                if not text:
                    continue
                match = _STAGE_RE.search(text)
                count += tasks.get(int(match.group(1)), 0) if match else 1
        return count

    def since(self, mark: dict) -> dict:
        """Totals over the jobs and completed stages started after
        ``mark``. Times are in ms, sizes in bytes."""
        now = self.mark()
        empty = self._gateway.new_array(self._gateway.jvm.double, 0)
        stages = self._conv.asJava(
            self._sc().statusStore().stageList(self._complete, False, False, empty, self._gateway.jvm.java.util.ArrayList())
        )
        out = dict.fromkeys(
            ("stages", "tasks", "task_cpu_ms", "task_run_ms", "shuffle_bytes", "spill_bytes", "gc_ms", "input_records", "python_tasks"),
            0,
        )
        out["jobs"] = now["job"] - mark["job"]
        tasks: dict[int, int] = {}
        for s in stages:
            if not (mark["stage"] <= s.stageId() < now["stage"]):
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["task_cpu_ms"] += s.executorCpuTime() / 1e6
            out["task_run_ms"] += s.executorRunTime()
            out["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["gc_ms"] += s.jvmGcTime()
            out["input_records"] += s.inputRecords()
            tasks[s.stageId()] = s.numTasks()
        out["python_tasks"] = self._python_tasks(mark["execution"], tasks)
        return out


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu ms, reaped-children cpu ms) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    own = (int(fields[11]) + int(fields[12])) * _TICK_MS
    reaped = (int(fields[13]) + int(fields[14])) * _TICK_MS
    return int(fields[1]), own, reaped


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def io_written(pid: int) -> int:
    """Bytes ``pid`` sent to the block layer, less writes cancelled by
    truncating or deleting dirty pages."""
    vals = {}
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                key, _, value = line.partition(":")
                vals[key] = int(value)
    except OSError:
        return 0
    return vals.get("write_bytes", 0) - vals.get("cancelled_write_bytes", 0)


def python_workers(jvm_pid: int) -> list[int]:
    """PIDs of the pyspark daemon and workers under ``jvm_pid``."""
    found: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            st = _stat(int(name))
            if st:
                found[int(name)] = st[0]
    ours: set[int] = set()
    for pid in found:
        chain, cur = [], pid
        while cur in found and cur not in ours:
            chain.append(cur)
            cur = found[cur]
        if cur == jvm_pid or cur in ours:
            ours.update(chain)
    return sorted(ours)


class ProcSampler(threading.Thread):
    """Samples RSS and CPU of the JVM and its Python workers every
    ``interval`` seconds until :meth:`stop`.

    Python worker CPU is the workers' own CPU plus what their daemons
    reaped from exited workers, so it only grows."""

    def __init__(self, jvm_pid: int, interval: float = 0.1) -> None:
        super().__init__(name="proc-sampler", daemon=True)
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak_worker_rss = 0
        self.worker_pids: set[int] = set()
        self._cpu_ms: dict[int, float] = {}
        self._lock = threading.Lock()
        self._halt = threading.Event()

    def sample(self) -> None:
        pids = python_workers(self.jvm_pid)
        rss = 0
        with self._lock:
            for pid in pids:
                st = _stat(pid)
                if st is None:
                    continue
                self._cpu_ms[pid] = st[1] + st[2]
                rss += _rss_bytes(pid)
            self.worker_pids.update(pids)
            self.peak_worker_rss = max(self.peak_worker_rss, rss)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)

    def python_cpu_ms(self) -> float:
        self.sample()
        with self._lock:
            return sum(self._cpu_ms.values())

    def peak_rss_mb(self) -> float:
        """Peak RSS of the JVM (its high-water mark) plus the largest
        sampled total RSS of the Python workers."""
        jvm = _status_kb(self.jvm_pid, "VmHWM:") * 1024
        return (jvm + self.peak_worker_rss) / 2**20


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


# --- streaming progress ------------------------------------------------

PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets", "triggerExecution")


class ProgressListener(StreamingQueryListener):
    """Keeps the progress of every micro-batch of the session's queries,
    as the dicts ``StreamingQuery.recentProgress`` returns."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def triggers(self, expect: int, queries: set[str], timeout: float = 10.0) -> list[dict]:
        """:func:`trigger_rows` of what arrived from the streaming queries
        with ids in ``queries``, waiting up to ``timeout`` seconds for
        ``expect`` non-empty batches (delivery is asynchronous)."""
        deadline = time.time() + timeout
        while True:
            with self._lock:
                rows = [t for t in trigger_rows(self.progress) if t["query"] in queries]
            if len(rows) >= expect or time.time() > deadline:
                return rows
            time.sleep(0.05)


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def trigger_rows(progress: list[dict]) -> list[dict]:
    """One record per non-empty micro-batch: query id, batch id, input
    rows, start and end wall-clock time (s) and the phase durations (ms)."""
    out = []
    for p in progress:
        if not p.get("numInputRows"):
            continue
        d = p.get("durationMs", {})
        start = _epoch(p["timestamp"])
        row = {"query": str(p.get("id")), "batch": p["batchId"], "rows": p["numInputRows"], "start": start, "end": start + d.get("triggerExecution", 0) / 1000.0}
        row.update({ph: d.get(ph, 0) for ph in PHASES})
        out.append(row)
    return out


def source_files_by_batch(checkpoint: str) -> dict[str, int]:
    """File path (as the source logged it) → batch id, from the file
    source's log in ``checkpoint`` (plain and compacted entries)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    files: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                path = entry["path"]
                files[path] = min(files.get(path, entry["batchId"]), entry["batchId"])
    return files


def dir_bytes(path: str, prefix: str | None = None) -> tuple[int, int]:
    """(bytes, regular files) under ``path``; with ``prefix``, only files
    whose name starts with it."""
    total = count = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if prefix is None or name.startswith(prefix):
                total += os.path.getsize(os.path.join(root, name))
                count += 1
    return total, count


def percentile(values: list[float], q: float) -> float:
    """Linearly interpolated percentile, ``q`` in [0, 100]."""
    return float(np.percentile(np.asarray(values, dtype=float), q))


class Stopwatch:
    """``with Stopwatch() as sw: ...`` then ``sw.ms``."""

    def __enter__(self):
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.ms = (time.perf_counter() - self.t0) * 1000.0
        return False


# --- machine speed -------------------------------------------------------

REF_MS = 160.0  # what the reference job takes on a quiet 4-vCPU host
REF_ROWS = 20_000
STREAM_REF_MS = 350.0  # what a micro-batch of the streaming reference takes there
STREAM_REF_ROWS = 500
NEIGHBOURS = 2  # reference samples on each side of a measured time


def reference_job(session, directory: str):
    """A fixed Spark job that runs none of the package's code: write
    ``REF_ROWS`` generated rows as one Parquet file. Like a micro-batch of
    the workloads it plans a query, runs one task, and writes and commits
    a small file. ``session()`` returns the current SparkSession."""
    runs = [0]

    def job() -> None:
        runs[0] += 1
        path = os.path.join(directory, f"ref-{runs[0]:04d}")
        session().range(0, REF_ROWS, 1, 1).selectExpr("id", "id * 7 % 1000 AS v").write.parquet(path)
        parts = [n for n in os.listdir(path) if n.startswith("part-")]
        if len(parts) != 1:
            raise AssertionError(f"reference job wrote {len(parts)} files")

    return job


class StreamReferenceJob:
    """A fixed streaming micro-batch that runs none of the package's code:
    Spark's file source into Spark's own Parquet file sink. Each call
    drops one file of ``STREAM_REF_ROWS`` rows into the source and waits
    until the query has committed it, so it does a trigger's bookkeeping
    (offset log, file listing, sink log, commit log) like the workloads'
    micro-batches. :meth:`stop` stops the query and checks what it wrote."""

    def __init__(self, spark, directory: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.spark = spark
        self.src, self.out = os.path.join(directory, "in"), os.path.join(directory, "out")
        os.makedirs(self.src)
        self.template = os.path.join(directory, "template.parquet")
        ids = np.arange(STREAM_REF_ROWS, dtype=np.int64)
        pq.write_table(pa.table({"id": ids, "v": ids * 7 % 1000}), self.template)
        df = spark.readStream.schema("id LONG, v LONG").parquet(self.src)
        self.query = (
            df.writeStream.format("parquet")
            .option("path", self.out)
            .option("checkpointLocation", os.path.join(directory, "ck"))
            .start()
        )
        self.files = 0

    def __call__(self) -> None:
        self.files += 1
        name = f"r{self.files:05d}.parquet"
        tmp = os.path.join(self.src, f".{name}.tmp")
        shutil.copyfile(self.template, tmp)
        os.replace(tmp, os.path.join(self.src, name))
        self.query.processAllAvailable()

    def stop(self) -> None:
        self.query.stop()
        rows = self.spark.read.parquet(self.out).count() if self.files else 0
        if rows != self.files * STREAM_REF_ROWS:
            raise AssertionError(f"streaming reference committed {rows} rows for {self.files} files")


class Reference:
    """Times ``job`` between the operations a workload measures, and
    converts a wall time measured at some moment into the time it would
    have taken on a machine where the job takes ``ref_ms``.

    On a shared host the speed of the whole machine changes from second
    to second and from minute to minute, and all timings of a run move
    with it. A time measured at ``t`` is multiplied by ``ref_ms`` over the
    mean of the job's samples closest to ``t``: the last ``NEIGHBOURS``
    before it and the first ``NEIGHBOURS`` after it. The factor common to
    both cancels, and what is left is the program's own cost relative to
    a fixed job. This works only when a sample is taken right before and
    right after every measured operation. Disabled, every scale is 1 and
    :meth:`mark` does nothing."""

    def __init__(self, job, enabled: bool = True, ref_ms: float = REF_MS) -> None:
        self.job = job
        self.enabled = enabled
        self.ref_ms = ref_ms
        self.marks: list[tuple[float, float]] = []  # (wall clock at the middle, job ms)
        self.spent_s = 0.0  # wall time the job took, warm-up included

    def _run(self) -> float:
        with Stopwatch() as sw:
            self.job()
        self.spent_s += sw.ms / 1000.0
        return sw.ms

    def warm(self, n: int) -> None:
        """Run the job ``n`` times without recording it (JIT warm-up)."""
        if self.enabled:
            for _ in range(n):
                self._run()

    def mark(self) -> None:
        if self.enabled:
            t0 = time.time()
            ms = self._run()
            self.marks.append(((t0 + time.time()) / 2.0, ms))

    def scale_at(self, t: float) -> float:
        if not self.marks:
            return 1.0
        before = [ms for at, ms in self.marks if at <= t][-NEIGHBOURS:]
        after = [ms for at, ms in self.marks if at > t][:NEIGHBOURS]
        return self.ref_ms / float(np.mean(before + after))

    def scaled(self, duration: float, t: float) -> float:
        """``duration``, measured around wall time ``t``, at the reference
        machine speed."""
        return duration * self.scale_at(t)

    def samples(self) -> list[float]:
        return [ms for _, ms in self.marks]
