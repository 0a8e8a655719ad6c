"""The workloads. Each drives the package only through its public
functions and returns ``(end_to_end, per_layer)`` metric dicts.

Every workload follows the same outline: set-up (session, warm-up to a
throughput plateau, bootstrap), a timed part of about ``--seconds``
seconds, then correctness checks outside the timing.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from orcbench import gen
from orcbench.probes import (
    STREAM_REF_MS,
    ProcSampler,
    ProgressListener,
    Reference,
    SparkLedger,
    StreamReferenceJob,
    Stopwatch,
    dir_bytes,
    io_written,
    jvm_pid,
    percentile,
    python_workers,
    reference_job,
    source_files_by_batch,
    trigger_rows,
)
from orcbench.trace import Recorder, rebind_sink_helpers, self_times

SETUPS = 3  # set-ups per run; setup_s is their median
WARM_MAX = 6  # warm-up rounds per set-up
PLATEAU = 1.10  # a round this much faster than every earlier one is still warming
REF_WARM = 2  # unrecorded reference jobs before the first mark


class Bench:
    """State of one benchmark run: the session, the collectors, the
    correctness tally and the run's private directories."""

    def __init__(self, work: str, seed: int, seconds: float, trace: bool) -> None:
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rec = Recorder(trace, run_id=f"{os.getpid()}-{seed}")
        self.spark = None
        self.ledger: SparkLedger | None = None
        self.sampler: ProcSampler | None = None
        self.listener: ProgressListener | None = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.setup_times: list[float] = []
        self.setup_ends: list[float] = []  # wall clock at the end of each set-up
        # the machine-speed reference; timed runs only (see probes.Reference)
        self.ref = Reference(None, enabled=False)
        self.start_ms: list[float] = []
        self.warm_ms: list[float] = []
        self.samples: dict[str, int] = {}  # sample counts behind the percentiles
        self.shared_s = 0.0  # wall time of the part traced and untraced runs share
        self._dirs = 0
        self.t_start = time.perf_counter()

    # -- bookkeeping ---------------------------------------------------

    def log(self, msg: str) -> None:
        print(f"[orcbench {time.perf_counter() - self.t_start:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def fresh_dir(self, tag: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{self._dirs:03d}-{tag}")
        os.makedirs(path)
        return path

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def attempt(self, what: str, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:
            self.failed += 1
            self.problems.append(f"{what}: {type(exc).__name__}: {exc}")
            raise

    # -- session ---------------------------------------------------------

    def _session(self):
        from flink_orc_sink_spark.session import get_spark

        tmp = os.path.join(self.work, "jvm-tmp")
        os.makedirs(tmp, exist_ok=True)
        return get_spark(
            "orcbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.streaming.numRecentProgressUpdates": "100000",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )

    def setup(self, warm_round, bootstrap=None):
        """Set up ``SETUPS`` times and keep the last: (re)start the session,
        run ``warm_round(dir)`` (returns rows/s), then ``bootstrap()``. The
        first set-up launches the JVM and warms it until a round is not
        ``PLATEAU`` times faster than the best earlier one; later set-ups
        restart the session on the warm JVM and run one round. The
        reference job runs after each set-up, outside its time."""
        best = 0.0
        self.ref = Reference(reference_job(lambda: self.spark, os.path.join(self.work, "ref")), enabled=not self.trace)
        for n in range(SETUPS):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            with Stopwatch() as sw, self.rec.span("session.start"):
                self.spark = self._session()
            self.start_ms.append(sw.ms)
            with Stopwatch() as sw, self.rec.span("session.warm"):
                rates: list[float] = []
                while len(rates) < WARM_MAX:
                    rates.append(warm_round(self.fresh_dir("warm")))
                    if n > 0 or rates[-1] < PLATEAU * best:
                        break
                    best = max(best, rates[-1])
            self.warm_ms.append(sw.ms)
            if bootstrap is not None:
                with self.rec.span("session.bootstrap"):
                    bootstrap()
            self.setup_times.append(time.perf_counter() - t0)
            self.setup_ends.append(time.time())
            if n == 0:
                self.ref.warm(REF_WARM)
            self.ref.mark()
            self.log(f"set-up {len(self.setup_times)}: {self.setup_times[-1]:.2f} s, start {self.start_ms[-1]:.0f} ms, warm-up rounds {[round(r) for r in rates]} rows/s")
        self.ledger = SparkLedger(self.spark)
        if self.trace:
            self.sampler = ProcSampler(jvm_pid(self.spark))
            self.sampler.start()
            self.listener = ProgressListener()
            self.spark.streams.addListener(self.listener)

    def close(self) -> None:
        """Stop the session, the JVM and its Python workers, and wait for
        each to end."""
        if self.sampler is not None:
            self.sampler.stop()
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        pid = jvm_pid(self.spark)
        workers = python_workers(pid)
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.time() + 10
        for w in workers:
            while os.path.exists(f"/proc/{w}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{w}"):
                try:
                    os.kill(w, 9)
                except OSError:
                    pass
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- shared metric helpers -----------------------------------------

    @contextlib.contextmanager
    def stream_reference(self):
        """The reference for ``ingest_append``'s micro-batches: a
        micro-batch of Spark's own file sink (``StreamReferenceJob``),
        warmed up. A batch job slows down more than such a light
        micro-batch on a busy machine. Its time is left out of the shared
        wall time."""
        job = StreamReferenceJob(self.spark, self.fresh_dir("stream-ref")) if not self.trace else None
        ref = Reference(job, job is not None, STREAM_REF_MS)
        ref.warm(REF_WARM)
        yield ref
        if job is not None:
            job.stop()
        self.ref.spent_s += ref.spent_s

    def done(self) -> None:
        """End of the part traced and untraced runs share; the reference
        job's time is left out of it."""
        self.shared_s = time.perf_counter() - self.t_start - self.ref.spent_s

    def common(self, e2e: dict, layer: dict, triggers: list[dict], spark_delta: dict | None, trigger_ref: Reference) -> tuple[dict, dict]:
        """Add the metrics every workload reports the same way; trigger
        times are scaled by ``trigger_ref``."""
        # a set-up ends just before a reference sample: scale it there
        e2e["setup_s"] = statistics.median(self.ref.scaled(s, t - 1e-3) for s, t in zip(self.setup_times, self.setup_ends))
        lat = [trigger_ref.scaled(t["triggerExecution"], (t["start"] + t["end"]) / 2) for t in triggers]
        e2e["batch_p50_ms"] = percentile(lat, 50)
        if self.ref.enabled:
            for ref in {id(r): r for r in (self.ref, trigger_ref)}.values():
                ms = ref.samples()
                self.log(f"reference ({ref.ref_ms:.0f} ms nominal): {len(ms)} samples, median {statistics.median(ms):.0f} ms, min {min(ms):.0f}, max {max(ms):.0f}")
            self.log(
                f"unscaled: set-up {statistics.median(self.setup_times):.2f} s, "
                f"batch p50 {percentile([t['triggerExecution'] for t in triggers], 50):.0f} ms"
            )
        if not self.trace:
            return e2e, layer
        layer["session.peak_rss_mb"] = self.sampler.peak_rss_mb()
        layer["session.start_ms"] = statistics.median(self.start_ms)
        layer["session.cold_start_ms"] = self.start_ms[0]
        layer["session.warm_ms"] = statistics.median(self.warm_ms)
        n = len(triggers)
        # the phases as the listener saw them; recentProgress must agree
        heard = self.listener.triggers(n, {t["query"] for t in triggers})
        self.check(
            [t["batch"] for t in heard] == [t["batch"] for t in triggers],
            f"listener saw {len(heard)} batches, recentProgress {n}",
        )
        layer["streaming.triggers"] = len(heard)
        for phase, key in (
            ("latestOffset", "latest_offset_ms"),
            ("getBatch", "get_batch_ms"),
            ("queryPlanning", "query_planning_ms"),
            ("walCommit", "wal_commit_ms"),
            ("addBatch", "add_batch_ms"),
            ("commitOffsets", "commit_offsets_ms"),
        ):
            layer[f"streaming.{key}"] = float(np.mean([t[phase] for t in heard]))
        if spark_delta is not None:
            layer["spark.jobs_per_trigger"] = spark_delta["jobs"] / n
            layer["spark.tasks_per_trigger"] = spark_delta["tasks"] / n
            for key in ("task_cpu_ms", "task_run_ms", "shuffle_bytes", "spill_bytes", "gc_ms"):
                layer[f"spark.{key}"] = spark_delta[key] / n
        for name, secs in self_times(self.rec.spans).items():
            layer[f"{name}.self_ms"] = secs * 1000.0
        return e2e, layer


def _freshness(ref: Reference, triggers: list[dict], checkpoint: str, made: dict[str, float]):
    """Per input file: creation → end of the trigger that committed it
    (freshness, scaled by ``ref``), and creation → start of that trigger
    (queue wait)."""
    by_batch = {t["batch"]: t for t in triggers}
    fresh, wait = [], []
    for path, batch in source_files_by_batch(checkpoint).items():
        name = os.path.basename(path)
        if name in made and batch in by_batch:
            end = by_batch[batch]["end"]
            fresh.append(ref.scaled((end - made[name]) * 1000.0, (end + made[name]) / 2))
            wait.append((by_batch[batch]["start"] - made[name]) * 1000.0)
    return fresh, wait


def _storage(layer: dict, data_dir: str, meta_dirs: list[str], input_bytes: int, written: int) -> None:
    _, data_files = dir_bytes(data_dir, prefix="part-")
    leaves = {root for root, _d, names in os.walk(data_dir) if any(n.startswith("part-") for n in names)}
    layer["storage.output_files"] = data_files
    layer["storage.files_per_partition"] = data_files / max(len(leaves), 1)
    layer["storage.metadata_bytes"] = sum(dir_bytes(d)[0] for d in meta_dirs)
    layer["storage.write_amp"] = written / max(input_bytes, 1)


class _Written:
    """Bytes the JVM and its Python workers sent to disk over a block;
    syncs first so that buffered writes are counted."""

    def __init__(self, bench: Bench, enabled: bool) -> None:
        self.bench, self.enabled, self.bytes = bench, enabled, 0

    def _now(self) -> int:
        os.sync()
        pid = self.bench.sampler.jvm_pid
        return sum(io_written(p) for p in [pid, *python_workers(pid)])

    def __enter__(self):
        if self.enabled:
            self.t0 = self._now()
        return self

    def __exit__(self, *exc):
        if self.enabled:
            self.bytes = self._now() - self.t0
        return False


def _file_bytes(directory: str, names: list[str]) -> int:
    return sum(os.path.getsize(os.path.join(directory, n)) for n in names)


# --- ingest_append ---------------------------------------------------------

EVENT_ROWS = 10_000  # rows per event file
DRAIN_CHUNK = 3  # files per step of the closed-loop drain
QUERY_ROUNDS = 3  # passes over the read mix


def ingest_append(b: Bench) -> tuple[dict, dict]:
    """Event files → ``stream_write_orc`` partitioned by day and hour, in
    three phases: a closed-loop drain of small backlogs, single files
    arriving at the idle sink, and a read mix over the committed table.
    The reference job runs after every drain step, arrival and query."""
    from pyspark.sql import functions as F

    from flink_orc_sink_spark.streaming import read_committed_orc, stream_from_files, stream_write_orc

    def start(src: str, out: str, ck: str, trigger=None):
        df = stream_from_files(b.spark, src, gen.EVENT_SCHEMA, max_files_per_trigger=1)
        df = df.withColumn("day", F.to_date("ts")).withColumn("hour", F.hour("ts"))
        return stream_write_orc(df, out, ck, partition_cols=["day", "hour"], trigger=trigger)

    warm_tables = [gen.event_table(b.seed, 100_000 + i, EVENT_ROWS) for i in range(2)]

    def warm_round(d: str) -> float:
        for i, t in enumerate(warm_tables):
            gen.write_parquet(t, f"{d}/in", f"w{i:03d}.parquet")
        t0 = time.perf_counter()
        q = start(f"{d}/in", f"{d}/out", f"{d}/ck", {"availableNow": True})
        q.awaitTermination()
        return len(warm_tables) * EVENT_ROWS / (time.perf_counter() - t0)

    b.setup(warm_round)
    spark, rec = b.spark, b.rec
    d = b.fresh_dir("ingest")
    src, out, ck = f"{d}/in", f"{d}/out", f"{d}/ck"

    t_timed = time.perf_counter()
    # a fixed amount of work per --seconds: at 10 s the drain, the
    # arrivals and the reads take about 5, 3 and 4 s on a 4-core host
    n_chunks = max(3, round(b.seconds / 3))
    n_live = max(4, round(b.seconds / 2.5))
    n_drain = n_chunks * DRAIN_CHUNK
    tables = [gen.event_table(b.seed, i, EVENT_ROWS) for i in range(n_drain + n_live)]
    names = [f"e{i:05d}.parquet" for i in range(len(tables))]
    os.makedirs(src)
    mark = b.ledger.mark() if b.trace else None
    with b.stream_reference() as sref, _Written(b, b.trace) as written:
        q = b.attempt("start ingest query", start, src, out, ck)
        q.processAllAvailable()
        sref.mark()
        # phase 1: closed-loop drain, a backlog of DRAIN_CHUNK files at a time
        with rec.span("streaming.drain"):
            for c in range(n_chunks):
                for i in range(c * DRAIN_CHUNK, (c + 1) * DRAIN_CHUNK):
                    gen.write_parquet(tables[i], src, names[i])
                q.processAllAvailable()
                sref.mark()
        # phase 2: single files arriving at the idle sink
        made: dict[str, float] = {}
        with rec.span("streaming.live"):
            for i in range(n_drain, len(tables)):
                gen.write_parquet(tables[i], src, names[i])
                made[names[i]] = time.time()
                q.processAllAvailable()
                sref.mark()
        triggers = trigger_rows(q.recentProgress)
        q.stop()
    spark_delta = b.ledger.since(mark) if b.trace else None
    for t in triggers:
        b.check(t["rows"] == EVENT_ROWS, f"batch {t['batch']} read {t['rows']} rows")
    # a chunk's drain time: from the start of its first trigger to the
    # end of its last
    chunks = [triggers[c * DRAIN_CHUNK : (c + 1) * DRAIN_CHUNK] for c in range(n_chunks)]
    drains = [(ch[-1]["end"] - ch[0]["start"], (ch[-1]["end"] + ch[0]["start"]) / 2) for ch in chunks]
    b.log(f"drained {n_chunks} chunks of {DRAIN_CHUNK} files in {[round(s, 2) for s, _ in drains]} s; {n_live} single arrivals")
    fresh, queue_wait = _freshness(sref, triggers, ck, made)
    b.check(len(fresh) == n_live, f"freshness for {len(fresh)} of {n_live} arriving files")

    # phase 3: the read mix over the committed table
    truth = pa.concat_tables(tables)
    ts_us = truth.column("ts").cast(pa.int64()).to_numpy()
    amount = truth.column("amount_cents").to_numpy()
    day_idx = ts_us // (24 * gen.HOUR_US)
    days = np.unique(day_idx)
    n_hours = len(np.unique(ts_us // gen.HOUR_US))
    rng = np.random.default_rng([b.seed, 7])
    table = read_committed_orc(spark, out)

    def rollup(i):
        rows = table.groupBy("day", "hour").agg(F.count("*").alias("n"), F.sum("amount_cents").alias("s")).collect()
        ok = len(rows) == n_hours and sum(r.n for r in rows) == truth.num_rows and sum(r.s for r in rows) == int(amount.sum())
        return ok, len(rows)

    def day_range(i):
        day = int(days[i % len(days)])
        lit = np.datetime64(day, "D").astype(object)
        r = table.filter(F.col("day") == F.lit(lit)).agg(F.count("*").alias("n"), F.sum("amount_cents").alias("s")).collect()[0]
        sel = day_idx == day
        return r.n == int(sel.sum()) and (r.s or 0) == int(amount[sel].sum()), 1

    def lookup(i):
        ids = rng.integers(0, truth.num_rows, 5).tolist()
        rows = table.filter(F.col("event_id").isin(ids)).select("event_id", "user_id", "amount_cents").collect()
        want = truth.filter(pc.is_in(truth.column("event_id"), pa.array(ids, pa.int64())))
        got = sorted((r.event_id, r.user_id, r.amount_cents) for r in rows)
        exp = sorted(zip(*(want.column(c).to_pylist() for c in ("event_id", "user_id", "amount_cents"))))
        return got == exp, len(rows)

    qlat: list[tuple[float, float]] = []  # (ms, wall clock at the end)
    returned = 0
    qmark = b.ledger.mark() if b.trace else None
    b.ref.mark()
    for i in range(QUERY_ROUNDS):
        for fn in (rollup, day_range, lookup):
            with Stopwatch() as sw, rec.span("streaming.read"):
                ok, n = b.attempt(f"query {fn.__name__}", fn, i)
            b.check(ok, f"query {fn.__name__} #{i} answer")
            qlat.append((sw.ms, time.time()))
            returned += n
            b.ref.mark()
    qdelta = b.ledger.since(qmark) if b.trace else None
    b.log(f"timed part: {len(qlat)} queries done {time.perf_counter() - t_timed:.2f} s after set-up")

    # correctness: nothing lost or duplicated
    sig = F.pmod(
        F.col("event_id") * 1_000_003
        + F.col("user_id") * 7_919
        + F.pmod(F.unix_seconds("ts"), F.lit(1_000_003)) * 31
        + F.col("amount_cents") * 13
        + F.col("kind"),
        F.lit(gen.SIG_MOD),
    )
    got = table.agg(F.count("*").alias("n"), F.sum(sig).alias("s")).collect()[0]
    want_n, want_s = 0, 0
    for t in tables:
        n, s = gen.event_truth(t)
        want_n, want_s = want_n + n, want_s + s
    b.check(got.n == want_n and got.s == want_s, f"committed ({got.n}, {got.s}) != generated ({want_n}, {want_s})")

    b.done()
    b.log(f"shared part done (set-up, three phases, checks): {b.shared_s:.2f} s")
    curation = _curation(b) if b.trace else {}

    n_rows = want_n
    drained = n_drain * EVENT_ROWS
    e2e = {
        "ingest_rows_per_s": drained / sum(sref.scaled(s, t) for s, t in drains),
        "fresh_p50_ms": percentile(fresh, 50),
        "query_p50_ms": percentile([b.ref.scaled(ms, t - ms / 2000) for ms, t in qlat], 50),
        "bytes_per_row": dir_bytes(out)[0] / n_rows,
    }
    if b.ref.enabled:
        b.log(f"unscaled: {drained / sum(s for s, _ in drains):.0f} rows/s, query p50 {percentile([ms for ms, _ in qlat], 50):.0f} ms")
    layer: dict = {}
    if b.trace:
        layer["streaming.files_per_trigger"] = len(tables) / len(triggers)
        layer["streaming.queue_wait_ms"] = percentile(queue_wait, 50)
        layer["spark.rows_examined_per_row_returned"] = qdelta["input_records"] / max(returned, 1)
        _storage(layer, out, [os.path.join(out, "_spark_metadata"), ck], _file_bytes(src, names), written.bytes)
    b.samples = {"batch": len(triggers), "fresh": len(fresh), "query": len(qlat)}
    e2e, layer = b.common(e2e, layer, triggers, spark_delta, sref)
    layer.update(curation)
    return e2e, layer


# --- curation (a phase of the traced ingest_append run) --------------------

DOC_ROWS = 150  # documents per batch
DOC_BATCHES = 2


def _curation(b: Bench) -> dict:
    """Documents with planted near-duplicates through a ``foreachBatch``
    built like ``examples/streaming_ingest_pipeline.py``: probe the
    persisted MinHash index, find near-duplicates within the batch, scrub
    PII, write the admitted docs batch-id-idempotently to ORC, then append
    them to the index. Returns the ``dedup.*`` and ``python.*`` metrics.

    A micro-batch here costs seconds (about 26 Spark jobs, most of them
    running Arrow UDF tasks), so a steady end-to-end figure would need
    minutes per run. The phase therefore runs only in the traced run,
    after the timed phases, and reports per-layer metrics."""
    from pyspark.sql import functions as F

    from flink_orc_sink_spark.functions.pii import EMAIL_RE, EMAIL_TOKEN, PHONE_RE, PHONE_TOKEN, scrub_pii
    from flink_orc_sink_spark.operators.dedup import (
        append_to_minhash_index,
        build_minhash_index,
        minhash_dedup_pairs,
        minhash_probe_index,
        shingle_hash_sets,
    )
    from flink_orc_sink_spark.session import release_local_checkpoint
    from flink_orc_sink_spark.streaming import stream_from_files

    spark, rec = b.spark, b.rec
    d = b.fresh_dir("curate")
    src, out, idx, ck = f"{d}/in", f"{d}/out", f"{d}/idx", f"{d}/ck"
    admitted: list = []
    seed_docs, seed_dups, _ = gen.doc_table(b.seed, 0, DOC_ROWS, admitted)
    keep = pc.invert(pc.is_in(seed_docs.column("doc_id"), pa.array(sorted(seed_dups), pa.int64())))
    with rec.span("dedup.bootstrap"):
        # the corpus already indexed; also starts the Python workers
        build_minhash_index(spark.createDataFrame(seed_docs.filter(keep).to_pandas()), "doc_id", "text", idx)
    docs: list[pa.Table] = []
    dups: set[int] = set()
    pii = 0
    for i in range(1, DOC_BATCHES + 1):
        t, planted, n_pii = gen.doc_table(b.seed, i, DOC_ROWS, admitted)
        gen.write_parquet(t, src, f"d{i:05d}.parquet")
        docs.append(t)
        dups |= planted
        pii += n_pii
    per_batch: list[dict] = []

    def on_batch(df, batch_id: int) -> None:
        stats: dict = {}
        with rec.span("dedup.batch"):
            batch = df.localCheckpoint(eager=True)
            sh = shingle_hash_sets(batch, "doc_id", "text").localCheckpoint(eager=True)
            try:
                with Stopwatch() as sw, rec.span("dedup.probe"):
                    probe = minhash_probe_index(spark, batch, "doc_id", "text", idx, threshold=0.7, shingles=sh).collect()
                stats["probe_ms"] = sw.ms
                with Stopwatch() as sw, rec.span("dedup.within"):
                    within = minhash_dedup_pairs(batch, "doc_id", "text", threshold=0.7, shingles=sh).collect()
                stats["within_ms"] = sw.ms
                stats["kept"] = len(probe) + len(within)
                drop = sorted({r.new_doc for r in probe} | {max(r.doc_a, r.doc_b) for r in within})
                kept = batch.filter(~F.col("doc_id").isin(drop)) if drop else batch
                with Stopwatch() as sw, rec.span("dedup.sink"):
                    (
                        kept.withColumn("text", scrub_pii(F.col("text")))
                        .withColumn("batch_id", F.lit(batch_id))
                        .write.mode("overwrite")
                        .option("partitionOverwriteMode", "dynamic")
                        .partitionBy("batch_id")
                        .orc(out)
                    )
                stats["sink_ms"] = sw.ms
                with Stopwatch() as sw, rec.span("dedup.append"):
                    # the marker makes the append idempotent on replay
                    marker = os.path.join(idx, "appended", f"batch_{batch_id}")
                    if not os.path.exists(marker):
                        kept_sh = sh.join(kept.select(F.col("doc_id").alias("doc")), "doc", "left_semi")
                        append_to_minhash_index(kept, "doc_id", "text", idx, owner=f"sink:{ck}", shingles=kept_sh)
                        os.makedirs(marker)
                stats["append_ms"] = sw.ms
            finally:
                release_local_checkpoint(sh)
                release_local_checkpoint(batch)
        per_batch.append(stats)

    mark = b.ledger.mark()
    cpu0 = b.sampler.python_cpu_ms()
    with rec.span("streaming.curate"):
        df = stream_from_files(spark, src, gen.DOC_SCHEMA, max_files_per_trigger=1)
        q = df.writeStream.foreachBatch(on_batch).option("checkpointLocation", ck).trigger(availableNow=True).start()
        q.awaitTermination()
    delta = b.ledger.since(mark)
    cpu_ms = b.sampler.python_cpu_ms() - cpu0
    triggers = trigger_rows(q.recentProgress)
    n = len(triggers)
    b.check(n == DOC_BATCHES and all(t["rows"] == DOC_ROWS for t in triggers), f"curation ran {n} batches")
    b.log(f"curation: {n} batches, triggerExecution {[t['triggerExecution'] for t in triggers]} ms")

    # correctness: exactly the planted near-duplicates are dropped, and
    # the admitted text carries no raw email or phone number
    landed = spark.read.orc(out)
    got_ids = {r.doc_id for r in landed.select("doc_id").collect()}
    want_ids = set(range(DOC_ROWS, (DOC_BATCHES + 1) * DOC_ROWS)) - dups
    b.check(got_ids == want_ids, f"curation admitted {len(got_ids)} docs, want {len(want_ids)} ({len(got_ids ^ want_ids)} differ)")
    s = landed.agg(
        F.sum(F.col("text").rlike(EMAIL_RE).cast("int")).alias("raw"),
        F.sum((F.col("text").rlike(PHONE_RE)).cast("int")).alias("raw_phone"),
        F.sum((F.col("text").contains(EMAIL_TOKEN) | F.col("text").contains(PHONE_TOKEN)).cast("int")).alias("scrubbed"),
    ).collect()[0]
    b.check((s.raw or 0) == 0 and (s.raw_phone or 0) == 0 and s.scrubbed == pii, f"scrub: {s} for {pii} docs with PII")

    with rec.span("bench.candidates"):
        candidates = _candidate_pairs(spark, pa.concat_tables([seed_docs.filter(keep), *docs]), dups)

    def med(key: str) -> float:
        return float(np.median([st[key] for st in per_batch]))

    kept_pairs = sum(st["kept"] for st in per_batch)
    return {
        "dedup.probe_ms": med("probe_ms"),
        "dedup.within_ms": med("within_ms"),
        "dedup.sink_ms": med("sink_ms"),
        "dedup.append_ms": med("append_ms"),
        "dedup.candidate_pairs": candidates / n,
        "dedup.pairs_kept": kept_pairs / n,
        "dedup.pair_yield": kept_pairs / max(candidates, 1),
        "dedup.index_bytes": dir_bytes(idx)[0],
        "dedup.batch_ms": percentile([t["triggerExecution"] for t in triggers], 50),
        "python.tasks": delta["python_tasks"] / n,
        "python.worker_cpu_ms": cpu_ms / n,
        "python.spawns": len(b.sampler.worker_pids),
    }


def _candidate_pairs(spark, docs: pa.Table, dups: set[int]) -> int:
    """LSH candidate pairs the curation batches verified: each batch doc
    against the docs indexed before its batch, plus pairs within its
    batch. Batch ``i`` holds ids ``[i * DOC_ROWS, (i + 1) * DOC_ROWS)``;
    batch 0 is the bootstrap corpus. Counted once, after the stream, so
    that this work stays out of the measured batches."""
    from pyspark.sql import functions as F

    from flink_orc_sink_spark.operators.dedup import band_rows, minhash_signatures_from_sets, shingle_hash_sets

    df = spark.createDataFrame(docs.to_pandas())
    bands = band_rows(minhash_signatures_from_sets(shingle_hash_sets(df, "doc_id", "text")))
    bands = bands.withColumn("batch", (F.col("doc") / DOC_ROWS).cast("long")).localCheckpoint(eager=True)
    new = bands.filter(F.col("batch") > 0).select(F.col("doc").alias("a"), F.col("batch").alias("ba"), "band", "bkey")
    old = bands.filter(~F.col("doc").isin(sorted(dups))).select(F.col("doc").alias("m"), F.col("batch").alias("bm"), "band", "bkey")
    vs_index = new.join(old, ["band", "bkey"]).filter(F.col("bm") < F.col("ba")).select("a", "m").distinct().count()
    other = new.select(F.col("a").alias("c"), F.col("ba").alias("bc"), "band", "bkey")
    within = new.join(other, ["band", "bkey"]).filter((F.col("ba") == F.col("bc")) & (F.col("a") < F.col("c"))).select("a", "c").distinct().count()
    return vs_index + within


# --- cdc_upsert ------------------------------------------------------------

CDC_KEYS = 20_000
CDC_ROWS = 4_000  # changes per file
FILES_PER_ROUND = 3
FOLD_EVERY = 3  # rounds between scheduled folds
SECONDS_PER_ROUND = 4.0  # rounds = --seconds / this, a multiple of FOLD_EVERY
HOT_KEY = 0  # the most frequent key of the Zipf draw


def cdc_upsert(b: Bench) -> tuple[dict, dict]:
    """A change feed applied with ``stream_cdc_apply_orc`` in rounds: one
    ``availableNow`` run over the round's new files, then fixed
    ``read_cdc_table`` queries checked against a plain-Python replay.
    ``fold_retract_state`` runs every few rounds. The batch reference job
    runs after every round's apply and after every query: a round's apply
    (query start, lease, merges, fold) slows down with the machine more
    like a batch job than like a bare micro-batch."""
    from pyspark.sql import functions as F

    from flink_orc_sink_spark.streaming import orc_sink, read_cdc_table, stream_cdc_apply_orc, stream_from_files

    def apply(state: str, src: str, ck: str):
        df = stream_from_files(b.spark, src, gen.CDC_SCHEMA, max_files_per_trigger=1)
        q = stream_cdc_apply_orc(df, state, ck, "k", ["seq"], trigger={"availableNow": True})
        q.awaitTermination()
        return q

    warm_tables = [gen.cdc_table(b.seed, 100_000, CDC_ROWS, CDC_KEYS)]

    def warm_round(d: str) -> float:
        for i, t in enumerate(warm_tables):
            gen.write_parquet(t, f"{d}/in", f"w{i:03d}.parquet")
        t0 = time.perf_counter()
        apply(f"{d}/state", f"{d}/in", f"{d}/ck")
        read_cdc_table(b.spark, f"{d}/state").filter(F.col("op") != "D").count()
        return len(warm_tables) * CDC_ROWS / (time.perf_counter() - t0)

    state = {}

    def bootstrap():
        # the initial load: a fold leaves the key space in the base
        d = b.fresh_dir("cdc")
        state.update(d=d, src=f"{d}/in", state=f"{d}/state", ck=f"{d}/ck", replay=gen.CdcReplay())
        t = gen.cdc_table(b.seed, 0, CDC_ROWS, CDC_KEYS)
        gen.write_parquet(t, state["src"], "c00000.parquet")
        state["replay"].apply(t)
        apply(state["state"], state["src"], state["ck"])
        orc_sink.fold_retract_state(b.spark, state["state"])

    b.setup(warm_round, bootstrap)
    spark, rec = b.spark, b.rec
    src, st, ck, replay = state["src"], state["state"], state["ck"], state["replay"]
    nxt = 1
    triggers: list[dict] = []
    qlat: list[tuple[float, float]] = []  # (ms, wall clock at the end)
    due: dict[str, float] = {}
    names: list[str] = []
    applied: list[tuple[float, float]] = []  # (s, wall clock at the middle) per round
    changes = returned = examined = 0
    fs_marks = [0, 0.0]
    log_sizes: list[tuple[int, int]] = []  # (bytes, files) of the delta log before each fold decision
    mark = b.ledger.mark() if b.trace else None
    n_rounds = max(1, round(b.seconds / SECONDS_PER_ROUND / FOLD_EVERY)) * FOLD_EVERY
    t_timed = time.perf_counter()
    rounds = 0
    with rebind_sink_helpers(rec) if b.trace else contextlib.nullcontext(), _Written(b, b.trace) as written:
        while rounds < n_rounds:
            batch_tables = [gen.cdc_table(b.seed, nxt + j, CDC_ROWS, CDC_KEYS) for j in range(FILES_PER_ROUND)]
            for j, t in enumerate(batch_tables):
                name = f"c{nxt + j:05d}.parquet"
                gen.write_parquet(t, src, name)
                due[name] = time.time()
                names.append(name)
            nxt += FILES_PER_ROUND
            t0, w0 = time.perf_counter(), time.time()
            fs0 = (rec.number("cdc.fs"), rec.total_ms("cdc.fs"))
            with rec.span("streaming.apply"):
                q = b.attempt("cdc round", apply, st, src, ck)
            fs1 = (rec.number("cdc.fs"), rec.total_ms("cdc.fs"))
            fs_marks = [fs_marks[0] + fs1[0] - fs0[0], fs_marks[1] + fs1[1] - fs0[1]]
            new = trigger_rows(q.recentProgress)
            triggers += new
            b.check(len(new) == FILES_PER_ROUND, f"round {rounds} ran {len(new)} batches")
            rounds += 1
            if b.trace:
                log_sizes.append(dir_bytes(f"{st}/state_log", prefix="part-"))
            if rounds % FOLD_EVERY == 0:
                with rec.span("cdc.maintenance"):
                    b.attempt("fold", orc_sink.fold_retract_state, spark, st)
            applied.append((time.perf_counter() - t0, (w0 + time.time()) / 2))
            b.ref.mark()
            for t in batch_tables:
                replay.apply(t)
            changes += FILES_PER_ROUND * CDC_ROWS
            want = replay.answers(HOT_KEY)
            qmark = b.ledger.mark() if b.trace else None
            for qname, fn in (("hot", _cdc_hot), ("live", _cdc_live), ("groups", _cdc_groups)):
                with Stopwatch() as sw, rec.span("cdc.read"):
                    got, n = b.attempt(f"cdc query {qname}", fn, read_cdc_table(spark, st), F)
                qlat.append((sw.ms, time.time()))
                returned += n
                b.check(got == want[qname], f"round {rounds} {qname}: {got} != {want[qname]}")
                b.ref.mark()
            if b.trace:
                examined += b.ledger.since(qmark)["input_records"]
    b.log(f"timed part: {n_rounds} rounds in {time.perf_counter() - t_timed:.2f} s")
    spark_delta = b.ledger.since(mark) if b.trace else None
    fresh, queue_wait = _freshness(b.ref, triggers, ck, due)
    b.check(len(fresh) == len(names), f"freshness for {len(fresh)} of {len(names)} files")

    # correctness: the final table is the latest change per key
    final = {r.k: (r.seq, r.op, r.val) for r in read_cdc_table(spark, st).collect()}
    b.check(final == replay.latest, f"final table differs from replay on {len(set(final.items()) ^ set(replay.latest.items()))} rows")
    b.done()

    n_input = nxt * CDC_ROWS
    e2e = {
        "ingest_rows_per_s": changes / sum(b.ref.scaled(s, t) for s, t in applied),
        "fresh_p50_ms": percentile(fresh, 50),
        "query_p50_ms": percentile([b.ref.scaled(ms, t - ms / 2000) for ms, t in qlat], 50),
        "bytes_per_row": dir_bytes(st)[0] / n_input,
    }
    if b.ref.enabled:
        b.log(f"unscaled: {changes / sum(s for s, _ in applied):.0f} rows/s, query p50 {percentile([ms for ms, _ in qlat], 50):.0f} ms")
    layer: dict = {}
    if b.trace:
        n = len(triggers)
        layer["streaming.files_per_trigger"] = len(names) / n
        layer["streaming.queue_wait_ms"] = percentile(queue_wait, 50)
        acquires = rec.counts.get("lease.acquires", 0)
        layer["lease.acquires"] = acquires
        layer["lease.acquire_ms"] = rec.total_ms("lease.acquire") / max(acquires, 1)
        layer["lease.release_ms"] = rec.total_ms("lease.release") / max(acquires, 1)
        layer["cdc.fs_calls_per_batch"] = fs_marks[0] / n
        layer["cdc.fs_ms"] = fs_marks[1] / n
        layer["cdc.folds"] = rec.counts.get("cdc.folds", 0)
        layer["cdc.fold_ms"] = rec.total_ms("cdc.fold") / max(layer["cdc.folds"], 1)
        layer["cdc.log_rows_folded"] = rec.counts.get("cdc.log_rows_folded", 0)
        layer["cdc.buckets_rewritten"] = rec.counts.get("cdc.buckets_rewritten", 0)
        layer["cdc.log_bytes"] = float(np.mean([size for size, _ in log_sizes]))
        layer["cdc.log_files"] = float(np.mean([files for _, files in log_sizes]))
        layer["cdc.base_bytes"] = dir_bytes(f"{st}/state")[0]
        layer["cdc.read_ms"] = float(np.mean([ms for ms, _ in qlat]))
        layer["spark.rows_examined_per_row_returned"] = examined / max(returned, 1)
        _storage(layer, st, [ck], _file_bytes(src, names), written.bytes)
    b.samples = {"batch": len(triggers), "fresh": len(fresh), "query": len(qlat)}
    return b.common(e2e, layer, triggers, spark_delta, b.ref)


def _cdc_hot(t, F):
    rows = t.filter((F.col("k") == HOT_KEY) & (F.col("op") != "D")).select("val").collect()
    return (rows[0].val if rows else None), len(rows)


def _cdc_live(t, F):
    return t.filter(F.col("op") != "D").count(), 1


def _cdc_groups(t, F):
    rows = (
        t.filter(F.col("op") != "D")
        .groupBy((F.col("k") % 10).alias("g"))
        .agg(F.count("*").alias("n"), F.sum("val").alias("s"))
        .collect()
    )
    return {r.g: (r.n, r.s) for r in rows}, len(rows)


WORKLOADS = {
    "ingest_append": ingest_append,
    "cdc_upsert": cdc_upsert,
}
