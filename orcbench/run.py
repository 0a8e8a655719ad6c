"""Benchmark entry point.

    python3 orcbench/run.py --workload ingest_append --seed 1 --seconds 10 --trace 0

Runs one workload against the package in the checkout that holds this
directory and prints, as the last line of standard output, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Progress and Spark's logs go to standard error. With
``--spans FILE`` a traced run also writes its spans, one JSON per line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "ingest_rows_per_s": "1/s",
    "batch_p50_ms": "ms",
    "fresh_p50_ms": "ms",
    "query_p50_ms": "ms",
    "bytes_per_row": "B",
}

PER_LAYER = {
    "session.peak_rss_mb": "MB",
    "session.start_ms": "ms",
    "session.cold_start_ms": "ms",
    "session.warm_ms": "ms",
    "session.self_ms": "ms",
    "streaming.triggers": "count",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.files_per_trigger": "count",
    "streaming.queue_wait_ms": "ms",
    "streaming.self_ms": "ms",
    "lease.acquires": "count",
    "lease.acquire_ms": "ms",
    "lease.release_ms": "ms",
    "lease.self_ms": "ms",
    "cdc.fs_calls_per_batch": "count",
    "cdc.fs_ms": "ms",
    "cdc.folds": "count",
    "cdc.fold_ms": "ms",
    "cdc.log_rows_folded": "count",
    "cdc.buckets_rewritten": "count",
    "cdc.log_files": "count",
    "cdc.log_bytes": "B",
    "cdc.base_bytes": "B",
    "cdc.read_ms": "ms",
    "cdc.self_ms": "ms",
    "dedup.batch_ms": "ms",
    "dedup.probe_ms": "ms",
    "dedup.within_ms": "ms",
    "dedup.sink_ms": "ms",
    "dedup.append_ms": "ms",
    "dedup.candidate_pairs": "count",
    "dedup.pairs_kept": "count",
    "dedup.pair_yield": "ratio",
    "dedup.index_bytes": "B",
    "dedup.self_ms": "ms",
    "python.tasks": "count",
    "python.worker_cpu_ms": "ms",
    "python.spawns": "count",
    "spark.jobs_per_trigger": "count",
    "spark.tasks_per_trigger": "count",
    "spark.task_cpu_ms": "ms",
    "spark.task_run_ms": "ms",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_ms": "ms",
    "spark.rows_examined_per_row_returned": "ratio",
    "storage.output_files": "count",
    "storage.files_per_partition": "count",
    "storage.metadata_bytes": "B",
    "storage.write_amp": "ratio",
}


def _environment(work: str) -> None:
    """Size the session for this host and keep every file the run
    writes under ``work``."""
    cpus = min(len(os.sched_getaffinity(0)), 4)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    for name in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, name), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import the package's UDFs from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--spans", help="traced run: write spans to this file")
    args = parser.parse_args(argv)

    sys.path.insert(0, ROOT)
    import flink_orc_sink_spark  # noqa: F401  (fail fast outside a checkout)
    from orcbench import workloads

    if args.workload not in workloads.WORKLOADS:
        parser.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".orcbench_work", f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    _environment(work)
    bench = workloads.Bench(work, args.seed, args.seconds, bool(args.trace))
    t0 = time.perf_counter()
    try:
        e2e, layer = workloads.WORKLOADS[args.workload](bench)
        if args.spans:
            bench.rec.dump(args.spans)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for problem in bench.problems:
        print(f"FAILED: {problem}", file=sys.stderr)
    print(
        f"{args.workload} seed={args.seed} samples={bench.samples} "
        f"shared={bench.shared_s:.2f}s wall={time.perf_counter() - t0:.1f}s",
        file=sys.stderr,
    )
    names = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else e2e
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit in names.items()}
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
