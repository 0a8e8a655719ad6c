"""Run any registry query from the command line.

    python tools/run_query.py q1_pricing_summary
    python tools/run_query.py docs_minhash_pairs --sf /root/testdata/sf0.1
    python tools/run_query.py q3_shipping_priority --out /tmp/q3_orc --partition-by o_orderdate
    python tools/run_query.py --list

Prints the result (first --show rows) or, with --out, writes the full
result as ORC through the engine's batch sink (atomic commit,
optional partitioning) — the end-to-end path a user of the reference
would actually run: query → partitioned, warehouse-readable ORC.

Then prints one JSON line with what the run cost, keyed by the query
name: the wall ``sec`` and the counters ``bench.py`` records per query
(jobs, stages, tasks, Python tasks, shuffle bytes, task and Python
worker CPU, worker spawns, hypervisor steal).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entry

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("query", nargs="?", help="registry query name")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    ap.add_argument("--out", help="write full result as ORC to this path")
    ap.add_argument("--partition-by", nargs="*", default=None)
    ap.add_argument("--show", type=int, default=20)
    ap.add_argument("--explain", action="store_true",
                    help="print the formatted physical plan too")
    ap.add_argument("--list", action="store_true", help="list query names")
    args = ap.parse_args()

    qs = entry.queries()
    if args.list or not args.query:
        for name in sorted(qs):
            print(name)
        return 0
    if args.query not in qs:
        print(f"unknown query {args.query!r}; use --list", file=sys.stderr)
        return 2

    from bench import Telemetry
    from flink_orc_sink_spark.session import get_spark

    spark = get_spark(f"run-{args.query}")
    tel = Telemetry(spark)

    def run() -> None:
        df = qs[args.query](spark, args.sf)
        if args.explain:
            df.explain("formatted")
        if args.out:
            from flink_orc_sink_spark.sources.orc_sink import write_orc

            write_orc(df, args.out, partition_cols=args.partition_by)
            n = spark.read.orc(args.out).count()
            print(f"wrote {n} rows to {args.out}")
        else:
            df.show(args.show, truncate=False)

    print(json.dumps({args.query: tel.measure(run)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
