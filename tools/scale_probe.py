"""Scale-shape probe: check a SCALE.md claim by plan counters.

    python tools/scale_probe.py <family> [sizes ...]

runs the family's spec (``tools/scale_specs.py``) at each size, by
default 1×, 5× and 10× its base size. For each size it counts what
Spark ran for the operator call, through
``orcbench.probes.SparkLedger``: jobs, stages, tasks, shuffle bytes
and input records. It asserts the family's correctness check at every
size. Then it checks the claimed shape against the first size: jobs
and stages may not change, and each counter the spec bounds may grow
at most as (n / n1) ** exponent, with 50 % slack over a small floor.
Wall time is printed but only advisory: steal on a shared host moves
it, while the counters are exact. Exits 1 when the shape fails.

``python tools/scale_probe.py`` with no family lists the families.
The 1× case of each family runs in the default pytest tier and the
full shape check in the slow one (``pytest tests/ -m slow -k
scale_probe``).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _p in (ROOT, os.path.join(ROOT, "tools")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

from orcbench.probes import SparkLedger  # noqa: E402
from scale_specs import SPECS  # noqa: E402

COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "input_records")
FLAT = ("jobs", "stages")
SLACK = 1.5
FLOOR = {"tasks": 0, "shuffle_bytes": 64 << 10, "input_records": 1000}


def measure(spark, spec, n: int) -> dict:
    """Counters of one run of ``spec`` at size ``n``, after its check
    passed."""
    saved = {k: spark.conf.get(k, None) for k in spec.conf}
    work = tempfile.mkdtemp(prefix="scale_probe_")
    try:
        for k, v in spec.conf.items():
            spark.conf.set(k, v)
        ctx = spec.setup(spark, n, work)
        ledger = SparkLedger(spark)
        mark, t0 = ledger.mark(), time.time()
        out = spec.run(spark, ctx)
        wall = time.time() - t0
        counts = ledger.since(mark)
        if spec.check is not None:
            spec.check(spark, ctx, out, n)
    finally:
        for k, v in saved.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
        shutil.rmtree(work, ignore_errors=True)
    return {"n": n, **{k: counts[k] for k in COUNTERS}, "wall_s": round(wall, 2)}


def shape_failures(spec, rows: list[dict]) -> list[str]:
    """Where ``rows`` (one per size, smallest first) break the shape."""
    first, bad = rows[0], []
    for row in rows[1:]:
        at = f"at n={row['n']} (n={first['n']}: {first}; here: {row})"
        for k in FLAT:
            if row[k] != first[k]:
                bad.append(f"{k} {first[k]} -> {row[k]} {at}")
        for k, e in spec.growth.items():
            limit = SLACK * max(first[k], FLOOR[k]) * (row["n"] / first["n"]) ** e
            if row[k] > limit:
                bad.append(f"{k} {first[k]} -> {row[k]}, over n^{e} growth ({limit:.0f}) {at}")
    return bad


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in SPECS:
        print(__doc__.split("\n\n")[1].strip(), "\nfamilies:", " ".join(sorted(SPECS)))
        return 2
    from flink_orc_sink_spark.session import get_spark

    spec = SPECS[argv[0]]
    sizes = [int(a) for a in argv[1:]] or [spec.base * m for m in (1, 5, 10)]
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"{argv[0]}: {spec.claim}")
    print("".join(f"{k:>15}" for k in ("n", *COUNTERS, "wall_s")), " (wall is advisory)")
    rows = []
    for n in sizes:
        rows.append(measure(spark, spec, n))
        print("".join(f"{v:>15}" for v in rows[-1].values()), flush=True)
    bad = shape_failures(spec, rows)
    print("\n".join(bad) or f"shape holds: jobs and stages flat, growth {spec.growth}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
