"""Gate a bench.py run on the per-query plan counters of an earlier run.

    python tools/bench_regression.py BENCH_DETAIL.json base.json

Both files are ``BENCH_DETAIL.json`` files written by ``bench.py``.
For every query of ``base``:

- FAIL when ``jobs``, ``stages``, ``tasks`` or ``python_tasks`` rose at
  all. They repeat exactly from run to run of the same plan.
- FAIL when ``shuffle_bytes`` rose by more than 10 % and by more than
  1 MiB. Streaming queries move it by about 0.2 % between runs.
- Print task CPU, Python worker CPU and wall time as advisory lines
  when one grew 1.5x, with the query's hypervisor steal. They never
  fail: on a shared VM they move with the host.

A query of ``base`` missing from the fresh run fails; a new one is
listed. Exit 0 on pass, 1 on a failure, and 2 when the runs cannot be
compared: ``cpus`` or ``sf`` differ (task counts follow the shuffle
partitions, which follow ``cpus``), or a file lacks the counters.
"""

from __future__ import annotations

import json
import sys

HARD = ("jobs", "stages", "tasks", "python_tasks")
SHUFFLE_REL, SHUFFLE_ABS = 0.10, 1 << 20
# an advisory line shows when one of these grew 1.5x and by more than
# its floor, which is above a clock tick and sub-second jitter
ADVISORY = {"task_cpu_ms": 500, "py_cpu_ms": 500, "sec": 0.5}
ADVISORY_RATIO = 1.5
COUNTERS = HARD + ("shuffle_bytes", "steal_pct", *ADVISORY)


def load(path: str) -> dict:
    with open(path) as f:
        run = json.load(f)
    tel = run.get("telemetry") if isinstance(run, dict) else None
    if not isinstance(tel, dict) or not tel or "cpus" not in run or "sf" not in run:
        raise ValueError(f"{path}: no cpus, sf or telemetry")
    for name, t in tel.items():
        missing = [k for k in COUNTERS if not isinstance(t, dict) or k not in t]
        if missing:
            raise ValueError(f"{path}: {name} lacks {', '.join(missing)}")
    return run


def compare(fresh: dict, base: dict) -> tuple[list[str], bool]:
    """(report lines, failed) for two ``telemetry`` maps."""
    lines, failed = [], False
    for name, b in base.items():
        f = fresh.get(name)
        if f is None:
            lines.append(f"FAIL {name}: missing from the fresh run")
            failed = True
            continue
        rose = [f"{k} {b[k]} -> {f[k]}" for k in HARD if f[k] > b[k]]
        sb, fb = b["shuffle_bytes"], f["shuffle_bytes"]
        if fb - sb > max(SHUFFLE_REL * sb, SHUFFLE_ABS):
            rose.append(f"shuffle_bytes {sb} -> {fb}")
        if rose:
            lines.append(f"FAIL {name}: {', '.join(rose)}")
            failed = True
        grew = [
            f"{k} {b[k]} -> {f[k]}"
            for k, floor in ADVISORY.items()
            if f[k] > ADVISORY_RATIO * b[k] and f[k] - b[k] > floor
        ]
        if grew:
            lines.append(
                f"info {name}: {', '.join(grew)}"
                f" (steal {b['steal_pct']}% -> {f['steal_pct']}%)"
            )
    lines += [f"new  {name}" for name in fresh if name not in base]
    shared = [n for n in base if n in fresh]
    sec_b = sum(base[n]["sec"] for n in shared)
    sec_f = sum(fresh[n]["sec"] for n in shared)
    lines.append(
        f"{len(shared)} queries compared; wall {sec_b:.1f} -> {sec_f:.1f} s"
        f" (advisory); {'FAIL' if failed else 'pass'}"
    )
    return lines, failed


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    try:
        fresh, base = load(argv[0]), load(argv[1])
    except (OSError, ValueError) as exc:
        print(f"cannot compare: {exc}", file=sys.stderr)
        return 2
    for key in ("cpus", "sf"):
        if fresh[key] != base[key]:
            print(
                f"cannot compare: {key} {fresh[key]} vs {base[key]}",
                file=sys.stderr,
            )
            return 2
    lines, failed = compare(fresh["telemetry"], base["telemetry"])
    print("\n".join(lines))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
