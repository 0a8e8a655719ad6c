"""tools/scale_probe.py: SCALE.md's shape claims checked by plan
counters.

Every family's 1× case runs here, with its correctness check; the 5×
and 10× cases and the shape check run in the slow tier
(``pytest tests/ -m slow -k scale_probe``). The harness is not
vacuous: a per-row ``collect`` injected into one spec makes jobs grow
with size, and its shape check fails while the real spec's passes.
Every ``tools/scale_probe`` pointer in the docs names a family the
harness registers.
"""

from __future__ import annotations

import dataclasses
import glob
import os
import re
import sys

import pytest
from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
import scale_probe  # noqa: E402

FAMILIES = sorted(scale_probe.SPECS)


@pytest.mark.parametrize("family", FAMILIES)
def test_scale_probe_1x(spark, family):
    spec = scale_probe.SPECS[family]
    row = scale_probe.measure(spark, spec, spec.base)
    assert row["jobs"] > 0 and row["tasks"] > 0


@pytest.mark.slow
@pytest.mark.parametrize("family", FAMILIES)
def test_scale_probe_shape(spark, family):
    spec = scale_probe.SPECS[family]
    rows = [scale_probe.measure(spark, spec, spec.base * m) for m in (1, 5, 10)]
    for row in rows:
        print(family, row)
    assert scale_probe.shape_failures(spec, rows) == []


def test_scale_probe_flags_a_per_row_collect(spark):
    spec = scale_probe.SPECS["multimodal"]

    def per_row(spark, df):
        for r in df.select("media_id").collect():
            df.filter(F.col("media_id") == r.media_id).collect()
        return spec.run(spark, df)

    def shape(s):
        return scale_probe.shape_failures(s, [scale_probe.measure(spark, s, n) for n in (6, 12)])

    assert shape(spec) == []
    bad = shape(dataclasses.replace(spec, run=per_row))
    assert any(b.startswith("jobs ") for b in bad), bad


def test_scale_probe_pointers_name_registered_families():
    """``tools/scale_probe.py <family>`` is the only pointer form, in
    SCALE.md, README.md and the package's docstrings."""
    paths = [os.path.join(ROOT, "SCALE.md"), os.path.join(ROOT, "README.md")]
    paths += glob.glob(os.path.join(ROOT, "flink_orc_sink_spark", "**", "*.py"), recursive=True)
    seen, bad = set(), []
    for path in paths:
        with open(path) as f:
            text = f.read()
        for m in re.finditer(r"tools/scale_probe(\S*?)[`\s]+(<family>|\w+)", text):
            seen.add(m.group(2))
            if m.group(1) != ".py" or m.group(2) not in scale_probe.SPECS and m.group(2) != "<family>":
                bad.append(f"{os.path.relpath(path, ROOT)}: {m.group(0)!r}")
    assert bad == []
    assert set(FAMILIES) <= seen, f"no pointer names {set(FAMILIES) - seen}"
