"""Operational utilities: small-file compaction and column profiling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_orc_sink_spark.operators.profile import profile_table
from flink_orc_sink_spark.sources.orc_sink import compact_orc, read_orc


def _orc_files(path):
    import glob
    import os

    return [
        f
        for f in glob.glob(f"{path}/**/*", recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
    ]


@pytest.mark.slow  # minute-scale lifecycle — slow tier, see pytest.ini
def test_compact_orc_reduces_files_preserves_rows(spark, tmp_path):
    out = str(tmp_path / "many_small")
    # simulate 20 micro-batch epochs of tiny files
    for i in range(20):
        spark.createDataFrame(
            [(i * 10 + j, f"v{j}") for j in range(10)], "id long, s string"
        ).coalesce(1).write.mode("append").orc(out)
    before = len(_orc_files(out))
    assert before >= 20

    after = compact_orc(spark, out, target_file_mb=256)
    assert after < before
    back = read_orc(spark, out)
    assert back.count() == 200
    assert back.agg(F.countDistinct("id")).collect()[0][0] == 200


def test_compact_orc_partitioned(spark, tmp_path):
    out = str(tmp_path / "part_small")
    for i in range(6):
        spark.createDataFrame(
            [(j, "a" if j % 2 else "b") for j in range(10)], "v long, k string"
        ).coalesce(1).write.mode("append").partitionBy("k").orc(out)
    after = compact_orc(spark, out, target_file_mb=256, partition_cols=["k"])
    back = read_orc(spark, out)
    assert back.count() == 60
    assert {r.k for r in back.select("k").distinct().collect()} == {"a", "b"}
    assert after <= len(_orc_files(out))


def test_profile_table(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    prof = {r.column: r for r in profile_table(docs).collect()}
    assert set(prof) == {"doc_id", "text", "lang", "source", "n_chars"}
    n = docs.count()
    assert prof["doc_id"].n_rows == n
    assert prof["doc_id"].n_nulls == 0
    # HLL estimate within 10% of exact
    assert abs(prof["doc_id"].approx_distinct - n) <= max(2, 0.1 * n)
    assert prof["text"].mean_len is not None and prof["text"].mean_len > 0
    assert prof["n_chars"].min_str is not None
    # single-pass: profiling must not error on mixed types, and min/max
    # stringification keeps one schema for all columns
    assert prof["lang"].max_str >= prof["lang"].min_str


def test_upsert_orc_partitions_rewrites_only_touched(spark, tmp_path):
    import glob
    import os

    from flink_orc_sink_spark.sources.orc_sink import (
        upsert_orc_partitions,
        write_orc,
    )

    base = str(tmp_path / "upsert_base")
    rows = [(i, f"d{i % 3}", f"v{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "id long, dt string, val string")
    write_orc(df, base, partition_cols=["dt"])

    untouched_before = {
        f: os.path.getmtime(f) for f in glob.glob(f"{base}/dt=d1/*.orc")
    }
    assert untouched_before

    # update two existing keys in d0 and add one new key in d0
    updates = spark.createDataFrame(
        [(0, "d0", "UPDATED"), (3, "d0", "UPDATED"), (999, "d0", "NEW")],
        "id long, dt string, val string",
    )
    upsert_orc_partitions(spark, base, updates, ["id"], ["dt"])

    back = spark.read.orc(base)
    assert back.count() == 31  # 30 original + 1 new key
    got = {r.id: r.val for r in back.filter("dt = 'd0'").collect()}
    assert got[0] == "UPDATED" and got[3] == "UPDATED" and got[999] == "NEW"
    assert got[6] == "v6"  # untouched row in the touched partition survives

    # partitions without updates: same files, same mtimes
    untouched_after = {
        f: os.path.getmtime(f) for f in glob.glob(f"{base}/dt=d1/*.orc")
    }
    assert untouched_after == untouched_before


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """orc_bucketed_join's tables co-locate the join: with broadcast
    disabled, the sort-merge join on the bucket key must plan with NO
    shuffle exchange on either input (only the final rollup
    exchanges) — the storage-level join strategy the query claims."""
    import io
    import re
    from contextlib import redirect_stdout

    from flink_orc_sink_spark.queries.engine import orc_bucketed_join

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = orc_bucketed_join(spark, sf_dir)
        ot = spark.table(
            "sg_bucketed_orders_sf0_001"
        )
        ct = spark.table("sg_bucketed_customer_sf0_001")
        joined = ot.join(ct, ot.o_custkey == ct.c_custkey)
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert not re.search(r"\(\d+\) Exchange\b", plan), plan
        # the registered rollup still answers correctly
        segs = {r["c_mktsegment"]: r["n_orders"] for r in df.collect()}
        assert sum(segs.values()) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_snapshot_time_travel_versions(spark, tmp_path):
    from flink_orc_sink_spark.sources.orc_sink import (
        snapshot_read,
        snapshot_versions,
        snapshot_write,
    )

    base = str(tmp_path / "snap")
    df1 = spark.range(10).withColumn("v", F.col("id") * 10)
    v1 = snapshot_write(df1, base, mode="append")
    df2 = spark.range(10, 15).withColumn("v", F.col("id") * 10)
    v2 = snapshot_write(df2, base, mode="append")
    df3 = spark.range(3).withColumn("v", F.lit(-1).cast("long"))
    v3 = snapshot_write(df3, base, mode="overwrite")
    assert snapshot_versions(base) == [v1, v2, v3] == [1, 2, 3]
    # v1: first batch only; v2: append = both; v3: overwrite = fresh
    assert snapshot_read(spark, base, 1).count() == 10
    assert snapshot_read(spark, base, 2).count() == 15
    assert snapshot_read(spark, base, 3).count() == 3
    assert snapshot_read(spark, base).count() == 3  # latest default
    got = sorted(
        (r.id, r.v) for r in snapshot_read(spark, base, 2).collect()
    )
    assert got == [(i, i * 10) for i in range(15)]


def test_snapshot_orphans_invisible(spark, tmp_path):
    """Data files without a manifest entry (crash-mid-write debris,
    later-version files) must never be read."""
    import os
    import shutil

    from flink_orc_sink_spark.sources.orc_sink import (
        snapshot_read,
        snapshot_write,
    )

    base = str(tmp_path / "snap")
    snapshot_write(spark.range(10).withColumn("v", F.lit(1)), base)
    # simulate a crashed writer: copy a committed data dir to an
    # uncommitted sibling — same bytes, no manifest pointing at it
    data_root = os.path.join(base, "data")
    vdir = os.listdir(data_root)[0]
    shutil.copytree(
        os.path.join(data_root, vdir), os.path.join(data_root, "v9-orphan")
    )
    assert snapshot_read(spark, base).count() == 10  # not 20


def test_snapshot_expire_retention_gc(spark, tmp_path):
    """snapshot_expire must drop expired manifests, physically delete
    every data file only expired versions referenced (including
    crash orphans), and leave retained snapshots bit-identical."""
    import glob
    import os

    import pytest

    from flink_orc_sink_spark.sources.orc_sink import (
        snapshot_expire,
        snapshot_read,
        snapshot_versions,
        snapshot_write,
    )

    base = str(tmp_path / "snap")
    snapshot_write(spark.range(10).withColumn("v", F.lit(1)), base)
    snapshot_write(spark.range(5).withColumn("v", F.lit(2)), base)  # append
    snapshot_write(
        spark.range(3).withColumn("v", F.lit(3)), base, mode="overwrite"
    )
    # crash orphan: data file no manifest references
    data_root = os.path.join(base, "data")
    some = glob.glob(os.path.join(data_root, "*", "*.orc"))[0]
    orphan = os.path.join(os.path.dirname(some), "part-9999-orphan.orc")
    import shutil

    shutil.copy(some, orphan)
    n_before = len(glob.glob(os.path.join(data_root, "*", "*.orc")))

    stats = snapshot_expire(base, keep_last=1)
    assert stats["versions_expired"] == 2
    assert stats["files_deleted"] >= 1
    assert snapshot_versions(base) == [3]
    # retained snapshot unchanged
    got = sorted((r.id, r.v) for r in snapshot_read(spark, base).collect())
    assert got == [(i, 3) for i in range(3)]
    # expired versions physically gone: only v3's files (and nothing
    # else, orphan included) remain on disk
    remaining = glob.glob(os.path.join(data_root, "*", "*.orc"))
    assert len(remaining) == stats["files_retained"] < n_before
    assert not os.path.exists(orphan)
    with pytest.raises(ValueError):
        snapshot_read(spark, base, 1)
    with pytest.raises(ValueError):
        snapshot_expire(base, keep_last=0)


def test_erase_keys_rewrites_only_touched_buckets(spark, tmp_path):
    """erase_keys_orc must delete exactly the requested keys and
    leave untouched bucket partitions' files physically unmodified
    (same mtime — not rewritten, not listed)."""
    import glob
    import os

    from flink_orc_sink_spark.sources.orc_sink import erase_keys_orc

    base = str(tmp_path / "tbl")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("kb"),
        (F.col("id") * 2).alias("v"),
    )
    df.repartition("kb").write.format("orc").partitionBy("kb").save(base)
    mtimes_before = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(base, "kb=*", "*.orc"))
    }
    # keys 3 and 10 live in buckets 3 and 3 (10%7=3) -> one bucket
    erase = spark.createDataFrame([(3,), (10,)], "k long")
    erase_keys_orc(spark, base, erase, "k", "kb")
    got = spark.read.orc(base)
    assert got.count() == 998
    assert got.filter(F.col("k").isin(3, 10)).count() == 0
    untouched = {
        p: m
        for p, m in mtimes_before.items()
        if "kb=3" not in p and os.path.exists(p)
    }
    # every non-bucket-3 file survives with its original mtime
    assert len(untouched) == sum(
        1 for p in mtimes_before if "kb=3" not in p
    )
    for p, m in untouched.items():
        assert os.path.getmtime(p) == m



def test_erase_of_a_whole_bucket_deletes_the_bucket(spark, tmp_path):
    """Erasing every key of one bucket removes that bucket's directory:
    a dynamic overwrite alone replaces only the buckets its frame still
    holds, so the emptied bucket would keep every erased row. The
    other buckets keep their files and mtimes."""
    import glob
    import os

    from flink_orc_sink_spark.sources.orc_sink import erase_keys_orc

    base = str(tmp_path / "tbl")
    spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("kb")
    ).repartition("kb").write.format("orc").partitionBy("kb").save(base)
    others = {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(base, "kb=*", "*.orc"))
        if os.sep + "kb=3" + os.sep not in p
    }
    assert others
    # 3, 10 and 17 are every key of bucket 3 (k % 7 == 3)
    erase = spark.createDataFrame([(3,), (10,), (17,)], "k long")
    erase_keys_orc(spark, base, erase, "k", "kb")
    assert not os.path.exists(os.path.join(base, "kb=3"))
    got = spark.read.orc(base)
    assert got.filter(F.col("k").isin(3, 10, 17)).count() == 0
    assert got.count() == 17
    assert {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(base, "kb=*", "*.orc"))
    } == others

def test_erase_broadcasts_the_key_set_once(spark, tmp_path):
    """erase_keys_orc broadcasts the erase keys in one query, the scan
    that finds the touched buckets and the erased keys in them; the
    rewrite drops those keys by value. A second broadcast of the keys
    would be one Spark job more. A row whose key is null survives, as
    it did the anti-join."""
    from flink_orc_sink_spark.sources.orc_sink import erase_keys_orc

    base = str(tmp_path / "tbl")
    spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("kb")
    ).union(spark.createDataFrame([(None, 3)], "k long, kb long")).repartition(
        "kb"
    ).write.format("orc").partitionBy("kb").save(base)
    erase = spark.createDataFrame([(3,), (10,), (11,), (5000,)], "k long")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    job0 = dag.nextJobId()
    erase_keys_orc(spark, base, erase, "k", "kb")
    assert dag.nextJobId() - job0 == 5
    got = spark.read.orc(base)
    assert got.count() == 998
    assert got.filter(F.col("k").isNull()).count() == 1
    assert got.filter(F.col("k").isin(3, 10, 11)).count() == 0


def test_quarantine_write_splits_exactly(spark, tmp_path):
    """write_orc_validated: every row lands on exactly one side; bad
    rows (including NULL-expectation rows) arrive unchanged."""
    from flink_orc_sink_spark.sources.orc_sink import write_orc_validated

    df = spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, None), (4, 0.0)],
        "id long, v double",
    )
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    write_orc_validated(df, good, bad, F.col("v") >= 0)
    g = {r.id for r in spark.read.orc(good).collect()}
    b = {r.id for r in spark.read.orc(bad).collect()}
    assert g == {1, 4}
    assert b == {2, 3}  # NULL expectation rows must quarantine, not vanish
    row = spark.read.orc(bad).filter("id = 2").collect()[0]
    assert row.v == -3.0  # unchanged, replayable


def test_snapshot_diff_classifies_and_prunes(spark, tmp_path):
    """snapshot_diff: (1) classifies insert/update/delete exactly and
    omits unchanged keys; (2) APPEND-ONLY diffs prune the from-side
    to zero files off the manifests alone — the scan's inputFiles
    must be exactly the appended files, never the shared history."""
    from flink_orc_sink_spark.sources.orc_sink import (
        snapshot_diff,
        snapshot_write,
    )

    base = str(tmp_path / "snap")
    df1 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    v1 = snapshot_write(df1, base, mode="append")

    # overwrite: k=2 deleted, k=3 updated, k=4 inserted, k=1 unchanged
    df2 = spark.createDataFrame(
        [(1, "a", 10), (3, "c", 31), (4, "d", 40)], "k long, s string, v long"
    )
    v2 = snapshot_write(df2, base, mode="overwrite")
    got = {
        (r.change_type, r.k, r.s, r.v)
        for r in snapshot_diff(spark, base, ["k"], v1, v2).collect()
    }
    assert got == {
        ("delete", 2, "b", 20),
        ("update", 3, "c", 31),
        ("insert", 4, "d", 40),
    }

    # append-only: new keys land in new files; diff must read ONLY them
    df3 = spark.createDataFrame([(5, "e", 50)], "k long, s string, v long")
    v3 = snapshot_write(df3, base, mode="append")
    diff = snapshot_diff(spark, base, ["k"], v2, v3)
    assert {(r.change_type, r.k) for r in diff.collect()} == {("insert", 5)}
    read = {f.split("/data/")[-1] for f in diff.inputFiles()}
    assert all(f.startswith(f"v{v3}-") for f in read), read
