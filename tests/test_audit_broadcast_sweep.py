"""The bounded-broadcast lint (tools/audit_plans.py, round 11) must
not be vacuously clean: grouped-aggregate broadcasts — including a
groupBy held in a local variable — are findings unless annotated,
while global aggregates, re-aggregated scalars, limits, fixed dims
and annotated sites pass."""

from __future__ import annotations

import importlib.util
import os
import textwrap

_SPEC = importlib.util.spec_from_file_location(
    "audit_plans",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "audit_plans.py",
    ),
)
audit_plans = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(audit_plans)

SYNTH = textwrap.dedent(
    """
    from pyspark.sql import functions as F

    def bad_grouped_in_var(df):
        g = df.groupBy("user_id")
        stats = g.agg(F.count("*"))
        return df.join(F.broadcast(stats), "user_id")

    def good_global_agg(df):
        tot = df.agg(F.count("*").alias("n"))
        return df.crossJoin(F.broadcast(tot))

    def good_regrouped_scalar(df):
        m = df.groupBy("k").agg(F.count("*").alias("n")).agg(F.max("n"))
        return df.crossJoin(F.broadcast(m))

    def bad_plain_grouped(df):
        s = df.groupBy("u").agg(F.sum("x"))
        return df.join(F.broadcast(s), "u")

    def good_annotated(df):
        s = df.groupBy("etype").agg(F.sum("x"))
        # bounded-broadcast: event-type enum domain
        return df.join(F.broadcast(s), "etype")

    def good_limit(df):
        top = df.orderBy("x").limit(5)
        return df.join(F.broadcast(top), "k")

    def good_fixed_dim(spark, sf_dir):
        n = table(spark, sf_dir, "nation")
        return n.select("n_nationkey").crossJoin(F.broadcast(n))

    def bad_nested_limit(df, small):
        return df.join(F.broadcast(df.join(small.limit(5), "k")), "k")

    def bad_nested_dim(spark, sf_dir, big):
        j = big.join(table(spark, sf_dir, "nation"), "n_nationkey")
        return big.join(F.broadcast(j), "n_nationkey")
    """
)


def test_sweep_flags_unbounded_and_passes_bounded(tmp_path):
    (tmp_path / "synth.py").write_text(SYNTH)
    findings = audit_plans._audit_forced_broadcasts(str(tmp_path))
    flagged_lines = sorted(
        int(f.split(":")[1]) for f in findings if "synth.py" in f
    )
    src_lines = SYNTH.splitlines()
    flagged_fns = set()
    for ln in flagged_lines:
        for i in range(ln - 1, -1, -1):
            if src_lines[i].startswith("def "):
                flagged_fns.add(src_lines[i].split("(")[0][4:])
                break
    # the nested-limit / nested-dim shapes (round-11 advice #2): a
    # .limit or nation scan INSIDE a larger expression bounds only
    # that operand, not the broadcast frame — both must flag
    assert flagged_fns == {
        "bad_grouped_in_var",
        "bad_plain_grouped",
        "bad_nested_limit",
        "bad_nested_dim",
    }


def test_sweep_clean_on_package():
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "flink_orc_sink_spark",
    )
    assert audit_plans._audit_forced_broadcasts(pkg) == []
    assert audit_plans._audit_checkpoint_hygiene(pkg) == []
    assert audit_plans._audit_jvm_walks(pkg) == []
    assert audit_plans._audit_partition_overwrite(pkg) == []
    assert audit_plans._audit_stream_starts(pkg) == []
    examples = os.path.join(os.path.dirname(pkg), "examples")
    assert audit_plans._audit_partition_overwrite(examples) == []
    assert audit_plans._audit_stream_starts(examples) == []


JVM_SYNTH = textwrap.dedent(
    """
    def bad_path_per_call(spark, p):
        return spark._jvm.org.apache.hadoop.fs.Path(p)

    def bad_nested(spark):
        def read(ins):
            return spark._jvm.org.apache.commons.io.IOUtils.toString(ins)
        return read

    def good_cached(spark, p):
        return jvm_class(spark, "org.apache.hadoop.fs.Path")(p)

    def jvm_class(spark, name):
        cls = spark._jvm
        for part in name.split("."):
            cls = getattr(cls, part)
        return cls
    """
)


def test_jvm_walk_audit_flags_a_walk(tmp_path):
    (tmp_path / "synth.py").write_text(JVM_SYNTH)
    findings = audit_plans._audit_jvm_walks(str(tmp_path))
    assert sorted(f.split(" ")[1] for f in findings) == [
        "bad_nested:", "bad_path_per_call:", "read:",
    ]


OVERWRITE_SYNTH = textwrap.dedent(
    """
    def bad_conf_toggle(spark, df, path):
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            df.write.mode("overwrite").partitionBy("dt").orc(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def bad_inline_option(df, path):
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(path)
        )

    def good_through_helper(df, path):
        overwrite_partitions(df, path, "dt")
    """
)

HELPER_SYNTH = textwrap.dedent(
    """
    def overwrite_partitions(df, path, *part_cols):
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*part_cols)
            .orc(path)
        )

    def bad_second_copy(df, path):
        df.write.option("partitionOverwriteMode", "dynamic").orc(path)
    """
)


def test_partition_overwrite_audit_flags_toggles_and_options(tmp_path):
    (tmp_path / "synth.py").write_text(OVERWRITE_SYNTH)
    (tmp_path / "sources").mkdir()
    (tmp_path / "sources" / "orc_sink.py").write_text(HELPER_SYNTH)
    findings = audit_plans._audit_partition_overwrite(str(tmp_path))
    # the toggle's get, set and restore, the inline option, and a
    # second copy beside the helper; the helper itself passes
    assert sorted(f.split(" ")[1] for f in findings) == [
        "bad_conf_toggle:", "bad_conf_toggle:", "bad_conf_toggle:",
        "bad_inline_option:", "bad_second_copy:",
    ]


STARTS_SYNTH = textwrap.dedent(
    """
    import threading

    def bad_chain(df, ck):
        return df.writeStream.format("memory").option(
            "checkpointLocation", ck
        ).start()

    def bad_via_names(df, ck):
        writer = df.writeStream.foreachBatch(print)
        w2 = writer.option("checkpointLocation", ck)
        return w2.start()

    def bad_in_lambda(run, df):
        run(lambda: df.writeStream.format("console").start())

    def bad_to_table(df):
        return df.writeStream.toTable("t")

    def good_through_helper(spark, df, ck):
        return start_stream(
            df.writeStream.option("checkpointLocation", ck), spark, ck
        )

    def good_thread():
        t = threading.Thread(target=print)
        t.start()
    """
)

START_HELPER_SYNTH = textwrap.dedent(
    """
    def start_stream(writer, spark, checkpoint):
        return writer.start()

    def bad_second_copy(df):
        return df.writeStream.start()
    """
)


def test_stream_start_audit_flags_starts_outside_the_helper(tmp_path):
    (tmp_path / "synth.py").write_text(STARTS_SYNTH)
    (tmp_path / "session.py").write_text(START_HELPER_SYNTH)
    findings = audit_plans._audit_stream_starts(str(tmp_path))
    # a chain, a writer held in names, a lambda, a toTable, and a
    # second start beside the helper; the helper, a start routed
    # through it and a thread's start pass
    assert sorted(f.split(" ")[1] for f in findings) == [
        "bad_chain:", "bad_in_lambda:", "bad_second_copy:",
        "bad_to_table:", "bad_via_names:",
    ]
