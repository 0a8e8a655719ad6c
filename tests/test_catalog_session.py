"""Catalog and session-factory behavior, incl. the ns-timestamp path."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from flink_orc_sink_spark.sources.catalog import TABLES, load_tables, table


def test_all_tables_load(spark, sf_dir):
    for name in TABLES:
        df = table(spark, sf_dir, name)
        assert len(df.columns) > 0


def test_events_ts_is_timestamp(spark, sf_dir):
    """events.parquet stores TIMESTAMP(NANOS), unreadable by Spark
    without the nanosAsLong conf; the catalog must deliver a proper
    microsecond timestamp column."""
    e = table(spark, sf_dir, "events")
    assert isinstance(e.schema["ts"].dataType, T.TimestampType)
    row = e.select("ts").limit(1).collect()[0]
    assert row.ts.year >= 2020


def test_unknown_table_raises(spark, sf_dir):
    with pytest.raises(KeyError, match="unknown table"):
        table(spark, sf_dir, "nope")


def test_load_tables_registers_views(spark, sf_dir):
    load_tables(spark, sf_dir, ("region", "nation"))
    assert spark.sql("SELECT COUNT(*) n FROM region").collect()[0].n == 5
    assert spark.sql(
        "SELECT COUNT(*) n FROM nation JOIN region ON n_regionkey = r_regionkey"
    ).collect()[0].n == 25


def test_session_defaults(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.orc.impl") == "native"


def test_py4j_cache_outlives_the_micro_batch_session_wrapper(spark, tmp_path):
    """PySpark wraps every ``foreachBatch`` micro-batch in a new
    ``SparkSession`` over the same context (``ForeachBatchFunction``),
    so the FileSystem and class handles ``hadoop_fs`` caches must live
    on the context: a second wrapper gets the identical cached
    objects instead of resolving them again."""
    from pyspark.sql import SparkSession

    from flink_orc_sink_spark.session import hadoop_fs, jvm_class

    path = str(tmp_path)
    first = SparkSession(spark.sparkContext, spark._jsparkSession)
    fs1, _ = hadoop_fs(first, path)
    path_cls = jvm_class(first, "org.apache.hadoop.fs.Path")
    second = SparkSession(spark.sparkContext, spark._jsparkSession)
    fs2, jpath = hadoop_fs(second, path)
    assert fs2 is fs1
    assert jvm_class(second, "org.apache.hadoop.fs.Path") is path_cls
    assert fs2.exists(jpath)
