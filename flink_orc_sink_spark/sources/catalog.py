"""Catalog over the driver's synthetic parquet tables.

One parquet file per table under ``/root/testdata/sf*/`` (TESTDATA.md).
Reading is a plain ``spark.read.parquet`` so Catalyst keeps full
predicate-pushdown / column-pruning ability — never pre-collect or
pre-transform here. At 100 TB these would be directories of many
parquet files (or a Hive/Iceberg table); the API is unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table as a DataFrame (lazy scan).

    ``events.ts`` has shipped in two physical forms across driver data
    generations: TIMESTAMP(NANOS) (which Spark's reader rejects —
    PARQUET_TYPE_ILLEGAL — so we read via ``nanosAsLong`` + truncating
    ns→µs division, matching DuckDB) and plain TIMESTAMP(MICROS)
    without timezone (which Spark reads as TIMESTAMP_NTZ). Both are
    normalized here to a session-timezone TIMESTAMP whose instant is
    the naive wall time read as UTC — the same epoch microseconds
    DuckDB's ``epoch_us`` yields on the naive value — via
    ``timestamp_micros(µs-since-epoch)``, which is session-timezone
    INDEPENDENT (no cast through the tz-dependent NTZ→TZ path), so
    downstream ``unix_micros`` / ``window`` / ``date_trunc`` are
    deterministic under any caller's session. The confs are set here
    (runtime-settable) so it works under any caller's SparkSession,
    including the driver's.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    pin_session(spark, name)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return normalize_events_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def pin_session(spark: SparkSession, name: str = "events") -> None:
    """Set the runtime confs a read of table ``name`` depends on; runs
    no Spark job. A query that reads ``events.parquet`` itself (to
    stage it, or for its raw schema) calls this instead of a
    :func:`table` call whose frame it would discard: each ``table``
    call infers the parquet schema, a one-task Spark job.

    Calendar extraction (year/date_trunc/window/cast-to-date) on a
    Spark timestamp is session-timezone dependent, while the DuckDB
    oracles are timezone-naive. UTC is pinned here — runtime-settable,
    like nanosAsLong — so results are identical under any caller's
    session, not just our tuned get_spark()."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` from any shipped physical form (ns-as-
    long under ``nanosAsLong``, or µs TIMESTAMP_NTZ) to a session-tz
    TIMESTAMP whose instant is the naive wall time read as UTC. Works
    on batch and streaming DataFrames alike (pure column expressions,
    no actions)."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            ),
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load several tables and register each as a temp view, so the same
    data is reachable from both the DataFrame API and ``spark.sql``."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
