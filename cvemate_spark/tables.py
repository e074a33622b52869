"""Loaders for the driver test tables (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under
/root/testdata/sf{0.001,0.01,0.1}/.

The `events` table stores parquet TIMESTAMP(NANOS) which Spark's
parquet reader rejects; we read it with
`spark.sql.legacy.parquet.nanosAsLong` and convert the long back to a
microsecond TimestampType via `timestamp_micros(ns div 1000)` —
truncation, which matches DuckDB's nanos→micros behavior exactly
(verified against `epoch_ns` on the driver parquet).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .session import RUNTIME_SQL_CONFS

TABLE_NAMES = [
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
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _ensure_session_confs(spark: SparkSession) -> None:
    """Set the runtime SQL confs the engine depends on
    (session.RUNTIME_SQL_CONFS) on a session created elsewhere.

    Shuffle partitions are pinned to 32 here, while get_spark sizes
    them to the core count: a plain session defaults to 200 — far too
    many tasks for the test scales; AQE coalesces but task setup still
    dominates.
    """
    for k, v in RUNTIME_SQL_CONFS + (("spark.sql.shuffle.partitions", "32"),):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this session; proceed with its value


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # The generator has shipped the ts column as TIMESTAMP(NANOS)
        # (unreadable without nanosAsLong -> arrives as a long) and as
        # TIMESTAMP(MICROS) with isAdjustedToUTC=false (arrives as
        # TIMESTAMP_NTZ). Normalize both to session-zone TimestampType
        # (session is pinned to UTC, so the NTZ cast is value-exact and
        # matches the naive-timestamp DuckDB oracle).
        dt = dict(df.dtypes).get("ts")
        if dt == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every table and register it as a temp view (for spark.sql)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables

