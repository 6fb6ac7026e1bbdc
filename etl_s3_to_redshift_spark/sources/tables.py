"""Parquet table loader for the driver testdata lake (TESTDATA.md).

One function to load all tables of a scale-factor directory and one to
register them as temp views so operators can be written in either the
DataFrame or SQL API (same Catalyst plan either way).

Lake reads infer each parquet schema once per file version and session
conf (``_read_parquet``); every later read of the same file passes the
schema, so building a query starts no schema-inference job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_s3_to_redshift_spark.schemas import TESTDATA_TABLES

# Session confs that change what parquet schema inference returns.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_schemas: dict[tuple, StructType] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema (one Spark job)
    only the first time it sees this version of the file under these
    inference confs, then reads with ``.schema(...)`` (no job). The
    version is the local file's identity: absolute path, inode, size and
    ``st_mtime_ns`` (an overwrite by Spark replaces a directory, so its
    inode or mtime changes). A path ``os.stat`` cannot see (``s3a://``,
    ``hdfs://``) is inferred on every read."""
    try:
        st = os.stat(path)
    except OSError:
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        st.st_ino,
        st.st_size,
        st.st_mtime_ns,
        *(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )
    schema = _schemas.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _schemas[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # Must hold for any caller-supplied session (the driver builds its
        # own): TIMESTAMP(NANOS) parquet is unreadable without this conf.
        # Harmless when the lake carries µs timestamps instead.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    # The driver lake's timestamp layout has varied across rounds:
    # TIMESTAMP(NANOS) (arrives as epoch-nanos long under nanosAsLong) vs
    # naive TIMESTAMP(MICROS) (arrives as TIMESTAMP_NTZ). Normalize both to
    # session-local TimestampType so every downstream comparison/window sees
    # one type; the session is pinned to UTC (session.py), so the NTZ cast
    # is value-preserving and matches DuckDB's naive reading of the file.
    for col, dtype in df.dtypes:
        if name == "events" and col == "ts" and dtype == "bigint":
            # integer division: epoch-nanos (~1.7e18) exceeds double's 53-bit
            # mantissa, so float division would corrupt the low microseconds.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES) -> None:
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def load_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose batches were written under EVOLVING
    schemas (columns added over time — the normal life of a long-lived
    lake table). ``mergeSchema`` unions the footers' schemas; batches
    written before a column existed surface NULL for it. Spark skips the
    footer-merge pass by default because at 100 TB it reads every file's
    footer — so this loader is the explicit opt-in for tables known to
    evolve, rather than a global config flip. Columns can only be ADDED:
    parquet has no merge story for a column whose type changed — that
    migration is a rewrite, not a read option."""
    return spark.read.option("mergeSchema", "true").parquet(path)
