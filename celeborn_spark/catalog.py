"""Catalog: the driver-generated TPC-H-ish parquet tables (TESTDATA.md).

Scans go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown, column pruning and partition pruning for free — the engine
analogue of the reference's reader stack (WorkerPartitionReader /
LocalPartitionReader / DfsPartitionReader,
worker/.../FetchHandler.scala:111) collapsed into one declarative scan.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session-level work (conf pinning, view registration) is memoized per
# Spark application: a query path that calls load_table/register_views
# per invocation must not re-pay conf RPCs and 10 parquet footer reads
# every time (driver-side overhead on a hot path at scale).
_CONF_PINNED: set[str] = set()
# app_id -> sf_dir the views currently point at (views are REPLACED on
# a switch, so only the latest registration is valid per session)
_VIEWS_REGISTERED: dict[str, str] = {}
# NOTE: a (app, sf_dir, table) -> DataFrame memoization was tried in
# round 5 to shave the per-query footer read and REVERTED: reusing one
# DataFrame instance across query invocations made the
# iterative/localCheckpoint-heavy pipelines (q_dedup_groups) ~1.7x
# slower and high-variance (3.0 s -> 4.6-6.1 s steady-state, measured
# in isolation both ways). Every call builds a fresh DataFrame; only the
# inferred StructType is memoized (_read_parquet): schema inference is a
# one-task Spark job (~100 ms), a read with a known schema launches none.
# (app, path, inference confs) -> (file stamp, schema); one entry a path.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}
# Session confs that change the schema parquet inference produces.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)


def _pin_session_confs(spark: SparkSession) -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _CONF_PINNED:
        return
    # Oracle parity must hold under ANY caller-provided session (the
    # driver does not use our tuned factory): timestamps render in the
    # session TZ, DuckDB's are naive — pin UTC at runtime. The legacy
    # nanos conf only affects TIMESTAMP(NANOS) columns (Spark's reader
    # rejects them otherwise); it is a no-op for MICROS/MILLIS data, so
    # pinning it keeps the loader tolerant of either parquet flavor.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _CONF_PINNED.add(app_id)


def _file_stamp(path: str) -> tuple:
    """Identity of a parquet file or directory's current contents; a
    directory's stamp covers its top-level entries, so rewriting one
    part file in place changes it. Raises OSError for a missing or
    non-local path."""
    st = os.stat(path)
    stamp: tuple = (st.st_ino, st.st_size, st.st_mtime_ns)
    if stat.S_ISDIR(st.st_mode):
        entries = []
        for e in os.scandir(path):
            est = e.stat()
            entries.append((e.name, est.st_ino, est.st_size, est.st_mtime_ns))
        stamp += tuple(sorted(entries))
    return stamp


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A fresh ``spark.read.parquet(path)``, given the memoized schema
    while the file and the inference confs are unchanged."""
    try:
        stamp = _file_stamp(path)
    except OSError:
        # missing or non-local path: Spark reports or resolves it
        return spark.read.parquet(path)
    key = (
        spark.sparkContext.applicationId,
        path,
        tuple(spark.conf.get(c, None) for c in _INFERENCE_CONFS),
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _pin_session_confs(spark)
    if name == "events":
        # A real user's parquet timestamps come in several physical
        # flavors; dispatch on what the scan actually produced so the
        # engine reads any of them:
        #   TIMESTAMP(NANOS) + nanosAsLong -> LongType: truncate to
        #     micros (the same truncation DuckDB applies);
        #   TIMESTAMP(MICROS, isAdjustedToUTC=false) -> TIMESTAMP_NTZ:
        #     cast to session-TZ timestamp (identity under pinned UTC);
        #   TIMESTAMP(MICROS, UTC) -> TimestampType: pass through.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = _read_parquet(spark, table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return _read_parquet(spark, table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so spark.sql() queries work.
    Memoized per (application, sf_dir) — re-registration re-reads every
    table's parquet footer for nothing."""
    app_id = spark.sparkContext.applicationId
    if _VIEWS_REGISTERED.get(app_id) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_REGISTERED[app_id] = sf_dir
