"""Parquet table loaders over the driver testdata layout.

The reference's only source is a driver-side eager file glob expanded into an
in-memory PCollection (reference preprocess.py:373-377 + 313-324). Spark's
file sources do that listing lazily and distributed, with partition pruning;
``load_table`` is the engine's scan entry point and deliberately nothing more
than ``spark.read.schema(s).parquet`` so Catalyst keeps pushdown/pruning. The
schema ``s`` is Spark's own inference for the path, memoized in-process on the
files' size and mtime: inferring it is a Spark job (about 110 ms on a 4-core
host) that a warm session would otherwise pay on every scan.
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


#: parquet path -> (its _file_version, the schema Spark inferred for it)
_SCHEMA_MEMO: dict[str, tuple[tuple, T.StructType]] = {}

#: (session id, sf_dir, table) -> persisted DataFrame; only populated when
#: SPARK_GRAFT_CACHE_TABLES=1 (verification loops — NEVER the bench, which
#: must measure the scan)
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Column pruning + predicate pushdown reach the
    parquet reader because nothing opaque sits between it and the query.

    events.ts is physically TIMESTAMP(NANOS) parquet, which Spark only reads
    as a nanos long (``nanosAsLong``); it is normalized here to a proper
    µs-precision TimestampType via exact integer division (``div`` — a
    double division of ~1.7e18 ns would lose precision past 2^53). DuckDB
    oracles mirror the truncation with ``epoch_ns(ts)//1000``.

    The parquet schema is inferred once per file version: the first scan of
    a path lets Spark infer it (one Spark job), later scans pass that schema
    to the reader and fire no job. The memo is keyed on the file's
    ``(path, st_size, st_mtime_ns)``, or on every file under a directory, so
    a rewritten table is re-inferred. The scan itself stays lazy, with the
    same pruning and pushdown.

    With ``SPARK_GRAFT_CACHE_TABLES=1`` the normalized scan is persisted and
    memoized per (session, sf_dir, table) — a 219-query verification loop
    re-reads every table hundreds of times otherwise. Opt-in only: caching
    would hide scan pruning from the bench and from plan-assertion tests.
    """
    if os.environ.get("SPARK_GRAFT_CACHE_TABLES") == "1":
        # keyed on applicationId, not id(spark): a stopped session's id()
        # can be reused by a new SparkSession object, which would hand out
        # persisted DataFrames bound to the dead session (r6 ADVICE fix)
        key = (spark.sparkContext.applicationId, sf_dir, name)
        hit = _TABLE_CACHE.get(key)
        if hit is not None:
            return hit
        df = _load_table_uncached(spark, sf_dir, name).persist()
        _TABLE_CACHE[key] = df
        return df
    return _load_table_uncached(spark, sf_dir, name)


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # oracle comparisons convert NTZ dates with unix_timestamp(), which
    # reads the session timezone — pin it on whatever session we're given
    # (the driver builds its own; DuckDB's epoch() is UTC)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # parquet timestamp[us] written without isAdjustedToUTC would be inferred
    # as TIMESTAMP_NTZ by Spark 4; the operator surface (unix_micros, window,
    # as-of joins) expects the instant type, so read it as LTZ — identical
    # epoch micros under the UTC session zone.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    version = _file_version(path)
    memo = _SCHEMA_MEMO.get(path)
    if memo is not None and memo[0] == version:
        df = spark.read.schema(memo[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if version is not None:
            _SCHEMA_MEMO[path] = (version, df.schema)
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # belt-and-braces for sessions where the conf above can't take effect
    # (e.g. a cached reader): relabel any residual NTZ column to the instant
    # type — a pure reinterpretation under the UTC session zone.
    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast(T.TimestampType()))
    return df


def _file_version(path: str) -> tuple | None:
    """``(st_size, st_mtime_ns)`` of a file; for a directory, the path, size
    and mtime of every file beneath it. None where the path is not local."""
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (st.st_size, st.st_mtime_ns)
        files = []
        for root, _dirs, names in os.walk(path):
            for n in names:
                f = os.path.join(root, n)
                st = os.stat(f)
                files.append((f, st.st_size, st.st_mtime_ns))
        return tuple(sorted(files))
    except OSError:
        return None


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` works too —
    the SQL front-end the reference lacks (SURVEY §2.7) is free in Spark."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
