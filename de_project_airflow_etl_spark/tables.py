"""Testdata table access.

The driver ships TPC-H-ish parquet tables (TESTDATA.md). Each query
callable receives ``(spark, sf_dir)``; helpers here load tables and
register temp views so both the DataFrame API and ``spark.sql`` can be
used against the same inputs.

At 100 TB scale these reads are exactly the same code path — a
parquet scan over a partitioned lake directory; Catalyst handles
partition pruning / predicate pushdown / column pruning from the
declarative plan.

Schema resolution. In the reference deployment Trino takes a table's
schema from the Hive metastore's declared DDL and never opens a parquet
footer at query time. The testdata tables are bare parquet files with
no declared schema, and ``spark.read.parquet`` infers one with a Spark
job on every call. ``resolve_schema`` stands in for the declared schema: the first
read of a table infers it, and later reads pass the same ``StructType``
to ``spark.read.schema(...)`` and launch no job. A table re-infers when
any of these change:

* its absolute path;
* its data files, fingerprinted as (relative name, size,
  ``st_mtime_ns``) of every non-hidden file, so a rewritten single
  file and a rewritten Spark output directory both count;
* a session conf that changes how parquet types are inferred
  (``_INFERENCE_CONFS``).

Only the ``StructType`` is cached, never a DataFrame: a DataFrame
carries fixed attribute ids, and queries that load one table twice and
join it with itself (TPC-H Q21 over ``lineitem``) need every load to
produce fresh ones, or the self-join turns ambiguous.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Session confs under which the same parquet footer infers to a
# different StructType; part of every schema cache key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# absolute path -> (fingerprint and conf values, schema): one entry per
# table, replaced when the table re-infers.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _hidden(name: str) -> bool:
    """Spark's data-file filter: names starting with ``_`` or ``.`` are
    metadata (``_SUCCESS``, ``.crc``), except ``_col=value`` partition
    directories."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _fingerprint(path: str) -> tuple:
    """(relative name, size, mtime ns) of each data file under ``path``,
    or of ``path`` itself when it is a file."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for n in names:
            if not _hidden(n):
                full = os.path.join(root, n)
                st = os.stat(full)
                files.append((os.path.relpath(full, path), st.st_size,
                              st.st_mtime_ns))
    return tuple(sorted(files))


def resolve_schema(spark: SparkSession, path: str) -> T.StructType:
    """The parquet schema of the table at ``path``, inferred by Spark on
    the first call and reused while the files and inference confs stay
    the same. A path that is not on the local file system is inferred
    every time (it has no fingerprint)."""
    if not os.path.exists(path):
        return spark.read.parquet(path).schema
    path = os.path.abspath(path)
    stamp = (_fingerprint(path),
             tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != stamp:
        hit = _SCHEMAS[path] = (stamp, spark.read.parquet(path).schema)
    return hit[1]


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects
        # outright unless nanosAsLong is on. Our session factory sets
        # it, but the driver may hand us a plain session — set it
        # defensively (runtime-settable, idempotent) so every query
        # works on any SparkSession.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(resolve_schema(spark, path)).parquet(path)
    if name == "events":
        df = _normalize_event_ts(spark, df)
    return df


def _normalize_event_ts(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Give ``events.ts`` one canonical type (TIMESTAMP, UTC instant).

    The driver's generator has shipped two physical encodings so far:
    TIMESTAMP(NANOS) (readable only as a nanosecond long under
    ``nanosAsLong``) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    (read as TIMESTAMP_NTZ). Every downstream operator — epoch math
    via ``unix_micros``, watermarks, stream-stream interval joins —
    assumes a plain TIMESTAMP whose instant equals the file's naive
    value read as UTC, which is also exactly how the DuckDB oracle
    treats it (naive timestamp, ``epoch()`` == UTC). Normalizing here,
    in the one loader every query goes through, keeps the 148 query
    implementations encoding-agnostic.
    """
    from pyspark.sql import functions as F
    # Pin the session zone for EVERY encoding (runtime-settable,
    # idempotent — same defensive pattern as nanosAsLong above): the
    # NTZ cast interprets the naive value in the session zone, and
    # even for already-instant encodings every downstream
    # date/day-granularity cast (cast('date'), date_trunc) renders in
    # the session zone — the oracle treats all of these as UTC.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        # nanosecond long -> truncate to micros exactly as DuckDB does
        # when casting ns -> us.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(dt, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def fan_out(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Widen a narrow scan before CPU-heavy per-row work.

    The local testdata ships ONE single-row-group parquet file per
    table, so every scan is a single task no matter how
    ``spark.sql.files.maxPartitionBytes`` is set (row groups are the
    minimum split unit) — and a hashing-heavy operator then runs on one
    of 32 cores. Repartitioning first costs a shuffle of the raw rows
    (sub-MB here) and buys full-width parallelism for the expensive
    map.

    At production scale a 100 TB table spans thousands of files, the
    scan is already wider than the core count, and this helper no-ops —
    the condition, not the repartition, is the design.
    """
    target = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) >= target:
        return df
    return df.repartition(target)


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] = TABLES) -> None:
    """Register temp views for SQL-flavored queries."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
