"""Catalog layer: register the testdata parquet tables as temp views.

Hive analogue: the Metastore (``metastore/src/java/.../ObjectStore.java``)
holding Table + StorageDescriptor; at query time ``SemanticAnalyzer`` resolves
table names against it. Spark-first answer: `spark.read.parquet` + temp views
(or `enableHiveSupport()` + a real metastore on a cluster — same code path).

Scale note: each table is a directory-backed parquet source, so Catalyst
gets partition discovery, predicate pushdown, and column pruning for free;
at 100 TB the only change is the path (s3://...) and `partitionBy` layout.

Schema cache: Hive never reads file footers to learn a table's columns; the
Metastore keeps them in the StorageDescriptor and the compiler resolves names
against that. A bare ``spark.read.parquet(path)`` instead runs one Spark
schema-inference job per call, and builders call ``load_table`` once per
table reference. So the first read of a table file infers its schema as
before and records it; later reads hand the stored ``StructType`` to
``spark.read.schema(...)``, which builds a fresh relation (new attribute ids)
without running a job. An entry is valid only for the same absolute path,
inode, ``st_mtime_ns`` and ``st_size``, and for the same values of the reader
confs that change what inference returns (``_SCHEMA_CONFS``); any change
re-infers. Only local regular files named by an absolute path are cached: a
directory's mtime does not follow files rewritten inside it, and a non-local
URI (s3://, hdfs://, file://) cannot be stat'ed from here, so both keep the
uncached read.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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

# Semantic confs every query depends on. session.get_session() sets these at
# build time, but an EXTERNAL caller (the correctness driver, a notebook, a
# cluster job) hands us its own SparkSession — so pin them at runtime too.
# All four are runtime-settable (verified: spark.conf.set then read works).
#   - nanosAsLong: testdata events.parquet stores ts as INT64 TIMESTAMP(NANOS)
#     which Spark rejects by default ([PARQUET_TYPE_ILLEGAL]).
#   - UTC + ANSI-off + CORRECTED parser: Hive 1.2.2 semantic parity
#     (TimestampWritable wall-clock reads; NULL-on-bad-cast).
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.timeParserPolicy": "CORRECTED",
}


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Idempotently pin semantic confs on any SparkSession (driver-safe)."""
    for key, want in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != want:
                spark.conf.set(key, want)
        except Exception:
            # Non-runtime-settable on some builds → best effort; the session
            # factory (session.py) still sets it at build time.
            pass
    return spark


# Reader confs that change the schema parquet inference returns.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

# (path, conf values) -> (file identity, inferred schema). One entry per path
# and conf combination, so a rewritten file replaces its stale entry. Plain
# dict reads and writes are atomic. Racing threads at worst both infer, or one
# stores an older file's entry over a newer one, which the identity check
# then rejects; a returned schema always matches the file as stat'ed.
_schemas: dict[tuple, tuple[tuple, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, reusing the schema of an unchanged file."""
    try:
        st = os.stat(path) if os.path.isabs(path) else None
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = (path, tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    ident = (st.st_dev, st.st_ino, st.st_mtime_ns, st.st_size)
    cached_ident, schema = _schemas.get(key, (None, None))
    if cached_ident == ident:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _schemas[key] = (ident, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_confs(spark)
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Normalize ts to TimestampType regardless of the physical parquet
        # type — the testdata generator has shipped both INT64 TIMESTAMP(NANOS)
        # (arrives as a nanos bigint under nanosAsLong) and plain
        # timestamp[us] (arrives as TIMESTAMP_NTZ). All downstream consumers,
        # including the streaming readers, depend on this single guard.
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanos-since-epoch long; truncate to micros exactly like
            # DuckDB's TIMESTAMP_NS -> TIMESTAMP read path.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type is not None and ts_type != "timestamp":
            # TIMESTAMP_NTZ (or any future variant): wall-clock cast under the
            # pinned UTC session zone — identical values to DuckDB's read.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view; returns name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
