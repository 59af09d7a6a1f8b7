"""Parquet table loaders for the driver testdata (TESTDATA.md).

The reference's sources are a Kafka topic and four MySQL tables loaded by
ad-hoc SELECTs (SURVEY.md §2.1, kafka_s.py:68,132-137,292-296). Here every
source is a declarative ``spark.read`` so Catalyst gets column pruning and
predicate pushdown into the parquet scan for free — the reference
hand-writes both into its SQL strings (kafka_s.py:113, 292).
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import apply_runtime_confs

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


#: per session: file identity → the footer schema Spark inferred for it
_SESSIONS: WeakKeyDictionary[SparkSession, dict[tuple, StructType]] = (
    WeakKeyDictionary()
)


def _session_schemas(spark: SparkSession) -> dict[tuple, StructType]:
    """This session's schema cache. A session's first load also applies
    the runtime confs (load() is called many times per query; re-setting
    identical confs each time is driver noise)."""
    schemas = _SESSIONS.get(spark)
    if schemas is None:
        apply_runtime_confs(spark)
        schemas = _SESSIONS[spark] = {}
    return schemas


def _file_identity(path: str) -> tuple | None:
    """(absolute path, size, mtime_ns) of a parquet file, or of every file
    under a parquet directory; ``None`` for a path the OS cannot stat (a
    remote URI), which is then inferred on every read."""
    path = os.path.abspath(path)
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (path, st.st_size, st.st_mtime_ns)
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                st = os.stat(os.path.join(root, n))
                files.append((os.path.join(root, n), st.st_size, st.st_mtime_ns))
        return (path, *sorted(files))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the footer schema (a Spark
    job) only the first time this session reads this file as it is now;
    later reads pass the cached schema. A rewritten file has a new
    identity and is inferred again."""
    schemas = _session_schemas(spark)
    ident = _file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    schema = schemas.get(ident)
    if schema is None:
        df = spark.read.parquet(path)
        schemas[ident] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; schema comes from parquet footer metadata,
    read once per session and file (``_read_parquet``).

    ``events.ts`` normalizes to TIMESTAMP (with the session's pinned UTC
    zone) regardless of how the parquet stores it:

    - TIMESTAMP(NANOS) on disk → Spark reads a long (nanosAsLong) →
      floored to µs, the same truncation DuckDB applies on read;
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark 4 infers
      TIMESTAMP_NTZ → cast to TIMESTAMP, a wall-clock no-op under the
      UTC session zone, matching DuckDB's naive read.

    Every engine query therefore sees one ts type with deterministic
    UTC semantics at any scale factor.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    df = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose the tables to spark.sql(...) under their bare names."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
