"""Parquet table loaders for the driver testdata (TESTDATA.md).

The reference's sources are a Kafka topic and four MySQL tables loaded by
ad-hoc SELECTs (SURVEY.md §2.1, kafka_s.py:68,132-137,292-296). Here every
source is a declarative ``spark.read`` so Catalyst gets column pruning and
predicate pushdown into the parquet scan for free — the reference
hand-writes both into its SQL strings (kafka_s.py:113, 292).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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


_CONFED_SESSIONS: set[int] = set()


def _ensure_confs(spark: SparkSession) -> None:
    """Apply runtime confs once per session (load() is called many times
    per query; re-setting identical confs each time is driver noise)."""
    key = id(spark)
    if key not in _CONFED_SESSIONS:
        apply_runtime_confs(spark)
        _CONFED_SESSIONS.add(key)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; schema comes from parquet footer metadata.

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
    _ensure_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
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
