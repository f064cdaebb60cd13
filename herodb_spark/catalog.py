"""Table catalog: the herodb `data class` / `data` table surface
(reference Kernel/Drafts/draft:28-75) maps to parquet-backed typed
tables. Declared indexes map to physical layout hints:

- ``index Ordered(col)``  → sort-within-partitions on write / z-order
- ``index Hash(col)``     → bucketing / repartition on col
- ``index Unique(col)``   → enforced by dedup-on-write (mut_upsert)

Reads stay lazy DataFrames so Catalyst prunes columns and pushes
filters into the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_confs(spark: SparkSession) -> None:
    """Runtime confs every query needs regardless of who built the
    session (the driver passes its own SparkSession):
    - events.parquet stores TIMESTAMP(NANOS), illegal for Spark's
      vectorized reader → read nanos as long, convert below;
    - UTC session tz so timestamp semantics match the (naive) oracle.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_event_ts(df: DataFrame, streaming: bool = False) -> DataFrame:
    """Shared `events.ts` normalization — the testdata has shipped the
    column both as TIMESTAMP(NANOS) (surfacing as int64 under
    ``nanosAsLong``) and as timestamp[us], and the batch and stream
    readers must branch identically (they drifted once; round-3
    breakage).

    - int64 nanos → µs by `div`: truncation TOWARD ZERO, matching
      DuckDB's ns→µs cast. (Pre-epoch values would differ from floor
      by 1 µs; the synthetic log is post-epoch.) Result: TIMESTAMP.
    - timestamp_ntz: kept as-is for batch (naive semantics match the
      DuckDB oracles); cast to TIMESTAMP for streaming — watermarks
      reject NTZ, and under the pinned UTC session tz the cast is
      value-identity.
    """
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp")) if streaming else df
    if dt != "timestamp":
        raise TypeError(f"events.ts has unsupported type {dt}")
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every table lazily. No caching here — callers decide;
    at 100 TB you never blanket-cache the fact tables."""
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}
