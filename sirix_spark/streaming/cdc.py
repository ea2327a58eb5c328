"""Change feeds + streaming ingest for the versioned store.

Reference parity: the diff/DiffObserver machinery
(bundles/sirix-core/.../diff/DiffFactory.java, DiffObservable.java)
is a revision-to-revision change feed — reproduced here as a batch
DataFrame (change_feed). Streaming ingest/windowing are Spark-native
extensions beyond the reference surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sirix_spark.store import VersionedStore


def change_feed(store: VersionedStore, db: str, res: str, r1: int, r2: int) -> DataFrame:
    """CDC rows for every adjacent revision pair in (r1, r2]:
    (revision, committed_at, op, record_key, old, new)."""
    parts = []
    entries = store.entries(db, res)
    for r in range(r1 + 1, r2 + 1):
        d = store.diff(db, res, r - 1, r)
        parts.append(
            d.withColumn("revision", F.lit(r)).withColumn(
                "committed_at", F.lit(entries[r - 1].committed_at)
            )
        )
    if not parts:
        raise ValueError("empty revision range")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("revision", "committed_at", "op", "record_key", "old", "new")


def stream_ingest(
    spark: SparkSession,
    store: VersionedStore,
    input_path: str,
    schema: str,
    db: str,
    res: str,
    key: str,
    checkpoint_dir: str,
):
    """File-source streaming ingest: each micro-batch becomes one
    commit (= one revision) in the versioned store — streaming writes
    with full time travel over the result.

    Returns the StreamingQuery; callers use trigger availableNow +
    awaitTermination for batch-drain semantics."""
    stream = spark.readStream.schema(schema).json(input_path)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if not store.exists(db, res):
            store.store(db, res, batch_df, key=key, message=f"stream batch {batch_id}")
        else:
            store.upsert_records(db, res, batch_df, key=key, message=f"stream batch {batch_id}")

    return (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked tumbling-window counts — the standard late-data-
    tolerant streaming aggregation (works on batch DataFrames too,
    where the watermark is a no-op)."""
    df = events
    if df.isStreaming:
        df = df.withWatermark(ts_col, watermark)
    return df.groupBy(F.window(F.col(ts_col), window), F.col(key_col)).agg(
        F.count("*").alias("cnt")
    ).select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        key_col,
        "cnt",
    )
