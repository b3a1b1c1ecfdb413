"""Streaming ingest / window / state (SURVEY §2.10).

Maps the reference's consumer loop (consumer.py:358-428) onto
Structured Streaming:

- Kafka source/sink (S2/S3) behind options — the test environment has
  no broker, so CI uses the file-stream source over the same schema
  (SURVEY §7.3 risk table).
- Watermark 1 hour ≙ the reference's late-data drop (T1,
  consumer.py:79-83) — but applied *correctly*: state cleanup, not the
  reference's monotone counters (documented deviation, SURVEY T2).
- Windowed counts per (category, key) ≙ the time_windows counters (T2).
- ``store_with_ttl`` ≙ the 2-hour TTL purge (T3, consumer.py:119-148)
  via foreachBatch parquet partitions pruned by event hour — and unlike
  the reference, it prunes *every* index (the reference leaks 3 of 7).
- Checkpointing gives exactly-once state (T7) vs the reference's
  at-least-once consume with swallowed errors.
"""

from __future__ import annotations

import shutil
from datetime import datetime, timedelta
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..schema import INSECT_EVENT_SCHEMA, parse_event_ts

KAFKA_TOPIC = "insect-events"  # producer.py:52
KAFKA_BOOTSTRAP = "localhost:9092"  # producer.py:35 / consumer.py:14


def kafka_source(
    spark: SparkSession,
    bootstrap: str = KAFKA_BOOTSTRAP,
    topic: str = KAFKA_TOPIC,
    starting_offsets: str = "earliest",  # consumer.py:16 auto.offset.reset
) -> DataFrame:
    """S3: Kafka JSON consumer → typed columns.  ``from_json`` yields
    null rows for malformed payloads (filtered) — per-record error
    isolation replacing the reference's per-message except/print."""
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), INSECT_EVENT_SCHEMA).alias("e")
    )
    return (
        parsed.where(F.col("e").isNotNull())
        .select("e.*")
        .withColumn("event_ts", parse_event_ts())
    )


def kafka_sink(
    df: DataFrame,
    checkpoint: str,
    bootstrap: str = KAFKA_BOOTSTRAP,
    topic: str = KAFKA_TOPIC,
):
    """S2: JSON-encode the event struct → Kafka (producer.py:34-55)."""
    payload = df.select(
        F.to_json(F.struct(*[c for c in df.columns if c != "event_ts"])).alias(
            "value"
        )
    )
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


def file_stream_source(
    spark: SparkSession, path: str, schema, ts_col: str = "ts"
) -> DataFrame:
    """CI-safe stream source: parquet directory tailing with an explicit
    schema (no inference in streaming).  Used by the stream-batch
    equivalence tests over the driver's events table."""
    return spark.readStream.schema(schema).parquet(path)


def windowed_counts(
    events: DataFrame,
    ts_col: str = "event_ts",
    window: str = "1 minute",
    watermark: str = "1 hour",
    keys: tuple[str, ...] = ("species", "role"),
) -> DataFrame:
    """T1+T2: tumbling event-time counts per key tuple with late-data
    watermark — the correct-semantics re-spec of the reference's
    (species, role) window counters (consumer.py:32-44,86-110)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(F.count("*").alias("cnt"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            *keys,
            "cnt",
        )
    )


def start_memory_sink(df: DataFrame, name: str, output_mode: str = "update"):
    """T6: queryable live state — memory sink + ``spark.sql`` replaces
    the reference's pickle-over-socket snapshot queries."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


def store_with_ttl(
    events: DataFrame,
    store_dir: str,
    checkpoint: str,
    ts_col: str = "event_ts",
    retention_hours: int = 2,  # consumer.py:119 max_age_hours
):
    """T3: durable materialized store with TTL eviction.

    foreachBatch appends each micro-batch to parquet partitioned by
    event hour, then prunes partitions wholly older than the retention
    horizon (horizon = max event time seen − retention, i.e. event-time
    TTL like the reference's, but applied to the whole store — the
    reference misses 3 of its 7 indexes, consumer.py:131-146).
    Partition-level deletes mean eviction is O(#partitions), no rewrite.
    """
    store = Path(store_dir)

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        # One pass per batch: the write job also observes max(ts); an
        # empty batch writes no partition and observes NULL.
        seen = Observation()
        (
            batch_df.observe(seen, F.max(ts_col).alias("mx"))
            .withColumn(
                "event_hour",
                F.date_format(ts_col, "yyyy-MM-dd-HH"),
            )
            .write.mode("append")
            .partitionBy("event_hour")
            .parquet(str(store))
        )
        mx = seen.get["mx"]
        if mx is None:
            return
        horizon = mx - timedelta(hours=retention_hours)
        for part in store.glob("event_hour=*"):
            hour_str = part.name.split("=", 1)[1]
            try:
                hour_end = datetime.strptime(hour_str, "%Y-%m-%d-%H") + timedelta(
                    hours=1
                )
            except ValueError:
                continue
            if hour_end <= horizon:
                shutil.rmtree(part, ignore_errors=True)

    return (
        events.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint)
    )


def incremental_agg_store(
    events: DataFrame,
    store_dir: str,
    checkpoint: str,
    key_col: str = "event_type",
    value_col: str = "value",
):
    """Incremental materialized-view maintenance: a per-key aggregate
    (count + DECIMAL sum) kept up to date by merging each micro-batch's
    partial aggregate into the stored totals — the streaming upsert the
    reference's counter dicts (consumer.py:32-48) approximate in memory.

    Each batch: aggregate the batch (tiny — |keys| rows), full-outer
    merge with the current stored totals, write a new version directory
    ``v=<n>`` and retire older versions (versioned swap ≙ poor-man's
    ACID; at real scale this exact loop is Delta/Iceberg ``MERGE INTO``
    and the versioning comes from the table format).  Merge cost is
    O(|keys|) per batch, never a rescan of history.

    Idempotent under foreachBatch's at-least-once replay: the merge
    base is always the newest version STRICTLY OLDER than ``batch_id``,
    and a pre-existing ``v=<batch_id>`` (a replayed or partially
    written attempt) is discarded and rebuilt — so re-running a batch
    after a mid-write crash produces the same totals, never a
    double-count.  This is the standard idempotent foreachBatch write
    pattern (batch_id as the version key).
    """
    from pathlib import Path

    store = Path(store_dir)

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        delta = batch_df.groupBy(key_col).agg(
            F.count("*").alias("d_cnt"),
            F.sum(F.col(value_col).cast("decimal(18,2)")).alias("d_sum"),
        )
        versions = sorted(
            int(p.name.split("=", 1)[1]) for p in store.glob("v=*")
        )
        if batch_id in versions:
            # at-least-once replay (or partial write from a crash):
            # rebuild deterministically from the pre-batch base.
            shutil.rmtree(store / f"v={batch_id}", ignore_errors=True)
        versions = [v for v in versions if v < batch_id]
        if versions:
            cur = spark.read.parquet(str(store / f"v={versions[-1]}"))
            merged = (
                cur.join(delta, key_col, "full_outer")
                .select(
                    key_col,
                    (
                        F.coalesce("cnt", F.lit(0))
                        + F.coalesce("d_cnt", F.lit(0))
                    ).alias("cnt"),
                    (
                        F.coalesce(F.col("total"), F.lit(0).cast("decimal(18,2)"))
                        + F.coalesce(F.col("d_sum"), F.lit(0).cast("decimal(18,2)"))
                    ).cast("decimal(18,2)").alias("total"),
                )
            )
        else:
            merged = delta.select(
                key_col,
                F.col("d_cnt").alias("cnt"),
                F.col("d_sum").cast("decimal(18,2)").alias("total"),
            )
        merged.write.mode("overwrite").parquet(str(store / f"v={batch_id}"))
        for v in versions[:-1]:  # keep previous version for readers mid-swap
            shutil.rmtree(store / f"v={v}", ignore_errors=True)

    return (
        events.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
    )


def read_agg_store(spark, store_dir: str) -> DataFrame:
    """Read the latest version of an ``incremental_agg_store``."""
    from pathlib import Path

    versions = sorted(
        int(p.name.split("=", 1)[1]) for p in Path(store_dir).glob("v=*")
    )
    if not versions:
        raise FileNotFoundError(f"no versions in {store_dir}")
    return spark.read.parquet(f"{store_dir}/v={versions[-1]}")
