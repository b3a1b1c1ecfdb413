"""Declared streaming queries (SURVEY §2.10 T1/T2/T6).

These run a REAL Structured Streaming job inside the declared-query
contract: file-stream source over the same events parquet → watermark →
event-time windowed aggregation → memory sink, drained with
``processAllAvailable``.  Because a bounded stream drained to complete
output equals the batch computation over the same data (the
stream-batch equivalence property the Structured Streaming paper is
built on — PAPERS.md), the result is deterministic and oracle-checkable
with plain SQL: DuckDB sees the batch twin.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import events_stream
from .registry import query


@query(
    "st1_stream_tumbling_counts",
    oracle="""
    SELECT epoch_us(date_trunc('day', ts)) AS day_us,
           event_type, count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
)
def st1_stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest of the events table (file source, explicit
    schema — no inference in streaming) with a 1-hour watermark (the
    reference's late-data cutoff, consumer.py:82-83) and daily tumbling
    counts per event_type, drained to a complete-mode memory sink.

    Complete mode retains all windows, so draining the bounded stream
    yields exactly the batch answer — the equivalence the oracle
    checks.  At scale this same plan runs unbounded: the watermark
    bounds state, and partial aggregation happens per micro-batch."""
    # File-stream source over the shared sf_dir (pathGlobFilter narrows
    # the listing to the events table); ts normalized as in load_table.
    stream = events_stream(spark, sf_dir)
    counts = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_micros(F.col("w.start")).alias("day_us"),
            "event_type",
            "cnt",
        )
    )
    name = f"st1_{uuid.uuid4().hex[:12]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@query(
    "st2_stateful_running_counts",
    oracle="""
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
)
def st2_stateful_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful operator (T5 running sketch: count, sum and
    a slot-wise-min MinHash as built-in aggregates whose partial state
    lives in the state store — the Spark re-spec of the reference's
    hand-rolled ``InsectDataStore`` keyed state) executed as a real
    stream and reduced to its final per-key state.

    Update mode emits each key's cumulative state every micro-batch;
    the final state's count must equal the batch group-count — that
    deterministic slice is what the oracle checks (the float total and
    MinHash signature state are covered by the stream-batch equivalence
    test, which compares them against the batch twin).  State stays
    O(num_perm) per key no matter how long the stream runs — the
    property that replaces the reference's unbounded dict growth."""
    from ..streaming.stateful import running_sketch

    stream = events_stream(spark, sf_dir)
    sketched = running_sketch(stream.select("event_type", "user_id", "value"))
    name = f"st2_{uuid.uuid4().hex[:12]}"
    q = (
        sketched.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.max("n").alias("n"))
    )


@query(
    "st3_stream_sliding_counts",
    oracle="""
    SELECT epoch_us(date_trunc('day', ts) - (i * INTERVAL '1 day')) AS win_us,
           event_type, count(*) AS cnt
    FROM events, (SELECT unnest([0, 1]) AS i)
    GROUP BY 1, 2
    """,
)
def st3_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows on a real stream: 2-day windows
    sliding by 1 day, so every event lands in exactly two windows (the
    reference's overlapping 1/5/15/60-min counters, consumer.py:86-110,
    are this shape).  The oracle unrolls the slide arithmetic: the two
    windows containing ts start at day(ts) and day(ts)−1 — Spark's
    epoch-aligned window() produces exactly those starts.  Complete-mode
    drain of the bounded stream equals the batch answer; unbounded, the
    watermark caps how many open windows each key holds."""
    stream = events_stream(spark, sf_dir)
    counts = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 days", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_micros(F.col("w.start")).alias("win_us"),
            "event_type",
            "cnt",
        )
    )
    name = f"st3_{uuid.uuid4().hex[:12]}"
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@query(
    "st4_stream_session_windows",
    oracle="""
    WITH flagged AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sessions AS (
        SELECT user_id, ts_us,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(min(ts_us) AS BIGINT) AS session_start_us,
           count(*) AS n_events,
           CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us
    FROM sessions GROUP BY user_id, session_id
    """,
)
def st4_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 as a REAL stream: the built-in ``session_window`` aggregation
    (30-minute gap) over the file-streamed events table, drained in
    complete mode.  The oracle replays the identical semantics as the
    classic lag/cumsum gap-sessionization in SQL (session start = first
    event, duration = last − first; ``session_window.end`` includes the
    trailing gap, so start/duration are derived from min/max event
    time).  Unbounded, the watermark seals sessions whose gap has
    passed and drops their state — the reference's hand-rolled window
    buffers (consumer.py:32-44) never could."""
    stream = events_stream(spark, sf_dir)
    sessions = (
        stream.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.min(F.unix_micros("ts")).alias("session_start_us"),
            F.max(F.unix_micros("ts")).alias("session_end_us"),
        )
        .select(
            "user_id",
            "session_start_us",
            "n_events",
            (F.col("session_end_us") - F.col("session_start_us")).alias(
                "duration_us"
            ),
        )
    )
    name = f"st4_{uuid.uuid4().hex[:12]}"
    q = (
        sessions.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@query(
    "st5_stream_stream_join",
    oracle="""
    SELECT p.user_id, count(*) AS n_pairs
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
                            AND epoch_us(p.ts)
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    GROUP BY p.user_id
    """,
)
def st5_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — purchases matched to the same
    user's clicks in the preceding hour (attribution join).  Both sides
    are watermarked and the join carries an event-time range predicate,
    which is exactly what lets Spark bound join state: a click's state
    can be dropped once the watermark passes its ts + 1h.  The bounded
    stream drains every match, so the batch self-join oracle sees the
    identical pair set; the per-user count is the declared (narrow)
    result.  Nothing in the reference joins streams at all — this is
    engine surface the re-spec adds."""
    stream = events_stream(spark, sf_dir)
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    )
    name = f"st5_{uuid.uuid4().hex[:12]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
    )


@query(
    "st6_stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def st6_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: the events table is delivered TWICE
    (an at-least-once source) and ``dropDuplicatesWithinWatermark`` on
    event_id suppresses the re-deliveries, so the drained per-type
    counts equal the exact single-copy counts the oracle computes.
    State is bounded by the watermark — each id is remembered only
    until the watermark passes its event time, which is what makes
    streaming dedup viable at 100 TB (the reference's at-least-once
    consume, consumer.py:398-423, has no such guard)."""
    import shutil
    import tempfile
    from pathlib import Path

    import os

    # pid-suffixed scratch: concurrent drivers must not clobber each
    # other's source/checkpoint dirs mid-query.
    src = Path(tempfile.gettempdir()) / f"ecostream_st6_src_{os.getpid()}"
    shutil.rmtree(src, ignore_errors=True)
    src.mkdir(parents=True)
    shutil.copy(f"{sf_dir}/events.parquet", src / "copy_a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "copy_b.parquet")

    batch_schema = spark.read.parquet(str(src / "copy_a.parquet")).schema
    from ..schema import normalize_events_ts

    stream = normalize_events_ts(
        spark.readStream.schema(batch_schema).parquet(str(src))
    )
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    name = f"st6_{uuid.uuid4().hex[:12]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )


@query(
    "st7_stream_static_enrichment",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_events,
           ROUND(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def st7_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joined to the
    (batch) customer dimension — the canonical streaming-ETL shape
    Spark executes by re-planning the static side per micro-batch with
    a broadcast hash join, NO stream state (unlike st5's stream-stream
    join).  Complete-mode aggregated drain equals the batch join the
    oracle runs.  At 100 TB the dimension refreshes by swapping the
    static table between micro-batches — the slowly-changing-dimension
    pattern."""
    from ..schema import load_table

    stream = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream.join(dim, stream.user_id == dim.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_value"),
    )
    name = f"st7_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


_ST8_SHINGLES = """list_distinct(list_transform(
    range(1, greatest(len(string_split(text, ' ')) - 1, 1) + 1),
    i -> string_split(text, ' ')[i] || ' ' ||
         coalesce(string_split(text, ' ')[i + 1], '')
))"""


def _st8_slot_sql(p: int) -> str:
    return (
        f"CAST(list_aggregate(list_transform({_ST8_SHINGLES}, "
        f"sh -> ('0x' || substr(md5('{p}:' || sh), 1, 15))"
        f"::UBIGINT::BIGINT), 'min') AS BIGINT) AS h{p}"
    )


@query(
    "st8_stream_signature_index",
    oracle="SELECT doc_id, "
    + ", ".join(_st8_slot_sql(p) for p in range(8))
    + " FROM documents ORDER BY doc_id",
)
def st8_stream_signature_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained dedup signature index: the documents
    table streams through a MAP-ONLY MinHash signature computation
    (8 md5-family slots as higher-order array expressions — no
    aggregation, so append mode needs no watermark) into a parquet file
    sink, whose commit log gives exactly-once appends.  The index read
    back must equal the batch signature table the oracle computes — the
    pattern that keeps a 100 TB near-dup index current as the corpus
    grows, instead of re-signing the whole corpus per run.  New docs
    cost O(new docs); the LSH bucket join (d3/d3b) then runs against
    the stored signatures."""
    import shutil
    import tempfile
    from pathlib import Path

    import os

    work = Path(tempfile.gettempdir()) / f"ecostream_st8_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "src").mkdir(parents=True)
    shutil.copy(f"{sf_dir}/documents.parquet", work / "src" / "docs.parquet")

    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = spark.readStream.schema(schema).parquet(str(work / "src"))

    shingles = F.expr(
        "array_distinct(transform(sequence(1, greatest(size(split(text,' ')) - 1, 1)),"
        " i -> concat(element_at(split(text,' '), i), ' ',"
        " coalesce(element_at(split(text,' '), i + 1), ''))))"
    )
    def _slot(p: int):
        # NB: the inner lambda must take exactly ONE argument — pyspark
        # interprets a two-arg lambda in F.transform as (element, index).
        return F.array_min(
            F.transform(
                shingles,
                lambda sh: F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"{p}:"), sh)), 1, 15),
                    16,
                    10,
                ).cast("long"),
            )
        ).alias(f"h{p}")

    slots = [_slot(p) for p in range(8)]
    sigs = stream.select("doc_id", *slots)
    q = (
        sigs.writeStream.format("parquet")
        .option("path", str(work / "index"))
        .option("checkpointLocation", str(work / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(str(work / "index")).orderBy("doc_id")


# --- ST9: streaming CDC MERGE apply (foreachBatch upsert) --------------------

# The final state must equal the one-shot batch MERGE, so the oracle IS
# s8's (merge application is micro-batch-slicing-invariant).
from .storage_queries import _S8_MERGE_ORACLE  # noqa: E402


@query("st9_stream_merge_upsert", oracle=_S8_MERGE_ORACLE)
def st9_stream_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: the s8 change batch (deletes, updates,
    inserts over orders) arrives as a CHANGE FEED in multiple
    micro-batches (maxFilesPerTrigger=1 over a 4-file feed), and each
    micro-batch MERGEs into a parquet store via ``foreachBatch`` —
    read current snapshot, broadcast-anti-join the batch's delete/update
    keys, union the batch's upsert rows, write snapshot v+1.  The final
    store must equal the one-shot batch MERGE (s8): merge application
    is independent of how the feed is sliced into micro-batches, which
    is the property a CDC pipeline needs to restart/rescale freely.

    Versioned snapshot dirs make each merge write atomic with respect
    to its own read (never overwrite what you are reading); the
    checkpointLocation gives exactly-once batch application.  At 100 TB
    the same foreachBatch body targets only the partitions the batch's
    keys touch (partition pruning on the join), not the whole table —
    or a lake-format MERGE, which is this exact dataflow under a
    transaction log."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from ..schema import load_table

    work = Path(tempfile.gettempdir()) / f"ecostream_st9_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    orders = load_table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    ]
    base = work / "store_v0"
    orders.select(*cols).write.parquet(str(base))

    deletes = orders.where(F.col("o_orderkey") % 10 == 7).select(
        F.lit("D").alias("op"), *cols
    )
    updates = orders.where(F.col("o_orderkey") % 10 == 3).select(
        F.lit("U").alias("op"),
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 2)
        .cast("double")
        .alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    )
    inserts = orders.where(F.col("o_orderkey") % 10 == 1).select(
        F.lit("I").alias("op"),
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("I").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    feed = deletes.unionByName(updates).unionByName(inserts)
    feed.repartition(4).write.parquet(str(work / "feed"))

    schema = spark.read.parquet(str(work / "feed")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(work / "feed"))
    )

    state = {"cur": str(base), "v": 0}

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        store = spark.read.parquet(state["cur"])
        # Anti-join on ALL batch keys (including inserts), not just
        # D/U: re-applying a batch after a micro-batch retry is then a
        # no-op (the insert's prior copy is removed before re-insert),
        # which is what makes the merge genuinely exactly-once rather
        # than exactly-once-on-a-clean-run.
        keys = batch.select("o_orderkey")
        kept = store.join(F.broadcast(keys), "o_orderkey", "left_anti")
        ups = batch.where(F.col("op").isin("U", "I")).drop("op")
        state["v"] += 1
        nxt = str(work / f"store_v{state['v']}")
        kept.unionByName(ups).write.mode("overwrite").parquet(nxt)
        state["cur"] = nxt

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", str(work / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    snap = spark.read.parquet(state["cur"])
    return (
        snap.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                ),
                2,
            ).alias("total_price"),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


# --- ST10: Trigger.AvailableNow incremental ETL ------------------------------


@query(
    "st10_available_now_etl",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events)
    SELECT epoch_us(date_trunc('day', ts)) AS day_us,
           event_type, count(*) AS cnt
    FROM events CROSS JOIN mx
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= m - INTERVAL 1 HOUR
    GROUP BY 1, 2
    """,
)
def st10_available_now_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheduled-incremental-ETL pattern: ``trigger(availableNow=True)``
    drains whatever input exists, commits append-mode windowed
    aggregates to a parquet sink exactly-once, and STOPS on its own —
    the run-from-cron shape that replaced always-on streams for
    periodic pipelines (st1's processAllAvailable twin, but the job
    owns its own lifecycle and survives restarts via the checkpoint).

    The oracle pins the append-mode watermark CONTRACT, not just the
    counts: only windows whose end <= max(ts) - 1 h (the watermark
    after the drain) are flushed; later windows stay in state for the
    next scheduled run.  An engine that eagerly emitted unfinalized
    windows — or dropped them — hash-fails."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    work = Path(tempfile.gettempdir()) / f"ecostream_st10_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)

    stream = events_stream(spark, sf_dir)
    counts = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_micros(F.col("w.start")).alias("day_us"),
            "event_type",
            "cnt",
        )
    )
    q = (
        counts.writeStream.format("parquet")
        .option("path", str(work / "out"))
        .option("checkpointLocation", str(work / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(str(work / "out"))


@query(
    "st11_stream_outer_join",
    oracle="""
    WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
    SELECT p.user_id,
           CAST(count(c.user_id) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN c.user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unmatched
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - 3600000000
                            AND epoch_us(p.ts)
    GROUP BY p.user_id
    """,
)
def st11_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — the subtle half of streaming
    joins: a purchase with no click in its preceding hour can only
    emit its null-padded row once the WATERMARK has passed its join
    window (before that, a matching click could still arrive), so
    outer results are inherently watermark-gated.  A bounded file
    stream drains its matches but leaves the watermark short of the
    last rows' windows — so this query appends a SENTINEL micro-batch
    (one far-future purchase + click for user_id -1, delivered second
    via maxFilesPerTrigger=1) purely to push the watermark past every
    real window; Spark's no-data micro-batch then flushes the
    remaining outer rows, and the drained result equals the batch
    LEFT JOIN the oracle runs (sentinel user filtered from both).
    State stays bounded exactly as in st5 — that is the feature."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    src = Path(tempfile.gettempdir()) / f"ecostream_st11_src_{os.getpid()}"
    shutil.rmtree(src, ignore_errors=True)
    src.mkdir(parents=True)
    shutil.copy(f"{sf_dir}/events.parquet", src / "a_events.parquet")
    # the raw read needs the legacy conf (ts is TIMESTAMP(NANOS)); do
    # not rely on an earlier load_table having set it in this session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    batch = spark.read.parquet(str(src / "a_events.parquet"))
    sentinel_ts = batch.agg(F.max("ts").alias("m")).collect()[0]["m"]
    # ts arrives as int64 nanos (TIMESTAMP(NANOS) under nanosAsLong) or
    # as a datetime (timestamp[us] files) depending on the testdata
    # encoding — push the sentinel ~115 days past max either way
    if isinstance(sentinel_ts, int):
        future = sentinel_ts + 10_000_000_000_000_000  # ns
    else:
        from datetime import timedelta

        future = sentinel_ts + timedelta(days=115)
    spark.createDataFrame(
        [
            (-1, future, -1, "purchase", 0.0, "{}"),
            (-2, future, -1, "click", 0.0, "{}"),
        ],
        batch.schema,
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "_sentinel"))
    sent_file = next((src / "_sentinel").glob("part-*.parquet"))
    shutil.move(str(sent_file), src / "b_sentinel.parquet")
    shutil.rmtree(src / "_sentinel")
    now = os.path.getmtime(src / "b_sentinel.parquet")
    os.utime(src / "a_events.parquet", (now - 60, now - 60))

    from ..schema import normalize_events_ts

    stream = normalize_events_ts(
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    )
    name = f"st11_{uuid.uuid4().hex[:12]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(name)
        .where(F.col("p_user") >= 0)
        .groupBy(F.col("p_user").alias("user_id"))
        .agg(
            F.count("c_user").cast("long").alias("n_matched"),
            F.sum(F.col("c_user").isNull().cast("long"))
            .cast("long")
            .alias("n_unmatched"),
        )
    )


# --- ST12: streaming incremental rollup maintenance (round 6) ----------------

from .storage_queries import _ROLL1_WEEKLY_ORACLE  # noqa: E402


@query("st12_stream_rollup_maintenance", oracle=_ROLL1_WEEKLY_ORACLE)
def st12_stream_rollup_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING maintenance of roll1's materialized daily rollup — the
    third leg of the continuous-aggregate story (roll1 builds batch,
    serves from the rollup; this keeps the rollup CURRENT as events
    arrive): the events table replayed as a 4-file feed
    (maxFilesPerTrigger=1 → 4 micro-batches), each batch partial-
    aggregated to (day, type, count, DECIMAL value sum) and MERGED into
    the versioned rollup store via ``foreachBatch`` — union with the
    current snapshot, re-aggregate (rollup rows are ADDITIVE partials,
    so merge = group-sum), write snapshot v+1.  The final weekly serve
    must equal the direct raw query (roll1's oracle): rollup
    maintenance is micro-batch-slicing-invariant, the st9/s8 restart/
    rescale property applied to aggregates instead of upserts.

    Exactness through arbitrary slicing: counts are integers and value
    partials DECIMAL(18,2) — decimal addition is associative and
    commutative, so ANY batch decomposition re-aggregates to the
    bit-identical total.  Scale shape: each micro-batch shuffles only
    its own (day, type) partials (batch-sized), the merge touches the
    |days|x|types| rollup (MB-scale at 100 TB), and raw events are
    never rescanned."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from ..schema import load_table

    work = Path(tempfile.gettempdir()) / f"ecostream_st12_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    ev.repartition(4).write.parquet(str(work / "feed"))

    day = F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)")

    def _daily(df: DataFrame) -> DataFrame:
        return df.groupBy(day.alias("day"), "event_type").agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_sum"),
        )

    base = work / "rollup_v0"
    # empty rollup seed with the right schema
    _daily(ev.limit(0)).write.parquet(str(base))

    schema = spark.read.parquet(str(work / "feed")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(work / "feed"))
    )
    state = {"cur": str(base), "v": 0}

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        cur = spark.read.parquet(state["cur"])
        merged = (
            cur.unionByName(_daily(batch))
            .groupBy("day", "event_type")
            .agg(
                F.sum("n_events").cast("long").alias("n_events"),
                F.sum("value_sum")
                .cast("decimal(18,2)")
                .alias("value_sum"),
            )
        )
        state["v"] += 1
        nxt = str(work / f"rollup_v{state['v']}")
        merged.write.mode("overwrite").parquet(nxt)
        state["cur"] = nxt

    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", str(work / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rollup = spark.read.parquet(state["cur"])
    return (
        rollup.groupBy(
            F.expr("day div 7").cast("long").alias("week"), "event_type"
        )
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            F.round(F.sum("value_sum").cast("double"), 2).alias(
                "total_value"
            ),
        )
        .orderBy("week", "event_type")
    )


# --- ST13: late-data audit — the measurement BEFORE the watermark ------------


@query(
    "st13_late_data_audit",
    oracle="""
    WITH lat AS (
        SELECT user_id,
               GREATEST(0, COALESCE(
                   epoch_us(MAX(ts) OVER (
                       PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
                   - epoch_us(ts), 0)) AS late_us
        FROM events
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           CAST(max(late_us) AS BIGINT) AS max_late_us,
           CAST(sum(CASE WHEN late_us > 600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped_10m
    FROM lat GROUP BY user_id ORDER BY user_id
    """,
)
def st13_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user late-data audit — the measurement every watermark choice
    (st1/st3/st4/st11's ``withWatermark`` thresholds) should come from:
    an event is LATE by the gap between its event time and the maximum
    event time among EARLIER-ARRIVING events of the same user (arrival
    order = the monotone ingestion id, exactly the order a stream
    delivers), and a 10-minute watermark would DROP the events whose
    lateness exceeds 600 s.  Emits per user the event count, late
    count, worst lateness, and the would-be-dropped count — the report
    that says whether 10 minutes of state is enough BEFORE a streaming
    job silently loses rows.  Scale shape: ONE user-keyed exchange
    serves the running-max window and the aggregate (same partitioning,
    no second shuffle); lateness stays exact integer µs end to end."""
    from ..schema import load_table

    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    lat = ev.select(
        "user_id",
        F.greatest(
            F.lit(0),
            F.coalesce(
                F.unix_micros(F.max("ts").over(w)) - F.unix_micros("ts"),
                F.lit(0),
            ),
        ).alias("late_us"),
    )
    return (
        lat.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum((F.col("late_us") > 0).cast("long"))
            .cast("long")
            .alias("n_late"),
            F.max("late_us").cast("long").alias("max_late_us"),
            F.sum((F.col("late_us") > 600_000_000).cast("long"))
            .cast("long")
            .alias("n_dropped_10m"),
        )
        .orderBy("user_id")
    )


# --- ST14: streaming exactly-once dedup (round 7) -----------------------------


@query(
    "st14_stream_dedup",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_input,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_kept,
           CAST(count(*) - count(DISTINCT user_id) AS BIGINT) AS n_dropped
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def st14_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once delivery dedup via
    ``dropDuplicatesWithinWatermark`` — the operator that turns an
    at-least-once source (Kafka redeliveries, producer retries) into
    exactly-once rows: state keeps each (user_id, event_type) key until
    the watermark passes it, and re-arrivals inside the horizon are
    dropped.  PRECONDITION (asserted below): the bounded file-stream
    must drain in ONE micro-batch — only then does the kept set equal
    the batch DISTINCT over the same keys (stream-batch equivalence)
    and the whole run is oracle-checkable: per event type, input rows,
    kept rows, dropped duplicates.  With multiple batches, duplicates
    arriving more than the 1 h horizon apart in event time would be
    re-emitted and the DISTINCT oracle would not model the operator
    (ADVICE r7), so a multi-batch drain raises instead of silently
    comparing the wrong thing.

    Scale shape: the dedup state is keyed (one hash exchange on the
    dedup key) and watermark-BOUNDED — unlike a plain stream
    ``dropDuplicates``, whose state grows forever, the watermark evicts
    keys older than the horizon, which is what makes this runnable on
    an unbounded 100 TB/day feed.  The memory-sink aggregate at the end
    is |keys|-sized."""
    stream = events_stream(spark, sf_dir).select("user_id", "event_type", "ts")
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    name = f"st14_{uuid.uuid4().hex[:12]}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # Enforce the single-batch stream-batch-equivalence precondition:
        # count micro-batches that actually carried rows.
        data_batches = sum(
            1 for p in q.recentProgress if p and p["numInputRows"] > 0
        )
        if data_batches > 1:  # pragma: no cover - single-file sf dirs
            raise AssertionError(
                "st14 oracle assumes a single micro-batch drain; got "
                f"{data_batches} data-carrying batches — the COUNT("
                "DISTINCT) oracle no longer models "
                "dropDuplicatesWithinWatermark re-emissions"
            )
    finally:
        q.stop()
    from ..schema import load_table

    inputs = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_input"))
    )
    kept = (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("n_kept"))
    )
    return (
        inputs.join(kept, "event_type")
        .select(
            "event_type",
            "n_input",
            "n_kept",
            (F.col("n_input") - F.col("n_kept")).cast("long").alias("n_dropped"),
        )
        .orderBy("event_type")
    )


# --- ST15: streaming quantile-sketch maintenance (round 8) ---------------------

from .storage_queries import (  # noqa: E402
    _ROLL2_WEEKLY_ORACLE,
    roll2_bin_exprs,
    roll2_serve_weekly,
)


@query("st15_stream_quantile_maintenance", oracle=_ROLL2_WEEKLY_ORACLE)
def st15_stream_quantile_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING maintenance of roll2's daily quantile sketches — the
    st12-to-roll1 relationship applied to the NON-additive stat: the
    events table replays as a 4-file feed (maxFilesPerTrigger=1 → 4
    micro-batches), each batch bucket-counted into (day, type, bucket)
    sketch partials and MERGED into the versioned sketch store via
    ``foreachBatch`` (union + group-sum — sketch counters are plain
    BIGINT adds, which is exactly what makes a DDSketch-style histogram
    streamable).  The final weekly p50/p95 serve must equal the direct
    raw-events sketch query (roll2's oracle): sketch maintenance is
    micro-batch-slicing-invariant because bucket counters are
    associative/commutative integers.

    Scale shape: each micro-batch shuffles only its own bucket partials
    (batch-sized); the merge touches the model-sized sketch table;
    raw events are never rescanned — the unbounded-feed form of the
    roll2 serving story."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from ..schema import load_table

    work = Path(tempfile.gettempdir()) / f"ecostream_st15_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    ev = load_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    ev.repartition(4).write.parquet(str(work / "feed"))

    day = F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)")

    def _sketch(df: DataFrame) -> DataFrame:
        b_lo, ub = roll2_bin_exprs()
        return (
            df.select(day.alias("day"), "event_type", b_lo, ub)
            .groupBy("day", "event_type", "b_lo", "ub")
            .agg(F.count("*").cast("long").alias("n"))
        )

    base = work / "sketch_v0"
    _sketch(ev.limit(0)).write.parquet(str(base))

    schema = spark.read.parquet(str(work / "feed")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(work / "feed"))
    )
    state = {"cur": str(base), "v": 0}

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        cur = spark.read.parquet(state["cur"])
        merged = (
            cur.unionByName(_sketch(batch))
            .groupBy("day", "event_type", "b_lo", "ub")
            .agg(F.sum("n").cast("long").alias("n"))
        )
        state["v"] += 1
        nxt = str(work / f"sketch_v{state['v']}")
        merged.write.mode("overwrite").parquet(nxt)
        state["cur"] = nxt

    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", str(work / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return roll2_serve_weekly(spark.read.parquet(state["cur"]))


# --- ST16: streaming sufficient-statistics maintenance (round 9) ---------------

from .analytics import _WELCH1_ORACLE, welch_from_moments  # noqa: E402


@query("st16_stream_welch_maintenance", oracle=_WELCH1_ORACLE)
def st16_stream_welch_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING maintenance of welch1's experiment monitor — the
    always-on A/B dashboard: the events table replays as a 4-file feed
    (maxFilesPerTrigger=1 → 4 micro-batches); each batch collapses to
    its per-group sufficient statistics (n, Σcents, Σcents²) and MERGES
    into a versioned one-row moment store via ``foreachBatch`` (plain
    BIGINT adds — the moments are associative/commutative, which is
    exactly what makes the t-statistic streamable); the final Welch
    t / Satterthwaite df are computed FROM THE STORE by the SAME
    ``welch_from_moments`` code path welch1 uses, and the oracle is
    welch1's direct raw-events SQL — so the hash match signs
    micro-batch-slicing invariance of the whole monitor end-to-end.

    Scale shape: each micro-batch shuffles only its own 6 partial sums;
    the merge touches a one-row store; raw events are never rescanned —
    the st15 pattern applied to the experimentation family."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from ..schema import load_table

    work = Path(tempfile.gettempdir()) / f"ecostream_st16_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    ev.repartition(4).write.parquet(str(work / "feed"))

    def _moments(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col("event_type").isin("purchase", "view"))
            .selectExpr(
                "CAST(round(value * 100) AS BIGINT) AS cents",
                "event_type = 'purchase' AS g1",
            )
            .selectExpr(
                "CASE WHEN g1 THEN 1 ELSE 0 END AS w1",
                "CASE WHEN g1 THEN cents ELSE 0 END AS c1",
                "CASE WHEN g1 THEN cents * cents ELSE 0 END AS cc1",
                "CASE WHEN g1 THEN 0 ELSE 1 END AS w2",
                "CASE WHEN g1 THEN 0 ELSE cents END AS c2",
                "CASE WHEN g1 THEN 0 ELSE cents * cents END AS cc2",
            )
            .agg(
                F.sum("w1").cast("long").alias("n1"),
                F.sum("c1").cast("long").alias("s1"),
                F.sum("cc1").cast("long").alias("q1"),
                F.sum("w2").cast("long").alias("n2"),
                F.sum("c2").cast("long").alias("s2"),
                F.sum("cc2").cast("long").alias("q2"),
            )
        )

    base = work / "moments_v0"
    _moments(ev.limit(0)).na.fill(0).write.parquet(str(base))

    schema = spark.read.parquet(str(work / "feed")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(work / "feed"))
    )
    state = {"cur": str(base), "v": 0}

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        cur = spark.read.parquet(state["cur"])
        merged = (
            cur.unionByName(_moments(batch).na.fill(0))
            .agg(
                F.sum("n1").cast("long").alias("n1"),
                F.sum("s1").cast("long").alias("s1"),
                F.sum("q1").cast("long").alias("q1"),
                F.sum("n2").cast("long").alias("n2"),
                F.sum("s2").cast("long").alias("s2"),
                F.sum("q2").cast("long").alias("q2"),
            )
        )
        state["v"] += 1
        nxt = str(work / f"moments_v{state['v']}")
        merged.write.mode("overwrite").parquet(nxt)
        state["cur"] = nxt

    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", str(work / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return welch_from_moments(spark.read.parquet(state["cur"]))


# --- ST17: streaming distinct-sketch maintenance (round 9) ----------------------

from .storage_queries import (  # noqa: E402
    _ROLL3_WEEKLY_ORACLE,
    roll3_daily_sketch,
    roll3_hash_exprs,
    roll3_serve_weekly,
)


@query("st17_stream_distinct_maintenance", oracle=_ROLL3_WEEKLY_ORACLE)
def st17_stream_distinct_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING maintenance of roll3's daily KMV sketches — st15's
    slicing-invariance story for the DISTINCT aggregate: the events
    table replays as a 4-file feed (maxFilesPerTrigger=1 → 4
    micro-batches); each batch's (day, type, hash) rows union into the
    versioned sketch store and the per-(day, type) k smallest are
    re-taken (KMV's merge IS union + top-k, so maintenance is
    micro-batch-slicing-invariant BY CONSTRUCTION — deterministic
    hashing makes the merged sketch bit-identical to the batch-built
    one).  The final weekly serve runs roll3's exact code path against
    roll3's direct-from-raw oracle, so the driver hash signs the whole
    streamed store.

    Scale shape: each micro-batch shuffles only its own distinct
    (day, type, hash) rows; the store stays ≤ |days|·|types|·k rows;
    raw events are never rescanned."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from ..schema import load_table

    work = Path(tempfile.gettempdir()) / f"ecostream_st17_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "user_id"
    )
    ev.repartition(4).write.parquet(str(work / "feed"))

    base = work / "sketch_v0"
    roll3_daily_sketch(roll3_hash_exprs(ev.limit(0))).write.parquet(
        str(base)
    )

    schema = spark.read.parquet(str(work / "feed")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(work / "feed"))
    )
    state = {"cur": str(base), "v": 0}

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        cur = spark.read.parquet(state["cur"])
        merged = roll3_daily_sketch(
            cur.unionByName(roll3_daily_sketch(roll3_hash_exprs(batch)))
        )
        state["v"] += 1
        nxt = str(work / f"sketch_v{state['v']}")
        merged.write.mode("overwrite").parquet(nxt)
        state["cur"] = nxt

    q = (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", str(work / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return roll3_serve_weekly(spark, state["cur"], sf_dir)


# --- ST18: transformWithStateInPandas running counts (round 10) -----------------


@query(
    "st18_tws_running_counts",
    oracle="""
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
)
def st18_tws_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 through Spark 4's flagship stateful API: the same per-key
    running totals contract as st2, but via
    ``transformWithStateInPandas`` (typed ValueState handles on the
    RocksDB state store — the only provider that supports TWS, and the
    scale-path provider regardless: state lives off-heap and snapshots
    to the checkpoint).  Update mode emits each key's cumulative
    (n, total) every micro-batch; the final state's count equals the
    batch group-count — the deterministic slice the oracle signs (the
    float total is covered by the stream-batch equivalence test,
    tests/test_streaming.py::test_transform_with_state_stream_equals_batch).

    The TWS Python driver worker imports ``google.protobuf``; this
    query resolves it via the installed package or the vendored
    runtime (ecostream/_vendor) and raises a clear error when neither
    exists rather than failing inside the worker.

    Reference analog: consumer.py:119-148 (the hand-rolled TTL'd keyed
    store) — same re-spec as st2, on the successor API."""
    import tempfile

    from ..streaming.stateful import ensure_protobuf, running_totals_tws

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "st18 needs google.protobuf (installed or vendored under "
            "ecostream/_vendor) for the transformWithStateInPandas "
            "driver worker"
        )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    name = f"st18_{uuid.uuid4().hex[:12]}"
    try:
        stream = events_stream(spark, sf_dir).select("event_type", "value")
        with tempfile.TemporaryDirectory(prefix="st18_ckpt_") as ckpt:
            q = (
                running_totals_tws(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
                q.awaitTermination(60)
        return (
            spark.table(name)
            .groupBy("event_type")
            .agg(F.max("n").alias("n"))
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


# --- ST19: transformWithState event-time timer TTL expiry (round 11) ------------


@query(
    "st19_tws_ttl_expiry",
    oracle="""
    WITH mx AS (SELECT epoch_ms(max(ts)) AS m FROM events),
    per_user AS (
        SELECT user_id, epoch_ms(max(ts)) AS last_ms, count(*) AS n
        FROM events GROUP BY user_id
    )
    SELECT user_id, n
    FROM per_user, mx
    WHERE last_ms + 14400000 <= m - 1800000
    """,
)
def st19_tws_ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5's timer surface: per-user state that the ENGINE expires.

    The reference hand-rolls TTL by walking its keyed dicts under a lock
    and deleting entries older than 4 h (consumer.py:119-148).  The TWS
    re-spec registers an event-time timer at ``last_activity + 4h`` per
    user (sliding with each batch); when the watermark passes it, the
    engine calls ``handleExpiredTimer`` and we emit the user's final
    count and drop the state — purge as a timer, not a scan.  RocksDB
    keeps the timer index off-heap, so the purge cost at 100 TB is the
    number of FIRED timers, never the number of LIVE keys.

    Determinism: the file stream delivers one data micro-batch, so the
    final watermark is exactly ``max(ts) - 30min`` and the expired set
    is the pure SQL predicate the oracle replays (no boundary ties in
    the testdata at any scale — verified strict vs non-strict agree).
    """
    import tempfile

    from ..streaming.stateful import ensure_protobuf, ttl_expiry_tws

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "st19 needs google.protobuf (installed or vendored under "
            "ecostream/_vendor) for the transformWithStateInPandas "
            "driver worker"
        )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    name = f"st19_{uuid.uuid4().hex[:12]}"
    try:
        stream = (
            events_stream(spark, sf_dir)
            .select("user_id", "ts")
            .withWatermark("ts", "30 minutes")
        )
        with tempfile.TemporaryDirectory(prefix="st19_ckpt_") as ckpt:
            q = (
                ttl_expiry_tws(stream, ttl_ms=4 * 3600 * 1000)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
                q.awaitTermination(60)
        return spark.table(name).select("user_id", "n")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


# --- ST20: transformWithState ListState recent-K buffer (round 11) --------------


@query(
    "st20_tws_recent_events",
    oracle="""
    SELECT user_id, rk, ts_us FROM (
        SELECT user_id, epoch_us(ts) AS ts_us,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts DESC
               ) AS rk
        FROM events
    ) WHERE rk <= 5
    """,
)
def st20_tws_recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5's typed-list surface: the per-key bounded recency buffer the
    reference keeps as a hand-rolled ``deque`` per insect under a lock
    (consumer.py:32-44), as a TWS ``ListState`` the engine stores,
    snapshots, and TTLs — each batch merges new timestamps and trims to
    the 5 largest, so per-key state is O(5) forever and emitted ranks
    are monotone across batches.  The final (user_id, rank) → max(ts)
    slice equals the batch top-5-recent per user, which the oracle
    replays with one window function; ties in ts are rank-ambiguous
    but value-identical (the emitted statistic is the sorted multiset),
    so the hash is deterministic.

    With st18 (ValueState), st19 (event-time timers), and st21
    (MapState) this completes the TWS typed-state surface the
    reference's keyed store maps onto."""
    import tempfile

    from ..streaming.stateful import ensure_protobuf, recent_events_tws

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "st20 needs google.protobuf (installed or vendored under "
            "ecostream/_vendor) for the transformWithStateInPandas "
            "driver worker"
        )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    name = f"st20_{uuid.uuid4().hex[:12]}"
    try:
        stream = events_stream(spark, sf_dir).select("user_id", "ts")
        with tempfile.TemporaryDirectory(prefix="st20_ckpt_") as ckpt:
            q = (
                recent_events_tws(stream, k=5)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
                q.awaitTermination(60)
        return (
            spark.table(name)
            .groupBy("user_id", "rk")
            .agg(F.max("ts_us").alias("ts_us"))
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


# --- ST21: transformWithState MapState daily counters (round 11) ----------------


@query(
    "st21_tws_daily_map",
    oracle="""
    SELECT event_type,
           count(DISTINCT epoch_us(ts) // 86400000000) AS n_days,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def st21_tws_daily_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5's typed-map surface, completing the TWS typed-state trio
    (st18 ValueState, st20 ListState, st21 MapState — plus st19's
    timers): the reference's nested per-window counter dicts
    (consumer.py:86-110, ``{window: {key: count}}`` under a lock) as
    an engine-managed day→count MapState per event type.  Each batch
    folds its Arrow-preaggregated per-day partial counts into the map
    and emits the current (n_days, n_total); both are monotone across
    batches, so the final max-slice equals the batch aggregate the
    oracle computes directly."""
    import tempfile

    from ..streaming.stateful import daily_map_tws, ensure_protobuf

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "st21 needs google.protobuf (installed or vendored under "
            "ecostream/_vendor) for the transformWithStateInPandas "
            "driver worker"
        )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    name = f"st21_{uuid.uuid4().hex[:12]}"
    try:
        stream = events_stream(spark, sf_dir).select("event_type", "ts")
        with tempfile.TemporaryDirectory(prefix="st21_ckpt_") as ckpt:
            q = (
                daily_map_tws(stream)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
                q.awaitTermination(60)
        return (
            spark.table(name)
            .groupBy("event_type")
            .agg(F.max("n_days").alias("n_days"), F.max("n").alias("n"))
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


# --- ST22: streaming CMS-store maintenance (round 11) ---------------------------

from .storage_queries import (  # noqa: E402
    _roll4_oracle,
    roll4_daily_counts,
    roll4_daily_grid,
    roll4_daily_top,
    roll4_serve_weekly,
)


def st22_apply_batch(
    spark: SparkSession,
    prev_paths: tuple[str, str],
    out_paths: tuple[str, str],
    batch: DataFrame,
) -> None:
    """Fold one micro-batch into the (grid, counts) store: read version
    b-1, cell-wise/key-wise sum with the batch's own partials, OVERWRITE
    version b.  Deterministic in (prev store, batch): a retried
    micro-batch re-derives the identical version from the untouched
    prior one instead of double-summing into a mutable head — the
    foreachBatch idempotence contract (tests/test_round12_ops.py pins
    apply-twice == apply-once)."""
    pg, pc = prev_paths
    bc = roll4_daily_counts(batch).localCheckpoint(eager=False)
    grid = (
        spark.read.parquet(pg)
        .unionByName(roll4_daily_grid(bc))
        .groupBy("d", "j", "bucket")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    cnt = (
        spark.read.parquet(pc)
        .unionByName(bc)
        .groupBy("d", "user_id")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    ng, nc = out_paths
    grid.write.mode("overwrite").parquet(ng)
    cnt.write.mode("overwrite").parquet(nc)


@query("st22_stream_cms_maintenance", oracle=_roll4_oracle())
def st22_stream_cms_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING maintenance of roll4's heavy-hitter store — the
    st12/st15/st17 slicing-invariance story for the FREQUENCY sketch,
    completing the rollup <-> streaming symmetry (roll1<->st12,
    roll2<->st15, roll3<->st17, roll4<->st22): the events table
    replays as a 4-file feed (maxFilesPerTrigger=1 -> 4 micro-batches);
    each batch INCREMENTS both store tiers without ever rebuilding
    them —

    * grid tier: CMS counters are LINEAR, so grid' = cell-wise sum of
      the stored grid and the BATCH's own grid (hashed from the
      batch's per-(day, user) partials alone) — bit-identical to the
      grid a full rebuild would produce, for ANY slicing;
    * candidate tier: the per-(day, user) counts are ADDITIVE partials
      (a bounded per-batch heap would NOT be slicing-invariant — a
      user can cross the day's top-{topd} only in aggregate, which is
      exactly the heap-merge counterexample), so the store keeps exact
      daily counts and derives the day's heap at serve time.

    The final weekly serve runs roll4's exact code path
    (roll4_serve_weekly over the streamed stores) against roll4's
    direct-from-raw oracle, so the driver hash certifies streamed
    merge == batch build == direct — s16's increment-equals-recompute
    proof, lifted to a sketch store.

    Scale shape: each micro-batch shuffles only its own (day, user)
    partials plus grid-sized rows; the stores stay
    |days|x{d}x{w} + |daily active users| and raw events are never
    rescanned."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from ..schema import load_table

    work = Path(tempfile.gettempdir()) / f"ecostream_st22_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    ev.repartition(4).write.parquet(str(work / "feed"))

    grid0 = work / "grid_v0"
    cnt0 = work / "cnt_v0"
    roll4_daily_grid(roll4_daily_counts(ev.limit(0))).write.parquet(str(grid0))
    roll4_daily_counts(ev.limit(0)).write.parquet(str(cnt0))

    schema = spark.read.parquet(str(work / "feed")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(work / "feed"))
    )
    # Store versions are keyed by BATCH ID, and version b is always
    # derived from version b-1 (never from a mutable "latest" pointer):
    # a retried micro-batch (task/epoch failure) re-reads the untouched
    # prior version and OVERWRITES its own output — the standard
    # foreachBatch idempotence pattern — so a replay can never be
    # summed into the store twice and the merge==direct hash proof
    # survives retries.  foreachBatch batches commit serially, so
    # version b is final before b+1 reads it.
    state = {"last": -1}

    def _vpaths(b: int) -> tuple[str, str]:
        if b < 0:
            return str(grid0), str(cnt0)
        return str(work / f"grid_b{b}"), str(work / f"cnt_b{b}")

    def _merge(batch: DataFrame, batch_id: int) -> None:
        st22_apply_batch(spark, _vpaths(batch_id - 1), _vpaths(batch_id), batch)
        state["last"] = max(state["last"], batch_id)

    try:
        q = (
            stream.writeStream.foreachBatch(_merge)
            .option("checkpointLocation", str(work / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        fg, fc = _vpaths(state["last"])
        # Materialize the (store-sized) serve before the workdir is
        # deleted — the caller collects lazily, after the finally runs.
        return roll4_serve_weekly(
            spark.read.parquet(fg),
            roll4_daily_top(spark.read.parquet(fc)),
        ).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


from .storage_queries import (  # noqa: E402
    _ROLL4_D as _ST22_D,
    _ROLL4_TOPD as _ST22_TOPD,
    _ROLL4_W as _ST22_W,
)

st22_stream_cms_maintenance.__doc__ = st22_stream_cms_maintenance.__doc__.format(
    topd=_ST22_TOPD, d=_ST22_D, w=_ST22_W
)


# --- ST23: transformWithState session windows (round 11) ------------------------


@query(
    "st23_tws_session_windows",
    oracle="""
    WITH mx AS (SELECT epoch_ms(max(ts)) AS m FROM events),
    flagged AS (
        SELECT user_id, epoch_us(ts) AS ts_us, event_id,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                      OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
        SELECT user_id, ts_us,
               CAST(SUM(new_session) OVER (PARTITION BY user_id
                                           ORDER BY ts_us, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM flagged
    ), agg AS (
        SELECT user_id, session_id,
               min(ts_us) AS start_us, max(ts_us) AS end_us,
               count(*) AS n_events
        FROM sessions GROUP BY 1, 2
    )
    SELECT user_id, start_us, end_us, n_events
    FROM agg, mx
    WHERE end_us // 1000 + 1800000 <= m - 1800000
    """,
)
def st23_tws_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 + T5 composed through the flagship API: gap sessionization
    (t4's 30-minute rule, exact integer microseconds) where the ENGINE
    closes each session by event-time timer — one registered timer per
    OPEN session per key, the multi-timer surface st19's single sliding
    timer does not exercise.  The per-key state is a ListState of open
    (start, end, n) intervals maintained as an interval-union fold, so
    micro-batch slicing cannot change the final session set; when the
    watermark passes ``end + gap`` no in-gap event can still arrive, so
    ``handleExpiredTimer`` emits that session as FINAL and drops it —
    the reference's batch-side sessionization (SURVEY T4) as
    incremental typed state with engine-owned lifecycle.

    Determinism: the file stream delivers one data micro-batch, so the
    final watermark is exactly ``max(ts) - 30min`` and the closed set
    is the pure SQL predicate the oracle appends to t4's sessionization
    (st19's millisecond-timer convention; sessions still open at the
    final watermark are correctly absent from BOTH engines).

    Scale shape: state is O(open sessions) per user, timers live in the
    RocksDB index, and closing cost is per FIRED timer — never a scan
    of live keys (the property that makes engine-owned session windows
    viable at 100 TB key cardinality)."""
    import tempfile

    from ..streaming.stateful import ensure_protobuf, session_windows_tws

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "st23 needs google.protobuf (installed or vendored under "
            "ecostream/_vendor) for the transformWithStateInPandas "
            "driver worker"
        )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    name = f"st23_{uuid.uuid4().hex[:12]}"
    try:
        stream = (
            events_stream(spark, sf_dir)
            .select("user_id", "ts")
            .withWatermark("ts", "30 minutes")
        )
        with tempfile.TemporaryDirectory(prefix="st23_ckpt_") as ckpt:
            q = (
                session_windows_tws(stream, gap_ms=30 * 60 * 1000)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
                q.awaitTermination(60)
        return spark.table(name).select(
            "user_id", "start_us", "end_us", "n_events"
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


# --- ST24: transformWithState NATIVE (declarative) state TTL (round 12) ---------


@query(
    "st24_tws_native_ttl",
    oracle="""
    SELECT user_id,
           count(*) AS n_live,
           count(*) AS n_relapsed
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def st24_tws_native_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 completed on the ENGINE-DECLARED side: st19 implements the
    reference's keyed-store TTL (consumer.py:119-148) with explicit
    event-time timers; this twin delegates expiry to Spark 4's
    declarative state TTL (``getValueState(..., ttlDurationMs=...)``,
    the TTLConfig surface) and proves both the KEEP and the EXPIRE
    behavior against one exact oracle.  Native TTL is clocked by
    PROCESSING time, which no deterministic oracle can replay directly
    — so instead of racing the clock the query drives the two regimes
    where wall time provably cannot matter, over the same 4-batch
    file-replay feed st22 uses (maxFilesPerTrigger=1):

    * KEEP leg (ttl = 24 h): no state can lapse inside a seconds-long
      run, so per-key emitted counts are RUNNING totals and their max
      equals the exact per-user count (``n_live``) iff state SURVIVED
      every batch boundary;
    * EXPIRE leg (ttl = 1 ms): every micro-batch boundary takes far
      longer than 1 ms of processing time, so the TTL lapses between
      ANY two batches and each emitted count restarts from zero —
      per-key SUM of emitted counts equals the exact count
      (``n_relapsed``) iff state EXPIRED at every boundary.  Had the
      engine kept state alive, re-summed running totals would
      overcount every user spanning two batches and the driver hash
      would fail loudly — the leg certifies expiry without trusting
      timing beyond "a Spark micro-batch takes longer than 1 ms".

    Both legs are slicing-invariant (running-max and restart-sum are
    both independent of HOW rows split across batches), which is the
    st9/st22 discipline for streaming oracles.

    Scale shape: state is one TTL'd BIGINT per key; expiry bookkeeping
    lives in the RocksDB TTL column family, so at 100 TB of keys the
    purge cost is the engine's compaction — never a live-key scan and,
    unlike st19, not even a timer registration per batch.

    Reference analog: consumer.py:119-148 (TTL purge loop), SURVEY §2.10
    T3/T5."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from ..schema import load_table
    from ..streaming.stateful import ensure_protobuf, native_ttl_counts_tws

    if not ensure_protobuf(spark):
        raise RuntimeError(
            "st24 needs google.protobuf (installed or vendored under "
            "ecostream/_vendor) for the transformWithStateInPandas "
            "driver worker"
        )
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    work = Path(tempfile.gettempdir()) / f"ecostream_st24_{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
        ev.repartition(4).write.parquet(str(work / "feed"))
        n_feed = spark.read.parquet(str(work / "feed")).count()
        schema = spark.read.parquet(str(work / "feed")).schema

        def _run(leg: str, ttl_ms: int) -> DataFrame:
            import time

            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(work / "feed"))
            )
            name = f"st24_{leg}_{uuid.uuid4().hex[:12]}"
            q = (
                native_ttl_counts_tws(stream, ttl_ms=ttl_ms)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("update")
                .option("checkpointLocation", str(work / f"ckpt_{leg}"))
                .start()
            )
            try:
                # ProcessingTime time mode keeps scheduling (empty)
                # micro-batches to service potential timers, so neither
                # processAllAvailable() nor availableNow ever drains —
                # instead poll the ingested-row total and stop once the
                # whole feed has been processed (empty batches touch no
                # keys, so stopping after the 4th data batch is exact).
                deadline = time.time() + 600
                rows_by_batch: dict[int, int] = {}
                while time.time() < deadline:
                    if q.exception() is not None:
                        raise q.exception()
                    # recentProgress is a bounded ring the empty batches
                    # flood — accumulate per batchId across polls so a
                    # data batch can never scroll out uncounted.
                    for p in q.recentProgress:
                        rows_by_batch[int(p["batchId"])] = int(
                            p["numInputRows"]
                        )
                    if sum(rows_by_batch.values()) >= n_feed:
                        break
                    time.sleep(0.25)
                else:
                    raise RuntimeError(
                        f"st24 {leg} leg failed to drain the feed "
                        f"within 600s"
                    )
            finally:
                q.stop()
                q.awaitTermination(60)
            return spark.table(name)

        live = (
            _run("keep", 24 * 3600 * 1000)
            .groupBy("user_id")
            .agg(F.max("n").cast("long").alias("n_live"))
        )
        relapsed = (
            _run("expire", 1)
            .groupBy("user_id")
            .agg(F.sum("n").cast("long").alias("n_relapsed"))
        )
        # Materialize (per-user rows) before the workdir is deleted —
        # the caller collects lazily, after the finally runs.
        return (
            live.join(relapsed, "user_id")
            .select("user_id", "n_live", "n_relapsed")
            .orderBy("user_id")
            .localCheckpoint()
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
