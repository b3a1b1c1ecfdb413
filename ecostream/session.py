"""SparkSession construction tuned for the engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-planning, skew-join splitting, partition coalescing),
batch shuffles starting at AQE's ``initialPartitionNum`` sized to the
parallelism, one partition for stream state (see ``get_spark``),
Arrow enabled for the few Pandas-UDF paths, and UTC session time so
timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

STREAM_STATE_PARTITIONS = 1


def get_spark(
    app_name: str = "ecostream",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster ``master``/memory come from spark-submit; here we
    default to ``local[$SPARK_GRAFT_CPUS]`` per the test environment.

    ``shuffle_partitions`` (default: the core count) is the batch width,
    AQE's ``initialPartitionNum``.  Streaming queries run with AQE off
    and take ``spark.sql.shuffle.partitions``: ``STREAM_STATE_PARTITIONS``
    state partitions, recorded in the checkpoint at first start and kept
    from then on.  One fits the consumer's event-type keys (each state
    partition is a store commit per micro-batch); start a query keyed by
    a wide key space (per-user state) with that conf raised.
    """
    # Export the vendored-protobuf PYTHONPATH BEFORE the JVM launches so
    # the transformWithState driver worker (spawned with the JVM's env)
    # can import google.protobuf.  No-op when protobuf is installed.
    from .streaming.stateful import ensure_protobuf

    ensure_protobuf()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("ECOSTREAM_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
