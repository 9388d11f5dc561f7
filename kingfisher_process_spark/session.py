"""SparkSession factory.

Single place that encodes the engine's Spark tuning posture:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  the compile step groups by ``ocid`` and single OCIDs with thousands of
  releases are a documented skew source in the reference
  (process/processors/compiler.py:61-62, issue #460).
- ``spark.sql.shuffle.partitions`` sized to the core count for local mode;
  on a real cluster this is overridden by AQE coalescing anyway.
- Arrow enabled: every Python-side operator in this engine is Arrow-batched
  — ``mapInPandas``/``mapInArrow`` transforms, and the OCDS compile's arrow
  group walk (never row-at-a-time UDFs in hot paths).
- Session timezone pinned to UTC so timestamp semantics are stable across
  driver machines.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

ROCKSDB_STATE_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def enable_rocksdb_state_store(spark: SparkSession) -> None:
    """Switch stateful streaming operators (sessionize, CDC collapse,
    dedup-across-batches) to the RocksDB state store.

    The default HDFS-backed provider keeps every key's state in executor
    heap — fine for bounded key spaces, the weak joint at 100 TB key
    cardinality (billions of users/content-hashes). RocksDB spills state
    to local SSD with bounded block-cache memory, and supports changelog
    checkpointing so commits upload deltas instead of full snapshots.
    Trade: per-access JNI + (de)serialization cost on small state.
    See SCALE.md "State store" for sizing.

    Runtime-settable: the provider is read at STREAM START, so calling
    this before ``writeStream.start()`` applies to that query even on a
    session created elsewhere (e.g. the driver's)."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
                   ROCKSDB_STATE_PROVIDER)


def get_spark(
    app_name: str = "kingfisher_process_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    In local mode there is one JVM; ``spark.driver.memory`` is the only
    memory knob. On a cluster, the same conf keys apply per-executor.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if rocksdb_state or os.environ.get("SPARK_GRAFT_ROCKSDB_STATE") == "1":
        # set post-getOrCreate so it also applies when an existing
        # session is reused (the conf is read at stream start)
        enable_rocksdb_state_store(spark)
    spark.sparkContext.setLogLevel("WARN")
    return spark
