"""SparkSession factory.

Semantics pinned for reference parity (SURVEY.md §4):

- ``spark.sql.session.timeZone=UTC`` — the reference uses naive
  ``datetime64[ns]`` (transformers.py:36-40); a fixed UTC session zone keeps
  parquet round-trips and DuckDB-oracle comparisons deterministic.
- ``spark.sql.ansi.enabled=false`` — the reference coerces unparseable
  numerics/dates to null (``pd.to_numeric(errors='coerce')``,
  transformers.py:43-49); non-ANSI casts reproduce that, and ``try_cast`` is
  used where we want the intent explicit.
- AQE on (coalesce + skew-join): at 100 TB the runtime re-plan is what keeps
  shuffle partition counts and skewed keys sane; free at small SF.

Scale defaults are environment-driven (``get_spark``: the host's cores) so
the same code runs on a laptop, a 32-core box and a real cluster unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


_STATE_STORE_PROVIDERS = {
    "rocksdb": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "hdfs": (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    ),
}


def state_store_conf(state_store: str) -> dict[str, str]:
    """Conf mapping for the streaming state-store backend knob.

    ``'rocksdb'`` -> the RocksDB provider (spilled to local disk, bounded
    executor memory): the 100×-key-cardinality posture for the stateful
    operator family (heavy hitters, EMA, anomaly bands, activity bars,
    session windows, watermark dedup) — the default in-memory
    HDFS-backed store keeps EVERY key's state on the executor heap,
    which is an OOM cliff when key cardinality grows 100×, while RocksDB
    keeps a block-cache working set in memory and the rest on local SSD.
    The rocksdbjni jar ships inside pyspark — no extra dependency.
    ``'hdfs'`` -> the default provider, stated explicitly.

    The conf is read at STREAMING QUERY START, so it can also be set on a
    live session (``spark.conf.set``) before ``.start()`` — state format
    is checkpoint-sticky though: a query restarted from an existing
    checkpoint keeps the provider it started with; switching providers
    needs a fresh checkpoint.
    """
    if state_store not in _STATE_STORE_PROVIDERS:
        raise ValueError(
            f"unknown state_store {state_store!r}; expected one of "
            f"{sorted(_STATE_STORE_PROVIDERS)}"
        )
    return {
        "spark.sql.streaming.stateStore.providerClass": _STATE_STORE_PROVIDERS[
            state_store
        ]
    }


def get_spark(
    app_name: str = "rtfdp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    state_store: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    One width rule: ``cpus`` is ``$SPARK_GRAFT_CPUS`` when set, else the
    number of cores this process may run on (``os.sched_getaffinity``).
    ``master`` defaults to ``local[cpus]`` and ``shuffle_partitions`` to
    ``cpus``, so one wave of tasks covers a shuffle; AQE coalesces batch
    shuffle output from there.  On a cluster pass the usual 2-3×
    total-cores figure, or a higher one for AQE to coalesce.

    The width also sizes streaming state: a stateful operator (watermark
    dedup, windowed aggregates, stream-stream joins) keeps one state store
    per shuffle partition, and each micro-batch commits every store.  A
    query records the width in its checkpoint when it first starts, and a
    restart from that checkpoint keeps it whatever the session says, so
    the width here only decides it for new checkpoints.

    ``state_store='rocksdb'`` opts the streaming state store into the
    RocksDB provider (see :func:`state_store_conf`) — pass it on sessions
    running the stateful streaming family at high key cardinality.
    """
    env = os.environ.get("SPARK_GRAFT_CPUS")
    cpus = int(env) if env else len(os.sched_getaffinity(0))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Arrow for any toPandas()/pandas_udf edges (sinks, ANN UDF path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet: push count/min/max into footers where possible.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Parquet TIMESTAMP(NANOS) (events.ts) is unsupported by Spark's
        # vectorized reader; read as long ns and convert at the catalog edge
        # (catalog.load_table) with µs truncation, matching DuckDB/pandas.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive parquet timestamps load as LTZ (UTC), never NTZ — watermarks
        # and windows require LTZ; see catalog.load_table.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Keep driver/UI quiet and light in CI.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if state_store is not None:
        for k, v in state_store_conf(state_store).items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
