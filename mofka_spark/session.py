"""SparkSession construction with scale-appropriate defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; the same configs are
what we would set cluster-side (AQE on, sensible shuffle partitioning,
Arrow for the Python boundary). Session timezone is pinned to UTC so
results compare bit-for-bit against the DuckDB oracle (whose timestamps
are UTC-naive).
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

_DEFAULT_CONF = {
    # Let AQE re-plan at runtime: coalesce tiny shuffle partitions,
    # rewrite skewed joins. Essential at 100 TB, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all pandas UDF / toPandas boundaries.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp comparison vs DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Parquet scan tuning: 128 MiB split targets keep task counts sane
    # at large scale while still parallelizing locally.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    # micros (not INT96) so pyarrow/duckdb read the log natively
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Don't let tiny local runs over-parallelize; cluster deployments
    # override via spark-defaults.
    "spark.sql.shuffle.partitions": "32",
    # Local mode puts every executor thread inside the driver JVM, so
    # this is the whole engine's heap. Measured A/B at sf0.1: a 48g
    # heap is ~20% SLOWER on the CPU-bound hash queries than 8g (bigger
    # G1 young gen -> worse cache locality), so stay small locally;
    # cluster deployments size executors via spark-defaults.
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


# Shuffle width for gate-sized work (a few thousand rows): stream
# drains and iterative graph rounds, where a session-wide 32-way
# shuffle is all scheduler overhead and, for stateful streams, 32
# state stores.
PINNED_SHUFFLE_PARTITIONS = 4


@contextlib.contextmanager
def pinned_shuffle(spark: SparkSession):
    """Run the block with ``spark.sql.shuffle.partitions`` set to
    ``PINNED_SHUFFLE_PARTITIONS``, restoring the session's value after.
    Only work that executes inside the block is affected: a lazy frame
    returned out of it plans at the restored width."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(PINNED_SHUFFLE_PARTITIONS)
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def release_local_checkpoint(df) -> None:
    """Release the persisted RDD behind a ``localCheckpoint``'ed
    DataFrame.

    ``DataFrame.unpersist()`` only clears the Dataset plan cache — a
    local checkpoint's blocks live on the checkpointed RDD inside the
    plan's ``LogicalRDD`` node, which plain unpersist never touches
    (verified: blocks survive). Long-lived library sessions that call
    iterative operators (unigram/BPE trainers, graph passes) need a
    deterministic release or they leak one persisted RDD per call.
    CONTRACT: call this only when ``df`` AND every DataFrame derived
    from it are dead. A local checkpoint truncates lineage, so once the
    blocks are unpersisted the frame is unrecoverable — a downstream
    reference that executes later fails with block-not-found. This
    reaches into JVM internals (``queryExecution().analyzed().rdd()``)
    by necessity; there is no public API for a LogicalRDD's blocks.
    Best-effort: any plan that is not a checkpoint result is a no-op
    (logged at debug level, never raised).
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(True)
    except Exception as exc:  # noqa: BLE001 — not a LogicalRDD / already gone
        import logging

        logging.getLogger(__name__).debug(
            "release_local_checkpoint: no-op (%s)", exc
        )


def get_spark(
    app_name: str = "mofka-spark",
    master: str | None = None,
    conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` resolves from the argument, ``$SPARK_GRAFT_MASTER``, then
    ``local[$SPARK_GRAFT_CPUS or *]``.
    """
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(_DEFAULT_CONF)
    if conf:
        merged.update(conf)
    for k, v in merged.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
