"""Incrementally-maintained distinct counts via mergeable HLL
sketches — the streaming counterpart of operators/sketch.py
hll_distinct_rollup.

COUNT(DISTINCT) is the canonical non-mergeable aggregate: partial
distinct counts cannot be summed. HLL sketches restore mergeability
(union of sketches = sketch of the union), so each micro-batch writes
one ~2^lg_k-byte sketch per group to the epoch store and the running
distinct count of everything ingested is one union + estimate at read
time — the log is never rescanned. Estimate error is the sketch's
standard ~1.04/sqrt(2^lg_k) (lg_k=12 -> ~1.6%), independent of how
many epochs the stream was split into, because union is exact over
sketch registers.

Storage follows streaming/store.py's epoch protocol: replayed epochs
overwrite their own partition (idempotent restarts), compaction unions
per-group fragments into the reserved slot — readers see identical
estimates before and after (register-wise max is associative,
commutative, idempotent).

Reference maintains exactly one incremental count — the per-partition
event total (/root/reference/src/DefaultPartitionManager.hpp:208);
this extends the same epoch lifecycle to grouped distinct counts.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mofka_spark.streaming.store import (
    epoch_write,
    read_store,
)


def distinct_sink(
    path: str,
    group_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: one HLL sketch per group per epoch.
    Map-side partial aggregation means the shuffle carries sketches,
    not values; per-epoch store growth is O(#groups * 2^lg_k bytes)
    regardless of batch size."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        sk = batch.groupBy(*group_cols).agg(
            F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sk")
        )
        epoch_write(sk, path, epoch_id)

    return write_epoch


def merge(group_cols: list[str]) -> Callable[[DataFrame], DataFrame]:
    """The store's fold for ``group_cols``: one sketch union per
    group."""
    return lambda df: df.groupBy(*group_cols).agg(
        F.hll_union_agg("sk").alias("sk")
    )


def read_distinct(
    spark: SparkSession,
    path: str,
    group_cols: list[str],
    schema: str,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Merged estimate per group: union every stored sketch fragment,
    estimate once. ``schema`` describes the store row (group columns +
    ``sk binary``) for the empty-store case; ``as_of_epoch``
    time-travels (store.read_store)."""
    frags = read_store(spark, path, schema, as_of_epoch)
    return merge(group_cols)(frags).select(
        *group_cols, F.hll_sketch_estimate("sk").alias("approx_distinct")
    )

