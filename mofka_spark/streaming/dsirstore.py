"""Incrementally-maintained DSIR raw-distribution store.

DSIR importance weights (operators/sampling.py dsir_weights) need the
RAW corpus's hashed-feature bucket distribution. At 100 TB that
distribution should not be recomputed by rescanning the corpus every
time the target changes — bucket counts are plain mergeable sums, so
each micro-batch writes its own O(n_buckets)-row partial and the
running distribution is one SUM per bucket at read time, exactly equal
to a batch scan of everything ingested (integer sums are associative
and commutative — no approximation anywhere in this store).

This is the store-family pattern (streaming/store.py epoch protocol:
replay-idempotent epoch-partition overwrites, merge-on-read,
compaction) applied to the data-selection pipeline: ingest the corpus
once through the topic, then score ANY document frame against ANY
target distribution without touching the raw corpus again
(dsir_weights(raw_counts=read_bucket_counts(...))).

Reference parity: the reference maintains exactly one incremental
aggregate — the per-partition event count
(/root/reference/src/DefaultPartitionManager.hpp:208); this extends
the same epoch lifecycle to the DSIR feature histogram.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mofka_spark.streaming.store import (
    epoch_write,
    read_store,
)


def dsir_sink(
    path: str,
    text_col: str = "text",
    n_buckets: int = 8192,
    salt: str = "dsir",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: one (bucket, c) partial count set per
    epoch. Map-side partial aggregation collapses the batch's feature
    stream before the shuffle; per-epoch store growth is bounded by
    n_buckets rows regardless of batch size. Replayed epochs overwrite
    their own partition — sums stay exact across restarts."""
    from mofka_spark.operators.sampling import dsir_feature_buckets

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        counts = (
            dsir_feature_buckets(batch, text_col, n_buckets, salt)
            .groupBy("bucket")
            .agg(F.count("*").alias("c"))
        )
        epoch_write(counts, path, epoch_id)

    return write_epoch


def merge(df: DataFrame) -> DataFrame:
    """The store's fold: SUM per bucket."""
    return df.groupBy("bucket").agg(F.sum("c").alias("c"))


def read_bucket_counts(
    spark: SparkSession,
    path: str,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Merged (bucket, cr) distribution — exactly the batch scan's
    counts for the ingested set. Feed to dsir_weights(raw_counts=...);
    ``as_of_epoch`` time-travels (store.read_store)."""
    frags = read_store(spark, path, "bucket long, c long", as_of_epoch)
    return merge(frags).withColumnRenamed("c", "cr")

