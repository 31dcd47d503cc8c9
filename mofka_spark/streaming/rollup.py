"""Incrementally-maintained aggregate tables (materialized rollups).

A 100 TB ingest pipeline cannot answer "events per type per hour" by
rescanning the log — the aggregate must be maintained AS data arrives.
This module implements the streaming materialized-view pattern the
Spark-native way:

- each micro-batch reduces to PARTIAL aggregates (map-side combine,
  shuffle carries one row per group per epoch) and appends them, with
  the epoch id, to a parquet partial-aggregate table;
- reads merge-on-read: re-aggregate the partials with the combining
  form of each aggregate (sum of sums, sum of counts, min of mins...);
- a compaction pass (``compact_epoch_store(merge=merge(...))``)
  rewrites the partials into one row per group when the partial table
  grows (same merge, written back) — the classic LSM shape, entirely
  in Spark operators.

Append-only partials make the writer race-free and idempotent (epochs
are recorded in the data itself: a replayed epoch overwrites its own
partition directory, never double-counts), and reads never block on
writers. Aggregates supported: sum / count / min / max, and avg as the
(sum, count) pair — i.e. everything with a commutative combine.

The reference maintains exactly one incremental aggregate — the
per-partition event counter (/root/reference/src/
DefaultPartitionManager.hpp:208); this generalizes it to arbitrary
grouped aggregates over the same micro-batch lifecycle (L1 receiveBatch
≙ one epoch).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from mofka_spark.streaming.store import epoch_write, read_store

_COMBINE = {
    "sum": F.sum,
    "count": F.sum,  # partial counts combine by summing
    "min": F.min,
    "max": F.max,
}

_PARTIAL = {
    "sum": F.sum,
    "count": F.count,
    "min": F.min,
    "max": F.max,
}


def _kinds(aggs: dict[str, str | list[str]]) -> list[tuple[str, str]]:
    """Normalize {col: kind | [kinds]} to (col, kind) pairs."""
    out = []
    for col, kinds in aggs.items():
        for kind in [kinds] if isinstance(kinds, str) else kinds:
            out.append((col, kind))
    return out


def _partial_agg(batch: DataFrame, group_cols: list[str], aggs):
    return batch.groupBy(*group_cols).agg(
        *[
            _PARTIAL[kind](col).alias(f"{col}_{kind}")
            for col, kind in _kinds(aggs)
        ]
    )


def rollup_sink(
    path: str,
    group_cols: list[str],
    aggs: dict[str, str | list[str]],
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer maintaining a partial-aggregate table.

    ``aggs``: {column: kind | [kinds]} with kind in sum/count/min/max. Each epoch
    writes its partials under ``_epoch=<id>`` (dynamic partition
    overwrite), so a replayed epoch after failure/restart REPLACES its
    own partials — idempotent without any side ledger.
    """

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        epoch_write(_partial_agg(batch, group_cols, aggs), path, epoch_id)

    return write_epoch


def merge(
    group_cols: list[str], aggs: dict[str, str | list[str]]
) -> Callable[[DataFrame], DataFrame]:
    """The store's fold for ``group_cols``/``aggs``: each partial
    column re-aggregated with its combining form (``_COMBINE``)."""
    return lambda df: df.groupBy(*group_cols).agg(
        *[
            _COMBINE[kind](f"{col}_{kind}").alias(f"{col}_{kind}")
            for col, kind in _kinds(aggs)
        ]
    )


def read_rollup(
    spark,
    path: str,
    group_cols: list[str],
    aggs: dict[str, str | list[str]],
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Merge-on-read: combine the stored partials into final
    aggregates. O(partial rows) work — never touches the event log.
    ``as_of_epoch`` time-travels to the state after that epoch
    committed (store.read_store). The store has no fixed row schema,
    so reading a store no epoch has written raises."""
    return merge(group_cols, aggs)(
        read_store(spark, path, None, as_of_epoch)
    )
