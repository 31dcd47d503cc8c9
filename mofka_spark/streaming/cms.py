"""Incrementally-maintained count-min frequency store — the streaming
counterpart of operators/sketch.py count_min_build, next to the Bloom
membership store (streaming/bloom.py) and the HLL distinct store
(streaming/distinct.py) in the mergeable-summary family.

Exact per-key frequency state grows with key cardinality — unbounded
on a 100 TB ingest stream (URLs, user ids, shingle hashes). The
count-min sketch bounds state at depth x width counters while keeping
the one-sided guarantee stream consumers rely on (estimates never
undercount), and counters are PLAIN SUMS, so:

- each micro-batch writes its own depth x width (r, c, cnt) partial —
  cost is one scan of the batch plus one (r, c)-keyed partial agg
  capped at depth x width rows; history is never read;
- the merged sketch is one SUM per cell at read time, identical no
  matter how the stream was split into epochs (sum is associative and
  commutative);
- epoch replay overwrites the epoch's own partition
  (streaming/store.py protocol), so restarts are idempotent;
  compaction folds fragments with the same SUM the reader applies —
  estimates are invariant under compaction.

The hash family is the engine-portable md5 kernel shared with the
batch operator, so the streaming gate hash-matches a DuckDB oracle
computing the identical cells — collisions included.

Reference maintains exactly one incremental count (the per-partition
event total, /root/reference/src/DefaultPartitionManager.hpp:208);
this extends the same epoch lifecycle to bounded-state frequency
summaries.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mofka_spark.streaming.store import (
    epoch_write,
    read_store,
)

_SCHEMA = "r int, c int, cnt long"


def cms_sink(
    path: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    weight_col: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: one depth x width counter partial per
    epoch. Per-epoch store growth is O(depth * width) rows regardless
    of batch size or key cardinality."""
    from mofka_spark.operators.sketch import count_min_build

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        sk = count_min_build(batch, key_col, depth, width, weight_col)
        epoch_write(sk, path, epoch_id)

    return write_epoch


def merge(df: DataFrame) -> DataFrame:
    """The store's fold: SUM per (r, c) cell."""
    return df.groupBy("r", "c").agg(F.sum("cnt").alias("cnt"))


def read_cms(
    spark: SparkSession,
    path: str,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """The merged sketch — the same (r, c, cnt) shape
    count_min_estimate takes. ``as_of_epoch`` time-travels
    (store.read_store)."""
    return merge(read_store(spark, path, _SCHEMA, as_of_epoch))


def cms_estimates(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Point estimates for ``probes`` keys against the merged store:
    read + one broadcast of <= depth x width rows onto the probe side
    (sketch.count_min_estimate). Returns (key_col, est)."""
    from mofka_spark.operators.sketch import count_min_estimate

    return count_min_estimate(
        read_cms(spark, path, as_of_epoch), probes, key_col, depth, width
    )

