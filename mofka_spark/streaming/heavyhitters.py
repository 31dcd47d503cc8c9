"""Incrementally-maintained heavy hitters over a live topic.

The streaming counterpart of operators/sketch.py heavy_hitters: each
micro-batch reduces to a space-capped count summary (top-m items plus
one residual slack row recording the largest count it dropped) and
appends it to an epoch-partitioned store; reads merge the summaries
and certify the result. The write path never reads history and its
per-epoch cost is the batch's own count aggregate — the classic
mergeable-summary shape (Misra-Gries / SpaceSaving family, here with
exact per-epoch counts truncated to m).

Certificate semantics at read time, with slack = sum over epochs of
each epoch's largest dropped count:

- an item absent from EVERY epoch's kept set has total <= slack;
- a candidate's merged count is exact for epochs where it was kept
  and undercounts by at most that epoch's slack elsewhere — so ANY
  stored item's true count is at most its merged count + slack;
- ``guaranteed`` is true when slack == 0 (nothing was ever dropped,
  every count exact, result equals the batch answer — the gate
  regime) OR when the k-th merged count strictly exceeds the
  (k+1)-th merged count + slack (no item outside the returned set —
  stored-but-ranked-below OR never-kept — can reach the k-th
  candidate's lower bound). When fewer than k+1 distinct items are
  stored the second test degenerates to c_k > slack. Note c_k >
  slack alone is NOT sufficient: an item kept in some epochs but
  ranked k+1 can have true count up to c_{k+1} + slack, which may
  exceed c_k.

Storage follows streaming/store.py's epoch protocol: replayed epochs
overwrite their own partition, so restarts are idempotent; compaction
merges kept rows per item and sums residuals into the reserved epoch.

Reference has no aggregate maintenance beyond the per-partition event
counter (/root/reference/src/DefaultPartitionManager.hpp:208); this is
part of the beyond-reference streaming analytics layer.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mofka_spark.streaming.store import (
    epoch_write,
    read_store,
)

_SCHEMA = "item string, cnt long"


def heavyhitter_sink(
    path: str,
    item_col: str = "item",
    m_per_epoch: int = 100_000,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: count the batch's items, keep the top
    ``m_per_epoch`` by (cnt DESC, item ASC), append one residual row
    (item NULL, cnt = largest dropped count; 0 when nothing dropped).
    Shuffle carries the batch's distinct items only (map-side combine);
    the top-m cut is one window over that counted frame."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        counts = (
            batch.select(F.col(item_col).cast("string").alias("item"))
            .filter(F.col("item").isNotNull())
            .groupBy("item")
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy(F.lit(1)).orderBy(
            F.desc("cnt"), F.asc("item")
        )
        ranked = counts.withColumn("_rk", F.row_number().over(w)).persist()
        kept = ranked.filter(F.col("_rk") <= m_per_epoch).select("item", "cnt")
        residual = ranked.filter(F.col("_rk") > m_per_epoch).agg(
            F.coalesce(F.max("cnt"), F.lit(0)).alias("cnt")
        ).select(F.lit(None).cast("string").alias("item"), "cnt")
        epoch_write(kept.unionByName(residual), path, epoch_id)
        ranked.unpersist()

    return write_epoch


def merge(df: DataFrame) -> DataFrame:
    """The store's fold: SUM per item. The NULL item (each epoch's
    residual slack) folds as its own group, so the slack total
    survives compaction."""
    return df.groupBy("item").agg(F.sum("cnt").alias("cnt"))


def read_top_k(
    spark: SparkSession,
    path: str,
    k: int = 20,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Merge-on-read top-k: (item, cnt, rnk, guaranteed). O(stored
    summary rows), never the stream history. See module docstring for
    what ``guaranteed`` certifies; ``as_of_epoch`` time-travels to the
    state after that epoch committed (store.read_store)."""
    partials = read_store(spark, path, _SCHEMA, as_of_epoch)
    slack_row = (
        partials.filter(F.col("item").isNull())
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("_slack"))
    )
    # Take k+1 merged rows: the (k+1)-th count is the certificate's
    # adversary bound (an item we stored but rank below k undercounts
    # by at most slack from c_{k+1}, never from 0).
    merged = (
        merge(partials)
        .filter(F.col("item").isNotNull())
        .orderBy(F.desc("cnt"), F.asc("item"))
        .limit(k + 1)
    )
    w = Window.partitionBy(F.lit(1)).orderBy(F.desc("cnt"), F.asc("item"))
    wall = Window.partitionBy(F.lit(1))
    return (
        merged.withColumn("rnk", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(slack_row))
        .withColumn(
            "_ck", F.min(F.when(F.col("rnk") <= k, F.col("cnt"))).over(wall)
        )
        .withColumn(
            "_cnext",
            F.max(F.when(F.col("rnk") == k + 1, F.col("cnt"))).over(wall),
        )
        .withColumn("_stored", F.count("*").over(wall))
        .withColumn(
            # Adversary bound depends on who can contest rank k:
            # - stored >= k+1: a stored item ranked k+1 undercounts by
            #   at most slack from c_{k+1} -> need c_k > c_{k+1}+slack
            #   (this also dominates the unseen-item bound of slack);
            # - stored == k: only NEVER-stored items contest, and
            #   their true count is at most slack -> need c_k > slack;
            # - stored < k (m_per_epoch < k or a short stream): the
            #   true top-k may include unseen items in the unfilled
            #   slots — nothing certifiable while slack > 0.
            "guaranteed",
            (F.col("_slack") == 0)
            | (
                F.col("_cnext").isNotNull()
                & (F.col("_ck") > F.col("_cnext") + F.col("_slack"))
            )
            | (
                F.col("_cnext").isNull()
                & (F.col("_stored") == k)
                & (F.col("_ck") > F.col("_slack"))
            ),
        )
        .filter(F.col("rnk") <= k)
        .select("item", "cnt", "rnk", "guaranteed")
    )

