"""Incrementally-maintained IVF ANN index over streaming embeddings.

Batch ANN (operators/similarity.py ivf_topk) assigns the whole corpus
to centroid cells per query run. A 100 TB embedding pipeline instead
maintains the index AS vectors arrive and searches it many times:

- centroids are fit ONCE (fit_centroids — sampled k-means, the
  "fit once, assign many" production pattern ivf_topk documents) and
  stay frozen; cell contents grow per micro-batch. A periodic re-fit +
  re-assign is the compaction analog (store.compact_epoch_store's slot),
  not a per-batch cost.
- each epoch assigns the batch's vectors to their nearest cell (one
  scan, no shuffle — the centroid set broadcasts inside the kernel)
  and appends (id, vec) under ``cell=<c>/_epoch=<e>`` with dynamic
  partition overwrite: a replayed epoch REPLACES its own leaves, so
  foreachBatch retries are idempotent (same protocol as
  streaming/rollup.py and streaming/neardup.py).
- ``search_index`` probes each query's ``nprobe`` nearest cells and
  scans ONLY those cell directories — the ``cell=`` partition column
  turns probing into directory pruning, so a search touches
  O(nprobe/n_centroids) of the store regardless of corpus size. Scoring
  and tie-breaking mirror ivf_topk exactly (round-6 cosine, max over
  probed duplicates, rank by (-score, neighbor_id)), so an index built
  over any batch partitioning returns bit-identical results to the
  batch operator given the same centroids (pinned in
  tests/test_streaming.py).

The reference has no vector surface; this is §2.8 LLM-pipeline layer
built on the reference's streaming lifecycle (L3 feed loop ≙
micro-batches).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mofka_spark.operators.similarity import _cell_frame, cosine
from mofka_spark.streaming.store import (
    compact_epoch_store,
    epoch_write,
    read_store,
)


def compact_index(spark: SparkSession, store_path: str) -> None:
    """Collapse epoch fragments within each cell directory
    (streaming/store.py protocol; cell= layout — and with it the
    probe's directory pruning — survives the rewrite). Search results
    are identical before and after."""
    compact_epoch_store(spark, store_path, partition_cols=("cell",))


def ann_index_sink(
    store_path: str,
    centroids: list[list[float]],
    id_col: str = "id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: assign each batch's vectors to their
    nearest frozen centroid and extend the cell-partitioned store."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        cells = _cell_frame(
            batch.filter(F.col(vec_col).isNotNull()),
            id_col,
            vec_col,
            centroids,
            1,
            method,
        ).select("id", "vec", F.col("cells")[0].alias("cell"))
        epoch_write(cells, store_path, epoch_id, partition_cols=("cell",))

    return write_epoch


def search_index(
    spark: SparkSession,
    store_path: str,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
) -> DataFrame:
    """Top-k cosine neighbors from the incrementally-built store.

    The probed cell set collects to the driver first — it is
    O(#queries x nprobe) small ints (the same bounded-broadcast-base
    pattern operators/packing.py documents) — and becomes a LITERAL
    isin predicate, which Spark turns into cell= directory pruning at
    planning time: the scan never opens unprobed cells."""
    q = _cell_frame(queries, id_col, vec_col, centroids, nprobe, method).select(
        F.col("id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.explode("cells").alias("cell"),
    )
    probed = sorted(
        {r["cell"] for r in q.select("cell").distinct().collect()}
    )
    store = (
        read_store(spark, store_path, "id long, vec array<float>, cell int")
        .filter(F.col("cell").isin(probed))
        .select(
            F.col("id").alias("neighbor_id"),
            F.col("vec").alias("cvec"),
            "cell",
        )
    )
    joined = store.join(F.broadcast(q), "cell").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = (
        joined.select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec")), 6).alias("score"),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("score").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
