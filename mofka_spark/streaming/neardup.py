"""Incremental MinHash-LSH near-duplicate detection against a
persisted signature store.

Batch near-dup (operators/dedup.py minhash_lsh_dedup) answers "which of
these N docs duplicate each other" with one self-join. A 100 TB ingest
pipeline asks a different question EVERY batch: "which of these new
docs duplicate ANYTHING seen so far" — and re-running the batch
pipeline over the whole corpus per arrival is O(corpus) per batch. This
module maintains the LSH state incrementally:

- the STORE is three epoch-partitioned parquet tables under one root:
  ``bands/``  (id, band_id, band_hash)  — the joinable LSH signature
  ``texts/``  (id, text)                — verify-side source of truth
  ``edges/``  (id_a, id_b)              — verified duplicate pairs,
                                          oriented id_a < id_b
- per micro-batch: band the new docs (same deterministic hash family as
  the batch operator — minhash_band_rows), find candidates as
  (batch x batch self-join) ∪ (batch x store bucket join on
  (band_id, band_hash)), verify candidates with exact word-n-gram
  Jaccard (ngram_jaccard_pairs — touches candidate texts only), then
  append this epoch's bands/texts/edges under ``_epoch=<id>`` with
  dynamic partition overwrite: a replayed epoch REPLACES its own
  partition, so retries are idempotent with no side ledger (same
  protocol as streaming/rollup.py).
- ``read_result`` derives (id, keeper_id, is_duplicate) from the
  accumulated edge table with ONE aggregation (keeper = min paired
  smaller id), so the end-of-stream answer is defined by the edge SET —
  independent of arrival order or batch boundaries — and provably
  equals the batch pipeline's answer on the same corpus: both compute
  keeper from the identical verified pair set (LSH banding is
  deterministic, so batch self-join pairs == union of per-epoch
  batch/store pairs).

100 TB shape: per-epoch cost is O(batch bands + matching store
buckets), never O(corpus) — the store join is an equi-join on
(band_id, band_hash) whose store side prunes to buckets the batch
actually touches; verify joins text onto candidate ids only. The store
is partitioned by ``_epoch`` for idempotent writes; at deployment scale
run ``bucketize_bands`` on a maintenance cadence — it folds the
accumulated bands into a (band_id, band_hash)-bucketed catalog table
(operators/layout.py bucketize) so the per-epoch history join is
shuffle-free on the store side (tests/test_plans.py pins the plan), with
epochs since the last run joining as a small overlay — and compact old
epochs with ``compact_store``. Duplicate-of-history docs still append
their bands (they are legitimate future match targets), so the store
grows with the corpus, not the unique set — cap with edges-aware
retention if dup rates are extreme.

The reference has no near-dup operator (its dedup surface is exact
event identity); this is part of the §2.8 LLM-pipeline layer built on
the reference's streaming lifecycle (L3 feed loop ≙ micro-batches).
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mofka_spark.operators.dedup import (
    minhash_band_rows,
    ngram_jaccard_pairs,
)
from mofka_spark.streaming.store import (
    bucketize_store,
    compact_epoch_store,
    epoch_write_all,
    read_store as _read_store,
    read_store_split as _read_store_split,
)

_BANDS, _TEXTS, _EDGES = "bands", "texts", "edges"


def bucketize_bands(
    spark: SparkSession,
    store_path: str,
    num_buckets: int = 32,
    table: str | None = None,
) -> int:
    """Opt-in deployment-scale layout: fold the accumulated ``bands/``
    store into a catalog table bucketed on (band_id, band_hash) — the
    epoch join's key — so every subsequent micro-batch's history-join
    reads the store side WITHOUT an Exchange (the batch side alone
    shuffles into the bucket count). Run on a maintenance cadence like
    compaction; epochs written after a run land in the overlay until
    the next one. Plan pinned in tests/test_plans.py."""
    return bucketize_store(
        spark,
        os.path.join(store_path, _BANDS),
        ["band_id", "band_hash"],
        num_buckets,
        sort_cols=["band_id", "band_hash"],
        table=table,
    )


def compact_store(spark: SparkSession, store_path: str) -> None:
    """Collapse all epoch fragments of the three store tables into the
    compacted slot (streaming/store.py protocol). Read results are
    identical before and after; run when epoch counts outgrow the
    merge-on-read budget. Edges dedup on rewrite (read_result's
    distinct() is set-semantic)."""
    for sub, merge in (
        (_BANDS, None), (_TEXTS, None), (_EDGES, DataFrame.distinct)
    ):
        path = os.path.join(store_path, sub)
        if os.path.isdir(path):
            compact_epoch_store(spark, path, merge=merge)


def history_candidates(
    spark: SparkSession, store_path: str, new_bands: DataFrame
) -> DataFrame:
    """Batch-vs-history candidate pairs: equi-join the new docs' band
    rows against the accumulated ``bands/`` store on (band_id,
    band_hash). Orientation by least/greatest — arrival order need not
    follow id order, and read_result's keeper aggregation relies on
    id_a < id_b regardless of which side is history.

    With a bucketed layout (bucketize_bands), history comes back split:
    base = the (band_id, band_hash)-bucketed table — its side of the
    join carries NO Exchange (plan pinned in tests/test_plans.py) —
    and overlay = epochs since the last maintenance run. Each side
    joins separately and the RESULTS union: unioning the inputs first
    would discard the base's bucketing and put the Exchange back on
    the corpus-sized side."""
    base_bands, overlay_bands = _read_store_split(
        spark, os.path.join(store_path, _BANDS),
        "id long, band_id int, band_hash long",
    )

    def _hist_join(hist: DataFrame) -> DataFrame:
        s, n = hist.alias("s"), new_bands.alias("n")
        return (
            s.join(
                n,
                (F.col("s.band_id") == F.col("n.band_id"))
                & (F.col("s.band_hash") == F.col("n.band_hash"))
                & (F.col("s.id") != F.col("n.id")),
            )
            .select(
                F.least("s.id", "n.id").alias("id_a"),
                F.greatest("s.id", "n.id").alias("id_b"),
            )
        )

    cand = _hist_join(overlay_bands)
    if base_bands is not None:
        cand = cand.union(_hist_join(base_bands))
    return cand


def neardup_sink(
    store_path: str,
    id_col: str = "id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    ngram_n: int = 3,
    verify_threshold: float = 0.8,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: near-dup each micro-batch against all
    history and extend the store. See module docstring for layout and
    idempotency; parameters mirror minhash_lsh_dedup so the incremental
    and batch pipelines are comparable configuration-for-configuration.
    """

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        docs = (
            batch.select(
                F.col(id_col).cast("long").alias("id"),
                F.col(text_col).alias("text"),
            )
            .filter(F.col("text").isNotNull())
            .persist()
        )
        new_bands = minhash_band_rows(
            docs, "id", "text", num_hashes, bands, shingle_k
        ).persist()
        # within-batch candidates: standard LSH self-join, a < b
        a, b = new_bands.alias("a"), new_bands.alias("b")
        cand_new = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        )
        cand_hist = history_candidates(spark, store_path, new_bands)
        cand = cand_new.union(cand_hist).distinct()
        # verify with exact n-gram Jaccard; texts resolve from the
        # batch plus the store (candidate ids only — the semi-join
        # inside ngram_jaccard_pairs prunes before any text is read)
        old_texts = _read_store(
            spark, os.path.join(store_path, _TEXTS), "id long, text string"
        )
        corpus = docs.unionByName(old_texts)
        # track the verify's internal persists: the sink runs once per
        # micro-batch for the stream's lifetime, so per-epoch cache
        # entries must be released per epoch
        scratch: list = []
        edges = ngram_jaccard_pairs(
            corpus, cand, "id", "text", ngram_n, verify_threshold,
            release=scratch,
        ).select("id_a", "id_b")
        # persist store extensions CONCURRENTLY (epoch_write_all): the
        # three tables are independent given the persisted docs/bands,
        # and a crash leaving any subset written is harmless — the
        # epoch replay overwrites all three partitions
        epoch_write_all(
            [
                (new_bands, os.path.join(store_path, _BANDS)),
                (docs, os.path.join(store_path, _TEXTS)),
                (edges, os.path.join(store_path, _EDGES)),
            ],
            epoch_id,
        )
        for frame in scratch:
            frame.unpersist()
        new_bands.unpersist()
        docs.unpersist()

    return write_epoch


def read_result(spark: SparkSession, store_path: str) -> DataFrame:
    """(id, keeper_id, is_duplicate) from the accumulated store —
    identical contract to minhash_lsh_dedup. One aggregation over the
    edge table (O(#verified pairs)) plus a left join onto the id set;
    never rescans text."""
    ids = _read_store(
        spark, os.path.join(store_path, _TEXTS), "id long, text string"
    ).select("id")
    edges = _read_store(
        spark, os.path.join(store_path, _EDGES), "id_a long, id_b long"
    ).distinct()
    keepers = edges.groupBy("id_b").agg(F.min("id_a").alias("keeper_id"))
    return (
        ids.join(keepers, F.col("id") == F.col("id_b"), "left")
        .select(
            "id",
            F.coalesce("keeper_id", "id").alias("keeper_id"),
            (F.col("keeper_id").isNotNull()).alias("is_duplicate"),
        )
    )
