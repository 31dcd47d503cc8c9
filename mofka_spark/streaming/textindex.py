"""Incrementally-maintained inverted index over streaming documents.

Batch ``operators/text.py inverted_index`` builds token -> (df, sorted
postings) in one pass. A live retrieval/pipeline deployment wants that
index to be FRESH as documents arrive without rescanning the corpus:
this module maintains it per micro-batch on the epoch-store protocol
(streaming/store.py — replay-idempotent epoch writes, merge-on-read,
compaction).

- the STORE is three epoch-partitioned tables under one root:
  ``postings/`` (token, doc, tf) — per-document term frequencies,
                                   one row per distinct (token, doc)
  ``doclen/``   (doc, dl)        — token counts (BM25 length norm)
  ``meta/``     (n_docs)         — one row per epoch (df-bound input)
- per micro-batch: distinct (token, doc) pairs come out of the batch
  with the same presence-list trick as the batch operator (explode of
  array_distinct — no distinct exchange); pair rows and the batch's
  doc count append under ``_epoch=<id>``. Documents are unique across
  epochs (dense topic offsets), so the union of per-epoch pair sets
  IS the batch pair set — read_index therefore returns exactly
  ``inverted_index(all docs so far)``, the equality the gate pins.
- per-epoch cost is O(batch tokens): history is never read on the
  write path (unlike neardup, an index append has no cross-history
  candidates to find).

100 TB shape: read_index's df-bound pruning happens BEFORE posting
lists materialize, exactly like the batch operator; at deployment
scale run ``bucketize_postings`` on a maintenance cadence — it folds
the accumulated postings into a token-bucketed catalog table so the
merge groupBy/join run exchange-free on the corpus-sized base (only
the since-last-run overlay and the vocab-sized merge shuffle) — and
compact (compact_index) to bound per-token fragment counts.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mofka_spark.streaming.store import (
    bucketize_store,
    compact_epoch_store,
    epoch_write_all,
    read_store,
    read_store_split,
)

_POSTINGS, _META, _DOCLEN = "postings", "meta", "doclen"


def bucketize_postings(
    spark: SparkSession,
    store_path: str,
    num_buckets: int = 32,
    table: str | None = None,
) -> int:
    """Opt-in deployment-scale layout: fold the accumulated
    ``postings/`` store into a catalog table bucketed on token — the
    merge groupBy's key — so read_index's df-stats and posting-list
    aggregations run on the corpus-sized base WITHOUT an Exchange
    (only the small since-last-run overlay shuffles). Maintenance
    cadence like compact_index."""
    return bucketize_store(
        spark,
        os.path.join(store_path, _POSTINGS),
        ["token"],
        num_buckets,
        sort_cols=["token"],
        table=table,
    )


def index_sink(
    store_path: str,
    id_col: str = "id",
    text_col: str = "text",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: extend the postings store with this batch's
    distinct (token, doc) pairs. Idempotent under epoch replay."""
    from mofka_spark.operators.dedup import normalize_text

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        arr = F.split(normalize_text(F.col("text")), " ")
        docs = batch.select(
            F.col(id_col).cast("long").alias("doc"),
            F.col(text_col).alias("text"),
        ).filter(F.col("text").isNotNull()).persist()
        # (token, doc, tf) rows with NO shuffle: tf folds inside the
        # doc's own token array (O(distinct x len) per doc, the price
        # of keeping the write path scan-local). The token array binds
        # once per row via _let — the inlined split expression would
        # otherwise re-tokenize per distinct token (O(len²), see
        # operators.text._let).
        from mofka_spark.operators.text import _let

        def _tf_pairs(a):
            return F.transform(
                F.array_distinct(a),
                lambda t: F.struct(
                    t.alias("token"),
                    F.size(
                        F.filter(a, lambda x: x == t)
                    ).cast("double").alias("tf"),
                ),
            )

        pairs = (
            docs.select(
                "doc",
                F.explode(_let(arr, _tf_pairs)).alias("p"),
            )
            .select(F.col("p.token").alias("token"), "doc", F.col("p.tf"))
            .filter(F.col("token") != "")
        )
        # the three tables are independent given the persisted docs —
        # write them concurrently (epoch_write_all; replay overwrites
        # every table's epoch partition, so partial completion on a
        # crash is repaired regardless of order)
        n = docs.count()
        epoch_write_all(
            [
                (pairs, os.path.join(store_path, _POSTINGS)),
                (
                    docs.select(
                        "doc", F.size(arr).cast("double").alias("dl")
                    ),
                    os.path.join(store_path, _DOCLEN),
                ),
                (
                    spark.createDataFrame([(n,)], "n_docs long"),
                    os.path.join(store_path, _META),
                ),
            ],
            epoch_id,
        )
        docs.unpersist()

    return write_epoch


def read_index(
    spark: SparkSession,
    store_path: str,
    min_df: int = 2,
    max_df_ratio: float = 0.5,
) -> DataFrame:
    """token -> (df, sorted postings) from the accumulated store —
    identical contract AND result to the batch inverted_index over
    every document ingested so far (same df bounds, same pruning-
    before-collect order).

    With a bucketed layout (bucketize_postings), the corpus-sized base
    aggregates and joins on its bucket key WITHOUT an Exchange; only
    the since-last-maintenance overlay and the vocab-sized merge
    shuffle. Docs are unique across epochs, so per-side posting lists
    are disjoint and concatenate exactly."""
    base, overlay = read_store_split(
        spark, os.path.join(store_path, _POSTINGS),
        "token string, doc long, tf double",
    )
    n_docs = (
        read_store(spark, os.path.join(store_path, _META), "n_docs long")
        .agg(F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n"))
        .collect()[0]["n"]
    )
    max_df = int(n_docs * max_df_ratio)
    sides = [overlay] if base is None else [overlay, base]
    counts = sides[0].groupBy("token").agg(F.count("*").alias("df"))
    for s in sides[1:]:
        counts = counts.unionByName(
            s.groupBy("token").agg(F.count("*").alias("df"))
        )
    stats = (
        counts.groupBy("token")
        .agg(F.sum("df").alias("df"))
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
    )
    if base is None:
        return (
            overlay.join(stats, "token")
            .groupBy("token")
            .agg(
                F.first("df").alias("df"),
                F.sort_array(F.collect_list("doc")).alias("postings"),
            )
            .select("token", F.col("df").cast("long").alias("df"), "postings")
        )
    # per-side df-pruned collect (base side exchange-free), then a
    # vocab-sized merge of <= 2 partial rows per token
    parts = None
    for s in sides:
        part = (
            s.join(stats, "token")
            .groupBy("token")
            .agg(F.first("df").alias("df"), F.collect_list("doc").alias("p"))
        )
        parts = part if parts is None else parts.unionByName(part)
    return (
        parts.groupBy("token")
        .agg(
            F.first("df").alias("df"),
            F.sort_array(F.flatten(F.collect_list("p"))).alias("postings"),
        )
        .select("token", F.col("df").cast("long").alias("df"), "postings")
    )


def read_bm25(
    spark: SparkSession,
    store_path: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every indexed document against ``terms`` with BM25 from
    the store alone — no text rescan. Returns (id, n_terms, bm25) and
    equals ``operators/text.py bm25_scores`` over every document
    ingested so far: tf/dl/df/N resolve to the identical doubles and
    the score folds contributions in ``terms`` order, the same float
    sequence as the batch operator.

    Scale shape: per query term, one (doc, tf) posting slice joins the
    doclen table on the doc key; corpus stats reduce to one broadcast
    row. Query cost scales with the matched postings, not the corpus.
    """
    pairs = read_store(
        spark, os.path.join(store_path, _POSTINGS),
        "token string, doc long, tf double",
    )
    feats = read_store(
        spark, os.path.join(store_path, _DOCLEN), "doc long, dl double"
    )
    uniq = list(dict.fromkeys(terms))
    for i, term in enumerate(uniq):
        slice_i = pairs.filter(F.col("token") == term).select(
            "doc", F.col("tf").alias(f"tf_{i}")
        )
        feats = feats.join(slice_i, "doc", "left")
    feats = feats.select(
        "doc", "dl",
        *[F.coalesce(F.col(f"tf_{i}"), F.lit(0.0)).alias(f"tf_{i}")
          for i in range(len(uniq))],
    )
    stats = feats.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long"))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(uniq))
        ],
    )
    scored = feats.crossJoin(F.broadcast(stats))
    score = F.lit(0.0)
    hits = F.lit(0).cast("long")
    for i in range(len(uniq)):
        tf, dfreq = F.col(f"tf_{i}"), F.col(f"df_{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - dfreq + F.lit(0.5)) / (dfreq + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
        )
        contrib = F.when(
            tf > 0, idf * (tf * F.lit(k1 + 1.0)) / denom
        ).otherwise(F.lit(0.0))
        score = score + contrib
        hits = hits + (tf > 0).cast("long")
    return (
        scored.select(
            F.col("doc").alias("id"),
            hits.alias("n_terms"),
            F.round(score, 6).alias("bm25"),
        )
        .filter(F.col("n_terms") > 0)
    )


def compact_index(spark: SparkSession, store_path: str) -> None:
    """Collapse epoch fragments (streaming/store.py protocol). Reads
    are identical before and after."""
    for sub in (_POSTINGS, _META, _DOCLEN):
        path = os.path.join(store_path, sub)
        if os.path.isdir(path):
            compact_epoch_store(spark, path)
