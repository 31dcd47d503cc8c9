"""Incrementally-maintained cross-corpus line-frequency store — the
streaming counterpart of operators/webtext.py dedup_lines_across_docs,
in the mergeable-summary family (bloom/cms/distinct stores).

Batch cross-corpus line dedup recounts the whole corpus per run; a
100 TB crawl ingests continuously, and the boilerplate-line set (nav
bars, cookie banners) must accumulate ACROSS batches. Per-line
distinct-document counts are mergeable sums under the log's
append-only contract (each document is ingested exactly once, and a
document's lines live in one micro-batch — its own row), so:

- each micro-batch writes one (fp, n_docs) partial per distinct line
  fingerprint in the batch — cost is one line explode + one fp-keyed
  count over the BATCH; history is never read;
- the merged count is one SUM per fp at read time, identical no
  matter how the stream split into epochs;
- epoch replay overwrites the epoch's own partition
  (streaming/store.py protocol) — restarts are idempotent; compaction
  folds fragments with the same SUM the reader applies.

Line text never enters the store — only 64-bit fingerprints and
counts, so store volume is bounded by distinct-line cardinality, not
corpus bytes.

Reference maintains exactly one incremental count (the per-partition
event total, /root/reference/src/DefaultPartitionManager.hpp:208);
this extends the same epoch lifecycle to line-frequency summaries.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mofka_spark.streaming.store import epoch_write, read_store

_SCHEMA = "fp long, n_docs long"


def line_count_sink(
    path: str,
    id_col: str = "id",
    text_col: str = "text",
    min_line_chars: int = 10,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: one (fp, n_docs) partial per distinct line
    fingerprint in the epoch. Short lines (< ``min_line_chars``
    trimmed) are exempt, matching dedup_lines_across_docs — list
    markers and headers legitimately repeat."""
    from mofka_spark.operators.webtext import split_lines

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        lines = split_lines(batch, id_col, text_col)
        counts = (
            lines.withColumn("fp", F.xxhash64(F.btrim(F.col("line"))))
            .filter(F.length(F.btrim("line")) >= min_line_chars)
            .groupBy("fp")
            .agg(F.count_distinct("id").alias("n_docs"))
        )
        epoch_write(counts, path, epoch_id)

    return write_epoch


def merge(df: DataFrame) -> DataFrame:
    """The store's fold: SUM per fp."""
    return df.groupBy("fp").agg(F.sum("n_docs").alias("n_docs"))


def read_line_counts(
    spark: SparkSession,
    path: str,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """The merged per-fingerprint document counts. ``as_of_epoch``
    time-travels (store.read_store)."""
    return merge(read_store(spark, path, _SCHEMA, as_of_epoch))


def boilerplate_filter(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    id_col: str = "id",
    text_col: str = "text",
    min_docs: int = 2,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Remove from ``df`` every line whose ACCUMULATED cross-corpus
    count in the store reaches ``min_docs`` — dedup_lines_across_docs
    where the shared-line set comes from ingest history instead of
    this frame alone. The shared set is fp-only (64-bit keys), so the
    join side stays tiny relative to the corpus; AQE broadcasts it
    when genuinely small.

    Returns (id, clean_text, n_lines, n_kept)."""
    from mofka_spark.operators.webtext import remove_lines_by_fp

    shared = read_line_counts(spark, path, as_of_epoch).filter(
        F.col("n_docs") >= min_docs
    )
    return remove_lines_by_fp(df, shared, id_col, text_col)

