"""Incrementally-maintained web link graph — the streaming counterpart
of operators/webtext.py web_graph, in the mergeable-summary family
(linestore/bloom/cms stores).

A 100 TB crawl ingests continuously; the link graph (canonical-URL
edges) must accumulate ACROSS batches so graph consumers (components,
pagerank, domain analytics) see the whole crawl, not one epoch. Edges
are idempotent FACTS (set semantics), so the merge is a distinct
union, invariant to how the stream split into epochs:

- each micro-batch writes the DISTINCT canonical (src, dst) edges its
  pages contribute — cost is one extraction projection + one edge
  distinct over the BATCH; history is never read;
- the merged graph is one DISTINCT across stored epoch fragments at
  read time — identical no matter the epoch split, because a page's
  outlinks are computed from that page alone and each page is ingested
  exactly once (the log's append-only contract);
- epoch replay overwrites the epoch's own partition
  (streaming/store.py protocol) — restarts are idempotent; compaction
  folds fragments with the same DISTINCT the reader applies.

Components over the accumulated graph use the crawl-scale
large-star/small-star algorithm (graph.connected_components_
alternating) — crawl diameters run to the hundreds, where min-label
propagation's diameter-bound rounds are 100x-unsafe.

Reference maintains exactly one incremental summary (the per-partition
event total, /root/reference/src/DefaultPartitionManager.hpp:208);
this extends the same epoch lifecycle to link-graph accumulation.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from mofka_spark.streaming.store import epoch_write, read_store

_SCHEMA = "src string, dst string"


def web_graph_sink(
    path: str,
    id_col: str = "id",
    url_col: str = "url",
    html_col: str = "html",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: the epoch's distinct canonical (src, dst)
    edges, extracted exactly as the batch operator does (both quote
    styles, absolute-http(s) only, canonicalized, self-loops
    dropped)."""
    from mofka_spark.operators.webtext import web_graph

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        edges = web_graph(batch, id_col, url_col, html_col).select(
            "src", "dst"
        )
        epoch_write(edges, path, epoch_id)

    return write_epoch


def merge(df: DataFrame) -> DataFrame:
    """The store's fold: DISTINCT (src, dst) edges."""
    return df.select("src", "dst").distinct()


def read_web_graph(
    spark: SparkSession,
    path: str,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """The accumulated distinct edge set (src, dst) across stored
    epochs. ``as_of_epoch`` time-travels (store.read_store)."""
    return merge(read_store(spark, path, _SCHEMA, as_of_epoch))


def web_graph_components(
    spark: SparkSession,
    path: str,
    as_of_epoch: int | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) over the accumulated crawl graph, component =
    lexicographic-min reachable canonical URL — identical to running
    the batch alternating algorithm over the full edge set, no matter
    the epoch split."""
    from mofka_spark.operators.graph import connected_components_alternating

    edges = read_web_graph(spark, path, as_of_epoch)
    return connected_components_alternating(
        edges, "src", "dst", max_iter=max_iter
    )

