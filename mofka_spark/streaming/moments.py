"""Incrementally-maintained embedding moments (count / mean / second
moment) with read-time PCA — the streaming counterpart of
operators/similarity.py pca_power.

Centered covariance is not mergeable, but UNCENTERED moments are pure
sums: each micro-batch contributes (n, sum_d, outer_dd) partials and
the exact covariance of everything ingested so far is recovered at
read time as C = M/N - mean mean^T. That makes the write path one
Arrow kernel per batch (no history reads, no shuffle beyond the d^2
partial rows) and the store O(epochs * d^2) — compactable to O(d^2).

Storage follows streaming/store.py's epoch protocol (replayed epochs
overwrite their own partition; compaction merges into the reserved
epoch slot). Partial encoding on one (i, j, s) schema:

- (i=-1, j=-1): row count n
- (i=d, j=-1):  per-dimension value sum
- (i, j >= 0):  uncentered outer-product sum x_i * x_j

Reference has no embedding layer at all; this extends the
beyond-reference diagnostics (embedding_dim_stats, pca_power) to live
topics.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mofka_spark.streaming.store import (
    epoch_write,
    read_store,
)

_SCHEMA = "i int, j int, s double"


def merge(df: DataFrame) -> DataFrame:
    """The store's fold: SUM per (i, j) cell. The sink applies it to
    the per-partition kernel output, so each epoch lands as one
    partial set."""
    return df.groupBy("i", "j").agg(F.sum("s").alias("s"))


def moments_sink(
    path: str,
    vec_col: str = "vec",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: one uncentered-moment partial set per
    epoch. The Arrow kernel emits ONE (d^2 + d + 1)-row frame per
    input partition; the epoch write aggregates those to a single
    partial set before landing — per-epoch store growth is O(d^2)
    regardless of batch size."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        import numpy as np
        import pandas as pd

        def partials(batches):
            acc = None
            n = 0
            ssum = None
            for pdf in batches:
                if not len(pdf):
                    continue
                a = np.stack(pdf[vec_col].to_numpy()).astype("float64")
                if acc is None:
                    d = a.shape[1]
                    acc = np.zeros((d, d))
                    ssum = np.zeros(d)
                acc += a.T @ a
                ssum += a.sum(axis=0)
                n += len(a)
            if acc is None:
                return
            d = acc.shape[0]
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": np.concatenate(([-1], np.arange(d), ii.ravel())),
                    "j": np.concatenate(([-1], np.full(d, -1), jj.ravel())),
                    "s": np.concatenate(([float(n)], ssum, acc.ravel())),
                }
            )

        epoch_write(
            merge(
                batch.select(F.col(vec_col).alias(vec_col))
                .filter(F.col(vec_col).isNotNull())
                .mapInPandas(partials, _SCHEMA)
            ),
            path,
            epoch_id,
        )

    return write_epoch


def read_moments(
    spark: SparkSession, path: str, as_of_epoch: int | None = None
):
    """(n, mean, cov) merged over every ingested epoch — numpy arrays
    on the driver (O(d^2) metadata). Raises if the store is empty.
    ``as_of_epoch`` time-travels (store.read_store)."""
    import numpy as np

    rows = merge(read_store(spark, path, _SCHEMA, as_of_epoch)).collect()
    if not rows:
        raise ValueError(f"moments store {path!r} is empty")
    cells = {(r.i, r.j): r.s for r in rows}
    n = cells.pop((-1, -1))
    dim = max(i for i, j in cells if j == -1) + 1
    ssum = np.zeros(dim)
    m2 = np.zeros((dim, dim))
    for (i, j), s in cells.items():
        if j == -1:
            ssum[i] = s
        else:
            m2[i, j] = s
    mean = ssum / n
    cov = m2 / n - np.outer(mean, mean)
    return n, mean, cov


def read_component(
    spark: SparkSession,
    path: str,
    iters: int = 4,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Top principal component off the merged moments: the same fixed
    power iteration as operators/similarity.pca_power (v0 = 1/sqrt(d),
    L2-normalized per step). Returns (d, v) with v rounded to 6dp."""
    import numpy as np

    _n, _mean, cov = read_moments(spark, path, as_of_epoch)
    dim = cov.shape[0]
    v = np.full(dim, 1.0 / np.sqrt(dim))
    for _ in range(iters):
        u = cov @ v
        v = u / np.linalg.norm(u)
    return spark.createDataFrame(
        [(int(d), round(float(x), 6)) for d, x in enumerate(v)],
        "d long, v double",
    )

