"""Incrementally-maintained quantile envelopes via mergeable
fixed-bin histograms.

Exact quantiles are not mergeable (they need the full sorted data),
but HISTOGRAM COUNTS are pure sums: each micro-batch writes one
(group, bin, count) partial set over a declared [lo, hi) domain and
any quantile of everything ingested is bracketed at read time by the
bin containing its rank — error bounded by bin width, independent of
how many epochs the stream split into. The classic fixed-width
variant of the t-digest/KLL family: coarser, but exactly
reproducible by an external oracle (bin assignment is closed-form
arithmetic, no data-dependent centroids).

Storage follows streaming/store.py's epoch protocol: replayed epochs
overwrite their own partition, compaction sums fragments into the
reserved slot; read results are identical before and after.

Bin semantics (mirrored in the oracle): for nbins over [lo, hi),
bin(x) = clamp(floor((x - lo) / width), 0, nbins-1) — out-of-domain
values land in the edge bins, NULLs are dropped. Quantile q over n
rows targets rank k = max(1, ceil(q * n)); the answer is the first
bin whose cumulative count reaches k, reported as the envelope
[bin_lo, bin_hi).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from mofka_spark.streaming.store import (
    epoch_write,
    read_store,
)


def _bin(col, lo: float, hi: float, nbins: int):
    width = (hi - lo) / nbins
    raw = F.floor((col - F.lit(lo)) / F.lit(width)).cast("long")
    return F.least(F.lit(nbins - 1), F.greatest(F.lit(0), raw))


def histogram_sink(
    path: str,
    group_cols: list[str],
    value_col: str,
    lo: float,
    hi: float,
    nbins: int = 64,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: one (group, bin, count) partial set per
    epoch. Map-side combine collapses the batch to at most
    #groups * nbins rows before the exchange; per-epoch store growth
    is bounded the same way regardless of batch size."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        hist = (
            batch.filter(F.col(value_col).isNotNull())
            .groupBy(
                *group_cols,
                _bin(F.col(value_col), lo, hi, nbins).alias("bin"),
            )
            .agg(F.count("*").alias("cnt"))
        )
        epoch_write(hist, path, epoch_id)

    return write_epoch


def merge(group_cols: list[str]) -> Callable[[DataFrame], DataFrame]:
    """The store's fold for ``group_cols``: SUM ``cnt`` per
    (group, bin)."""
    return lambda df: df.groupBy(*group_cols, "bin").agg(
        F.sum("cnt").alias("cnt")
    )


def read_quantiles(
    spark: SparkSession,
    path: str,
    group_cols: list[str],
    schema: str,
    quantiles: list[float],
    lo: float,
    hi: float,
    nbins: int = 64,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """Quantile envelopes off the merged histogram: for each group and
    q, the first bin whose cumulative count reaches rank
    max(1, ceil(q*n)), as (group..., q, bin, bin_lo, bin_hi, n_rows).
    O(stored histogram rows) work, never the stream history."""
    from pyspark.sql import Window

    width = (hi - lo) / nbins
    merged = merge(group_cols)(read_store(spark, path, schema, as_of_epoch))
    w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy(*group_cols)
    cum = merged.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n_rows", F.sum("cnt").over(tot)
    )
    out = None
    for q in quantiles:
        k = F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("n_rows")))
        hit = (
            cum.filter(F.col("cum") >= k)
            .groupBy(*group_cols, "n_rows")
            .agg(F.min("bin").alias("bin"))
            .select(
                *group_cols,
                F.lit(q).alias("q"),
                F.col("bin").cast("long"),
                F.round(F.lit(lo) + F.col("bin") * F.lit(width), 6).alias(
                    "bin_lo"
                ),
                F.round(
                    F.lit(lo) + (F.col("bin") + 1) * F.lit(width), 6
                ).alias("bin_hi"),
                F.col("n_rows").cast("long"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def read_drift(
    spark: SparkSession,
    path: str,
    group_col: str,
    schema: str,
    nbins: int = 64,
    ref_epoch: int = 0,
    as_of_epoch: int | None = None,
    drift_threshold: float = 0.2,
) -> DataFrame:
    """PSI drift straight off the stored histograms: reference = the
    distribution as of ``ref_epoch`` (time-travel prefix), current =
    as of ``as_of_epoch`` (default: everything) — "how far has this
    value's distribution moved since that checkpoint", per group,
    WITHOUT rescanning any history. The monitoring loop this enables:
    snapshot an epoch after a known-good deploy, then read drift
    against it every trigger for O(#groups x nbins) stored rows.

    Bins are the store's declared fixed grid, so reference and
    current are always aligned; the PSI arithmetic is
    operators/quality.psi_from_binned (1e-6 floors, bin-ordered fold
    — engine-reproducible). Groups absent from the reference prefix
    have no baseline and are omitted (PSI is defined against a
    reference). Returns (group_col, n_ref, n_cur, psi, drifted)."""
    from mofka_spark.operators.quality import psi_from_binned

    def counts(epoch, name):
        merged = merge([group_col])(read_store(spark, path, schema, epoch))
        return merged.select(
            F.col(group_col).alias("g"),
            F.col("bin").alias("b"),
            F.col("cnt").alias(name),
        )

    ref = counts(ref_epoch, "_nr")
    cur = counts(as_of_epoch, "_nc")
    spine = (
        ref.select("g")
        .distinct()
        .select(
            "g",
            F.explode(F.sequence(F.lit(0), F.lit(nbins - 1))).alias("b"),
        )
    )
    per_bin = (
        spine.join(ref, ["g", "b"], "left")
        .join(cur, ["g", "b"], "left")
        .select(
            "g",
            "b",
            F.coalesce("_nr", F.lit(0)).alias("_nr"),
            F.coalesce("_nc", F.lit(0)).alias("_nc"),
        )
    )
    return psi_from_binned(per_bin, drift_threshold).withColumnRenamed(
        "g", group_col
    )
