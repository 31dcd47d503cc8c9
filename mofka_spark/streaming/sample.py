"""Incrementally-maintained deterministic uniform sample (bottom-k).

A monitoring/eval loop over a 100 TB ingest pipeline wants a uniform
sample of everything seen so far — for spot QA, labeling queues, drift
eyeballing — without rescanning history per refresh. The bottom-k
sketch makes that mergeable: race(key) = a deterministic hash of the
key, and the k smallest races over a set are a uniform k-sample of it.
Bottom-k composes: the k smallest of a union are contained in the
union of each part's k smallest — so per-epoch top-k summaries merge
into the exact all-history sample, order- and boundary-independent
(the same A-ES algebra as operators/sampling.weighted_sample with unit
weights; reuses its engine-portable md5 race).

- the STORE holds per-epoch (stratum, key, race) rows, at most k per
  stratum per epoch, under the epoch-partition protocol
  (streaming/store.py: replay-idempotent overwrites, compaction).
- read_sample merges with ONE per-stratum rank over <= k x #epochs
  stored rows — never the stream. Compaction folds the store back to
  <= k rows per stratum (bottom-k of bottom-ks, identical reads).
- determinism: the sample is a pure function of the ingested KEY SET —
  replays, restarts, arrival order, and batch boundaries cannot change
  it, and an external engine reproduces it from the same keys (the
  gate hash-matches it against SQL).

100 TB shape: per-epoch cost is the batch's own scan + one
stratum-keyed rank of (stratum, race, key) rows; the write is capped
at k rows per stratum regardless of batch size. Reads touch O(k x
epochs) rows; after compaction O(k) per stratum.

The reference has no sampling surface; this extends the §2.8
LLM-pipeline layer's mergeable-summary store family.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F
from pyspark.sql.window import WindowSpec

from mofka_spark.operators.sampling import hash_bucket
from mofka_spark.streaming.store import (
    epoch_write,
    read_store,
)

_SCHEMA = "stratum string, key string, race long"


def _race_order() -> WindowSpec:
    return Window.partitionBy("stratum").orderBy(F.asc("race"), F.asc("key"))


def _bottom_k(df: DataFrame, k: int) -> DataFrame:
    return (
        df.withColumn("_rk", F.row_number().over(_race_order()))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def sample_sink(
    path: str,
    key_col: str = "key",
    strata_col: str | None = None,
    k: int = 100,
    salt: str = "rs",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: keep the batch's k smallest race keys per
    stratum (one stratum-keyed rank of thin (stratum, race, key) rows)
    and append them under the epoch. ``strata_col=None`` samples the
    whole stream as one stratum ('all')."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        stratum = (
            F.col(strata_col).cast("string")
            if strata_col is not None
            else F.lit("all")
        )
        rows = (
            batch.select(
                stratum.alias("stratum"),
                F.col(key_col).cast("string").alias("key"),
            )
            .filter(F.col("key").isNotNull())
            .distinct()
            .withColumn("race", hash_bucket(F.col("key"), salt))
        )
        epoch_write(_bottom_k(rows, k), path, epoch_id)

    return write_epoch


def merge(k: int) -> Callable[[DataFrame], DataFrame]:
    """The store's fold for sample size ``k``: bottom-k per stratum of
    the distinct stored rows (replays and cross-epoch repeats of a key
    dedup first, so a key never occupies two sample slots)."""
    return lambda df: _bottom_k(df.distinct(), k)


def read_sample(
    spark: SparkSession,
    path: str,
    k: int = 100,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """(stratum, key, race, rnk): the uniform k-sample per stratum of
    every key ingested so far — exactly the bottom-k of the full key
    set, recovered from the per-epoch summaries alone (bottom-k of
    bottom-ks). ``as_of_epoch`` time-travels (store.read_store)."""
    stored = merge(k)(read_store(spark, path, _SCHEMA, as_of_epoch))
    return stored.withColumn(
        "rnk", F.row_number().over(_race_order()).cast("long")
    ).select("stratum", "key", "race", "rnk")


def estimate_distinct(
    spark: SparkSession,
    path: str,
    k: int = 100,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """KMV distinct-count estimates per stratum from the SAME stored
    bottom-k summaries the sample reader uses — the store is already a
    k-minimum-values sketch, so cardinality comes for free: est =
    (k-1)/u_(k) with u = (race+1)/1e6 (operators/sketch.py
    bottomk_distinct's estimator over this store's race family).
    Strata with fewer than k distinct keys return their exact count
    (below k, no epoch ever dropped a key, so the merged store IS the
    key set). Deterministic: an external engine computes the identical
    estimate from the same keys.

    Race granularity is the sample store's 1e-6 (hash_bucket's MOD):
    fine through ~1e5 distinct per stratum; past that the quantized
    u_(k) biases the estimate low — size MOD up (new salt domain) if
    strata run hotter. Returns (stratum, est_distinct rounded 4dp);
    ``as_of_epoch`` time-travels, compaction is invisible (the k-th
    smallest survives any bottom-k-of-bottom-k fold)."""
    from mofka_spark.operators.sampling import _MOD

    stored = merge(k)(read_store(spark, path, _SCHEMA, as_of_epoch))
    # the fold leaves the k smallest races: u_(k) is their max
    agg = stored.groupBy("stratum").agg(
        F.count("*").cast("long").alias("_n"),
        F.max(
            (F.col("race").cast("double") + F.lit(1.0)) / F.lit(float(_MOD))
        ).alias("_uk"),
    )
    est = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) / F.col("_uk")
    )
    return agg.select("stratum", F.round(est, 4).alias("est_distinct"))
