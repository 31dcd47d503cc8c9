"""Incrementally-maintained Bloom-filter membership store.

A 100 TB ingest pipeline constantly asks "have we seen this key
before?" — exact-dedup prefiltering, eval-set membership, crawl
frontier dedup — where an exact key store costs O(corpus) and the
answer tolerates a bounded false-positive rate but NO false negatives.
A Bloom filter is the classic answer, and it is perfectly mergeable:
the filter is a bitmap, inserts are bitwise OR, and OR is commutative,
associative, and idempotent — the ideal epoch-store shape.

- the STORE holds the filter as (word, bits) rows — bit w*64+b is set
  iff word w's bits value has bit b — at most m_bits/64 rows per
  epoch, independent of batch size; reads merge fragments with one
  ``bit_or`` aggregate. Epoch replay re-ORs the same bits: idempotent
  by algebra even before the partition overwrite guarantees it.
- the hash family is engine-portable md5 arithmetic (the same trick as
  operators/sampling.hash_bucket): position_j(key) =
  int(md5(key || '#' || j)[:12 hex]) mod m_bits. Both Spark and any
  ANSI-SQL oracle compute the identical positions, so even the false
  positives agree exactly — the membership gate hash-matches
  bit-for-bit rather than "up to FPR".
- NO false negatives ever: every inserted key's positions are in the
  store (pytest pins this); false-positive rate follows the standard
  (1 - e^{-kn/m})^k and is observable from the store alone
  (``bloom_stats``: fill ratio ^ k).

100 TB shape: the write path is one scan of the batch (k scan-local
md5 projections, explode to k positions) plus one word-keyed partial
aggregate whose output is capped at m_bits/64 rows — history is never
read. The read path folds the store to <= m_bits/64 rows (a few MB for
a billion-key filter) and BROADCASTS it onto the probe side, so
membership testing is a map-only stage over any probe volume.

The reference has no membership structure (its dedup surface is exact
event identity); this extends the §2.8 LLM-pipeline layer.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from mofka_spark.streaming.store import (
    epoch_write,
    read_store,
)

_SCHEMA = "word long, bits long"


def _positions(key: Column, m_bits: int, k: int) -> list[Column]:
    """The k bit positions for ``key``: engine-portable md5 arithmetic
    (DuckDB: ('0x' || substr(md5(key || '#' || j), 1, 12))::BIGINT %
    m_bits)."""
    out = []
    for j in range(k):
        h = F.conv(
            F.substring(
                F.md5(F.concat(key.cast("string"), F.lit(f"#{j}"))), 1, 12
            ),
            16,
            10,
        ).cast("long")
        out.append(F.pmod(h, F.lit(m_bits)))
    return out


def _word_bits(pos_col: str) -> list[Column]:
    """(word, bit) decomposition of a position column: word = pos div
    64, bit = 1 << (pos mod 64). shiftleft takes a column shift only in
    SQL form, hence the expr."""
    return [
        F.floor(F.col(pos_col) / 64).cast("long").alias("word"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({pos_col}, 64) AS INT))"
        ).alias("bit"),
    ]


def bloom_sink(
    path: str,
    key_col: str = "key",
    m_bits: int = 1 << 20,
    k: int = 4,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: OR this batch's keys into the filter store.
    One scan + one word-keyed partial aggregate; the epoch's output is
    <= m_bits/64 rows regardless of batch size."""

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        keys = (
            batch.select(F.col(key_col).cast("string").alias("key"))
            .filter(F.col("key").isNotNull())
        )
        words = (
            keys.select(
                F.explode(F.array(*_positions(F.col("key"), m_bits, k))).alias(
                    "pos"
                )
            )
            .select(*_word_bits("pos"))
            .groupBy("word")
            .agg(F.bit_or("bit").alias("bits"))
        )
        epoch_write(words, path, epoch_id)

    return write_epoch


def merge(df: DataFrame) -> DataFrame:
    """The store's fold: ``bit_or`` per word."""
    return df.groupBy("word").agg(F.bit_or("bits").alias("bits"))


def read_membership(
    spark: SparkSession,
    path: str,
    probes: DataFrame,
    key_col: str = "key",
    m_bits: int = 1 << 20,
    k: int = 4,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """(*probes columns, might_contain): True iff ALL k of the probe
    key's bits are set in the merged filter. No false negatives for
    keys any epoch inserted; false positives at the standard Bloom
    rate, deterministically reproducible (same hash family -> same FPs
    in any engine). The merged FILTER is <= m_bits/64 rows and
    broadcasts onto the probe side — the corpus-sized state never
    moves. ``m_bits``/``k`` must match the sink's.

    Row-preserving: duplicate probe rows come back as duplicates, and
    the probe frame's own columns are untouched — the bit probing
    runs on an internal distinct key projection (prefixed columns) and
    joins back (null-safe: NULL probe keys report might_contain
    False, matching the filter's no-NULL-insert contract), so a probes
    frame already carrying a ``word``/``pos`` column cannot collide
    with the internals. The per-key verdict frame scales with DISTINCT
    probe keys, so the join-back is left to the optimizer (broadcast
    when small, shuffle at crawl-frontier probe volumes — keyed on the
    probe key either way)."""
    words = merge(read_store(spark, path, _SCHEMA, as_of_epoch))
    keys = probes.select(F.col(key_col).alias("__bf_key")).distinct()
    probe_pos = keys.select(
        "__bf_key",
        F.explode(
            F.array(*_positions(F.col("__bf_key"), m_bits, k))
        ).alias("__bf_pos"),
    ).select(
        "__bf_key",
        *[
            c.alias(n)
            for c, n in zip(
                _word_bits("__bf_pos"), ("__bf_word", "__bf_bit")
            )
        ],
    )
    hit = (F.col("bits").isNotNull()) & (
        F.col("bits").bitwiseAND(F.col("__bf_bit")) != 0
    )
    per_key = (
        probe_pos.join(
            F.broadcast(words),
            probe_pos["__bf_word"] == words["word"],
            "left",
        )
        .withColumn("__bf_hit", hit)
        .groupBy("__bf_key")
        .agg(F.min("__bf_hit").alias("might_contain"))
    )
    return (
        probes.join(
            per_key,
            probes[key_col].eqNullSafe(per_key["__bf_key"]),
            "left",
        )
        .drop("__bf_key")
        .withColumn(
            "might_contain", F.coalesce("might_contain", F.lit(False))
        )
    )


def bloom_stats(
    spark: SparkSession,
    path: str,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """One-row filter health: set_bits, fill_ratio, and the observed
    false-positive estimate fill_ratio^k (the probability a random
    absent key hits k set bits). Reads only the store (<= m_bits/64
    rows), never the keys."""
    return merge(read_store(spark, path, _SCHEMA)).agg(
        F.coalesce(F.sum(F.bit_count("bits")), F.lit(0)).alias("set_bits")
    ).select(
        "set_bits",
        F.round(F.col("set_bits") / F.lit(float(m_bits)), 6).alias(
            "fill_ratio"
        ),
        F.round(
            F.pow(F.col("set_bits") / F.lit(float(m_bits)), k), 6
        ).alias("est_fpr"),
    )

