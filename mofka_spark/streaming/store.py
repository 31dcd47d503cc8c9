"""Epoch-partitioned parquet stores: the shared persistence protocol
behind the incremental streaming operators (rollup partials, neardup
signature/edge tables, ANN index cells).

Protocol (the LSM shape, entirely in Spark operators):

- WRITE: each micro-batch lands under ``[partition_cols...]/_epoch=<id>``
  with dynamic partition overwrite — a replayed epoch REPLACES exactly
  the leaves it writes, so foreachBatch retries after failure/restart
  are idempotent with no side ledger. Epoch ids come from Spark's
  checkpoint and are monotonically increasing.
- READ: scan the store, drop ``_epoch`` — readers never block on
  writers (parquet files are immutable once visible).
- COMPACT: when per-group epoch fragments outgrow the merge-on-read
  budget, rewrite the store into the reserved ``_epoch=-1`` slot
  (real epochs are >= 0, so future appends never collide) and swap
  directories. The swap is two renames — production on an object
  store would commit via a table format's log (Delta/Iceberg), which
  owns exactly this step. A crash between the renames leaves no store
  directory; the next read, write or compaction finishes the swap
  first (``_finish_swap``).

The mergeable summary stores (bloom, cms, distinct, heavyhitters,
quantiles, rollup, sample, ...) each export one ``merge``: the fold of
stored fragments into the summary. Their readers apply it to
``read_store`` and compaction applies it on rewrite
(``compact_epoch_store(spark, path, merge=<module>.merge)``), so a
fold of folds equals the fold and reads are identical before and
after compaction. Folds with parameters are factories, e.g.
``distinct.merge(group_cols)``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

COMPACTED_EPOCH = -1

# marker file inside the store dir (underscore prefix: parquet partition
# discovery ignores it) recording the bucketed-layout recipe + watermark
_BUCKET_META = "_bucketed.json"


def _finish_swap(path: str) -> None:
    """Complete a compaction swap that a crash interrupted; a no-op on
    a store that is not mid-swap, so it is safe to call before every
    read, write and compaction.

    swap_compacted renames the store to ``.compact-old`` only after
    its ``.compact-tmp`` write has completed. So a missing store next
    to a tmp means the tmp is whole: roll it forward. While the store
    exists, a tmp may be a partial write and is never touched. A
    leftover ``.compact-old`` beside a present store is removed. A
    step another process finished first counts as done."""
    base = path.rstrip("/")
    tmp, old = base + ".compact-tmp", base + ".compact-old"
    if not os.path.isdir(base) and os.path.isdir(tmp):
        try:
            os.rename(tmp, base)
        except OSError:
            if not os.path.isdir(base):
                raise
    if os.path.isdir(base) and os.path.isdir(old):
        try:
            shutil.rmtree(old)
        except FileNotFoundError:
            pass


def epoch_write(
    df: DataFrame,
    path: str,
    epoch_id: int,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Append one epoch's rows idempotently (see module docstring).

    The dynamic-overwrite mode rides on the WRITER (not a session-conf
    toggle): per-writer options are thread-safe, so a sink may run its
    independent table writes concurrently (epoch_write_all)."""
    _finish_swap(path)
    (
        df.withColumn("_epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols, "_epoch")
        .parquet(path)
    )


def epoch_write_all(
    writes: list[tuple[DataFrame, str] | tuple[DataFrame, str, tuple[str, ...]]],
    epoch_id: int,
) -> None:
    """Run several independent epoch writes CONCURRENTLY (one driver
    thread each) so the scheduler back-fills one write's task tail with
    the next write's tasks instead of serializing tiny jobs — the
    overlap-independent-jobs discipline. Safe because each write
    targets its own table path (no committer contention), epoch replay
    overwrites every table's ``_epoch`` partition on retry (so a crash
    leaving any SUBSET of the tables written is repaired by the
    replay, regardless of completion order), and the overwrite mode is
    a per-writer option. The first failure re-raises after all threads
    finish — partial writes are again covered by replay."""
    import concurrent.futures

    if len(writes) == 1:
        w = writes[0]
        epoch_write(w[0], w[1], epoch_id, *w[2:])
        return
    with concurrent.futures.ThreadPoolExecutor(len(writes)) as pool:
        futs = [
            pool.submit(epoch_write, w[0], w[1], epoch_id, *w[2:])
            for w in writes
        ]
        for f in futs:
            f.result()


def read_store(
    spark: SparkSession,
    path: str,
    schema: str,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """The accumulated store, or an empty frame of ``schema`` before
    the first epoch lands (keeps per-epoch plans identical across
    epochs — the first batch unions with an empty relation instead of
    branching).

    ``as_of_epoch`` time-travels: only partials from epochs <= the
    given id (the state the store held after that micro-batch
    committed — reproducible reads for debugging replays and
    comparing runs). The compacted slot (_epoch = -1) is always
    included: it REPRESENTS every epoch folded at compaction time, so
    compaction trades time-travel granularity below the compaction
    point for size — the standard LSM deal. The filter is on the
    partition column, so Spark prunes non-qualifying epoch
    directories at plan time."""
    _finish_swap(path)
    if os.path.isdir(path) and any(
        "=" in e or e.endswith(".parquet") for e in os.listdir(path)
    ):
        df = spark.read.parquet(path)
        if as_of_epoch is not None:
            df = df.filter(F.col("_epoch") <= int(as_of_epoch))
        return df.drop("_epoch")
    return spark.createDataFrame([], schema)


def bucketize_store(
    spark: SparkSession,
    path: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    table: str | None = None,
) -> int:
    """Opt-in bucketed layout for an epoch store: fold every epoch
    written so far into a catalog table bucketed on ``bucket_cols``
    (operators/layout.bucketize) and record the recipe + covered-epoch
    watermark in ``_bucketed.json`` inside the store dir.

    After this, ``read_store_split`` returns (base, overlay): the
    bucketed table plus only the epochs past the watermark — joins and
    aggregations on the bucket key hit the BASE with no Exchange (the
    write-time bucketing is the shuffle, paid once per maintenance
    run), while the small overlay shuffles as usual. Run on the same
    maintenance cadence as compaction; each run re-folds the whole
    store and advances the watermark. The directory store stays the
    replay-idempotent source of truth — the table is a derived layout,
    so epoch replays and time travel are unaffected.

    Returns the watermark (highest real epoch folded; -1 for an empty
    store). ``table`` defaults to a name derived from the store path.
    """
    if table is None:
        digest = hashlib.sha1(os.path.abspath(path).encode()).hexdigest()[:12]
        table = f"mofka_bucketed_{digest}"
    from mofka_spark.operators.layout import bucketize

    df = spark.read.parquet(path)
    watermark = df.agg(F.max("_epoch")).collect()[0][0]
    watermark = int(watermark) if watermark is not None else COMPACTED_EPOCH
    bucketize(df.drop("_epoch"), table, bucket_cols, num_buckets, sort_cols)
    meta = {
        "table": table,
        "max_epoch": watermark,
        "bucket_cols": bucket_cols,
        "num_buckets": num_buckets,
        "sort_cols": sort_cols,
    }
    tmp = os.path.join(path, f"{_BUCKET_META}.tmp-{os.getpid()}")
    with open(tmp, "w") as f:
        json.dump(meta, f, sort_keys=True)
    os.replace(tmp, os.path.join(path, _BUCKET_META))
    return watermark


def _bucket_meta(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _BUCKET_META)) as f:
            return json.load(f)
    except (FileNotFoundError, ValueError):
        return None


def read_store_split(
    spark: SparkSession,
    path: str,
    schema: str,
) -> tuple[DataFrame | None, DataFrame]:
    """(base, overlay) view of a store: ``base`` is the bucketed
    catalog table when ``bucketize_store`` has run (None otherwise),
    ``overlay`` is every epoch after the bucketize watermark (partition
    pruning keeps that read proportional to what arrived since the
    last maintenance run). base ∪ overlay == read_store — but keeping
    them separate lets callers run the bucket-key join/agg on the base
    WITHOUT an Exchange and union only the (small) results."""
    meta = _bucket_meta(path)
    if meta and spark.catalog.tableExists(meta["table"]):
        base = spark.table(meta["table"])
        overlay = (
            spark.read.parquet(path)
            .filter(F.col("_epoch") > int(meta["max_epoch"]))
            .drop("_epoch")
        )
        return base, overlay
    return None, read_store(spark, path, schema)


def compact_epoch_store(
    spark: SparkSession,
    path: str,
    partition_cols: tuple[str, ...] = (),
    merge: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Rewrite all epoch fragments into the ``_epoch=-1`` slot,
    preserving ``partition_cols`` layout (so e.g. the ANN store's
    cell= directory pruning survives compaction). ``merge`` is the
    store's fold (a summary module's ``merge``), applied to the
    epoch-dropped fragments; without one the fragments are rewritten
    as they are. The swap and the bucketize-metadata refresh stay in
    one place (swap_compacted)."""
    _finish_swap(path)
    df = spark.read.parquet(path).drop("_epoch")
    if merge is not None:
        df = merge(df)
    swap_compacted(spark, df, path, partition_cols)


def swap_compacted(
    spark: SparkSession,
    merged: "DataFrame",
    path: str,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Write ``merged`` (no ``_epoch`` column) as the ``_epoch=-1``
    slot via a sibling-dir swap, then refresh any bucketized layout.

    The write is distributed (never via the driver); the swap is two
    renames — not atomic; production on an object store would commit
    via a table format's log (Delta/Iceberg), which owns exactly this
    step. If the store was bucketized, the stored recipe re-folds the
    base so read_store_split's (base, overlay) watermark stays exact
    (compaction moves every epoch to -1, at or below any watermark;
    without the refresh those rows would drop out of the split)."""
    _finish_swap(path)
    out = merged.withColumn("_epoch", F.lit(COMPACTED_EPOCH))
    tmp = path.rstrip("/") + ".compact-tmp"
    out.write.mode("overwrite").partitionBy(*partition_cols, "_epoch").parquet(
        tmp
    )
    meta = _bucket_meta(path)
    os.rename(path, path.rstrip("/") + ".compact-old")
    _finish_swap(path)  # tmp -> path, then drop the old copy
    if meta:
        bucketize_store(
            spark,
            path,
            meta["bucket_cols"],
            meta["num_buckets"],
            meta.get("sort_cols"),
            meta["table"],
        )
