"""Partitioned Parquet event log with dense per-partition offsets.

Reference parity (SURVEY.md L1-L9):
- receiveBatch assigns a dense contiguous id range per partition at
  batch arrival: first id = running count, batch gets [first, first+n)
  (/root/reference/src/DefaultPartitionManager.hpp:208,284-288;
  /root/reference/src/MemoryPartitionManager.cpp:57-61).
- storage order == id order (the reference serializes the per-partition
  writer, /root/reference/src/DefaultPartitionManager.cpp:399-405); we
  serialize only the tiny ledger update per partition, and the offsets
  inside a batch come from a row_number window — the Parquet files
  themselves are written fully in parallel.
- acknowledge sets the consumer cursor to id+1
  (/root/reference/src/DefaultPartitionManager.cpp:506-514).
- crash recovery = rescan (/root/reference/src/DefaultPartitionManager.cpp:692-735);
  here: recompute ledger from max(offset) per partition.

Scale notes (100 TB): dense per-partition offsets require one
serialization point per partition — unavoidable, and identical to the
reference's per-partition writer lock. The serialization is O(#partitions)
metadata work per batch (a JSON ledger here; a Delta txn log or a
key-value service on a real deployment), never O(rows). Row data flows
through a hash repartition on `partition` followed by a parallel
Parquet append partitioned by `partition`, so consumers get partition
pruning on `partition=` directories for free.
"""

from __future__ import annotations

import fcntl
import json
import logging
import os
from contextlib import contextmanager
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mofka_spark.errors import MofkaError

_LOG = logging.getLogger(__name__)


class WriteCache:
    """Write-through batch cache: recently appended batches retained in
    memory to serve consumer pulls without file I/O.

    The reference keeps a FIFO of ``CachedBatch`` objects per default
    partition, populated after the disk write succeeds (write-through —
    durability is never relaxed) and consulted by feedConsumer/getData
    before touching disk (/root/reference/default-partition-design.md
    §Write-Through Batch Cache;
    /root/reference/tests/MofkaWriteCacheTest.cpp:14-60). Eviction is
    FIFO over BOTH limits: the overflowing batch is inserted first, then
    the oldest batches are dropped until ``max_batches`` and
    ``max_memory_bytes`` are both satisfied.

    A range read is a hit only when the FULL requested offset range is
    covered by cached batches (the reference's ``coversRange``);
    anything less falls back to the Parquet scan. Scale note: this
    caches only the driver-side producer fast path's batches (bounded:
    ≤ max_batches × flush size); the distributed ``append_batch`` path
    never collects rows to the driver, so it never populates the cache —
    bulk-written rows simply read as cache misses.
    """

    DEFAULTS = {"enabled": True, "max_batches": 16,
                "max_memory_bytes": 64 * 1024 * 1024}

    def __init__(self, max_batches: int = 16,
                 max_memory_bytes: int = 64 * 1024 * 1024):
        # each entry: (partition, first_offset, [(metadata, data), ...], nbytes)
        self._batches: list[tuple[int, int, list, int]] = []
        self.max_batches = int(max_batches)
        self.max_memory_bytes = int(max_memory_bytes)
        self._bytes = 0
        self.hits = 0
        self.misses = 0
        self.insertions = 0
        self.evictions = 0

    def insert(self, partition: int, first_offset: int, items: list) -> None:
        """Cache one just-written batch. ``items``: (metadata, data)
        pairs in offset order starting at ``first_offset``."""
        nbytes = sum(
            (len(m.encode("utf-8", "ignore")) if m else 0)
            + (len(d) if d else 0)
            for m, d in items
        )
        self._batches.append((partition, first_offset, list(items), nbytes))
        self._bytes += nbytes
        self.insertions += 1
        # insert-then-evict to fixpoint (reference eviction contract)
        while self._batches and (
            len(self._batches) > self.max_batches
            or self._bytes > self.max_memory_bytes
        ):
            _, _, _, nb = self._batches.pop(0)
            self._bytes -= nb
            self.evictions += 1

    def get_range(
        self, partition: int, start: int, stop: int
    ) -> list[tuple[int, str, bytes | None]] | None:
        """Rows (offset, metadata, data) for [start, stop), or None on a
        coverage miss. Offsets are dense and immutable (append-only
        log), so cached rows can never be stale — only uncovered."""
        if stop <= start:
            return []
        found: dict[int, tuple[str, bytes | None]] = {}
        for p, first, items, _ in self._batches:
            if p != partition or first >= stop or first + len(items) <= start:
                continue
            for i, (m, d) in enumerate(items):
                off = first + i
                if start <= off < stop:
                    found[off] = (m, d)
        if len(found) != stop - start:
            self.misses += 1
            return None
        self.hits += 1
        return [(off, *found[off]) for off in range(start, stop)]

    def stats(self) -> dict[str, int]:
        return {
            "hits": self.hits, "misses": self.misses,
            "insertions": self.insertions, "evictions": self.evictions,
            "cached_batches": len(self._batches),
            "cached_bytes": self._bytes,
        }

    @classmethod
    def from_config(cls, cfg: dict | None) -> "WriteCache | None":
        """Build from a ``write_cache`` config object (None = defaults,
        which are ENABLED — the reference's cache is on by default)."""
        merged = {**cls.DEFAULTS, **(cfg or {})}
        if not merged["enabled"]:
            return None
        return cls(merged["max_batches"], merged["max_memory_bytes"])


def _lacks_parquet_footer(path: str) -> bool:
    """True iff the file cannot have a valid parquet footer: shorter
    than the minimum parquet file (12 bytes) or missing the trailing
    PAR1 magic. A writer killed mid-``pq.write_table`` essentially
    never ends on the 4-byte magic; a healthy file always does — this
    is the discriminator between a torn crash remnant (quarantine) and
    a transient read fault on good data (propagate)."""
    try:
        size = os.path.getsize(path)
        if size < 12:
            return True
        with open(path, "rb") as fh:
            fh.seek(-4, os.SEEK_END)
            return fh.read(4) != b"PAR1"
    except OSError:
        # Can't even stat/read the tail: transient I/O, not proof of a
        # torn footer — do not quarantine.
        return False


def _footer_stats(md) -> tuple[int | None, int | None, Any]:
    """(min_offset, max_offset, max_ingest_ts) of a parquet footer over
    all its row groups, from column statistics (None where absent)."""
    cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
    lo = hi = max_ts = None
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        s = group.column(cols["offset"]).statistics
        if s is not None and s.has_min_max:
            lo = int(s.min) if lo is None else min(lo, int(s.min))
            hi = int(s.max) if hi is None else max(hi, int(s.max))
        if "ingest_ts" in cols:
            ts = group.column(cols["ingest_ts"]).statistics
            if ts is not None and ts.has_min_max:
                max_ts = ts.max if max_ts is None else max(max_ts, ts.max)
    return lo, hi, max_ts


def _ts_to_utc(ts):
    """Normalize a parquet footer-stat timestamp to tz-aware UTC.
    pyarrow returns tz-aware datetimes for tz-annotated columns and
    naive ones otherwise; the log writes TIMESTAMP_MICROS UTC either
    way, so a naive value IS utc."""
    import datetime

    if isinstance(ts, datetime.datetime) and ts.tzinfo is None:
        return ts.replace(tzinfo=datetime.timezone.utc)
    return ts


# The canonical events schema (FIXTURES.md F1).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("offset", T.LongType(), False),
        T.StructField("metadata", T.StringType(), True),
        T.StructField("data", T.BinaryType(), True),
        T.StructField("ingest_ts", T.TimestampType(), True),
    ]
)

# Pre-offset ingest schema: what producers hand to the sink.
INGEST_SCHEMA = T.StructType(
    [
        T.StructField("partition", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), False),  # arrival order within batch
        T.StructField("metadata", T.StringType(), True),
        T.StructField("data", T.BinaryType(), True),
    ]
)


def _write_rows_parquet(
    data_path: str,
    topic: str,
    partition: int,
    base: int,
    items: list[tuple[str | None, bytes | None]],
    now,
) -> None:
    """Write (metadata, data) items as one Parquet file holding offsets
    [base, base+len(items)) of ``partition`` — schema-identical to the
    Spark-written files (same column names/types, TIMESTAMP_MICROS UTC
    ingest_ts, footer stats for recovery), so readers cannot tell them
    apart. Shared by the producer fast path and the memory-backend
    streaming spill."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(items)
    pdir = os.path.join(data_path, f"partition={partition}")
    os.makedirs(pdir, exist_ok=True)
    table = pa.table(
        {
            "topic": pa.array([topic] * n, pa.string()),
            "offset": pa.array(range(base, base + n), pa.int64()),
            "metadata": pa.array([m for m, _ in items], pa.string()),
            "data": pa.array([d for _, d in items], pa.binary()),
            "ingest_ts": pa.array([now] * n, pa.timestamp("us", tz="UTC")),
        }
    )
    pq.write_table(table, os.path.join(pdir, f"part-{uuid.uuid4().hex}.parquet"))


class EventLog:
    """One topic's append-only event log."""

    def __init__(
        self,
        spark: SparkSession,
        topic_path: str,
        topic: str,
        scope: set[int] | None = None,
        write_cache: dict | None = None,
    ):
        self.spark = spark
        self.topic_path = topic_path
        self.topic = topic
        self.data_path = os.path.join(topic_path, "data")
        self.ledger_path = os.path.join(topic_path, "_ledger.json")
        self.lock_path = os.path.join(topic_path, "_ledger.lock")
        self.cursors_dir = os.path.join(topic_path, "_cursors")
        self._verified = False  # first-append ledger/data consistency check
        # S5 mixed-backend topics: the partitions THIS log instance owns
        # (None = all). Sub-logs of a MixedEventLog share one ledger
        # file; scoping keeps each sub-log's consistency/recovery logic
        # off the other backend's entries.
        self.scope = scope
        # write-through batch cache (None when disabled); populated by
        # the producer fast path, consulted by fetch_rows. Cache hit
        # stats: write_cache.stats().
        self.write_cache = WriteCache.from_config(write_cache)
        self._footers: dict[int, dict[str, tuple]] = {}  # _file_stats

    # -- ledger ------------------------------------------------------------
    # On-disk format v5 adds "trim": {partition: trim-floor} — offsets
    # BELOW the floor are retired (retention/expiry): whole files under
    # the floor are deleted, straddling files keep their rows on disk
    # but every reader filters offset >= floor, so the readable log is
    # exactly [floor, head) per partition. v4 and below:
    # {"offsets": {partition: readable-head},
    # "reserved": {partition: next-reservable}, "inflight":
    # {partition: [[start, end), ...] reserved-but-uncommitted ranges},
    # "pending": {partition: [[start, end), ...] committed ranges stuck
    # above an in-flight hole}, "txns": {sink_id: last_committed_epoch}}
    # — offsets and streaming-sink epoch markers commit in ONE atomic
    # rename, so epoch idempotency is crash-consistent with offset
    # assignment. "reserved" is the high-watermark of ranges handed to
    # in-flight bulk writers (append_batch reserves under the lock,
    # writes outside it); base assignment always reads max(offsets,
    # reserved) so a range being written can never be double-assigned.
    # "offsets" (the READABLE head) advances only contiguously: a fast
    # writer committing above a slower writer's still-unwritten
    # reservation parks its range in "pending" until the hole fills, so
    # readers (latestOffset, pull cursors) can never skip rows that land
    # late — [offsets, reserved) is always exactly tiled by inflight +
    # pending. v1 flat {partition: next} / v2 / v3 files are read
    # transparently (missing keys default empty).

    @staticmethod
    def _parse_ledger(doc: dict) -> dict:
        if "offsets" in doc or "txns" in doc:
            return {
                "offsets": dict(doc.get("offsets", {})),
                "txns": dict(doc.get("txns", {})),
                "reserved": dict(doc.get("reserved", {})),
                "inflight": {
                    k: [list(r) for r in v]
                    for k, v in doc.get("inflight", {}).items()
                },
                "pending": {
                    k: [list(r) for r in v]
                    for k, v in doc.get("pending", {}).items()
                },
                "trim": dict(doc.get("trim", {})),
            }
        return {
            "offsets": dict(doc), "txns": {}, "reserved": {},
            "inflight": {}, "pending": {}, "trim": {},
        }

    def _read_ledger_full(self) -> dict:
        try:
            with open(self.ledger_path) as f:
                return self._parse_ledger(json.load(f))
        except FileNotFoundError:
            return {
                "offsets": {}, "txns": {}, "reserved": {},
                "inflight": {}, "pending": {}, "trim": {},
            }

    @staticmethod
    def _commit_range(full: dict, p: int, start: int, n: int) -> None:
        """Mark [start, start+n) written: drop its in-flight reservation
        and advance the readable head CONTIGUOUSLY. If a slower writer's
        reservation below is still unwritten, this range parks in
        "pending" and becomes readable only when the hole fills — the
        invariant readers rely on is that every offset below
        offsets[p] has been durably written."""
        key = str(p)
        inflight = full.setdefault("inflight", {}).setdefault(key, [])
        inflight[:] = [
            r for r in inflight if not (r[0] == start and r[1] == start + n)
        ]
        pending = full.setdefault("pending", {}).setdefault(key, [])
        pending.append([start, start + n])
        pending.sort()
        head = int(full["offsets"].get(key, 0))
        while pending and pending[0][0] <= head:
            head = max(head, pending.pop(0)[1])
        full["offsets"][key] = head
        if not inflight:
            del full["inflight"][key]
        if not pending:
            del full["pending"][key]

    def _read_ledger(self) -> dict[str, int]:
        return self._read_ledger_full()["offsets"]

    def _write_ledger_full(self, full: dict) -> None:
        from mofka_spark.registry import _atomic_write

        _atomic_write(self.ledger_path, json.dumps(full, sort_keys=True))

    def _write_ledger(self, offsets: dict[str, int]) -> None:
        full = self._read_ledger_full()
        full["offsets"] = offsets
        self._write_ledger_full(full)

    @contextmanager
    def _ledger_lock(self):
        """Cross-process mutual exclusion for the ledger read-modify-write.

        Dense offsets need ONE serialization point per partition — the
        reference takes a per-partition writer lock
        (/root/reference/src/DefaultPartitionManager.cpp:399-405); here a
        topic-level flock guards base assignment through ledger commit so
        two producers in separate processes can never double-assign a
        range. The lock covers O(#partitions) metadata work plus the
        Parquet append (writers serialize per topic, as the reference
        serializes per partition); readers never take it."""
        os.makedirs(self.topic_path, exist_ok=True)
        fd = os.open(self.lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def next_offsets(self) -> dict[int, int]:
        """Next dense offset per partition (0 if partition empty)."""
        return {int(k): v for k, v in self._read_ledger().items()}

    def committed_epoch(self, sink_id: str) -> int:
        """Last epoch_id committed by a streaming sink (or -1)."""
        return int(self._read_ledger_full()["txns"].get(sink_id, -1))

    def _footer_max_offsets(self) -> dict[int, int]:
        """max(offset)+1 per partition from Parquet footer statistics —
        driver-side metadata reads only, no Spark job. (A production
        deployment would keep a transaction log instead; footer stats
        are the file-layout equivalent of the reference's chunk-*.idx
        rescan.)

        TORN files (unreadable footer) are QUARANTINED here — renamed
        to ``*.corrupt`` so Spark scans never see them. A torn
        ``*.parquet`` can only be the remnant of a writer killed
        mid-``pq.write_table``: the fast path writes UNDER the ledger
        flock and commits the ledger only after the write returns, the
        Spark bulk path publishes files by job-commit rename, and
        compaction stages under a non-parquet tmp name — so a torn
        file is never ledger-committed and never an acknowledged
        event; dropping it is the reference's trust-the-data recovery
        applied to the file layer (its pre-test kills a live server
        the same way, /root/reference/tests/pre-test.sh). Called under
        the ledger flock, so a file the index skipped as footer-less is
        not a write in flight: it is torn."""
        out: dict[int, int] = {}
        if not os.path.isdir(self.data_path):
            return out
        for entry in os.listdir(self.data_path):
            if not entry.startswith("partition="):
                continue
            p = int(entry.split("=", 1)[1])
            if self.scope is not None and p not in self.scope:
                continue
            stats = self._file_stats(p)
            indexed = self._footers.get(p, {})
            pdir = os.path.join(self.data_path, entry)
            for fn in os.listdir(pdir):
                path = os.path.join(pdir, fn)
                if (fn.endswith(".parquet") and fn not in indexed
                        and _lacks_parquet_footer(path)):
                    # dot-prefix: Spark scans skip hidden files, so
                    # the quarantined remnant disappears from readers
                    # (a bare suffix rename would NOT — Spark lists
                    # every non-hidden file regardless of extension)
                    _LOG.warning("quarantining torn parquet file %s", path)
                    os.replace(
                        path, os.path.join(pdir, "." + fn + ".corrupt")
                    )
            if stats:
                out[p] = max(s[1] for s in stats) + 1
        return out

    def _ensure_consistent(self) -> None:
        """Run once per EventLog before the first append: detect a stale
        ledger (crash between Parquet commit and ledger rename, or a
        deleted/behind ledger file) and repair it from footer stats.

        The reference rescans its index files on partition-manager
        startup (/root/reference/src/DefaultPartitionManager.cpp:692-735);
        without this, a stale ledger silently re-assigns already-used
        offsets and breaks the density invariant. Orphan rows (written
        but never ledger-committed) are adopted, matching the reference's
        trust-the-data recovery."""
        if self._verified:
            return
        self._verified = True
        actual = self._footer_max_offsets()
        if not actual:
            return
        full = self._read_ledger_full()
        offsets = full["offsets"]
        dirty = False
        for p, nxt in actual.items():
            # Never adopt past a live writer's in-flight reservation:
            # its range may be mid-publish, and footer stats already
            # showing HIGHER committed ranges must not drag the readable
            # head over the hole. Stale (crashed) reservations are
            # reclaimed by recover_ledger(), which then re-adopts.
            floor = min(
                (r[0] for r in full.get("inflight", {}).get(str(p), [])),
                default=None,
            )
            target = nxt if floor is None else min(nxt, floor)
            if offsets.get(str(p), 0) < target:
                offsets[str(p)] = target
                dirty = True
        # the write head can never sit below a trim floor: a partition
        # whose every file was deleted by trim must restart appends AT
        # the floor, keeping offsets dense above it (never reusing
        # retired offsets)
        for key, floor in full.get("trim", {}).items():
            if self.scope is not None and int(key) not in self.scope:
                continue
            if offsets.get(key, 0) < int(floor):
                offsets[key] = int(floor)
                dirty = True
        if dirty:
            self._write_ledger_full(full)

    def recover_ledger(self) -> dict[int, int]:
        """L9 crash recovery: rebuild the ledger by scanning the log.

        The reference rescans chunk-*.idx files
        (/root/reference/src/DefaultPartitionManager.cpp:692-735); the
        Spark shape is a partition-pruned max(offset) aggregation.
        """
        with self._ledger_lock():
            # Run the first-read consistency check HERE, while we already
            # hold the flock: read() would otherwise try to re-acquire it
            # (flock on a second fd in the same process is not re-entrant)
            # and a fresh post-crash handle (_verified=False — the exact
            # scenario this API exists for) would self-deadlock.
            self._ensure_consistent()
            if self._has_data():
                agg = (
                    self.read(sorted(self.scope) if self.scope is not None else None)
                    .groupBy("partition")
                    .agg((F.max("offset") + F.lit(1)).alias("next"))
                    .collect()
                )
                ledger = {str(r["partition"]): r["next"] for r in agg}
            else:
                ledger = {}
            full = self._read_ledger_full()
            # a fully-trimmed partition has no rows to scan, but its
            # next offset is still the trim floor (offsets above a trim
            # stay dense; retired offsets are never reused)
            for key, floor in full.get("trim", {}).items():
                if self.scope is not None and int(key) not in self.scope:
                    continue
                ledger[key] = max(int(ledger.get(key, 0)), int(floor))
            if self.scope is None:
                full["offsets"] = ledger
                # Explicit recovery reclaims reserved-but-never-written
                # ranges from crashed bulk writers (no writer may be
                # live when this API is called).
                full["reserved"] = {}
                full["inflight"] = {}
                full["pending"] = {}
            else:
                # scoped sub-log (mixed-backend topic): touch only owned
                # partitions' entries
                for key in ("offsets", "reserved", "inflight", "pending"):
                    full[key] = {
                        k: v for k, v in full[key].items() if int(k) not in self.scope
                    }
                full["offsets"].update(ledger)
            self._write_ledger_full(full)
            return {int(k): v for k, v in ledger.items()}

    # -- write path --------------------------------------------------------
    def append_rows(
        self,
        rows: list[tuple[int, int, str, bytes | None]],
        txn: tuple[str, int] | None = None,
    ) -> dict[int, tuple[int, int]]:
        """Small-batch fast path for CLIENT-SIDE rows (Producer.flush).

        ``rows``: (partition, seq, metadata, data) tuples already in
        driver memory. Writes one Parquet file per partition directly
        via pyarrow — no Spark job, no JVM round-trip — under the same
        flock-guarded dense-offset assignment as append_batch. A
        per-event producer flushing every few events costs milliseconds
        per flush instead of a multi-second Spark job (measured 4.6 ->
        ~900 events/s on the reference's 100-event producer benchmark
        workload); the bulk/streaming DataFrame path is untouched.

        Files are schema-compatible with the Spark-written ones (same
        column names/types, TIMESTAMP_MICROS UTC ingest_ts, footer
        stats for recovery), so readers cannot tell them apart."""
        import datetime

        if not rows:
            return {}
        by_part: dict[int, list] = {}
        for p, seq, meta, data in sorted(rows, key=lambda r: (r[0], r[1])):
            by_part.setdefault(p, []).append((meta, data))
        now = datetime.datetime.now(datetime.timezone.utc)
        with self._ledger_lock():
            self._ensure_consistent()
            full = self._read_ledger_full()
            if txn is not None and int(full["txns"].get(txn[0], -1)) >= txn[1]:
                return {}
            ledger = full["offsets"]
            reserved = full["reserved"]
            acks: dict[int, tuple[int, int]] = {}
            for p, items in by_part.items():
                # max() with the reservation watermark: a concurrent
                # append_batch may be writing a reserved range outside
                # the lock right now.
                base = max(ledger.get(str(p), 0), reserved.get(str(p), 0))
                n = len(items)
                _write_rows_parquet(
                    self.data_path, self.topic, p, base, items, now
                )
                # Write happened inside the lock, so commit immediately —
                # but via _commit_range, not a raw head bump: if a bulk
                # writer's reservation below is still in flight, this
                # range must park in pending rather than advance the
                # readable head over the hole.
                reserved[str(p)] = max(reserved.get(str(p), 0), base + n)
                self._commit_range(full, p, base, n)
                acks[p] = (base, n)
                # write-through: cache AFTER the durable write, like the
                # reference's receiveBatch (insert after
                # writeBatchToFiles succeeds) — ack_early batches flow
                # through this same path, so they are cached too
                if self.write_cache is not None:
                    self.write_cache.insert(p, base, items)
            if txn is not None:
                full["txns"][txn[0]] = txn[1]
            self._write_ledger_full(full)
            return acks

    def append_batch(
        self, batch: DataFrame, txn: tuple[str, int] | None = None
    ) -> dict[int, tuple[int, int]]:
        """L1 receiveBatch: assign dense offsets and append.

        ``batch`` must have INGEST_SCHEMA columns (partition, seq,
        metadata, data). Returns {partition: (first_offset, count)} — the
        ack payload (reference acks the first id of the range,
        /root/reference/src/ProducerBatch.hpp:125-129).

        Offsets: ``base[partition] + row_number() over (partition by
        partition order by seq) - 1``. The window runs after a hash
        repartition on `partition`, so each Spark task owns whole log
        partitions and the sort is per-partition local — this scales to
        any number of partitions and rows; the only serialized step is
        the O(#partitions) ledger read/update (flock-guarded, see
        _ledger_lock).

        The batch is persisted across the two actions (count + write) so
        the upstream plan executes ONCE — both for throughput (the
        streaming-sink path would otherwise run every epoch's plan
        twice) and for correctness (a non-deterministic upstream such as
        monotonically_increasing_id could otherwise disagree between the
        counted and the written rows, desynchronizing the ledger).

        ``txn=(sink_id, epoch_id)``: streaming-sink exactly-once marker.
        The epoch id commits in the same atomic ledger rename as the
        offset commit; a replayed epoch (<= committed) is skipped and
        returns {}. The remaining at-least-once window is a crash
        between the Parquet job commit and the ledger rename — recovery
        then adopts the orphan rows (_ensure_consistent) and the replay
        re-appends; the reference has the same window between its data
        write and index update.

        Locking: reserve -> write -> commit. The flock is held only for
        the two O(#partitions) ledger updates; the Parquet write job —
        the minutes-long part on a real cluster — runs OUTSIDE the lock,
        so concurrent bulk producers on one topic overlap their write
        jobs and serialize only on metadata (the reference holds its
        writer lock per partition for the same reason,
        /root/reference/src/DefaultPartitionManager.cpp:399-405). A
        crash between reserve and job commit leaves a reserved-but-empty
        range: offsets stay collision-free (assignment reads
        max(offsets, reserved)); recover_ledger() reclaims the stale
        reservation.
        """
        batch = batch.persist()
        try:
            counts = {
                r["partition"]: r["n"]
                for r in batch.groupBy("partition").agg(F.count("*").alias("n")).collect()
            }
            if not counts:
                return {}
            # Phase 1 (flock): reserve dense ranges — metadata only.
            with self._ledger_lock():
                self._ensure_consistent()
                full = self._read_ledger_full()
                if txn is not None and int(full["txns"].get(txn[0], -1)) >= txn[1]:
                    return {}  # replayed epoch: already committed
                offsets, reserved = full["offsets"], full["reserved"]
                bases = {
                    p: max(offsets.get(str(p), 0), reserved.get(str(p), 0))
                    for p in counts
                }
                for p, n in counts.items():
                    reserved[str(p)] = bases[p] + n
                    full.setdefault("inflight", {}).setdefault(str(p), []).append(
                        [bases[p], bases[p] + n]
                    )
                self._write_ledger_full(full)
            # Phase 2 (no lock): the distributed Parquet write job, into
            # a PER-JOB staging dir — concurrent jobs sharing one output
            # path would collide on the Hadoop committer's _temporary/0
            # staging tree, so each job stages alone and then publishes
            # by same-filesystem rename (file names are already
            # job-unique, so publishes never clash either).
            import shutil
            import uuid

            base_col = F.create_map(
                *[F.lit(x) for kv in bases.items() for x in kv]
            )
            w = Window.partitionBy("partition").orderBy("seq")
            out = (
                batch.repartition("partition")
                .withColumn(
                    "offset",
                    (base_col[F.col("partition")] + F.row_number().over(w) - 1).cast("long"),
                )
                .withColumn("topic", F.lit(self.topic))
                .withColumn("ingest_ts", F.current_timestamp())
                .select("topic", "partition", "offset", "metadata", "data", "ingest_ts")
            )
            stage = os.path.join(self.topic_path, "_stage", uuid.uuid4().hex)
            try:
                out.write.mode("overwrite").partitionBy("partition").parquet(stage)
                for entry in os.listdir(stage):
                    if not entry.startswith("partition="):
                        continue
                    dst_dir = os.path.join(self.data_path, entry)
                    os.makedirs(dst_dir, exist_ok=True)
                    src_dir = os.path.join(stage, entry)
                    for fn in os.listdir(src_dir):
                        if fn.endswith(".parquet"):
                            os.replace(
                                os.path.join(src_dir, fn),
                                os.path.join(dst_dir, fn),
                            )
            finally:
                shutil.rmtree(stage, ignore_errors=True)
            # Phase 3 (flock): commit the written ranges + epoch marker.
            # _commit_range advances the readable head only through
            # contiguously-written ranges, so a faster writer finishing
            # here cannot expose offsets above a slower writer's
            # still-unwritten reservation.
            with self._ledger_lock():
                full = self._read_ledger_full()
                for p, n in counts.items():
                    self._commit_range(full, p, bases[p], n)
                if txn is not None:
                    full["txns"][txn[0]] = max(
                        int(full["txns"].get(txn[0], -1)), txn[1]
                    )
                self._write_ledger_full(full)
            return {p: (bases[p], counts[p]) for p in counts}
        finally:
            batch.unpersist()

    # -- streaming spill (memory backend) ----------------------------------
    def enable_stream_spill(self) -> None:
        """File-backed logs ARE the streaming source's substrate —
        nothing to do. MemoryEventLog overrides this with a real
        write-through spill (see there)."""

    # -- maintenance -------------------------------------------------------
    def compact_files(
        self, min_files: int = 8, target_mb: int = 512
    ) -> dict[int, tuple[int, int]]:
        """Rewrite each partition's many small Parquet files into one
        sorted file — the small-file maintenance pass every per-flush
        append log needs (a per-event producer leaves one tiny file per
        flush; at 100 TB the file COUNT, not the bytes, kills scan
        planning and footer-stats recovery). The reference's analog is
        Yokan/Warabi log segment management.

        Only partitions with >= ``min_files`` files are rewritten.
        Offsets, rows, and schema are bit-identical afterward (the gate
        asserts so); files merge in min-offset order into ``target_mb``
        bins (driver memory stays bounded by the bin size — at real
        scale a compactor runs one bin per executor task, same plan),
        each output sorted by offset so row-group min/max stats stay
        maximally selective for the offset-range reads the
        pull/streaming paths issue.

        Concurrency: the rewrite stages the new file, then swaps
        (publish new, unlink olds) under the ledger flock so no
        concurrent WRITER interleaves; it is an offline maintenance op
        with respect to READERS (a scan racing the swap can lose the
        race to an unlinked file), matching the usual compaction
        contract without a transaction log.

        Returns {partition: (files_before, files_after)}.
        """
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        out: dict[int, tuple[int, int]] = {}
        if not os.path.isdir(self.data_path):
            return out
        for entry in sorted(os.listdir(self.data_path)):
            if not entry.startswith("partition="):
                continue
            p = int(entry.split("=", 1)[1])
            if self.scope is not None and p not in self.scope:
                continue
            pdir = os.path.join(self.data_path, entry)
            n = sum(fn.endswith(".parquet") for fn in os.listdir(pdir))
            if n < min_files:
                out[p] = (n, n)
                continue
            with self._ledger_lock():
                # re-list under the lock (a producer may have flushed
                # since); bin in min-offset order by size, so memory is
                # bounded by target_mb per merge and outputs cover
                # near-disjoint offset ranges (selective row-group stats)
                files = self._file_stats(p)
                target = target_mb * 1024 * 1024
                bins: list[list[str]] = [[]]
                acc = 0
                for _lo, _hi, _ts, path in files:
                    sz = os.path.getsize(path)
                    if bins[-1] and acc + sz > target:
                        bins.append([])
                        acc = 0
                    bins[-1].append(path)
                    acc += sz
                for group in bins:
                    if len(group) < 2:
                        continue
                    merged = pa.concat_tables(
                        pq.read_table(path) for path in group
                    ).sort_by("offset")
                    tmp = os.path.join(pdir, f".compact-{uuid.uuid4().hex}.tmp")
                    dst = os.path.join(
                        pdir, f"part-compact-{uuid.uuid4().hex}.parquet"
                    )
                    pq.write_table(merged, tmp)
                    os.replace(tmp, dst)
                    for path in group:
                        os.unlink(path)
                out[p] = (
                    len(files),
                    sum(1 if len(g) >= 2 else len(g) for g in bins),
                )
        return out

    # -- retention / trim ----------------------------------------------------
    def trim_floors(self) -> dict[int, int]:
        """Per-partition trim floor (0 = never trimmed): the readable
        log is exactly offsets [floor, head)."""
        return {
            int(k): int(v)
            for k, v in self._read_ledger_full().get("trim", {}).items()
            if self.scope is None or int(k) in self.scope
        }

    def _file_stats(
        self, p: int
    ) -> list[tuple[int, int, "Any", str]]:
        """(min_offset, max_offset, max_ingest_ts, path) per parquet
        file of partition ``p``, sorted by min_offset: the partition's
        file index and the log's one footer reader (recovery, trim,
        compaction, pull). Files hold disjoint dense offset ranges, so
        min-offset order is also offset-range order.

        Incremental: each call re-lists the directory and reads a
        footer only for a name this handle has not seen; gone names
        (trim, compaction, any process) drop out. Sound because file
        names are never reused (each carries a uuid4 or a Spark job
        uuid), so a name always denotes the same bytes. Each call
        builds a new map and assigns it (threads share one handle).

        A footer read error re-raises (a transient EIO on acked data),
        unless the file has no footer: a fast-path write in flight (it
        writes under the flock; readers take none) or a torn remnant,
        skipped and not remembered. Callers read the heads before this
        listing and a write commits only after it returns, so such a
        file holds no offset below those heads."""
        import pyarrow.parquet as pq

        pdir = os.path.join(self.data_path, f"partition={p}")
        try:
            names = os.listdir(pdir)
        except FileNotFoundError:
            return []
        known = self._footers.get(p, {})
        index: dict[str, tuple] = {}
        for fn in names:
            if not fn.endswith(".parquet"):
                continue
            if fn in known:
                index[fn] = known[fn]
                continue
            path = os.path.join(pdir, fn)
            try:
                md = pq.ParquetFile(path).metadata
            except FileNotFoundError:
                continue  # unlinked since the listing
            except Exception:
                if not _lacks_parquet_footer(path):
                    raise
                continue
            index[fn] = (*_footer_stats(md), path)
        self._footers[p] = index
        return sorted(
            (s for s in index.values() if s[0] is not None),
            key=lambda s: (s[0], s[3]),
        )

    def _cursor_fence(
        self,
        floors: dict[int, int],
        force: bool,
        prev_floors: dict[int, int] | None = None,
    ) -> None:
        """Refuse a trim that would destroy UNREAD events: for every
        registered consumer, the cursor (next offset to read) must be
        at or above the requested floor. ``force=True`` overrides —
        the fenced consumers simply resume at the floor.

        Only floor INCREASES are fenced (``prev_floors`` = the already
        committed trim map): offsets below a committed floor are gone
        regardless, so re-asserting an unchanged floor destroys
        nothing. Without this, one force=True trim past a lagging
        consumer's cursor would wedge every later non-force
        trim()/apply_retention() sweep — the documented "re-running
        trim (any args) completes the deletion" crash-recovery path —
        until that consumer re-acked."""
        if force or not os.path.isdir(self.cursors_dir):
            return
        prev = prev_floors or {}
        rising = {
            p: f for p, f in floors.items() if f > int(prev.get(p, 0))
        }
        if not rising:
            return
        for fn in sorted(os.listdir(self.cursors_dir)):
            if not fn.endswith(".json"):
                continue
            consumer = fn[: -len(".json")]
            cur = self.load_cursors(consumer)
            for p, floor in rising.items():
                if floor > cur.get(p, 0):
                    raise MofkaError(
                        f"trim to offset {floor} of partition {p} would "
                        f"destroy unread events of consumer "
                        f"{consumer!r} (cursor {cur.get(p, 0)}); ack "
                        f"first or pass force=True"
                    )

    def trim(
        self,
        before_offset: int | None = None,
        before_ts=None,
        partitions: list[int] | None = None,
        force: bool = False,
    ) -> dict[int, int]:
        """Retention/expiry: retire all events below a cut, per
        partition. Exactly one of:

        - ``before_offset``: every selected partition's floor becomes
          min(before_offset, readable head) — offsets below it retired.
        - ``before_ts``: Kafka log-segment semantics (retention.ms) at
          whole-file granularity — walk each partition's files in
          offset order and retire the contiguous prefix whose footer
          max(ingest_ts) < before_ts (datetime, or ISO-8601 string).
          A file containing ANY newer row stops the walk, so the floor
          is conservative, exactly like a Kafka segment whose last
          record is inside the retention window.

        Crash safety: the new floors commit in ONE atomic ledger rename
        FIRST; file deletion happens after. A writer killed mid-trim
        (SIGKILL) leaves some retired files on disk, but every reader
        filters offset >= floor, so reads are consistent either way and
        re-running trim (any args) completes the deletion — deletion
        always covers files wholly below the CURRENT floor.

        Offsets stay dense above the floor and retired offsets are
        never reused (the write head never moves down; see
        _ensure_consistent / recover_ledger).

        Consumer safety: refuses to trim above any registered consumer
        cursor unless ``force=True`` (the fenced consumer would lose
        unread events; with force it resumes at the floor). Streaming
        readers clamp their batch starts to the floor (source.py), so a
        running query resumes cleanly past a trim.

        Returns {partition: trim_floor} for the selected partitions
        (including unchanged floors).

        Reference note: the reference log has no retention — this is
        beyond-reference lifecycle work (the Kafka facade's
        ``retention.ms`` config, kafka.py, is honored through it).
        """
        if (before_offset is None) == (before_ts is None):
            raise MofkaError(
                "trim: exactly one of before_offset / before_ts"
            )
        cut_ts = None
        if before_ts is not None:
            import datetime

            if isinstance(before_ts, str):
                cut_ts = datetime.datetime.fromisoformat(before_ts)
            else:
                cut_ts = before_ts
            if cut_ts.tzinfo is None:
                cut_ts = cut_ts.replace(tzinfo=datetime.timezone.utc)
        with self._ledger_lock():
            self._ensure_consistent()
            full = self._read_ledger_full()
            trim = full.setdefault("trim", {})
            heads = {int(k): int(v) for k, v in full["offsets"].items()}
            parts = [
                p
                for p in sorted(heads)
                if (partitions is None or p in partitions)
                and (self.scope is None or p in self.scope)
            ]
            floors: dict[int, int] = {}
            stats: dict[int, list] = {}
            for p in parts:
                cur = int(trim.get(str(p), 0))
                stats[p] = self._file_stats(p)
                if before_offset is not None:
                    floor = max(cur, min(int(before_offset), heads[p]))
                else:
                    floor = cur
                    for lo, hi, max_ts, _path in stats[p]:
                        if lo > floor:
                            break  # hole above the floor: stop the walk
                        if max_ts is None or _ts_to_utc(max_ts) >= cut_ts:
                            break
                        floor = max(floor, hi + 1)
                floors[p] = floor
            self._cursor_fence(
                floors,
                force,
                {int(k): int(v) for k, v in trim.items()},
            )
            dirty = False
            for p, floor in floors.items():
                if floor > int(trim.get(str(p), 0)):
                    trim[str(p)] = floor
                    dirty = True
            if dirty:
                self._write_ledger_full(full)
            # deletion AFTER the atomic floor commit: a kill anywhere
            # here leaves reads consistent (floor filter) and the next
            # trim call finishes the job
            for p, floor in floors.items():
                self._drop_below(p, floor, stats[p])
            return floors

    def _drop_below(self, p: int, floor: int, stats: list) -> None:
        """Physically retire storage wholly below ``floor`` (called
        under the ledger flock, floors already committed)."""
        for _lo, hi, _ts, path in stats:
            if hi < floor and path is not None:
                try:
                    os.unlink(path)
                except FileNotFoundError:
                    pass

    # -- read path ---------------------------------------------------------
    def _has_data(self) -> bool:
        if not os.path.isdir(self.data_path):
            return False
        for _root, _dirs, files in os.walk(self.data_path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def read(self, partitions: list[int] | None = None) -> DataFrame:
        """Batch read of the whole topic (optionally a partition subset).

        Partition-subset consumers (C5, /root/reference/src/MofkaTopicHandle.cpp:54-65)
        become a filter on the Hive-style `partition=` directory column —
        Catalyst prunes unselected directories at planning time, so no
        bytes of other partitions are ever read.
        """
        # First read on a fresh log after a crash must not choke on a
        # torn file a killed writer left behind: run the same
        # consistency check the first append runs (quarantines torn
        # parquet, repairs a stale ledger). Once per EventLog instance.
        if not self._verified:
            with self._ledger_lock():
                self._ensure_consistent()
        if not self._has_data():
            df = self.spark.createDataFrame([], EVENT_SCHEMA)
            if partitions is not None:
                df = df.filter(F.col("partition").isin(partitions))
            return df
        df = (
            self.spark.read.schema(EVENT_SCHEMA)
            .option("basePath", self.data_path)
            .parquet(self.data_path)
            .withColumn("topic", F.coalesce("topic", F.lit(self.topic)))
        )
        if partitions is not None:
            df = df.filter(F.col("partition").isin(partitions))
        return self.apply_trim_filter(df)

    def apply_trim_filter(self, df: DataFrame) -> DataFrame:
        """Hide rows below each partition's trim floor (retired by
        retention). Whole files under the floor are already deleted;
        this filter hides the below-floor rows of straddling files.
        Written as a disjunction of per-partition (partition, offset)
        clauses so it reaches the parquet scan (row-group min/max
        pruning) — O(#trimmed-partitions) plan literals. Shared by the
        batch read and the native streaming fast path (client
        read_stream)."""
        trims = self.trim_floors()
        pred = None
        for p, floor in sorted(trims.items()):
            if floor <= 0:
                continue
            clause = (F.col("partition") == p) & (F.col("offset") < floor)
            pred = clause if pred is None else (pred | clause)
        if pred is not None:
            df = df.filter(~pred)
        return df

    def read_range(
        self,
        cursors: dict[int, int],
        max_events_per_partition: int | None = None,
        partitions: list[int] | None = None,
    ) -> DataFrame:
        """L3 feedConsumer: events with offset >= cursor[partition].

        ``max_events_per_partition`` caps the feed batch size (consumer
        batch_size, /root/reference/src/ProviderImpl.hpp:162-201).
        """
        df = self.read(partitions)
        if cursors:
            cur_map = F.create_map(
                *[F.lit(x) for kv in cursors.items() for x in kv]
            )
            df = df.filter(
                F.col("offset") >= F.coalesce(cur_map[F.col("partition")], F.lit(0))
            )
        if max_events_per_partition is not None:
            w = Window.partitionBy("partition").orderBy("offset")
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= max_events_per_partition)
                .drop("_rn")
            )
        return df

    def read_tail(
        self,
        cursors: dict[int, int],
        batch_size: int,
        partitions: list[int] | None = None,
    ) -> DataFrame:
        """One consumer feed batch with offset-RANGE pushdown.

        Offsets are dense per partition, so the next ``batch_size``
        events from cursor ``c`` are exactly offsets ``[c, c+batch_size)``
        — a pure range predicate, no row_number window. The predicate
        reaches the Parquet scan (row-group min/max pruning), so a pull
        over a huge topic reads only the tail files, the same shape
        ``streaming/source.py`` uses for trigger batches. This is the
        pull-API path (L3 feedConsumer,
        /root/reference/src/ProviderImpl.hpp:162-201); a repeated pull
        loop is O(batch) per call instead of O(remaining-log).
        """
        heads = self.next_offsets()
        floors = self.trim_floors()
        parts = [p for p in sorted(heads) if partitions is None or p in partitions]
        if not parts:
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        pred = None
        for p in parts:
            # clamp UP to the trim floor: offsets below it are retired
            c = max(cursors.get(p, 0), floors.get(p, 0))
            # clamp to the committed readable head: rows published above
            # a still-in-flight lower reservation must stay invisible
            # until the hole fills (see _commit_range)
            clause = (
                (F.col("partition") == p)
                & (F.col("offset") >= c)
                & (F.col("offset") < min(c + batch_size, heads[p]))
            )
            pred = clause if pred is None else (pred | clause)
        return self.read(parts).filter(pred)

    def fetch_rows(
        self,
        cursors: dict[int, int],
        batch_size: int,
        partitions: list[int] | None = None,
    ) -> list[tuple[int, int, str | None, bytes | None]]:
        """Driver-side feed batch: (partition, offset, metadata, data)
        tuples for offsets [cursor, cursor+batch_size) per partition.

        The pull API materializes rows into client memory by definition,
        so a Spark job per feed round buys nothing but scheduler
        overhead — this reads with pyarrow only the files the file index
        (_file_stats) says overlap [c, hi), so a round costs O(batch),
        not O(files in the partition), like the reference feedConsumer's
        per-partition index. Spark remains the path for everything that
        STAYS distributed (dataframe(), read_range, analytics).

        Every offset below the readable head is written, so each
        partition must read back exactly [c, hi): a gap (missing file)
        or duplicates (a pull racing compact_files' swap) raise
        MofkaError rather than move the consumer past them."""
        import pyarrow.dataset as pads

        # first use on a fresh post-crash handle: quarantine torn files
        # / repair a stale ledger, same as read() — the pull path's
        # arrow scan chokes on a killed writer's torn remnant otherwise
        if not self._verified:
            with self._ledger_lock():
                self._ensure_consistent()
        heads = self.next_offsets()
        floors = self.trim_floors()
        parts = [p for p in sorted(heads) if partitions is None or p in partitions]
        out: list[tuple[int, int, str | None, bytes | None]] = []
        for p in parts:
            # clamp UP to the trim floor: offsets below it are retired
            c = max(int(cursors.get(p, 0)), floors.get(p, 0))
            # upper bound is the committed readable head, not c+batch:
            # rows published above an in-flight lower reservation stay
            # invisible until the hole fills (see _commit_range)
            hi = min(c + batch_size, heads[p])
            if hi <= c:
                continue
            # write-through cache first (reference feedConsumer calls
            # coversRange before readMetadataFromDisk); full-range
            # coverage only — partial coverage falls back to the scan
            if self.write_cache is not None:
                cached = self.write_cache.get_range(p, c, hi)
                if cached is not None:
                    out.extend((p, off, m, d) for off, m, d in cached)
                    continue
            paths = [
                path for lo, mx, _ts, path in self._file_stats(p)
                if lo < hi and mx >= c
            ]
            offs, metas, datas = [], [], []
            if paths:
                offs, metas, datas = pads.dataset(paths, format="parquet").to_table(
                    columns=["offset", "metadata", "data"],
                    filter=(pads.field("offset") >= c) & (pads.field("offset") < hi),
                ).sort_by("offset").to_pydict().values()
            if offs != list(range(c, hi)):
                raise MofkaError(
                    f"partition {p}: read {len(offs)} rows for committed "
                    f"offsets [{c}, {hi}): a file is missing or duplicated"
                )
            out.extend(zip([p] * len(offs), offs, metas, datas))
        return out

    # -- cursors (L4) ------------------------------------------------------
    def _cursor_path(self, consumer: str) -> str:
        return os.path.join(self.cursors_dir, f"{consumer}.json")

    def load_cursors(self, consumer: str) -> dict[int, int]:
        try:
            with open(self._cursor_path(consumer)) as f:
                return {int(k): v for k, v in json.load(f).items()}
        except FileNotFoundError:
            return {}

    def acknowledge(self, consumer: str, partition: int, offset: int) -> None:
        """L4: set cursor to offset+1
        (/root/reference/src/DefaultPartitionManager.cpp:506-514)."""
        from mofka_spark.registry import _atomic_write

        os.makedirs(self.cursors_dir, exist_ok=True)
        cur = self.load_cursors(consumer)
        cur[partition] = max(cur.get(partition, 0), offset + 1)
        _atomic_write(
            self._cursor_path(consumer),
            json.dumps({str(k): v for k, v in cur.items()}, sort_keys=True),
        )

    # -- stats -------------------------------------------------------------
    def partition_stats(self) -> DataFrame:
        """count/min/max offset per partition + density check."""
        return (
            self.read()
            .groupBy("partition")
            .agg(
                F.count("*").alias("n_events"),
                F.min("offset").alias("min_offset"),
                F.max("offset").alias("max_offset"),
            )
            .withColumn(
                "dense",
                (F.col("max_offset") - F.col("min_offset") + 1) == F.col("n_events"),
            )
        )


class MemoryEventLog(EventLog):
    """S7 memory partition backend: events live in process memory, the
    same interface as the file-backed log.

    The reference registers three partition-manager backends and runs
    its whole conformance suite against each
    (/root/reference/src/MemoryPartitionManager.cpp:13,
    /root/reference/tests/CMakeLists.txt:25-76); this is the Spark
    analog of the "memory" one — a fast sink/read mode for tests and
    ephemeral topics. The ledger/cursor files still live on disk (they
    are tiny and shared with the file path's code); only the event rows
    stay in memory, so the data plane does no file IO at all — UNTIL a
    stream attaches: read_stream() calls enable_stream_spill(), which
    snapshots the store to the Parquet log and switches appends to
    write-through, because the streaming source's executor-side arrow
    scan runs in other processes that cannot see this one's memory
    (the reference's memory backend serves consumers over RPC from the
    owning process; Spark's equivalent of that hand-off is the shared
    log). dataframe() and the pull API stay memory-served either way.
    """

    # class-level store: topic_path -> {partition: [row tuples]}
    _STORES: dict[str, dict[int, list[tuple]]] = {}

    def __init__(self, *args, **kwargs):
        # the memory backend is already memory-served end to end; the
        # write-through cache is a default(file)-partition feature (the
        # reference caches only in DefaultPartitionManager)
        kwargs["write_cache"] = {"enabled": False}
        super().__init__(*args, **kwargs)

    @property
    def _store(self) -> dict[int, list[tuple]]:
        return self._STORES.setdefault(self.topic_path, {})

    # -- streaming spill ----------------------------------------------------
    @property
    def _spill_flag(self) -> str:
        return os.path.join(self.topic_path, "_stream_spill")

    def _spill_enabled(self) -> bool:
        return os.path.exists(self._spill_flag)

    def _my_partitions(self, candidates) -> list[int]:
        return sorted(
            p for p in candidates if self.scope is None or p in self.scope
        )

    def _spill_store(self) -> None:
        """Write every owned partition's current rows to the Parquet log
        (offsets preserved; same file schema as the producer fast path)."""
        import datetime

        now = datetime.datetime.now(datetime.timezone.utc)
        for p in self._my_partitions(self._store):
            rows = self._store[p]
            if rows:
                items = [(m, d) for _t, _p, _o, m, d, _ts in rows]
                # base = the first live offset (0 unless trimmed)
                _write_rows_parquet(
                    self.data_path, self.topic, p, rows[0][2], items, now
                )

    def enable_stream_spill(self) -> None:
        """Attach point for the streaming source: snapshot the store to
        the Parquet log, then leave a flag so every later append writes
        through. Under the ledger lock, so no append can slip between
        the snapshot and the flag (it would be lost to the stream).
        Idempotent: once the flag exists, all rows are already on disk."""
        with self._ledger_lock():
            if self._spill_enabled():
                return
            self._spill_store()
            with open(self._spill_flag, "w") as f:
                f.write("")

    def _resync_spill(self) -> None:
        """After a store reset (process restart), on-disk spill files
        describe rows that no longer exist; remove them and re-spill the
        current store so the streaming view matches memory exactly."""
        import shutil

        if os.path.isdir(self.data_path):
            for entry in os.listdir(self.data_path):
                if not entry.startswith("partition="):
                    continue
                p = int(entry.split("=", 1)[1])
                if self.scope is not None and p not in self.scope:
                    continue
                shutil.rmtree(
                    os.path.join(self.data_path, entry), ignore_errors=True
                )
        if self._spill_enabled():
            self._spill_store()

    def _footer_max_offsets(self) -> dict[int, int]:
        # last offset + 1, not len(rows): after a trim the store no
        # longer starts at offset 0
        return {
            p: rows[-1][2] + 1
            for p, rows in self._store.items()
            if rows and (self.scope is None or p in self.scope)
        }

    def _file_stats(self, p: int) -> list:
        # one pseudo-"file" per row: the memory backend has no file
        # granularity, so before_ts trims are row-exact (path=None —
        # physical removal happens in _drop_below on the store)
        return [
            (off, off, _ts_to_utc(ts), None)
            for _t, _p, off, _m, _d, ts in self._store.get(p, [])
        ]

    def _drop_below(self, p: int, floor: int, stats: list) -> None:
        rows = self._store.get(p)
        if not rows:
            return
        kept = [r for r in rows if r[2] >= floor]
        if len(kept) != len(rows):
            self._store[p] = kept
            if self._spill_enabled():
                # the write-through spill mirrors the store
                self._resync_spill()

    def _has_data(self) -> bool:
        return any(
            rows
            for p, rows in self._store.items()
            if self.scope is None or p in self.scope
        )

    def _ensure_consistent(self) -> None:
        # memory data does not survive a process restart, but the ledger
        # file does: resync it to the store EXACTLY (down as well as up),
        # so a fresh process starts the topic empty at offset 0 — the
        # reference's memory backend loses its log on restart too.
        if self._verified:
            return
        self._verified = True
        full = self._read_ledger_full()
        actual = {}
        for p, rows in self._store.items():
            if rows:
                actual[str(p)] = rows[-1][2] + 1
            elif str(p) in full.get("trim", {}):
                # fully-trimmed LIVE partition (store key present but
                # emptied by trim, not a process restart): the next
                # offset is the trim floor — do not reset to 0
                actual[str(p)] = int(full["trim"][str(p)])
        current = full["offsets"]
        if self.scope is not None:
            actual = {k: v for k, v in actual.items() if int(k) in self.scope}
            current = {k: v for k, v in current.items() if int(k) in self.scope}
        if current != actual:
            if self.scope is None:
                full["offsets"] = actual
            else:
                full["offsets"] = {
                    k: v
                    for k, v in full["offsets"].items()
                    if int(k) not in self.scope
                }
                full["offsets"].update(actual)
            # the store was reset (process restart): committed-epoch
            # markers refer to data that no longer exists, and keeping
            # them would make a replayed epoch skip itself as "already
            # committed" — permanently losing the replay's rows
            full["txns"] = {}
            # trim floors are equally stale — the memory topic restarts
            # empty at offset 0, like the reference's memory backend
            if self.scope is None:
                full["trim"] = {}
            else:
                full["trim"] = {
                    k: v
                    for k, v in full.get("trim", {}).items()
                    if int(k) not in self.scope
                }
            self._write_ledger_full(full)
            # spill files (write-through streaming) are equally stale
            self._resync_spill()

    def append_rows(
        self,
        rows: list[tuple[int, int, str, bytes | None]],
        txn: tuple[str, int] | None = None,
    ) -> dict[int, tuple[int, int]]:
        import datetime

        if not rows:
            return {}
        by_part: dict[int, list] = {}
        for p, seq, meta, data in sorted(rows, key=lambda r: (r[0], r[1])):
            by_part.setdefault(p, []).append((meta, data))
        with self._ledger_lock():
            self._ensure_consistent()
            full = self._read_ledger_full()
            if txn is not None and int(full["txns"].get(txn[0], -1)) >= txn[1]:
                return {}
            ledger = full["offsets"]
            now = datetime.datetime.now()
            spill = self._spill_enabled()
            acks = {}
            for p, items in by_part.items():
                base = ledger.get(str(p), 0)
                store = self._store.setdefault(p, [])
                for i, (meta, data) in enumerate(items):
                    store.append((self.topic, p, base + i, meta, data, now))
                if spill:
                    # a stream is attached: write through to the Parquet
                    # log the source scans (same lock, so spill order ==
                    # store order == offset order)
                    import datetime as _dt

                    _write_rows_parquet(
                        self.data_path, self.topic, p, base, items,
                        _dt.datetime.now(_dt.timezone.utc),
                    )
                ledger[str(p)] = base + len(items)
                acks[p] = (base, len(items))
            if txn is not None:
                full["txns"][txn[0]] = txn[1]
            self._write_ledger_full(full)
            return acks

    #: append_batch on the MEMORY backend collects the batch to the
    #: driver — that IS the backend's contract (test/dev partitions,
    #: reference memory partition manager), but a MixedEventLog routes
    #: real partitions through it, so a misconfigured mixed topic could
    #: silently funnel bulk ingest into a driver OOM. Fail loudly above
    #: this row cap instead (override per instance to raise it).
    max_append_batch_rows: int = 1_000_000

    def append_batch(
        self, batch: DataFrame, txn: tuple[str, int] | None = None
    ) -> dict[int, tuple[int, int]]:
        cap = int(self.max_append_batch_rows)
        rows = [
            (r["partition"], r["seq"], r["metadata"], r["data"])
            for r in batch.select("partition", "seq", "metadata", "data")
            .limit(cap + 1)  # bound the collect BEFORE it happens
            .collect()
        ]
        if len(rows) > cap:
            raise MofkaError(
                f"memory backend append_batch exceeds "
                f"max_append_batch_rows={cap}: the memory partition "
                f"backend collects batches to the driver and is sized "
                f"for test/dev partitions — route bulk ingest to file "
                f"partitions or raise max_append_batch_rows explicitly"
            )
        return self.append_rows(rows, txn)

    def read(self, partitions: list[int] | None = None) -> DataFrame:
        rows = [
            r
            for p, items in sorted(self._store.items())
            for r in items
            if partitions is None or p in partitions
        ]
        return self.spark.createDataFrame(rows, EVENT_SCHEMA)

    def fetch_rows(
        self,
        cursors: dict[int, int],
        batch_size: int,
        partitions: list[int] | None = None,
    ) -> list[tuple[int, int, str | None, bytes | None]]:
        out = []
        floors = self.trim_floors()
        for p, items in sorted(self._store.items()):
            if partitions is not None and p not in partitions:
                continue
            # clamp UP to the trim floor: offsets below it are retired
            c = max(int(cursors.get(p, 0)), floors.get(p, 0))
            for _topic, part, off, meta, data, _ts in items:
                if c <= off < c + batch_size:
                    out.append((part, off, meta, data))
        return out

    def destroy(self) -> None:
        self._STORES.pop(self.topic_path, None)


class MixedEventLog(EventLog):
    """S5 per-partition backend mix: one topic whose partitions split
    across the file and memory backends, the Spark analog of the
    reference attaching a different partition-manager type per
    partition (/root/reference/src/MofkaDriver.cpp:510-643; its
    conformance suite runs one topic with memory+default+legacy
    partitions side by side, tests/CMakeLists.txt:25-76).

    Composition: one scoped sub-log per backend, sharing the topic's
    ledger/cursor files. Appends route rows by partition; reads union
    the sub-logs. The inherited ledger/cursor methods (next_offsets,
    acknowledge, committed_epoch, ...) are partition-keyed files and
    need no routing.
    """

    def __init__(
        self,
        spark: SparkSession,
        topic_path: str,
        topic: str,
        backends: dict[int, str],
        write_cache: dict | None = None,
    ):
        super().__init__(spark, topic_path, topic, write_cache=write_cache)
        # the cache lives on the file SUB-log (which owns the actual
        # append/fetch paths); the router itself holds none
        self.write_cache = None
        self.backends = dict(backends)
        file_scope = {p for p, b in backends.items() if b != "memory"}
        mem_scope = {p for p, b in backends.items() if b == "memory"}
        self._subs: list[EventLog] = []
        if file_scope:
            # the file sub-log owns the write-through cache (the
            # reference's cache lives on DEFAULT partition managers
            # only; memory partitions are already memory-served)
            self._subs.append(EventLog(
                spark, topic_path, topic, scope=file_scope,
                write_cache=write_cache,
            ))
        if mem_scope:
            self._subs.append(
                MemoryEventLog(spark, topic_path, topic, scope=mem_scope)
            )

    def _sub_for(self, partition: int) -> EventLog:
        for sub in self._subs:
            if sub.scope is not None and partition in sub.scope:
                return sub
        # partitions added after this handle was built default to file
        return self._subs[0]

    def _refresh_scopes(self, extra: set[int] | None = None) -> None:
        """Adopt partitions this handle has never heard of (added via
        add_partitions after the handle was built, or appended by
        another process) into the DEFAULT (first = file) sub-log's
        scope, matching _sub_for's routing. Without this, appends to
        such partitions were acked but invisible to read()/fetch_rows()
        until the handle was reopened (scope-built selections skipped
        them). Sources: the shared ledger's partition keys + the
        caller's just-acked set. O(#partitions) metadata."""
        known = {int(k) for k in self._read_ledger()}
        if extra:
            known |= set(extra)
        scoped: set[int] = set()
        for sub in self._subs:
            scoped |= sub.scope
        unscoped = known - scoped
        if unscoped:
            self._subs[0].scope |= unscoped
            for p in unscoped:
                self.backends.setdefault(p, "default")

    def _footer_max_offsets(self) -> dict[int, int]:
        self._refresh_scopes()
        out: dict[int, int] = {}
        for sub in self._subs:
            out.update(sub._footer_max_offsets())
        return out

    def _ensure_consistent(self) -> None:
        for sub in self._subs:
            sub._ensure_consistent()

    def enable_stream_spill(self) -> None:
        for sub in self._subs:
            sub.enable_stream_spill()

    # -- txn helper: epoch markers commit at THIS level because one
    # epoch's rows may split across both sub-logs (delegating the txn
    # would let the first sub-log's commit make the second skip).
    def _txn_precheck(self, txn) -> bool:
        return txn is not None and self.committed_epoch(txn[0]) >= txn[1]

    def _txn_commit(self, txn) -> None:
        if txn is None:
            return
        with self._ledger_lock():
            full = self._read_ledger_full()
            full["txns"][txn[0]] = max(int(full["txns"].get(txn[0], -1)), txn[1])
            self._write_ledger_full(full)

    def append_rows(self, rows, txn=None):
        if self._txn_precheck(txn):
            return {}
        self._refresh_scopes()
        by_sub: dict[int, list] = {}
        for row in rows:
            by_sub.setdefault(id(self._sub_for(row[0])), []).append(row)
        acks: dict[int, tuple[int, int]] = {}
        for sub in self._subs:
            chunk = by_sub.get(id(sub))
            if chunk:
                acks.update(sub.append_rows(chunk, txn=None))
        self._refresh_scopes(extra=set(acks))
        self._txn_commit(txn)
        return acks

    def append_batch(self, batch: DataFrame, txn=None):
        if self._txn_precheck(txn):
            return {}
        self._refresh_scopes()
        batch = batch.persist()
        try:
            acks: dict[int, tuple[int, int]] = {}
            # the default (file) sub takes everything NOT owned by the
            # other subs — including partitions added after this handle
            # was built (same routing as _sub_for); an isin(own-scope)
            # filter here used to silently drop such rows with no ack
            others: set[int] = set()
            for sub in self._subs[1:]:
                others |= sub.scope
            for i, sub in enumerate(self._subs):
                if i == 0:
                    part = (
                        batch.filter(~F.col("partition").isin(sorted(others)))
                        if others
                        else batch
                    )
                else:
                    part = batch.filter(F.col("partition").isin(sorted(sub.scope)))
                acks.update(sub.append_batch(part, txn=None))
            self._refresh_scopes(extra=set(acks))
            self._txn_commit(txn)
            return acks
        finally:
            batch.unpersist()

    def read(self, partitions: list[int] | None = None) -> DataFrame:
        from functools import reduce

        self._refresh_scopes()
        frames = []
        for sub in self._subs:
            sel = (
                sorted(sub.scope)
                if partitions is None
                else sorted(set(partitions) & sub.scope)
            )
            if sel:
                frames.append(sub.read(sel))
        if not frames:
            return self.spark.createDataFrame([], EVENT_SCHEMA)
        return reduce(lambda a, b: a.unionByName(b), frames)

    def fetch_rows(self, cursors, batch_size, partitions=None):
        self._refresh_scopes()
        out = []
        for sub in self._subs:
            sel = (
                sorted(sub.scope)
                if partitions is None
                else sorted(set(partitions) & sub.scope)
            )
            if sel:
                out.extend(sub.fetch_rows(cursors, batch_size, sel))
        return out

    def recover_ledger(self) -> dict[int, int]:
        out: dict[int, int] = {}
        for sub in self._subs:
            out.update(sub.recover_ledger())
        return out

    def trim(
        self,
        before_offset: int | None = None,
        before_ts=None,
        partitions: list[int] | None = None,
        force: bool = False,
    ) -> dict[int, int]:
        self._refresh_scopes()
        out: dict[int, int] = {}
        for sub in self._subs:
            sel = sorted(
                sub.scope
                if partitions is None
                else set(partitions) & sub.scope
            )
            if sel:
                out.update(
                    sub.trim(
                        before_offset=before_offset,
                        before_ts=before_ts,
                        partitions=sel,
                        force=force,
                    )
                )
        return out

    def destroy(self) -> None:
        MemoryEventLog._STORES.pop(self.topic_path, None)


def make_ingest_df(
    spark: SparkSession, rows: list[dict[str, Any]]
) -> DataFrame:
    """Build an INGEST_SCHEMA DataFrame from python rows
    (partition, seq, metadata, data)."""
    return spark.createDataFrame(
        [
            (r["partition"], r["seq"], r.get("metadata"), r.get("data"))
            for r in rows
        ],
        INGEST_SCHEMA,
    )
