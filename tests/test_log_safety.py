"""Ledger safety + ingest-path tests: crash recovery on open, epoch
idempotency, validator reject observability, key-hash null handling,
pull-path offset pushdown."""

import io
import json
import os
from contextlib import redirect_stdout

from pyspark.sql import functions as F


def _push_n(topic, n, start=0):
    with topic.producer("p", batch_size=None) as prod:
        for i in range(start, start + n):
            prod.push({"i": i}, data=bytes([i % 256]))


class TestLedgerRecovery:
    def test_stale_ledger_repaired_on_append(self, driver):
        topic = driver.create_topic("t-stale", num_partitions=2)
        _push_n(topic, 10)
        log = topic.log
        before = log.next_offsets()
        assert sum(before.values()) == 10
        # simulate a crash between Parquet commit and ledger rename:
        # roll the ledger back so it under-reports
        with open(log.ledger_path) as f:
            doc = json.load(f)
        doc["offsets"] = {k: 0 for k in doc["offsets"]}
        with open(log.ledger_path, "w") as f:
            json.dump(doc, f)
        # a fresh EventLog (fresh process) must repair before appending
        fresh = driver.open_topic("t-stale")
        _push_n(fresh, 4)
        stats = fresh.log.partition_stats().collect()
        assert all(r["dense"] for r in stats)
        assert sum(r["n_events"] for r in stats) == 14

    def test_v1_flat_ledger_read(self, driver, tmp_path):
        topic = driver.create_topic("t-v1", num_partitions=1)
        _push_n(topic, 3)
        # rewrite ledger in the old flat format
        log = topic.log
        offsets = log.next_offsets()
        with open(log.ledger_path, "w") as f:
            json.dump({str(k): v for k, v in offsets.items()}, f)
        fresh = driver.open_topic("t-v1")
        assert fresh.log.next_offsets() == offsets
        _push_n(fresh, 2)
        assert sum(fresh.log.next_offsets().values()) == 5

    def test_lock_file_created(self, driver):
        topic = driver.create_topic("t-lock", num_partitions=1)
        _push_n(topic, 1)
        assert os.path.exists(topic.log.lock_path)


class TestEpochIdempotency:
    def test_replayed_epoch_is_noop(self, spark, driver):
        from mofka_spark.streaming.sink import topic_sink

        driver.create_topic("t-epoch", num_partitions=2)
        sink = topic_sink(driver, "t-epoch", sink_id="q1")
        batch = spark.createDataFrame(
            [(json.dumps({"i": i}),) for i in range(8)], ["metadata"]
        )
        sink(batch, 0)
        sink(batch, 1)
        sink(batch, 1)  # replay of epoch 1 (restart recovery)
        sink(batch, 0)  # stale replay
        topic = driver.open_topic("t-epoch")
        assert topic.dataframe().count() == 16
        assert topic.log.committed_epoch("q1") == 1
        # a different sink id is independent
        assert topic.log.committed_epoch("other") == -1

    def test_txn_commits_with_offsets(self, spark, driver):
        topic = driver.create_topic("t-txn", num_partitions=1)
        prod = topic.producer("bulk")
        df = spark.createDataFrame([(json.dumps({"a": 1}),)], ["metadata"])
        prod.push_dataframe(df, txn=("s", 5))
        with open(topic.log.ledger_path) as f:
            doc = json.load(f)
        assert doc["txns"]["s"] == 5
        # same-epoch retry appends nothing
        acks = prod.push_dataframe(df, txn=("s", 5))
        assert acks == {}
        assert topic.dataframe().count() == 1


class TestValidationObservability:
    def test_rejected_count_exposed(self, spark, driver):
        topic = driver.create_topic(
            "t-rej",
            num_partitions=1,
            validator={
                "type": "schema",
                "schema": {"properties": {"k": {"type": "integer"}}, "required": ["k"]},
            },
        )
        prod = topic.producer("bulk")
        rows = [(json.dumps({"k": i}),) for i in range(5)]
        rows += [(json.dumps({"nope": 1}),), (json.dumps({"k": "bad"}),)]
        df = spark.createDataFrame(rows, ["metadata"])
        prod.push_dataframe(df)
        assert prod.last_rejected_count == 2
        assert topic.dataframe().count() == 5


class TestKeyHashSelector:
    def test_missing_field_matches_python_path(self, spark, driver):
        from mofka_spark.functions.selectors import KeyHashSelector

        sel = KeyHashSelector("user")
        sel.set_partitions(4)
        py_part = sel.select({"other": 1})  # field missing -> hash "null"
        df = spark.createDataFrame([(json.dumps({"other": 1}),)], ["metadata"])
        col_part = df.select(sel.to_column("metadata").alias("p")).collect()[0]["p"]
        assert col_part == py_part

    def test_bulk_ingest_with_missing_key_does_not_crash(self, spark, driver):
        topic = driver.create_topic(
            "t-keyhash",
            num_partitions=4,
            selector={"type": "key_hash", "field": "user"},
        )
        prod = topic.producer("bulk")
        df = spark.createDataFrame(
            [(json.dumps({"user": "alice"}),), (json.dumps({"x": 1}),)], ["metadata"]
        )
        acks = prod.push_dataframe(df)
        assert sum(n for _, n in acks.values()) == 2

    def test_nested_value_parity(self, spark):
        from mofka_spark.functions.selectors import KeyHashSelector

        sel = KeyHashSelector("obj")
        sel.set_partitions(7)
        meta = {"obj": {"a": 1, "b": [1, 2]}}
        py_part = sel.select(meta)
        df = spark.createDataFrame([(json.dumps(meta),)], ["metadata"])
        col_part = df.select(sel.to_column("metadata").alias("p")).collect()[0]["p"]
        assert col_part == py_part


class TestPullPushdown:
    def test_read_tail_has_no_window(self, driver):
        topic = driver.create_topic("t-tail", num_partitions=2)
        _push_n(topic, 20)
        df = topic.log.read_tail({0: 3, 1: 0}, batch_size=4)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "Window" not in plan
        # the offset range predicate reaches the parquet scan
        assert "PushedFilters" in plan and "offset" in plan

    def test_read_tail_rows(self, driver):
        topic = driver.create_topic("t-tail2", num_partitions=2)
        _push_n(topic, 20)  # 10 per partition
        rows = topic.log.read_tail({0: 8, 1: 8}, batch_size=5).collect()
        # dense offsets: exactly [8, 10) remain per partition
        got = sorted((r["partition"], r["offset"]) for r in rows)
        assert got == [(0, 8), (0, 9), (1, 8), (1, 9)]

    def test_pull_loop_resumes(self, driver):
        topic = driver.create_topic("t-pull", num_partitions=2)
        _push_n(topic, 12)
        topic.mark_as_complete()
        consumer = topic.consumer("c", batch_size=5)
        seen = [ev for ev in consumer]
        assert len(seen) == 12
        per_part = {}
        for ev in seen:
            per_part.setdefault(ev.partition, []).append(ev.offset)
        for offs in per_part.values():
            assert offs == sorted(offs)


class TestPullFileIndex:
    """The pull path scans only the files its offset range touches, and
    a feed round returns exactly its committed range or raises."""

    def test_missing_committed_file_raises(self, driver):
        import pyarrow.parquet as pq
        import pytest

        from mofka_spark.errors import MofkaError

        topic = driver.create_topic(
            "t-gap", num_partitions=1, write_cache={"enabled": False}
        )
        for i in range(6):  # one single-event file per flush
            _push_n(topic, 1, start=i)
        pdir = os.path.join(topic.log.data_path, "partition=0")
        holding_2 = [
            fn for fn in os.listdir(pdir)
            if fn.endswith(".parquet")
            and pq.read_table(os.path.join(pdir, fn))["offset"].to_pylist() == [2]
        ]
        assert len(holding_2) == 1
        os.unlink(os.path.join(pdir, holding_2[0]))
        # the consumer must not jump over offset 2
        with pytest.raises(MofkaError):
            topic.consumer("c", batch_size=8).pull()

    def test_file_still_being_written_is_skipped(self, tmp_path):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from mofka_spark.log import EventLog

        log = EventLog(None, str(tmp_path / "t"), "t-inflight",
                       write_cache={"enabled": False})
        for i in range(3):
            log.append_rows([(0, 0, json.dumps({"i": i}), None)])
        assert len(log.fetch_rows({0: 0}, 10)) == 3  # handle verified
        # a fast-path writer holding the flock has written the header of
        # its file and not yet the footer
        inflight = os.path.join(
            log.data_path, "partition=0", f"part-{uuid.uuid4().hex}.parquet"
        )
        with open(inflight, "wb") as f:
            f.write(b"PAR1" + b"\0" * 64)
        got = log.fetch_rows({0: 0}, 10)
        assert [r[1] for r in got] == [0, 1, 2]
        assert os.path.exists(inflight)  # not quarantined
        # the write completes and commits: the next round reads it
        pq.write_table(pa.table({
            "topic": pa.array(["t-inflight"], pa.string()),
            "offset": pa.array([3], pa.int64()),
            "metadata": pa.array([json.dumps({"i": 3})], pa.string()),
            "data": pa.array([None], pa.binary()),
        }), inflight)
        with log._ledger_lock():
            full = log._read_ledger_full()
            log._commit_range(full, 0, 3, 1)
            log._write_ledger_full(full)
        assert [r[1] for r in log.fetch_rows({0: 0}, 10)] == [0, 1, 2, 3]

    def test_pull_cost_does_not_grow_with_file_count(self, tmp_path, monkeypatch):
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        from mofka_spark.log import EventLog

        root = str(tmp_path / "t")
        writer = EventLog(None, root, "t-files")
        for i in range(200):  # 200 single-event files
            writer.append_rows([(0, 0, json.dumps({"i": i}), None)])
        footers, scans = [], []
        real_file, real_dataset = pq.ParquetFile, pads.dataset

        def spy_file(path, *a, **kw):
            footers.append(path)
            return real_file(path, *a, **kw)

        def spy_dataset(source, *a, **kw):
            scans.append(source)
            return real_dataset(source, *a, **kw)

        # log.py imports both modules inside its functions, so the
        # module-level patches are what it sees
        monkeypatch.setattr(pq, "ParquetFile", spy_file)
        monkeypatch.setattr(pads, "dataset", spy_dataset)
        batch = 4
        log = EventLog(None, root, "t-files", write_cache={"enabled": False})
        cur, got = 0, []
        while rows := log.fetch_rows({0: cur}, batch):
            got += [off for _p, off, _m, _d in rows]
            cur = got[-1] + 1
        assert got == list(range(200))
        # each footer read once across the drain, whatever the round count
        assert len(footers) == len(set(footers)) == 200
        assert len(scans) == 200 // batch
        assert all(isinstance(s, list) and len(s) <= batch + 1 for s in scans)


class TestConcurrentProducers:
    def test_two_producers_interleaved_offsets_stay_dense(self, spark, tmp_path):
        """Two independent Driver instances (separate EventLog objects,
        separate ledger fds) push concurrently into the same topic: the
        flock-guarded offset assignment must keep every partition's
        offsets dense 0..n-1 with no duplicates."""
        import threading

        from mofka_spark.client import Driver

        root = str(tmp_path / "conc-root")
        d1 = Driver(spark, root)
        d2 = Driver(spark, root)
        t1 = d1.create_topic("conc", num_partitions=2)
        t2 = d2.open_topic("conc")

        errs = []

        def run(topic, tag):
            try:
                with topic.producer(tag, batch_size=5) as prod:
                    for i in range(20):
                        prod.push({"who": tag, "i": i}, b"")
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        th = [
            threading.Thread(target=run, args=(t1, "a")),
            threading.Thread(target=run, args=(t2, "b")),
        ]
        for x in th:
            x.start()
        for x in th:
            x.join(timeout=300)
        assert not errs, errs
        rows = t1.dataframe().select("partition", "offset").collect()
        assert len(rows) == 40
        by_part = {}
        for r in rows:
            by_part.setdefault(r.partition, []).append(r.offset)
        for p, offs in by_part.items():
            assert sorted(offs) == list(range(len(offs))), (p, sorted(offs)[:5])

    def test_concurrent_bulk_appends_overlap_and_stay_dense(self, spark, tmp_path):
        """Two bulk producers (append_batch path) on one topic: the
        reserve->write->commit protocol serializes only the O(#partitions)
        ledger updates, the Parquet jobs themselves overlap — and every
        partition still ends dense 0..n-1 with no double-assigned range
        (reference serializes per partition, not per topic:
        src/DefaultPartitionManager.cpp:399-405)."""
        import threading

        from mofka_spark.client import Driver

        root = str(tmp_path / "bulk-root")
        d1 = Driver(spark, root)
        d2 = Driver(spark, root)
        t1 = d1.create_topic("bulk", num_partitions=4)
        t2 = d2.open_topic("bulk")

        errs = []

        def run(topic, tag):
            try:
                prod = topic.producer(f"bulk-{tag}")
                for k in range(3):
                    df = spark.createDataFrame(
                        [(json.dumps({"who": tag, "k": k, "i": i}),) for i in range(50)],
                        ["metadata"],
                    )
                    prod.push_dataframe(df)
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        th = [
            threading.Thread(target=run, args=(t1, "a")),
            threading.Thread(target=run, args=(t2, "b")),
        ]
        for x in th:
            x.start()
        for x in th:
            x.join(timeout=600)
        assert not errs, errs
        rows = t1.dataframe().select("partition", "offset").collect()
        assert len(rows) == 300
        by_part = {}
        for r in rows:
            by_part.setdefault(r.partition, []).append(r.offset)
        for p, offs in by_part.items():
            assert sorted(offs) == list(range(len(offs))), (p, sorted(offs)[:5])
        # after all writers finish, reservations equal commits
        with open(t1.log.ledger_path) as f:
            doc = json.load(f)
        for p, nxt in doc["reserved"].items():
            assert doc["offsets"].get(p, 0) >= nxt

    def test_stale_reservation_never_collides_and_is_reclaimed(self, spark, tmp_path):
        """A writer that crashed after reserving but before writing
        leaves reserved > offsets with no data. New appends must skip
        the reserved hole (no offset collision); explicit
        recover_ledger() reclaims it."""
        from mofka_spark.client import Driver

        root = str(tmp_path / "stale-root")
        d = Driver(spark, root)
        topic = d.create_topic("stale", num_partitions=1)
        _push_n(topic, 4)
        log = topic.log
        # simulate the crashed reservation
        with open(log.ledger_path) as f:
            doc = json.load(f)
        doc.setdefault("reserved", {})["0"] = 10
        with open(log.ledger_path, "w") as f:
            json.dump(doc, f)
        fresh = d.open_topic("stale")
        _push_n(fresh, 2, start=100)
        offs = sorted(
            r["offset"]
            for r in fresh.dataframe().select("offset").collect()
        )
        # the new rows landed after the reserved hole, not inside it
        assert offs == [0, 1, 2, 3, 10, 11]
        recovered = fresh.log.recover_ledger()
        assert recovered == {0: 12}
        with open(log.ledger_path) as f:
            doc = json.load(f)
        assert doc["reserved"] == {}


def _write_range_direct(log, partition, start, n):
    """Simulate another bulk writer's phase-2 Parquet publish for
    offsets [start, start+n) (schema-identical to append_rows)."""
    import datetime
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    pdir = os.path.join(log.data_path, f"partition={partition}")
    os.makedirs(pdir, exist_ok=True)
    now = datetime.datetime.now(datetime.timezone.utc)
    tbl = pa.table(
        {
            "topic": pa.array([log.topic] * n, pa.string()),
            "offset": pa.array(range(start, start + n), pa.int64()),
            "metadata": pa.array(
                [json.dumps({"o": start + i}) for i in range(n)], pa.string()
            ),
            "data": pa.array([None] * n, pa.binary()),
            "ingest_ts": pa.array([now] * n, pa.timestamp("us", tz="UTC")),
        }
    )
    pq.write_table(tbl, os.path.join(pdir, f"part-{uuid.uuid4().hex}.parquet"))


class TestContiguousReadableHead:
    """The readable head ("offsets") may only advance through
    contiguously-written ranges: a fast writer committing above a slower
    writer's still-unwritten reservation must not make readers skip the
    slower writer's rows when they land (they would be below every
    cursor and silently lost)."""

    def test_fast_commit_parks_until_hole_fills(self, spark, tmp_path):
        from mofka_spark.client import Driver

        root = str(tmp_path / "hole-root")
        d = Driver(spark, root)
        topic = d.create_topic("hole", num_partitions=1)
        log = topic.log
        # writer A reserves [0, 3) (append_batch phase 1) and stalls
        with log._ledger_lock():
            full = log._read_ledger_full()
            full["reserved"]["0"] = 3
            full.setdefault("inflight", {})["0"] = [[0, 3]]
            log._write_ledger_full(full)
        # writer B (fast path, fully inside the lock) lands [3, 5)
        acks = log.append_rows(
            [(0, i, json.dumps({"i": i}), None) for i in range(2)]
        )
        assert acks == {0: (3, 2)}
        # B's rows are on disk but must stay INVISIBLE: head pinned at 0
        assert log.next_offsets().get(0, 0) == 0
        assert log.fetch_rows({0: 0}, 100) == []
        assert log.read_tail({0: 0}, 100).count() == 0
        # A's write lands (phase 2 publish + phase 3 commit)
        _write_range_direct(log, 0, 0, 3)
        with log._ledger_lock():
            full = log._read_ledger_full()
            log._commit_range(full, 0, 0, 3)
            log._write_ledger_full(full)
        # the hole filled: head jumps over BOTH ranges, rows read in order
        assert log.next_offsets() == {0: 5}
        got = log.fetch_rows({0: 0}, 100)
        assert [r[1] for r in got] == [0, 1, 2, 3, 4]
        # ledger bookkeeping fully drained
        with open(log.ledger_path) as f:
            doc = json.load(f)
        assert doc.get("inflight", {}) == {}
        assert doc.get("pending", {}) == {}

    def test_adoption_clamped_by_inflight_floor(self, spark, tmp_path):
        """_ensure_consistent (fresh-handle orphan adoption) must not
        advance the head past a live writer's in-flight reservation even
        when footer stats already show higher committed ranges."""
        from mofka_spark.client import Driver

        root = str(tmp_path / "clamp-root")
        d = Driver(spark, root)
        topic = d.create_topic("clamp", num_partitions=1)
        _push_n(topic, 2)  # offsets [0, 2) committed
        log = topic.log
        with log._ledger_lock():
            full = log._read_ledger_full()
            full["reserved"]["0"] = 5
            full.setdefault("inflight", {})["0"] = [[2, 5]]
            log._write_ledger_full(full)
        # a faster writer already published+committed [5, 7)
        _write_range_direct(log, 0, 5, 2)
        with log._ledger_lock():
            full = log._read_ledger_full()
            log._commit_range(full, 0, 5, 2)
            log._write_ledger_full(full)
        assert log.next_offsets()[0] == 2
        # fresh handle (fresh process): adoption sees footer max 7 but
        # must clamp at the in-flight floor 2
        fresh = Driver(spark, root).open_topic("clamp")
        fresh.log._ensure_consistent()
        assert fresh.log.next_offsets()[0] == 2
        # recovery reclaims the crashed reservation and adopts orphans
        assert fresh.log.recover_ledger() == {0: 7}

    def test_interleaved_bulk_writers_no_row_skipped(self, spark, tmp_path):
        """End-to-end: two bulk producers whose commits interleave;
        a reader polling next_offsets/fetch_rows during the run must see
        every offset exactly once, in order, with no skips."""
        import threading

        from mofka_spark.client import Driver

        root = str(tmp_path / "interleave-root")
        d1 = Driver(spark, root)
        d2 = Driver(spark, root)
        t1 = d1.create_topic("ilv", num_partitions=1)
        t2 = d2.open_topic("ilv")
        errs = []

        def run(topic, tag):
            try:
                prod = topic.producer(f"w-{tag}")
                for k in range(3):
                    df = spark.createDataFrame(
                        [
                            (json.dumps({"who": tag, "k": k, "i": i}),)
                            for i in range(20)
                        ],
                        ["metadata"],
                    )
                    prod.push_dataframe(df)
            except Exception as e:  # noqa: BLE001
                errs.append(e)

        th = [
            threading.Thread(target=run, args=(t1, "a")),
            threading.Thread(target=run, args=(t2, "b")),
        ]
        seen = []
        stop = threading.Event()

        def poll():
            cur = 0
            while not stop.is_set():
                rows = t1.log.fetch_rows({0: cur}, 1000)
                for _p, off, _m, _d in sorted(rows, key=lambda r: r[1]):
                    seen.append(off)
                    cur = off + 1

        reader = threading.Thread(target=poll)
        reader.start()
        for x in th:
            x.start()
        for x in th:
            x.join(timeout=600)
        # drain once more after writers finish, then stop
        import time

        time.sleep(0.2)
        stop.set()
        reader.join(timeout=60)
        assert not errs, errs
        # the polled reader saw a dense prefix — no skips, no dups
        assert seen == list(range(len(seen)))
        # and the final log is dense 0..119
        final = sorted(r[1] for r in t1.log.fetch_rows({0: 0}, 10000))
        assert final == list(range(120))
    def test_compact_preserves_rows_and_offsets(self, driver):
        topic = driver.create_topic("cmp-files", num_partitions=2)
        # 10 flushes -> 10 small files per partition
        for k in range(10):
            with topic.producer(f"p{k}", batch_size=None) as prod:
                for i in range(4):
                    prod.push({"k": k, "i": i}, bytes([k, i]))
        before = topic.dataframe().orderBy("partition", "offset").collect()
        import os

        pdir0 = os.path.join(topic.log.data_path, "partition=0")
        n_before = len([f for f in os.listdir(pdir0) if f.endswith(".parquet")])
        assert n_before >= 8
        res = topic.log.compact_files(min_files=4)
        n_after = len([f for f in os.listdir(pdir0) if f.endswith(".parquet")])
        assert n_after == 1
        assert res[0][0] == n_before and res[0][1] == 1
        after = topic.dataframe().orderBy("partition", "offset").collect()
        assert [tuple(r) for r in before] == [tuple(r) for r in after]
        # appends continue dense after compaction
        with topic.producer("post", batch_size=None) as prod:
            prod.push({"post": 1})
        stats = topic.log.partition_stats().collect()
        assert all(r["dense"] for r in stats)

    def test_compact_respects_min_files_and_cursors(self, driver):
        topic = driver.create_topic("cmp-skip", num_partitions=1)
        with topic.producer("p", batch_size=None) as prod:
            for i in range(6):
                prod.push({"i": i})
        consumer = topic.consumer("c")
        for _ in range(3):
            consumer.pull().acknowledge()
        res = topic.log.compact_files(min_files=100)  # below threshold: no-op
        assert all(b == a for b, a in res.values())
        topic.log.compact_files(min_files=2)
        # cursor resume unaffected by the rewrite
        resumed = topic.consumer("c").pull()
        assert resumed.offset == 3

    def test_compact_bins_by_target_size(self, driver):
        topic = driver.create_topic("cmp-bins", num_partitions=1)
        for k in range(12):
            with topic.producer(f"p{k}", batch_size=None) as prod:
                # ~40 KB of payload per flush
                prod.push({"k": k}, b"x" * 40_000)
        import os

        pdir = os.path.join(topic.log.data_path, "partition=0")
        res = topic.log.compact_files(min_files=2, target_mb=1)
        files = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        # 12 files -> fewer, but possibly >1 bin; rows intact and sorted
        assert 1 <= len(files) < 12
        assert res[0] == (12, len(files))
        rows = topic.dataframe().orderBy("offset").collect()
        assert [r["offset"] for r in rows] == list(range(12))


class TestWidePartitionTopic:
    def test_bulk_append_256_partitions(self, spark, driver):
        """O(#partitions) claims hold at wide fan-out: one bulk append
        into 256 partitions assigns dense offsets everywhere (the
        base-offset map is a 512-literal create_map — planning must not
        blow up), and partition-subset reads still prune."""
        topic = driver.create_topic("wide-t", num_partitions=256)
        df = spark.createDataFrame(
            [(json.dumps({"i": i}),) for i in range(1024)], ["metadata"]
        )
        acks = topic.producer("bulk").push_dataframe(df)
        # hash spread: near-uniform occupancy (a few of 256 bins may
        # stay empty at 4 rows/bin expected — balls in bins), never the
        # modulo-collapse that halves usable partitions
        assert len(acks) >= 230
        assert sum(n for _, n in acks.values()) == 1024
        stats = topic.log.partition_stats().collect()
        assert len(stats) == len(acks)
        assert all(r["dense"] for r in stats)
        assert max(r["n_events"] for r in stats) <= 16  # no hot bin
        # subset read prunes to 2 of 256 dirs
        sub = topic.dataframe(partitions=[3, 7])
        expect = sum(acks.get(p, (0, 0))[1] for p in (3, 7))
        assert sub.count() == expect
