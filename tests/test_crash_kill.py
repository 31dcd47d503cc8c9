"""Process-crash conformance: a writer PROCESS is SIGKILLed mid-append.

The reference kills and restarts a live server around every test
(tests/pre-test.sh); the Spark engine's equivalent crash surface is
the file-backed event log's fast append path (pyarrow write under the
ledger flock). These tests kill a real child process in a tight
append loop — at whatever instruction it happens to be executing —
then assert the recovery contract on the same root:

- a torn parquet file (killed mid-``pq.write_table``) is quarantined,
  never surfaced to readers, and never counted as an event;
- every append the child saw ACKED (``append_rows`` returned) is
  still present and readable;
- per-partition offsets stay dense, and a fresh log continues
  appending at the right offset;
- the cycle survives repeated kill/recover/kill rounds.
"""

import json
import os
import signal
import subprocess
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The child: bare EventLog (no Spark — append_rows is pure pyarrow),
# one event per append so kills land inside the write path often, and
# an fsync'd progress file recording each ACKED sequence number.
CHILD = r"""
import json, os, sys
sys.path.insert(0, sys.argv[3])
from mofka_spark.log import EventLog

root, progress = sys.argv[1], sys.argv[2]
log = EventLog(None, root, "t-kill")
pf = open(progress, "a", buffering=1)
i = int(sys.argv[4])
while True:
    log.append_rows([(i % 2, 0, json.dumps({"i": i}), bytes([i % 256]))])
    pf.write(f"{i}\n")
    pf.flush()
    os.fsync(pf.fileno())
    i += 1
"""


def _spawn(root: str, progress: str, start: int) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", CHILD, root, progress, REPO, str(start)],
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )


def _acked(progress: str) -> list[int]:
    if not os.path.exists(progress):
        return []
    with open(progress) as f:
        return [int(x) for x in f.read().split()]


def _wait_for_acks(progress: str, n: int, timeout: float = 60.0) -> None:
    t0 = time.time()
    while len(_acked(progress)) < n:
        if time.time() - t0 > timeout:
            raise AssertionError(f"child never reached {n} acks")
        time.sleep(0.02)


def _all_rows(data_path: str) -> dict[int, list[tuple[int, int]]]:
    """(offset, metadata.i) per partition via pyarrow — no Spark."""
    import pyarrow.parquet as pq

    out: dict[int, list[tuple[int, int]]] = {}
    for entry in sorted(os.listdir(data_path)):
        if not entry.startswith("partition="):
            continue
        p = int(entry.split("=", 1)[1])
        rows = []
        pdir = os.path.join(data_path, entry)
        for fn in sorted(os.listdir(pdir)):
            if not fn.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(pdir, fn))
            for off, meta in zip(
                t.column("offset").to_pylist(), t.column("metadata").to_pylist()
            ):
                rows.append((off, json.loads(meta)["i"]))
        out[p] = sorted(rows)
    return out


class TestSigkillMidWrite:
    def test_kill_recover_kill_cycle(self, tmp_path):
        from mofka_spark.log import EventLog

        root = str(tmp_path / "topic")
        progress = str(tmp_path / "progress")
        os.makedirs(root, exist_ok=True)
        start = 0
        for round_no in range(3):
            child = _spawn(root, progress, start)
            try:
                _wait_for_acks(progress, start + 15)
            finally:
                # SIGKILL: no cleanup, no atexit — whatever write was
                # in flight is torn on disk
                child.kill()
                child.wait()
            acked = _acked(progress)
            assert len(acked) >= start + 15

            # recovery: a FRESH log on the same root must repair and
            # keep appending with dense offsets
            log = EventLog(None, root, "t-kill")
            marker = 10_000 + round_no
            log.append_rows(
                [(0, 0, json.dumps({"i": marker}), None),
                 (1, 0, json.dumps({"i": marker}), None)]
            )
            rows = _all_rows(log.data_path)
            seen = {i for part in rows.values() for _, i in part}
            missing = [i for i in acked if i not in seen]
            assert not missing, f"acked events lost after kill: {missing[:5]}"
            for p, part_rows in rows.items():
                offs = [o for o, _ in part_rows]
                assert offs == list(range(len(offs))), (
                    f"partition {p} offsets not dense after recovery"
                )
            start = max(acked) + 1

    def test_torn_file_quarantined_not_counted(self, tmp_path):
        from mofka_spark.log import EventLog

        root = str(tmp_path / "topic")
        log = EventLog(None, root, "t-torn")
        log.append_rows([(0, 0, json.dumps({"i": 0}), None)])
        # plant a torn file: a parquet prefix without a valid footer
        # (exactly what SIGKILL mid-write_table leaves behind)
        pdir = os.path.join(log.data_path, "partition=0")
        intact = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        src = os.path.join(pdir, intact[0])
        torn = os.path.join(pdir, "part-torn.parquet")
        with open(src, "rb") as f:
            blob = f.read()
        with open(torn, "wb") as f:
            f.write(blob[: len(blob) // 2])

        fresh = EventLog(None, root, "t-torn")
        acks = fresh.append_rows([(0, 1, json.dumps({"i": 1}), None)])
        # the torn file neither advanced the offset nor survived as
        # .parquet
        assert acks[0][0] == 1
        assert not os.path.exists(torn)
        assert os.path.exists(
            os.path.join(pdir, ".part-torn.parquet.corrupt")
        )
        rows = _all_rows(fresh.data_path)
        assert [o for o, _ in rows[0]] == [0, 1]

    def test_recover_ledger_on_fresh_handle_with_data(self, spark, tmp_path):
        # Regression: recover_ledger() holds the ledger flock and calls
        # read(); read() on a fresh handle (_verified=False — the exact
        # post-crash state this API exists for) used to try to re-acquire
        # the flock on a second fd and self-deadlock. Run it in a child
        # process with a hard timeout so a regression fails fast instead
        # of hanging the suite.
        from mofka_spark.log import EventLog

        root = str(tmp_path / "topic")
        log = EventLog(spark, root, "t-rec")
        log.append_rows(
            [(0, i, json.dumps({"i": i}), None) for i in range(3)]
        )
        # simulate a lost ledger (crash before ledger rename)
        os.remove(log.ledger_path)

        fresh = EventLog(spark, root, "t-rec")
        assert not fresh._verified
        done = {}

        import threading

        def run():
            done["ledger"] = fresh.recover_ledger()

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=120)
        assert not t.is_alive(), "recover_ledger deadlocked on fresh handle"
        assert done["ledger"] == {0: 3}

    def test_transient_read_error_does_not_quarantine(self, tmp_path, monkeypatch):
        # A transient I/O fault on a HEALTHY (PAR1-terminated,
        # ledger-committed) file must propagate, not rename acked data
        # out of the readable set.
        import pyarrow.parquet as pq
        from mofka_spark.log import EventLog

        root = str(tmp_path / "topic")
        log = EventLog(None, root, "t-io")
        log.append_rows([(0, 0, json.dumps({"i": 0}), None)])
        pdir = os.path.join(log.data_path, "partition=0")
        healthy = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        assert healthy

        class Flaky:
            def __new__(cls, path, *a, **kw):
                raise OSError(5, "simulated EIO", str(path))

        # _footer_max_offsets imports pyarrow.parquet locally, so the
        # module-level patch is what it sees
        monkeypatch.setattr(pq, "ParquetFile", Flaky)
        fresh = EventLog(None, root, "t-io")
        with pytest.raises(OSError):
            fresh._footer_max_offsets()
        monkeypatch.undo()
        # the healthy file is untouched — no .corrupt rename happened
        assert sorted(
            f for f in os.listdir(pdir) if f.endswith(".parquet")
        ) == sorted(healthy)
        assert not any(f.endswith(".corrupt") for f in os.listdir(pdir))

    def test_read_path_survives_torn_file(self, spark, tmp_path):
        # a consumer opening the topic AFTER a crash (before any new
        # append) must not choke on the torn file either
        from mofka_spark.log import EventLog

        root = str(tmp_path / "topic")
        log = EventLog(None, root, "t-read")
        log.append_rows(
            [(0, i, json.dumps({"i": i}), None) for i in range(4)]
        )
        pdir = os.path.join(log.data_path, "partition=0")
        with open(os.path.join(pdir, "part-torn.parquet"), "wb") as f:
            f.write(b"PAR1garbage-without-a-footer")
        fresh = EventLog(spark, root, "t-read")
        got = sorted(
            json.loads(r["metadata"])["i"] for r in fresh.read().collect()
        )
        assert got == [0, 1, 2, 3]


# The compaction child: its own SparkSession, compact_epoch_store on
# the parent's count-min store in a loop, an fsync'd progress line
# before the loop ("ready") and after each finished compaction.
COMPACT_CHILD = r"""
import os, sys
sys.path.insert(0, sys.argv[3])
from mofka_spark.session import get_spark
from mofka_spark.streaming import cms
from mofka_spark.streaming.store import compact_epoch_store

store, progress = sys.argv[1], sys.argv[2]
spark = get_spark(
    app_name="kill-compact", master="local[1]",
    conf={"spark.driver.memory": "1g", "spark.sql.shuffle.partitions": "1"},
)
pf = open(progress, "a", buffering=1)


def mark(what):
    pf.write(what + "\n")
    pf.flush()
    os.fsync(pf.fileno())


mark("ready")
while True:
    compact_epoch_store(spark, store, merge=cms.merge)
    mark("done")
"""


class TestSigkillMidCompaction:
    def test_reads_survive_kill_at_any_point(self, spark, tmp_path):
        """SIGKILL a compacting process (and its JVM) at spread delays:
        each time, the store must read back as the rows it held before
        the kill (the fragments, or their fold once a compaction has
        finished), and the merged reader must not change: never empty,
        never an exception."""
        from mofka_spark.streaming.cms import cms_sink, read_cms
        from mofka_spark.streaming.store import read_store

        store = str(tmp_path / "cms")
        sink = cms_sink(store, "key", depth=2, width=16)
        for epoch in range(3):
            keys = [(f"k{(epoch + i) % 7}",) for i in range(20)]
            sink(spark.createDataFrame(keys, "key string"), epoch)

        def stored():
            return sorted(map(tuple, read_store(spark, store, "r int, c int, cnt long").collect()))

        def merged():
            return sorted(map(tuple, read_cms(spark, store).collect()))

        frags, want = stored(), merged()
        assert len(frags) > len(want)  # the fold changes the stored rows
        progress = str(tmp_path / "progress")

        def marks(what):
            if not os.path.exists(progress):
                return 0
            with open(progress) as f:
                return f.read().split().count(what)

        # kill points: mid first compaction, then early and late in a
        # compaction that follows a finished one
        for after, delay in (("ready", 0.3), ("done", 0.1), ("done", 0.4)):
            seen = marks(after)
            child = subprocess.Popen(
                [sys.executable, "-c", COMPACT_CHILD, store, progress, REPO],
                stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL,
                start_new_session=True,
            )
            try:
                t0 = time.time()
                while marks(after) == seen:
                    assert child.poll() is None, "compaction child died"
                    assert time.time() - t0 < 120, f"child never reached {after}"
                    time.sleep(0.02)
                time.sleep(delay)
            finally:
                # the whole group: the child's JVM does the writes
                os.killpg(child.pid, signal.SIGKILL)
                child.wait(timeout=60)
            finished = marks("done")
            rows = stored()
            # once a compaction finished, the store holds the fold
            assert (rows == want) if finished else (rows in (frags, want))
            assert merged() == want
