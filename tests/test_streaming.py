"""Structured Streaming source/sink tests.

Streaming parity targets (SURVEY.md L3, P7, L8): micro-batch feed with
offset ranges from the ledger, batch_size rate control, AvailableNow
drain semantics, windowed event-time aggs over the stream."""

import os
import time

import pytest
from pyspark.sql import functions as F


def _fill_topic(driver, name="stream-t", partitions=2, n=60, backend="default"):
    if backend == "mixed":
        topic = driver.create_topic(
            name,
            num_partitions=max(2, partitions),
            partition_backends=[
                "default" if p % 2 == 0 else "memory"
                for p in range(max(2, partitions))
            ],
        )
    else:
        topic = driver.create_topic(
            name, num_partitions=partitions, backend=backend
        )
    with topic.producer("p") as producer:
        for i in range(n):
            producer.push({"event_num": i}, f"d{i}".encode())
    return topic


@pytest.mark.parametrize("backend", ["default", "memory", "mixed"])
def test_stream_read_available_now(driver, tmp_path, backend):
    """The reference runs its conformance suite against every partition
    backend (tests/CMakeLists.txt:25-76); the streaming drain works over
    file, memory (attach-time spill + write-through), and mixed topics."""
    topic = _fill_topic(driver, name=f"stream-t-{backend}", backend=backend)
    q = (
        topic.read_stream()
        .writeStream.format("memory")
        .queryName(f"stream_out_{backend}")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = driver.spark.sql(f"SELECT * FROM stream_out_{backend}")
    assert out.count() == 60
    # schema parity with the batch surface
    assert set(out.columns) == {"topic", "partition", "offset", "metadata", "data", "ingest_ts"}
    stats = (
        out.groupBy("partition")
        .agg(F.count("*").alias("n"), F.min("offset").alias("mn"), F.max("offset").alias("mx"))
        .collect()
    )
    for r in stats:
        assert r["n"] == 30 and r["mn"] == 0 and r["mx"] == 29


def test_native_and_custom_source_rows_identical(driver, tmp_path):
    """The native file-source fast path (auto for uncapped earliest
    reads) must deliver exactly the custom ledger-offset source's rows
    — same schema, same values, same trim filtering."""
    topic = _fill_topic(driver, name="native-parity-t", partitions=2, n=40)
    topic.trim(before_offset=3)  # exercise the floor filter on both

    def drain(native, sink):
        q = (
            topic.read_stream(native=native)
            .writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", str(tmp_path / f"ck-{sink}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        df = driver.spark.sql(f"SELECT * FROM {sink}")
        assert df.columns == [
            "topic", "partition", "offset", "metadata", "data", "ingest_ts",
        ]
        return sorted(
            (r["topic"], r["partition"], r["offset"], r["metadata"], r["data"])
            for r in df.collect()
        )

    nat = drain(None, "nat_out")   # auto -> native
    cus = drain(False, "cus_out")  # forced custom source
    assert nat == cus
    assert len(nat) == 2 * (20 - 3)


def test_native_rejected_for_capped_reads(driver):
    from mofka_spark.errors import MofkaError

    topic = _fill_topic(driver, name="native-cap-t", partitions=1, n=5)
    with pytest.raises(MofkaError, match="native"):
        topic.read_stream(batch_size=2, native=True)
    with pytest.raises(MofkaError, match="native"):
        topic.read_stream(starting_offsets="latest", native=True)


def test_files_per_trigger_epochs_and_rows(driver, tmp_path):
    """files_per_trigger caps the native stream's advance by published
    files: a 2-partition topic filled by one producer flush holds one
    file per partition, so files_per_trigger=1 drains in exactly two
    micro-batches whose union is the full row set."""
    topic = _fill_topic(driver, name="fpt-t", partitions=2, n=40)
    topic.mark_as_complete()
    seen = []

    def sink(df, epoch_id):
        seen.append(
            (epoch_id, sorted((r["partition"], r["offset"]) for r in df.collect()))
        )

    q = (
        topic.read_stream(files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck-fpt"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    assert topic.await_completion(q, timeout=120)
    non_empty = [(e, rows) for e, rows in seen if rows]
    assert len(non_empty) == 2, f"expected 2 one-file epochs, saw {len(non_empty)}"
    # each epoch is exactly one whole partition file; union is everything
    for _, rows in non_empty:
        assert len({p for p, _ in rows}) == 1
        assert len(rows) == 20
    union = sorted(r for _, rows in non_empty for r in rows)
    assert union == sorted((p, o) for p in (0, 1) for o in range(20))


def test_files_per_trigger_validation(driver):
    from mofka_spark.errors import MofkaError

    topic = _fill_topic(driver, name="fpt-val-t", partitions=1, n=5)
    with pytest.raises(MofkaError, match="files_per_trigger"):
        topic.read_stream(batch_size=2, files_per_trigger=1)
    with pytest.raises(MofkaError, match="files_per_trigger"):
        topic.read_stream(starting_offsets="latest", files_per_trigger=1)
    with pytest.raises(MofkaError, match="files_per_trigger"):
        topic.read_stream(files_per_trigger=1, native=False)
    with pytest.raises(MofkaError, match="files_per_trigger"):
        topic.read_stream(files_per_trigger=0)


def test_stream_batch_size_rate_control(driver, tmp_path):
    topic = _fill_topic(driver, name="rate-t", partitions=1, n=50)
    # batch_size 10 -> drains all 50 across >= 5 micro-batches
    q = (
        topic.read_stream(batch_size=10)
        .writeStream.format("memory")
        .queryName("rate_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if driver.spark.sql("SELECT * FROM rate_out").count() >= 50:
                break
            time.sleep(0.5)
        assert driver.spark.sql("SELECT * FROM rate_out").count() == 50
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        assert n_batches >= 5
    finally:
        q.stop()


@pytest.mark.parametrize("backend", ["default", "memory"])
def test_stream_incremental_new_data(driver, tmp_path, backend):
    """Live appends are picked up mid-query — for the memory backend
    that exercises the write-through spill path (rows pushed AFTER the
    stream attached)."""
    topic = _fill_topic(
        driver, name=f"inc-t-{backend}", partitions=1, n=10, backend=backend
    )
    q = (
        topic.read_stream()
        .writeStream.format("memory")
        .queryName(f"inc_out_{backend}")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if driver.spark.sql(f"SELECT * FROM inc_out_{backend}").count() >= 10:
                break
            time.sleep(0.5)
        assert driver.spark.sql(f"SELECT * FROM inc_out_{backend}").count() == 10
        # produce more while the query is live -> picked up from ledger
        with topic.producer("p2") as producer:
            for i in range(10, 25):
                producer.push({"event_num": i}, b"x")
        deadline = time.time() + 60
        while time.time() < deadline:
            if driver.spark.sql(f"SELECT * FROM inc_out_{backend}").count() >= 25:
                break
            time.sleep(0.5)
        assert driver.spark.sql(f"SELECT * FROM inc_out_{backend}").count() == 25
        # offsets stay dense across the live append
        mx = driver.spark.sql(
            f"SELECT max(offset) m FROM inc_out_{backend}"
        ).first()["m"]
        assert mx == 24
    finally:
        q.stop()


def test_stream_sink_foreachbatch(driver, tmp_path, spark):
    """rate-ish source -> topic sink: dense offsets, validated epochs."""
    topic = driver.create_topic("sink-t", num_partitions=4)
    import shutil

    src_dir = tmp_path / "docs-src"
    src_dir.mkdir()
    shutil.copy("/root/testdata/sf0.001/documents.parquet", src_dir / "part-0.parquet")
    src = (
        spark.readStream.format("parquet")
        .schema(spark.read.parquet(str(src_dir)).schema)
        .option("maxFilesPerTrigger", "1")
        .load(str(src_dir))
    )
    stream_df = src.select(
        F.to_json(F.struct("doc_id", "lang")).alias("metadata"),
        F.encode(F.col("text"), "utf-8").alias("data"),
    )
    q = topic.write_stream(
        stream_df, checkpoint=str(tmp_path / "ckpt4"), trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    df = topic.dataframe()
    assert df.count() == 500
    stats = topic.log.partition_stats().collect()
    assert sum(r["n_events"] for r in stats) == 500
    for r in stats:
        assert r["dense"], r


def test_watermark_append_emission(driver, tmp_path, spark):
    """Append mode + watermark: only windows the watermark has passed
    emit; the trailing window is withheld. Deterministic: event times
    span 5 hours, watermark delay 30 min -> at drain the watermark sits
    at max_ts - 30min, so exactly the first 4 hourly windows emit."""
    import json as _json

    topic = driver.create_topic("wm-t", num_partitions=1)
    with topic.producer("p") as producer:
        for h in range(5):
            for i in range(10):
                ts = f"2024-01-01T{h:02d}:{i:02d}:00.000Z"
                producer.push({"ts": ts, "v": 1.0})
    topic.mark_as_complete()
    # batch_size rate control splits the drain into multiple
    # micro-batches — the watermark only advances BETWEEN batches, so a
    # single-batch drain would emit nothing in append mode. A continuous
    # trigger + the completion helper gives the multi-batch drain
    # (AvailableNow snapshots the FIRST capped latestOffset and would
    # stop early — see read_stream docstring).
    parsed = (
        topic.read_stream(batch_size=10)
        .select(F.from_json("metadata", "ts timestamp, v double").alias("m"))
        .select("m.*")
    )
    agg = (
        parsed.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_out")
        .option("checkpointLocation", str(tmp_path / "ckpt-wm"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    assert topic.await_completion(q, timeout=120) is True
    rows = spark.sql("SELECT w.start AS s, n FROM wm_out ORDER BY s").collect()
    hours = [r["s"].hour for r in rows]
    # closed windows emit complete counts, in order, and the trailing
    # window (hour 4: final watermark 03:39 < its 05:00 end) is
    # withheld — the append-mode late-data contract
    assert all(r["n"] == 10 for r in rows)
    assert hours == list(range(len(hours)))
    assert len(hours) >= 2
    assert 4 not in hours


def test_stop_when_complete_terminates_continuous_stream(driver, tmp_path, spark):
    """L8 completion semantics for a continuous-trigger stream: mark the
    topic complete -> the helper drains and terminates the query (the
    reference sends feed(0, NoMoreEvents))."""
    import threading

    topic = _fill_topic(driver, name="complete-t", partitions=2, n=30)
    q = (
        topic.read_stream()
        .writeStream.format("memory")
        .queryName("complete_out")
        .option("checkpointLocation", str(tmp_path / "ckpt-complete"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    result: dict = {}

    def waiter():
        result["drained"] = topic.await_completion(q, timeout=60)

    th = threading.Thread(target=waiter)
    th.start()
    # stream is live; produce more, then complete the topic
    time.sleep(1.0)
    assert q.isActive
    with topic.producer("p2") as producer:
        for i in range(30, 45):
            producer.push({"event_num": i})
    topic.mark_as_complete()
    th.join(90)
    assert not th.is_alive(), "await_completion did not return"
    assert result["drained"] is True
    assert not q.isActive
    assert spark.sql("SELECT * FROM complete_out").count() == 45


def test_drain_releases_terminated_query_reference(driver, tmp_path, spark):
    """After a completed drain the manager holds NO reference to the
    terminated query (retained IncrementalExecution plans + progress
    history age long-lived sessions — r14 hygiene fix). Observable:
    with the terminated list cleared and no active queries,
    awaitAnyTermination times out instead of returning the drained
    query immediately — while the memory sink's table stays readable
    (it lives in the catalog, not on the query object)."""
    topic = _fill_topic(driver, name="release-t", partitions=1, n=10)
    topic.mark_as_complete()
    q = (
        topic.read_stream()
        .writeStream.format("memory")
        .queryName("release_out")
        .option("checkpointLocation", str(tmp_path / "ckpt-release"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    assert topic.await_completion(q, timeout=60) is True
    assert spark.streams.awaitAnyTermination(1) is False
    assert spark.sql("SELECT * FROM release_out").count() == 10


def test_drain_removes_checkpoint_and_raises_on_timeout(
    driver, tmp_path, spark, monkeypatch
):
    """completion.drain: a finished run-once drain leaves no checkpoint
    directory behind; a drain that outlives DRAIN_TIMEOUT_S is stopped
    and raises instead of returning a partial sink."""
    import tempfile

    from mofka_spark.errors import MofkaError
    from mofka_spark.streaming import completion

    tmpdirs = tmp_path / "tmpdirs"
    tmpdirs.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmpdirs))
    topic = _fill_topic(driver, name="drain-t", partitions=1, n=10)

    completion.drain(
        spark,
        topic.read_stream()
        .writeStream.format("memory")
        .queryName("drain_out")
        .outputMode("append"),
    )
    assert spark.sql("SELECT * FROM drain_out").count() == 10
    assert list(tmpdirs.iterdir()) == []

    monkeypatch.setattr(completion, "DRAIN_TIMEOUT_S", 1.0)
    running = []

    def slow(batch, epoch_id):
        running.extend(spark.streams.active)
        time.sleep(4)

    with pytest.raises(MofkaError, match="did not finish"):
        completion.drain(
            spark, topic.read_stream().writeStream.foreachBatch(slow)
        )
    assert len(running) == 1 and not running[0].isActive
    assert spark.streams.active == []
    assert list(tmpdirs.iterdir()) == []


def test_stop_when_complete_times_out_on_open_topic(driver, tmp_path):
    topic = _fill_topic(driver, name="open-t", partitions=1, n=5)
    q = (
        topic.read_stream()
        .writeStream.format("memory")
        .queryName("open_out")
        .option("checkpointLocation", str(tmp_path / "ckpt-open"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        assert topic.await_completion(q, timeout=2) is False
        assert q.isActive  # not stopped: topic still open
    finally:
        q.stop()


def test_streaming_windowed_agg_over_topic(driver, tmp_path):
    """Event-time windows + watermark over the stream — the capability
    the reference lacks entirely (SURVEY.md §2.7 'Streaming')."""
    topic = _fill_topic(driver, name="win-t", partitions=1, n=40)
    stream = topic.read_stream()
    agg = (
        stream.withWatermark("ingest_ts", "10 seconds")
        .groupBy(F.window("ingest_ts", "1 minute"), F.col("partition"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ckpt5"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append-mode windows only emit once watermark passes; with a single
    # burst the totals row may be withheld — assert the query ran clean
    assert q.exception() is None


def test_stateful_sessionization(driver, tmp_path, spark):
    """Custom stateful operator (applyInPandasWithState): event-time
    sessions close on data-driven gaps AND on event-time timeout."""
    from mofka_spark.streaming.stateful import sessionize_stream

    topic = driver.create_topic("sess-t", num_partitions=1)
    # batch 1: user 1 session A (3 events), user 2 single event
    early = [(1, "2024-01-01T00:00:00Z"), (1, "2024-01-01T00:05:00Z"),
             (1, "2024-01-01T00:10:00Z"), (2, "2024-01-01T00:01:00Z")]
    # batch 2: user 1's much later event opens session B and (a) closes
    # session A by gap, (b) drives the watermark past user 2's timeout
    late = [(1, "2024-01-01T02:00:00Z")]
    with topic.producer("p") as producer:
        for uid, ts in early:
            producer.push({"user_id": uid, "ts": ts})
    with topic.producer("p2") as producer:
        for uid, ts in late:
            producer.push({"user_id": uid, "ts": ts})
    topic.mark_as_complete()

    parsed = (
        topic.read_stream(batch_size=4)
        .select(F.from_json("metadata", "user_id long, ts timestamp").alias("m"))
        .select("m.*")
    )
    sessions = sessionize_stream(parsed, gap_sec=1800, watermark_delay="1 minute")
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt-sess"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    assert topic.await_completion(q, timeout=120) is True
    rows = {
        (r.user_id, r.session_start.isoformat(), r.session_end.isoformat(), r.n_events)
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    # session A (user 1, 3 events) closed by the 02:00 event's gap;
    # user 2's session closed by event-time timeout once the watermark
    # (01:59) passed its 00:31 timeout. Session B (02:00) is still open.
    assert rows == {
        (1, "2024-01-01T00:00:00", "2024-01-01T00:10:00", 3),
        (2, "2024-01-01T00:01:00", "2024-01-01T00:01:00", 1),
    }


def test_stream_picks_up_added_partition(driver, tmp_path, spark):
    """S5 addPartition while a stream is live: the ledger announces the
    new partition and the source starts reading it mid-query."""
    topic = _fill_topic(driver, name="grow-t", partitions=1, n=5)
    q = (
        topic.read_stream()
        .writeStream.format("memory")
        .queryName("grow_out")
        .option("checkpointLocation", str(tmp_path / "ckpt-grow"))
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT * FROM grow_out").count() >= 5:
                break
            time.sleep(0.25)
        driver.add_partitions("grow-t", 1)
        topic2 = driver.open_topic("grow-t")
        with topic2.producer("p2") as producer:
            for i in range(5, 12):
                producer.push({"event_num": i}, partition=1)
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.sql("SELECT * FROM grow_out").count() >= 12:
                break
            time.sleep(0.25)
        out = spark.sql("SELECT partition, count(*) n FROM grow_out GROUP BY partition").collect()
        got = {r["partition"]: r["n"] for r in out}
        assert got == {0: 5, 1: 7}
    finally:
        q.stop()


def test_stream_dedup_drops_copies(driver, tmp_path):
    """Online dedup: duplicate metadata within the watermark horizon is
    dropped; the first copy of each distinct content survives."""
    from mofka_spark.streaming.dedup import dedup_stream

    topic = driver.create_topic("dedup-t", num_partitions=2)
    with topic.producer("p") as producer:
        for i in range(30):
            # 10 distinct contents, 3 copies each, interleaved
            producer.push({"payload": i % 10}, b"")
    q = (
        dedup_stream(topic.read_stream())
        .writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt-dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = driver.spark.sql("SELECT * FROM dedup_out")
    assert out.count() == 10
    payloads = sorted(
        int(r[0]) for r in out.select(F.get_json_object("metadata", "$.payload")).collect()
    )
    assert payloads == list(range(10))
    # full event schema preserved, no internal key column
    assert set(out.columns) == {"topic", "partition", "offset", "metadata", "data", "ingest_ts"}


def test_stream_dedup_exact_unbounded(driver, tmp_path):
    from mofka_spark.streaming.dedup import dedup_stream

    topic = driver.create_topic("dedup-x", num_partitions=1)
    with topic.producer("p") as producer:
        for i in range(20):
            producer.push({"k": i % 4}, b"")
    q = (
        dedup_stream(topic.read_stream(), within=None)
        .writeStream.format("memory")
        .queryName("dedup_out_x")
        .option("checkpointLocation", str(tmp_path / "ckpt-ddx"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert driver.spark.sql("SELECT * FROM dedup_out_x").count() == 4


class TestIncrementalRollup:
    """streaming/rollup.py mechanics without a live stream: epochs,
    replay idempotence, merge-on-read, compaction invariance."""

    def test_epochs_replay_and_compaction(self, spark, tmp_path):
        from mofka_spark.streaming.rollup import (
            merge,
            read_rollup,
            rollup_sink,
        )
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "agg")
        aggs = {"v": ["count", "sum", "max"]}
        sink = rollup_sink(path, ["k"], aggs)
        b1 = spark.createDataFrame([("a", 1.0), ("a", 2.0), ("b", 5.0)], "k string, v double")
        b2 = spark.createDataFrame([("a", 10.0), ("c", 0.5)], "k string, v double")
        sink(b1, 0)
        sink(b2, 1)
        sink(b2, 1)  # replayed epoch must overwrite itself, not double-count

        def snap():
            return {
                r.k: (r.v_count, r.v_sum, r.v_max)
                for r in read_rollup(spark, path, ["k"], aggs).collect()
            }

        expect = {"a": (3, 13.0, 10.0), "b": (1, 5.0, 5.0), "c": (1, 0.5, 0.5)}
        assert snap() == expect
        compact_epoch_store(spark, path, merge=merge(["k"], aggs))
        assert snap() == expect
        # compaction reduced the partial table to one row per group
        assert spark.read.parquet(path).count() == 3


class TestStartingOffsets:
    def test_latest_skips_history(self, driver, tmp_path, spark):
        """starting_offsets='latest': a monitor attaching to a huge
        topic reads only what arrives AFTER it starts."""
        topic = driver.create_topic("so-latest", num_partitions=1)
        with topic.producer("old") as prod:
            for i in range(10):
                prod.push({"old": i})
        stream = topic.read_stream(starting_offsets="latest")
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName("so_latest_out")
            .option("checkpointLocation", str(tmp_path / "ckpt-sol"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            # pin the start point before producing more: "latest" is
            # snapshotted at the first micro-batch's planning
            q.processAllAvailable()
            with topic.producer("new") as prod:
                for i in range(5):
                    prod.push({"new": i})
            topic.mark_as_complete()
            assert topic.await_completion(q, timeout=120) is True
        finally:
            if q.isActive:
                q.stop()
        rows = spark.sql("SELECT metadata FROM so_latest_out").collect()
        assert len(rows) == 5
        assert all("new" in r.metadata for r in rows)

    def test_explicit_offsets_resume_point(self, driver, tmp_path, spark):
        topic = driver.create_topic("so-explicit", num_partitions=1)
        with topic.producer("p") as prod:
            for i in range(8):
                prod.push({"i": i})
        topic.mark_as_complete()
        stream = topic.read_stream(starting_offsets={0: 5})
        q = (
            stream.writeStream.outputMode("append")
            .format("memory")
            .queryName("so_explicit_out")
            .option("checkpointLocation", str(tmp_path / "ckpt-soe"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        offs = sorted(
            r.offset for r in spark.sql("SELECT offset FROM so_explicit_out").collect()
        )
        assert offs == [5, 6, 7]


class TestConsumerLag:
    def test_lag_tracks_acks(self, driver):
        topic = driver.create_topic("lag-t", num_partitions=2)
        with topic.producer("p") as prod:
            for i in range(10):
                prod.push({"i": i}, partition=i % 2)
        c = topic.consumer("mon")
        for _ in range(3):
            c.pull().acknowledge()
        lag = topic.consumer_lag()
        assert set(lag) == {"mon"}
        assert sum(lag["mon"].values()) == 7
        # a named query returns just that consumer
        assert topic.consumer_lag("mon") == lag


@pytest.mark.parametrize("floor_mode", ["checkpoint", "default", "heuristic"])
def test_checkpoint_restart_exactly_once(driver, tmp_path, spark, floor_mode):
    """Stop a streaming query mid-drain, start a NEW query on the same
    checkpoint + sink: the mofka source resumes from committed offsets
    — every event delivered exactly once across the restart. Three
    floor modes: the explicit checkpoint-dir floor file
    (read_stream(checkpoint=...)), the DEFAULT durable floor under the
    topic directory (no checkpoint passed), and the recovery-pattern
    heuristic with the floor file disabled (floor_path="")."""
    name = f"restart-t-{floor_mode}"
    topic = _fill_topic(driver, name=name, partitions=2, n=40)
    out_dir = str(tmp_path / "restart-out")
    ckpt = str(tmp_path / "restart-ckpt")

    def _source():
        if floor_mode == "heuristic":
            from mofka_spark.streaming.source import MofkaDataSource

            spark.dataSource.register(MofkaDataSource)
            return (
                spark.readStream.format("mofka")
                .option("path", driver.root)
                .option("topic", name)
                .option("batch_size", 5)
                .option("floor_path", "")  # disable the durable floor
                .load()
            )
        return topic.read_stream(
            batch_size=5, checkpoint=ckpt if floor_mode == "checkpoint" else None
        )

    def start():
        return (
            _source()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    q1 = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if spark.read.parquet(out_dir).count() >= 10:
                    break
            except Exception:
                pass
            time.sleep(0.3)
    finally:
        q1.stop()
    mid = spark.read.parquet(out_dir).count()
    assert mid >= 10  # partial progress happened before the stop
    q2 = start()
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.read.parquet(out_dir).count() >= 40:
                break
            time.sleep(0.3)
    finally:
        q2.stop()
    rows = spark.read.parquet(out_dir).select("partition", "offset").collect()
    got = sorted((r["partition"], r["offset"]) for r in rows)
    # exactly once: every (partition, offset) exactly one time
    assert got == [(p, o) for p in (0, 1) for o in range(20)]
    import glob
    import os

    floor_files = glob.glob(
        os.path.join(driver.root, "**", "_stream_floor", "*.json"),
        recursive=True,
    )
    if floor_mode == "default":
        # the durable default floor was actually written (and lives
        # under the topic dir, so destroy() takes it with the topic)
        assert floor_files
    elif floor_mode == "heuristic":
        assert not floor_files  # "" really disabled the file


def test_store_sink_survives_query_restart(driver, tmp_path, spark):
    """END-TO-END exactly-once for a summary store through a REAL
    Spark restart (the unit replay tests call sinks by hand; this one
    kills a live query mid-drain and resumes it on the same
    checkpoint): the rollup store's merged answer must equal the batch
    aggregate over the topic — no double-counted epochs, no holes."""
    from mofka_spark.streaming.rollup import read_rollup, rollup_sink

    topic = _fill_topic(driver, name="restart-store-t", partitions=2, n=60)
    topic.mark_as_complete()
    store = str(tmp_path / "roll")
    ckpt = str(tmp_path / "ckpt")
    sink = rollup_sink(store, ["k"], {"n": ["count", "sum"]})

    def start():
        parsed = topic.read_stream(batch_size=5).select(
            F.pmod(
                F.get_json_object("metadata", "$.event_num").cast("long"),
                F.lit(3),
            ).alias("k"),
            F.get_json_object("metadata", "$.event_num")
            .cast("long")
            .alias("n"),
        )
        return (
            parsed.writeStream.foreachBatch(
                lambda b, e: sink(b, e)
            )
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="150 milliseconds")
            .start()
        )

    q1 = start()
    deadline = time.time() + 60
    while time.time() < deadline:
        try:
            if spark.read.parquet(store).count() >= 2:
                break
        except Exception:
            pass
        time.sleep(0.2)
    q1.stop()  # kill mid-drain; some epochs committed, maybe one pending
    q2 = start()
    assert topic.await_completion(q2, timeout=120)
    got = {
        r.k: (r.n_count, r.n_sum)
        for r in read_rollup(spark, store, ["k"], {"n": ["count", "sum"]}).collect()
    }
    want = {
        k: (sum(1 for i in range(60) if i % 3 == k),
            sum(i for i in range(60) if i % 3 == k))
        for k in range(3)
    }
    assert got == want


def test_default_floor_resets_for_fresh_query(driver, tmp_path, spark):
    """Two SEQUENTIAL fresh queries (distinct checkpoints) on the same
    topic share the default floor file; the second query's
    initialOffset must reset it, or the first query's committed head
    would clamp the second one empty (the gate fixtures reuse topics
    across queries exactly like this)."""
    topic = _fill_topic(driver, name="floor-reset-t", partitions=2, n=20)
    topic.mark_as_complete()  # await_completion needs the flag

    def drain(ckpt, out):
        q = (
            topic.read_stream(batch_size=5)  # no checkpoint => default floor
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds")
            .start()
        )
        assert topic.await_completion(q, timeout=120)
        return spark.read.parquet(out).count()

    assert drain(str(tmp_path / "c1"), str(tmp_path / "o1")) == 20
    # fresh query, fresh checkpoint, SAME topic + batch_size:
    # must re-deliver the full log, not resume at query 1's head
    assert drain(str(tmp_path / "c2"), str(tmp_path / "o2")) == 20


class TestIncrementalNearDup:
    """streaming/neardup.py: LSH dedup against the persisted store must
    equal the batch pipeline regardless of batch boundaries, arrival
    order, or epoch replays (idempotent store writes)."""

    DOCS = [
        # 1~2 near-dups (one word differs), 3 unique, 4~5 near-dups,
        # 6 duplicates 1 as well (transitive via exact overlap)
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy cat today"),
        (3, "completely unrelated content about spark physical plans"),
        (4, "incremental lsh state must match the batch answer exactly"),
        (5, "incremental lsh state must match the batch answer exactly"),
        (6, "the quick brown fox jumps over the lazy dog today"),
    ]

    def _expected(self, spark):
        from mofka_spark.operators.dedup import minhash_lsh_dedup

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        return {
            (r.id, r.keeper_id, r.is_duplicate)
            for r in minhash_lsh_dedup(
                df, num_hashes=32, bands=16, verify_threshold=0.8
            ).collect()
        }

    def _run(self, spark, tmp_path, batches, replay=None):
        from mofka_spark.streaming.neardup import neardup_sink, read_result

        store = str(tmp_path / "store")
        sink = neardup_sink(store, num_hashes=32, bands=16)
        for eid, rows in enumerate(batches):
            batch = spark.createDataFrame(rows, "id long, text string")
            sink(batch, eid)
            if replay is not None and eid == replay:
                sink(batch, eid)  # simulate a foreachBatch retry
        return {
            (r.id, r.keeper_id, r.is_duplicate)
            for r in read_result(spark, store).collect()
        }

    def test_matches_batch_across_boundaries(self, spark, tmp_path):
        got = self._run(
            spark, tmp_path, [self.DOCS[:2], self.DOCS[2:4], self.DOCS[4:]]
        )
        assert got == self._expected(spark)

    def test_out_of_order_arrival(self, spark, tmp_path):
        # larger ids arrive FIRST; keeper must still be the minimum
        # paired id, exactly as the batch pipeline assigns it
        got = self._run(
            spark, tmp_path, [self.DOCS[3:], self.DOCS[:3]]
        )
        assert got == self._expected(spark)

    def test_epoch_replay_is_idempotent(self, spark, tmp_path):
        got = self._run(
            spark, tmp_path, [self.DOCS[:3], self.DOCS[3:]], replay=1
        )
        assert got == self._expected(spark)


class TestIncrementalAnnIndex:
    """streaming/annindex.py: an index built over any batch
    partitioning must return bit-identical results to batch ivf_topk
    with the same frozen centroids, and the probe must prune to the
    probed cell directories."""

    def _fixture(self, spark, sf_dir):
        from mofka_spark.operators.similarity import fit_centroids

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
            "vec_id < 200"
        )
        cents = fit_centroids(emb, "vec_id", "embedding", 8, seed=7)
        return emb, cents

    def _build(self, spark, tmp_path, emb, cents, epochs=2, replay=None):
        from mofka_spark.streaming.annindex import ann_index_sink

        store = str(tmp_path / "annstore")
        sink = ann_index_sink(store, cents, id_col="vec_id")
        n = emb.count()
        per = (n + epochs - 1) // epochs
        for eid in range(epochs):
            batch = emb.filter(
                (F.col("vec_id") >= eid * per) & (F.col("vec_id") < (eid + 1) * per)
            )
            sink(batch, eid)
            if replay is not None and eid == replay:
                sink(batch, eid)
        return store

    def test_equals_batch_ivf(self, spark, sf_dir, tmp_path):
        from mofka_spark.operators.similarity import ivf_topk
        from mofka_spark.streaming.annindex import search_index

        emb, cents = self._fixture(spark, sf_dir)
        store = self._build(spark, tmp_path, emb, cents, epochs=3)
        queries = emb.filter("vec_id < 6")
        inc = search_index(spark, store, queries, cents, k=5, nprobe=4)
        bat = ivf_topk(queries, emb, k=5, n_centroids=8, nprobe=4,
                       centroids=cents)
        key = lambda df: {
            (r.query_id, r.neighbor_id, r.score, r.rank) for r in df.collect()
        }
        assert key(inc) == key(bat)

    def test_epoch_replay_is_idempotent(self, spark, sf_dir, tmp_path):
        from mofka_spark.operators.similarity import ivf_topk
        from mofka_spark.streaming.annindex import search_index

        emb, cents = self._fixture(spark, sf_dir)
        store = self._build(spark, tmp_path, emb, cents, epochs=2, replay=0)
        queries = emb.filter("vec_id < 6")
        inc = search_index(spark, store, queries, cents, k=5, nprobe=4)
        bat = ivf_topk(queries, emb, k=5, n_centroids=8, nprobe=4,
                       centroids=cents)
        assert {tuple(r) for r in inc.collect()} == {
            tuple(r) for r in bat.collect()
        }

    def test_probe_prunes_directories(self, spark, sf_dir, tmp_path):
        from mofka_spark import plans
        from mofka_spark.streaming.annindex import search_index

        emb, cents = self._fixture(spark, sf_dir)
        store = self._build(spark, tmp_path, emb, cents, epochs=2)
        queries = emb.filter("vec_id < 2")
        out = search_index(spark, store, queries, cents, k=5, nprobe=2)
        p = plans.plan_string(out)
        # the cell isin predicate lands as a partition filter on the
        # store scan — unprobed cell directories are never opened
        assert "PartitionFilters" in p and "cell" in p


class TestStoreCompaction:
    """streaming/store.py: compacting epoch fragments must be invisible
    to readers, survive continued appends, and preserve the ANN store's
    cell= pruning layout."""

    def test_neardup_store_compaction(self, spark, tmp_path):
        from mofka_spark.streaming.neardup import (
            compact_store,
            neardup_sink,
            read_result,
        )

        docs = TestIncrementalNearDup.DOCS
        store = str(tmp_path / "store")
        sink = neardup_sink(store, num_hashes=32, bands=16)
        sink(spark.createDataFrame(docs[:3], "id long, text string"), 0)
        sink(spark.createDataFrame(docs[3:5], "id long, text string"), 1)
        before = {tuple(r) for r in read_result(spark, store).collect()}
        compact_store(spark, store)
        assert {tuple(r) for r in read_result(spark, store).collect()} == before
        # appends continue after compaction: epoch ids never collide
        # with the reserved -1 slot
        sink(spark.createDataFrame(docs[5:], "id long, text string"), 2)
        got = {tuple(r) for r in read_result(spark, store).collect()}
        assert len(got) == len(docs)
        assert (6, 1, True) in got  # doc 6 still finds its keeper

    def test_crash_between_swap_renames_rolls_forward(
        self, spark, tmp_path, monkeypatch
    ):
        """A crash after swap_compacted's first rename (store moved
        aside, the finished compacted copy not yet moved in) leaves no
        store directory. The next read must return the compacted rows,
        not an empty frame, and the next epoch write must extend them,
        not start a fresh store without the history."""
        from mofka_spark.streaming.store import (
            compact_epoch_store,
            epoch_write,
            read_store,
        )

        class Crash(Exception):
            pass

        store = str(tmp_path / "store")
        schema = "k long"
        epoch_write(spark.createDataFrame([(1,), (2,)], schema), store, 0)
        epoch_write(spark.createDataFrame([(3,)], schema), store, 1)
        renames = []
        real_rename = os.rename

        def rename_then_crash(src, dst):
            renames.append(src)
            if len(renames) == 2:
                raise Crash()
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", rename_then_crash)
        with pytest.raises(Crash):
            compact_epoch_store(spark, store)
        monkeypatch.undo()
        assert not os.path.exists(store)

        def keys(**kw):
            rows = read_store(spark, store, schema, **kw).collect()
            return sorted(r.k for r in rows)

        # as_of_epoch=-1 reads only the compacted slot
        assert keys(as_of_epoch=-1) == [1, 2, 3]
        assert not os.path.exists(store + ".compact-tmp")
        assert not os.path.exists(store + ".compact-old")
        epoch_write(spark.createDataFrame([(4,)], schema), store, 2)
        assert keys() == [1, 2, 3, 4]

    def test_rollup_read_rolls_forward_after_crash(
        self, spark, tmp_path, monkeypatch
    ):
        """The same crash under a rollup store: read_rollup must roll
        the swap forward and return the compacted totals, not raise on
        the missing store directory."""
        from mofka_spark.streaming.rollup import merge, read_rollup, rollup_sink
        from mofka_spark.streaming.store import compact_epoch_store

        class Crash(Exception):
            pass

        store = str(tmp_path / "agg")
        aggs = {"v": ["count", "sum"]}
        sink = rollup_sink(store, ["k"], aggs)
        sink(spark.createDataFrame([("a", 1.0), ("b", 5.0)], "k string, v double"), 0)
        sink(spark.createDataFrame([("a", 2.0)], "k string, v double"), 1)
        renames = []
        real_rename = os.rename

        def rename_then_crash(src, dst):
            renames.append(src)
            if len(renames) == 2:
                raise Crash()
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", rename_then_crash)
        with pytest.raises(Crash):
            compact_epoch_store(spark, store, merge=merge(["k"], aggs))
        monkeypatch.undo()
        assert not os.path.exists(store)
        got = sorted(map(tuple, read_rollup(spark, store, ["k"], aggs).collect()))
        assert got == [("a", 2, 3.0), ("b", 1, 5.0)]
        # the compacted slot holds one row per group
        assert spark.read.parquet(store).count() == 2

    def test_ann_store_compaction_keeps_pruning(self, spark, sf_dir, tmp_path):
        from mofka_spark import plans
        from mofka_spark.operators.similarity import fit_centroids
        from mofka_spark.streaming.annindex import (
            ann_index_sink,
            compact_index,
            search_index,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
            "vec_id < 120"
        )
        cents = fit_centroids(emb, "vec_id", "embedding", 8, seed=7)
        store = str(tmp_path / "annstore")
        sink = ann_index_sink(store, cents, id_col="vec_id")
        sink(emb.filter("vec_id < 60"), 0)
        sink(emb.filter("vec_id >= 60"), 1)
        queries = emb.filter("vec_id < 4")
        before = {
            tuple(r)
            for r in search_index(
                spark, store, queries, cents, k=5, nprobe=3
            ).collect()
        }
        compact_index(spark, store)
        out = search_index(spark, store, queries, cents, k=5, nprobe=3)
        assert {tuple(r) for r in out.collect()} == before
        p = plans.plan_string(out)
        assert "PartitionFilters" in p and "cell" in p


class TestIncrementalInvertedIndex:
    """streaming/textindex.py: an index maintained over any batch
    split must equal the batch inverted_index over the same docs, and
    epoch replay / compaction must be invisible."""

    DOCS = [
        (1, "the quick brown fox"),
        (2, "the quick red fox"),
        (3, "lazy dogs sleep"),
        (4, "the lazy fox naps"),
        (5, "quick dogs bark"),
    ]

    def _expected(self, spark):
        from mofka_spark.operators.text import inverted_index

        df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        return {
            (r.token, r.df, tuple(r.postings))
            for r in inverted_index(df, min_df=2, max_df_ratio=0.9).collect()
        }

    def _run(self, spark, tmp_path, batches, replay=None, compact=False):
        from mofka_spark.streaming.textindex import (
            compact_index, index_sink, read_index,
        )

        store = str(tmp_path / "store")
        sink = index_sink(store)
        for eid, rows in enumerate(batches):
            batch = spark.createDataFrame(rows, "id long, text string")
            sink(batch, eid)
            if replay is not None and eid == replay:
                sink(batch, eid)
        if compact:
            compact_index(spark, store)
        return {
            (r.token, r.df, tuple(r.postings))
            for r in read_index(
                spark, store, min_df=2, max_df_ratio=0.9
            ).collect()
        }

    def test_matches_batch_across_boundaries(self, spark, tmp_path):
        got = self._run(
            spark, tmp_path, [self.DOCS[:2], self.DOCS[2:4], self.DOCS[4:]]
        )
        assert got == self._expected(spark)

    def test_epoch_replay_is_idempotent(self, spark, tmp_path):
        got = self._run(
            spark, tmp_path, [self.DOCS[:3], self.DOCS[3:]], replay=0
        )
        assert got == self._expected(spark)

    def test_compaction_is_invisible(self, spark, tmp_path):
        got = self._run(
            spark, tmp_path, [self.DOCS[:3], self.DOCS[3:]], compact=True
        )
        assert got == self._expected(spark)

    def test_empty_store_reads_empty(self, spark, tmp_path):
        from mofka_spark.streaming.textindex import read_index

        out = read_index(spark, str(tmp_path / "missing")).collect()
        assert out == []

    def test_bucketized_layout_is_invisible(self, spark, tmp_path):
        """read_index returns the identical index before and after
        bucketize_postings, with a post-maintenance overlay epoch, and
        after a compaction (which refreshes the bucketed table)."""
        from mofka_spark.streaming.textindex import (
            bucketize_postings,
            compact_index,
            index_sink,
            read_index,
        )

        store = str(tmp_path / "bkstore")
        sink = index_sink(store)
        table = "bk_postings_eq"
        try:
            sink(spark.createDataFrame(self.DOCS[:3], "id long, text string"), 0)
            bucketize_postings(spark, store, num_buckets=4, table=table)
            # overlay epoch after the maintenance run
            sink(spark.createDataFrame(self.DOCS[3:], "id long, text string"), 1)

            def snap():
                return {
                    (r.token, r.df, tuple(r.postings))
                    for r in read_index(
                        spark, store, min_df=2, max_df_ratio=0.9
                    ).collect()
                }

            assert snap() == self._expected(spark)
            # compaction folds epochs AND refreshes the bucketed table
            compact_index(spark, store)
            assert snap() == self._expected(spark)
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")

    def test_bm25_matches_batch(self, spark, tmp_path):
        from mofka_spark.operators.text import bm25_scores
        from mofka_spark.streaming.textindex import index_sink, read_bm25

        store = str(tmp_path / "bm25store")
        sink = index_sink(store)
        sink(spark.createDataFrame(self.DOCS[:2], "id long, text string"), 0)
        sink(spark.createDataFrame(self.DOCS[2:], "id long, text string"), 1)
        terms = ["quick", "fox"]
        got = {
            (r.id, r.n_terms, r.bm25)
            for r in read_bm25(spark, store, terms).collect()
        }
        batch_df = spark.createDataFrame(self.DOCS, "doc_id long, text string")
        want = {
            (r.id, r.n_terms, r.bm25)
            for r in bm25_scores(batch_df, terms).collect()
        }
        assert got == want  # exact doubles, not approximate


class TestStreamingHeavyHitters:
    """Epoch summaries merge exactly in the uncapped regime, certify
    honestly in the capped regime, replay idempotently, and survive
    compaction unchanged."""

    def _sink_batches(self, spark, path, m):
        from mofka_spark.streaming.heavyhitters import heavyhitter_sink

        sink = heavyhitter_sink(path, m_per_epoch=m)
        b1 = spark.createDataFrame(
            [("x",)] * 5 + [("y",)] * 3 + [("z",)] * 1, "item string"
        )
        b2 = spark.createDataFrame(
            [("x",)] * 2 + [("y",)] * 4 + [("w",)] * 1, "item string"
        )
        sink(b1, 0)
        sink(b2, 1)
        return sink, b2

    def test_exact_regime_matches_batch(self, spark, tmp_path):
        from mofka_spark.streaming.heavyhitters import read_top_k

        path = str(tmp_path / "hh")
        sink, b2 = self._sink_batches(spark, path, m=100)
        out = {r.item: (r.cnt, r.rnk, r.guaranteed) for r in read_top_k(spark, path, 3).collect()}
        assert out == {"x": (7, 1, True), "y": (7, 2, True), "w": (1, 3, True)}
        # replayed epoch overwrites itself — no double counting
        sink(b2, 1)
        out2 = {r.item: r.cnt for r in read_top_k(spark, path, 3).collect()}
        assert out2 == {"x": 7, "y": 7, "w": 1}

    def test_capped_regime_certificate(self, spark, tmp_path):
        from mofka_spark.streaming.heavyhitters import read_top_k

        path = str(tmp_path / "hh")
        # m=1: each epoch keeps only its top item; slack accumulates
        self._sink_batches(spark, path, m=1)
        rows = read_top_k(spark, path, 2).collect()
        by_rank = {r.rnk: r for r in rows}
        # epoch 0 kept x=5 (dropped y=3 -> slack 3); epoch 1 kept
        # y=4 (dropped x=2 -> slack 2). slack=5; top counts are the
        # kept sums (x=5, y=4): k-th (4) <= slack -> NOT guaranteed
        assert by_rank[1].item == "x" and by_rank[1].cnt == 5
        assert by_rank[2].item == "y" and by_rank[2].cnt == 4
        assert not by_rank[1].guaranteed and not by_rank[2].guaranteed

    def test_certificate_rejects_displaceable_runner_up(self, spark, tmp_path):
        """An item kept in SOME epochs but ranked k+1 in the merged view
        can have true count up to c_{k+1} + slack; c_k > slack alone
        would wrongly certify it away. epoch0 keeps y=10 (drops z=3 ->
        slack 3); epoch1 keeps x=12 (drops y=8 -> slack 8). Merged:
        x=12, y=10, slack=11 — y's true count is 18 > 12, so
        read_top_k(k=1) must NOT be guaranteed (12 > 10 + 11 fails)."""
        from mofka_spark.streaming.heavyhitters import (
            heavyhitter_sink,
            read_top_k,
        )

        path = str(tmp_path / "hh")
        sink = heavyhitter_sink(path, m_per_epoch=1)
        sink(
            spark.createDataFrame([("y",)] * 10 + [("z",)] * 3, "item string"),
            0,
        )
        sink(
            spark.createDataFrame([("x",)] * 12 + [("y",)] * 8, "item string"),
            1,
        )
        (row,) = read_top_k(spark, path, 1).collect()
        assert row.item == "x" and row.cnt == 12
        assert not row.guaranteed

    def test_certificate_accepts_dominant_leader(self, spark, tmp_path):
        """Positive case under truncation: c_k > c_{k+1} + slack does
        certify. epoch0 x=20 drops y=2 (slack 2); epoch1 x=15 drops
        z=1 (slack 1). Merged x=35, no runner-up stored; slack=3 ->
        35 > 0 + 3 -> guaranteed even though slack > 0."""
        from mofka_spark.streaming.heavyhitters import (
            heavyhitter_sink,
            read_top_k,
        )

        path = str(tmp_path / "hh")
        sink = heavyhitter_sink(path, m_per_epoch=1)
        sink(
            spark.createDataFrame([("x",)] * 20 + [("y",)] * 2, "item string"),
            0,
        )
        sink(
            spark.createDataFrame([("x",)] * 15 + [("z",)] * 1, "item string"),
            1,
        )
        (row,) = read_top_k(spark, path, 1).collect()
        assert row.item == "x" and row.cnt == 35
        assert row.guaranteed

    def test_compaction_is_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.heavyhitters import merge, read_top_k
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "hh")
        self._sink_batches(spark, path, m=1)
        before = [(r.item, r.cnt, r.rnk, r.guaranteed) for r in read_top_k(spark, path, 3).collect()]
        compact_epoch_store(spark, path, merge=merge)
        after = [(r.item, r.cnt, r.rnk, r.guaranteed) for r in read_top_k(spark, path, 3).collect()]
        assert before == after
        # one row per item + one residual row
        assert spark.read.parquet(path).count() == len(before) + 1

    def test_empty_store_reads_empty(self, spark, tmp_path):
        from mofka_spark.streaming.heavyhitters import read_top_k

        assert read_top_k(spark, str(tmp_path / "none"), 5).count() == 0


class TestStreamingBloom:
    """streaming/bloom.py: OR-mergeable filter words — no false
    negatives ever, replay/compaction invisible, FPR observable."""

    def _fill(self, spark, path, m=1 << 14, k=4):
        from mofka_spark.streaming.bloom import bloom_sink

        sink = bloom_sink(path, "key", m_bits=m, k=k)
        sink(spark.createDataFrame([(f"k{i}",) for i in range(50)], "key string"), 0)
        sink(spark.createDataFrame([(f"k{i}",) for i in range(50, 100)], "key string"), 1)
        return sink

    def test_no_false_negatives_across_epochs(self, spark, tmp_path):
        from mofka_spark.streaming.bloom import read_membership

        path = str(tmp_path / "bf")
        self._fill(spark, path)
        probes = spark.createDataFrame(
            [(f"k{i}",) for i in range(100)], "key string"
        )
        out = read_membership(spark, path, probes, "key", m_bits=1 << 14, k=4)
        assert out.filter(~F.col("might_contain")).count() == 0

    def test_absent_keys_mostly_miss(self, spark, tmp_path):
        from mofka_spark.streaming.bloom import bloom_stats, read_membership

        path = str(tmp_path / "bf")
        self._fill(spark, path)
        probes = spark.createDataFrame(
            [(f"absent{i}",) for i in range(200)], "key string"
        )
        out = read_membership(spark, path, probes, "key", m_bits=1 << 14, k=4)
        fp = out.filter(F.col("might_contain")).count()
        # 100 keys x 4 hashes in 16384 bits -> fill ~2.4%, fpr ~3e-7;
        # allow a generous margin — the point is "mostly false"
        assert fp <= 2
        stats = bloom_stats(spark, path, m_bits=1 << 14, k=4).collect()[0]
        assert 0 < stats.fill_ratio < 0.05 and stats.est_fpr < 1e-4

    def test_replay_and_compaction_are_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.bloom import (
            bloom_sink,
            merge,
            read_membership,
        )
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "bf")
        sink = self._fill(spark, path)
        probes = spark.createDataFrame(
            [(f"k{i}",) for i in range(0, 120, 3)], "key string"
        )

        def snap():
            return {
                (r.key, r.might_contain)
                for r in read_membership(
                    spark, path, probes, "key", m_bits=1 << 14, k=4
                ).collect()
            }

        before = snap()
        # replay epoch 1: OR is idempotent AND the partition overwrites
        sink(
            spark.createDataFrame(
                [(f"k{i}",) for i in range(50, 100)], "key string"
            ),
            1,
        )
        assert snap() == before
        compact_epoch_store(spark, path, merge=merge)
        assert snap() == before
        # exactly one compacted fragment set remains
        assert set(
            spark.read.parquet(path).select("_epoch").distinct().toPandas()["_epoch"]
        ) == {-1}

    def test_empty_store_all_false(self, spark, tmp_path):
        from mofka_spark.streaming.bloom import read_membership

        probes = spark.createDataFrame([("x",)], "key string")
        out = read_membership(
            spark, str(tmp_path / "none"), probes, "key"
        ).collect()
        assert [r.might_contain for r in out] == [False]


class TestStreamingSample:
    """streaming/sample.py: bottom-k race keys merge to the exact
    all-history sample regardless of batch boundaries or replays."""

    def _expected(self, spark, keys, k=5):
        from mofka_spark.operators.sampling import hash_bucket

        df = spark.createDataFrame([(x,) for x in keys], "key string")
        raced = df.withColumn("race", hash_bucket(F.col("key"), "rs"))
        return [
            (r.key, r.race)
            for r in raced.orderBy("race", "key").limit(k).collect()
        ]

    def test_merge_equals_batch_bottom_k(self, spark, tmp_path):
        from mofka_spark.streaming.sample import read_sample, sample_sink

        keys = [f"doc{i}" for i in range(40)]
        path = str(tmp_path / "rs")
        sink = sample_sink(path, "key", k=5)
        # three uneven epochs, overlapping key in two of them
        for eid, part in enumerate([keys[:7], keys[7:30] + [keys[0]], keys[30:]]):
            sink(spark.createDataFrame([(x,) for x in part], "key string"), eid)
        got = [
            (r.key, r.race)
            for r in read_sample(spark, path, k=5).orderBy("rnk").collect()
        ]
        assert got == self._expected(spark, keys)

    def test_replay_and_compaction_are_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.sample import (
            merge,
            read_sample,
            sample_sink,
        )
        from mofka_spark.streaming.store import compact_epoch_store

        keys = [f"doc{i}" for i in range(30)]
        path = str(tmp_path / "rs")
        sink = sample_sink(path, "key", k=5)
        b0 = spark.createDataFrame([(x,) for x in keys[:15]], "key string")
        b1 = spark.createDataFrame([(x,) for x in keys[15:]], "key string")
        sink(b0, 0)
        sink(b1, 1)
        before = [tuple(r) for r in read_sample(spark, path, 5).orderBy("rnk").collect()]
        sink(b1, 1)  # replay
        assert [tuple(r) for r in read_sample(spark, path, 5).orderBy("rnk").collect()] == before
        compact_epoch_store(spark, path, merge=merge(5))
        assert [tuple(r) for r in read_sample(spark, path, 5).orderBy("rnk").collect()] == before

    def test_stratified_and_time_travel(self, spark, tmp_path):
        from mofka_spark.streaming.sample import read_sample, sample_sink

        path = str(tmp_path / "rs")
        sink = sample_sink(path, "key", strata_col="grp", k=3)
        sink(
            spark.createDataFrame(
                [(f"a{i}", "x") for i in range(10)]
                + [(f"b{i}", "y") for i in range(10)],
                "key string, grp string",
            ),
            0,
        )
        sink(
            spark.createDataFrame(
                [(f"c{i}", "x") for i in range(10)], "key string, grp string"
            ),
            1,
        )
        full = read_sample(spark, path, k=3)
        assert full.filter(F.col("stratum") == "x").count() == 3
        assert full.filter(F.col("stratum") == "y").count() == 3
        # as-of epoch 0 sees only the first batch's keys
        asof = read_sample(spark, path, k=3, as_of_epoch=0)
        keys0 = {r.key for r in asof.collect()}
        assert keys0 and all(k0[0] in ("a", "b") for k0 in keys0)


class TestStreamingMoments:
    """Mergeable uncentered moments: any epoch split recovers the same
    covariance/eigenvector as one batch; replay and compaction are
    invisible."""

    def _vecs(self, lo, hi):
        return [
            ([float((i * 7) % 5), float((i * 3) % 4), float(i % 3)],)
            for i in range(lo, hi)
        ]

    def test_split_equals_single_batch(self, spark, tmp_path):
        from mofka_spark.streaming.moments import moments_sink, read_moments

        import numpy as np

        one = str(tmp_path / "one")
        two = str(tmp_path / "two")
        sink1 = moments_sink(one)
        sink1(spark.createDataFrame(self._vecs(0, 30), "vec array<double>"), 0)
        sink2 = moments_sink(two)
        sink2(spark.createDataFrame(self._vecs(0, 11), "vec array<double>"), 0)
        sink2(spark.createDataFrame(self._vecs(11, 30), "vec array<double>"), 1)
        n1, m1, c1 = read_moments(spark, one)
        n2, m2, c2 = read_moments(spark, two)
        assert n1 == n2 == 30
        assert np.allclose(m1, m2) and np.allclose(c1, c2, atol=1e-12)

    def test_replay_and_compaction_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.moments import (
            merge,
            moments_sink,
            read_component,
        )
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "m")
        sink = moments_sink(path)
        b1 = spark.createDataFrame(self._vecs(0, 15), "vec array<double>")
        b2 = spark.createDataFrame(self._vecs(15, 30), "vec array<double>")
        sink(b1, 0)
        sink(b2, 1)
        sink(b2, 1)  # replayed epoch overwrites, never double-counts
        before = [(r.d, r.v) for r in read_component(spark, path).collect()]
        compact_epoch_store(spark, path, merge=merge)
        after = [(r.d, r.v) for r in read_component(spark, path).collect()]
        assert before == after
        # compacted store holds exactly one partial set: d^2 + d + 1
        assert spark.read.parquet(path).count() == 9 + 3 + 1

    def test_matches_batch_pca_direction(self, spark, tmp_path):
        from mofka_spark.operators.similarity import pca_power
        from mofka_spark.streaming.moments import moments_sink, read_moments

        import numpy as np

        rows = [(i, v[0]) for i, v in enumerate(self._vecs(0, 25))]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        path = str(tmp_path / "m")
        moments_sink(path, "embedding")(df.select("embedding"), 0)
        _n, mean, cov = read_moments(spark, path)
        # batch pca projections must equal (x - mean) . v for the
        # eigenvector of the streaming store's covariance
        v = np.full(3, 1.0 / np.sqrt(3))
        for _ in range(4):
            u = cov @ v
            v = u / np.linalg.norm(u)
        batch = {r.vec_id: r.pc1 for r in pca_power(df).collect()}
        for i, (vec,) in enumerate(self._vecs(0, 25)):
            expect = float(np.dot(np.array(vec) - mean, v))
            assert abs(batch[i] - round(expect, 6)) < 1e-4

    def test_empty_store_raises(self, spark, tmp_path):
        import pytest as _pytest

        from mofka_spark.streaming.moments import read_moments

        with _pytest.raises(ValueError):
            read_moments(spark, str(tmp_path / "none"))


class TestStreamingDistinct:
    """HLL sketch fragments union exactly: any epoch split gives the
    same estimate as one batch; replay and compaction are invisible."""

    def _batch(self, spark, lo, hi):
        return spark.createDataFrame(
            [("t", f"u{i % 40}") for i in range(lo, hi)], "g string, u string"
        )

    def test_split_equals_single_batch_estimate(self, spark, tmp_path):
        from mofka_spark.streaming.distinct import distinct_sink, read_distinct

        one, two = str(tmp_path / "one"), str(tmp_path / "two")
        distinct_sink(one, ["g"], "u")(self._batch(spark, 0, 100), 0)
        s2 = distinct_sink(two, ["g"], "u")
        s2(self._batch(spark, 0, 37), 0)
        s2(self._batch(spark, 37, 100), 1)
        schema = "g string, sk binary"
        a = read_distinct(spark, one, ["g"], schema).collect()[0].approx_distinct
        b = read_distinct(spark, two, ["g"], schema).collect()[0].approx_distinct
        assert a == b
        # lg_k=12 at 40 true distinct: estimate is exact-ish
        assert abs(a - 40) <= 2

    def test_replay_and_compaction_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.distinct import (
            distinct_sink,
            merge,
            read_distinct,
        )
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "d")
        sink = distinct_sink(path, ["g"], "u")
        b1, b2 = self._batch(spark, 0, 50), self._batch(spark, 50, 100)
        sink(b1, 0)
        sink(b2, 1)
        sink(b2, 1)  # replay overwrites its own epoch
        schema = "g string, sk binary"
        before = read_distinct(spark, path, ["g"], schema).collect()
        compact_epoch_store(spark, path, merge=merge(["g"]))
        after = read_distinct(spark, path, ["g"], schema).collect()
        assert [(r.g, r.approx_distinct) for r in before] == [
            (r.g, r.approx_distinct) for r in after
        ]
        assert spark.read.parquet(path).count() == 1  # one sketch/group

    def test_empty_store_reads_empty(self, spark, tmp_path):
        from mofka_spark.streaming.distinct import read_distinct

        out = read_distinct(
            spark, str(tmp_path / "none"), ["g"], "g string, sk binary"
        )
        assert out.count() == 0


class TestStreamingQuantiles:
    """Histogram partials merge exactly: epoch split == single batch;
    replay and compaction invisible; envelope brackets the true
    quantile."""

    def _batch(self, spark, lo, hi):
        return spark.createDataFrame(
            [("t", float(i % 100)) for i in range(lo, hi)],
            "g string, v double",
        )

    def _read(self, spark, path):
        from mofka_spark.streaming.quantiles import read_quantiles

        return sorted(
            (r.g, r.q, r.bin, r.bin_lo, r.bin_hi, r.n_rows)
            for r in read_quantiles(
                spark, path, ["g"], "g string, bin long, cnt long",
                [0.5, 0.9], lo=0.0, hi=100.0, nbins=20,
            ).collect()
        )

    def test_split_equals_single_batch(self, spark, tmp_path):
        from mofka_spark.streaming.quantiles import histogram_sink

        one, two = str(tmp_path / "one"), str(tmp_path / "two")
        histogram_sink(one, ["g"], "v", 0.0, 100.0, 20)(
            self._batch(spark, 0, 200), 0
        )
        s2 = histogram_sink(two, ["g"], "v", 0.0, 100.0, 20)
        s2(self._batch(spark, 0, 77), 0)
        s2(self._batch(spark, 77, 200), 1)
        assert self._read(spark, one) == self._read(spark, two)

    def test_envelope_brackets_true_quantile(self, spark, tmp_path):
        from mofka_spark.streaming.quantiles import histogram_sink

        path = str(tmp_path / "h")
        histogram_sink(path, ["g"], "v", 0.0, 100.0, 20)(
            self._batch(spark, 0, 200), 0
        )
        rows = {r[1]: r for r in self._read(spark, path)}
        # values are uniform 0..99: the median lives in [45, 55)
        q, b, blo, bhi, n = rows[0.5][1:]
        assert blo <= 50.0 <= bhi
        assert n == 200

    def test_replay_and_compaction_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.quantiles import histogram_sink, merge
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "h")
        sink = histogram_sink(path, ["g"], "v", 0.0, 100.0, 20)
        b2 = self._batch(spark, 100, 200)
        sink(self._batch(spark, 0, 100), 0)
        sink(b2, 1)
        sink(b2, 1)  # replay overwrites its own epoch
        before = self._read(spark, path)
        compact_epoch_store(spark, path, merge=merge(["g"]))
        after = self._read(spark, path)
        assert before == after
        assert before[0][5] == 200  # no double counting


class TestStoreTimeTravel:
    """as_of_epoch reproduces the state each micro-batch committed."""

    def test_rollup_as_of(self, spark, tmp_path):
        from mofka_spark.streaming.rollup import read_rollup, rollup_sink

        path = str(tmp_path / "agg")
        aggs = {"v": ["count", "sum"]}
        sink = rollup_sink(path, ["k"], aggs)
        sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
        sink(spark.createDataFrame([("a", 9.0)], "k string, v double"), 1)

        def snap(as_of=None):
            return {
                r.k: (r.v_count, r.v_sum)
                for r in read_rollup(
                    spark, path, ["k"], aggs, as_of_epoch=as_of
                ).collect()
            }

        assert snap(0) == {"a": (1, 1.0)}
        assert snap(1) == snap(None) == {"a": (2, 10.0)}

    def test_heavyhitters_and_quantiles_as_of(self, spark, tmp_path):
        from mofka_spark.streaming.heavyhitters import (
            heavyhitter_sink,
            read_top_k,
        )
        from mofka_spark.streaming.quantiles import (
            histogram_sink,
            read_quantiles,
        )

        hh = str(tmp_path / "hh")
        sink = heavyhitter_sink(hh, m_per_epoch=10)
        sink(spark.createDataFrame([("x",)] * 3, "item string"), 0)
        sink(spark.createDataFrame([("x",)] * 2, "item string"), 1)
        assert read_top_k(spark, hh, 1, as_of_epoch=0).collect()[0].cnt == 3
        assert read_top_k(spark, hh, 1).collect()[0].cnt == 5

        hist = str(tmp_path / "hist")
        hsink = histogram_sink(hist, ["g"], "v", 0.0, 10.0, 10)
        hsink(
            spark.createDataFrame([("t", 1.0)] * 4, "g string, v double"), 0
        )
        hsink(
            spark.createDataFrame([("t", 9.0)] * 6, "g string, v double"), 1
        )
        schema = "g string, bin long, cnt long"
        early = read_quantiles(
            spark, hist, ["g"], schema, [0.5], 0.0, 10.0, 10, as_of_epoch=0
        ).collect()[0]
        late = read_quantiles(
            spark, hist, ["g"], schema, [0.5], 0.0, 10.0, 10
        ).collect()[0]
        assert (early.bin, early.n_rows) == (1, 4)
        assert (late.bin, late.n_rows) == (9, 10)

    def test_compaction_folds_history_below_the_cut(self, spark, tmp_path):
        from mofka_spark.streaming.rollup import (
            merge,
            read_rollup,
            rollup_sink,
        )
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "agg")
        aggs = {"v": ["sum"]}
        sink = rollup_sink(path, ["k"], aggs)
        sink(spark.createDataFrame([("a", 1.0)], "k string, v double"), 0)
        sink(spark.createDataFrame([("a", 2.0)], "k string, v double"), 1)
        compact_epoch_store(spark, path, merge=merge(["k"], aggs))
        sink(spark.createDataFrame([("a", 4.0)], "k string, v double"), 2)
        # below the compaction point, history is folded (LSM deal):
        # as_of 0 now sees the whole compacted prefix
        snap0 = read_rollup(spark, path, ["k"], aggs, as_of_epoch=0).collect()
        assert snap0[0].v_sum == 3.0
        snap2 = read_rollup(spark, path, ["k"], aggs, as_of_epoch=2).collect()
        assert snap2[0].v_sum == 7.0


class TestStreamingDsir:
    """Bucket counts are exact mergeable sums: any epoch split yields
    the identical raw distribution — and therefore identical DSIR
    weights — as one batch scan; replay and compaction are invisible."""

    def _docs(self, spark, lo, hi):
        rows = [
            (i, f"doc {i} the quick token t{i % 7} body text") for i in range(lo, hi)
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_split_equals_single_batch(self, spark, tmp_path):
        from mofka_spark.streaming.dsirstore import dsir_sink, read_bucket_counts

        one, two = str(tmp_path / "one"), str(tmp_path / "two")
        dsir_sink(one)(self._docs(spark, 0, 60), 0)
        s2 = dsir_sink(two)
        s2(self._docs(spark, 0, 23), 0)
        s2(self._docs(spark, 23, 60), 1)
        a = sorted(map(tuple, read_bucket_counts(spark, one).collect()))
        b = sorted(map(tuple, read_bucket_counts(spark, two).collect()))
        assert a == b and a

    def test_weights_from_store_equal_batch(self, spark, tmp_path):
        from mofka_spark.operators.sampling import dsir_weights
        from mofka_spark.streaming.dsirstore import dsir_sink, read_bucket_counts

        docs = self._docs(spark, 0, 50).withColumn(
            "lang",
            (F.col("doc_id") % 3 == 0).cast("string"),
        )
        path = str(tmp_path / "s")
        sink = dsir_sink(path)
        sink(docs.filter("doc_id < 25"), 0)
        sink(docs.filter("doc_id >= 25"), 1)
        target = docs.filter("lang = 'true'")
        batch = sorted(map(tuple, dsir_weights(docs, target).collect()))
        stored = sorted(
            map(
                tuple,
                dsir_weights(
                    docs, target, raw_counts=read_bucket_counts(spark, path)
                ).collect(),
            )
        )
        assert batch == stored

    def test_replay_and_compaction_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.dsirstore import (
            dsir_sink,
            merge,
            read_bucket_counts,
        )
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "d")
        sink = dsir_sink(path)
        sink(self._docs(spark, 0, 30), 0)
        sink(self._docs(spark, 30, 60), 1)
        sink(self._docs(spark, 30, 60), 1)  # replay overwrites its epoch
        before = sorted(map(tuple, read_bucket_counts(spark, path).collect()))
        compact_epoch_store(spark, path, merge=merge)
        after = sorted(map(tuple, read_bucket_counts(spark, path).collect()))
        assert before == after
        # one row per bucket after compaction
        n_buckets = spark.read.parquet(path).select("bucket").distinct().count()
        assert spark.read.parquet(path).count() == n_buckets

    def test_time_travel(self, spark, tmp_path):
        from mofka_spark.streaming.dsirstore import dsir_sink, read_bucket_counts

        path = str(tmp_path / "t")
        sink = dsir_sink(path)
        sink(self._docs(spark, 0, 30), 0)
        total0 = read_bucket_counts(spark, path).agg(F.sum("cr")).collect()[0][0]
        sink(self._docs(spark, 30, 60), 1)
        asof = read_bucket_counts(spark, path, as_of_epoch=0)
        assert asof.agg(F.sum("cr")).collect()[0][0] == total0


class TestFloorAliasing:
    """The shared default floor file must never make a query SKIP rows
    it has not delivered: file-loaded floors are advisory until the
    query's own restored position confirms ownership."""

    def _reader(self, driver, topic_name):
        from mofka_spark.streaming.source import MofkaStreamReader

        return MofkaStreamReader(
            {"path": driver.root, "topic": topic_name, "batch_size": 5}
        )

    def test_foreign_floor_discarded_no_skip(self, driver):
        topic = _fill_topic(driver, name="alias-t", partitions=1, n=20)
        r1 = self._reader(driver, "alias-t")
        r1.initialOffset()
        r1.commit({"0": 10})  # query 1 commits through offset 10

        # query 2 restarts (no initialOffset) at its own position 4:
        # it loads query 1's file floor but must NOT clamp with it
        r2 = self._reader(driver, "alias-t")
        assert r2._file_floor == {"0": 10}
        parts = r2.partitions({"0": 2}, {"0": 4})
        ranges = [(p.start, p.end) for p in parts]
        assert (2, 4) in ranges          # full range delivered
        assert r2._file_floor == {}      # foreign floor discarded

    def test_own_floor_promoted_suppresses_replay(self, driver):
        _fill_topic(driver, name="alias-t2", partitions=1, n=20)
        r1 = self._reader(driver, "alias-t2")
        r1.initialOffset()
        r1.partitions({"0": 5}, {"0": 10})   # the batch that commits
        r1.commit({"0": 10})

        # the SAME query restarts into the crash window (sink + floor
        # committed, Spark's commit-log write lost): the replayed
        # batch carries the floor's exact (start, end) signature —
        # promote, clamp empty, duplicates suppressed
        r2 = self._reader(driver, "alias-t2")
        parts = r2.partitions({"0": 5}, {"0": 10})
        assert all(p.start >= 10 or p.start == p.end for p in parts)
        assert r2._floor.get("0") == 10

    def test_foreign_pending_replay_not_skipped(self, driver):
        """A FOREIGN query's pending replay overlapping the floor must
        deliver in full: its (start, end) does not match the floor's
        committed-batch signature and its start is behind the floor."""
        _fill_topic(driver, name="alias-t5", partitions=1, n=20)
        r1 = self._reader(driver, "alias-t5")
        r1.initialOffset()
        r1.partitions({"0": 5}, {"0": 10})
        r1.commit({"0": 10})

        r2 = self._reader(driver, "alias-t5")   # different query, pending (2, 12)
        parts = r2.partitions({"0": 2}, {"0": 12})
        ranges = [(p.start, p.end) for p in parts]
        assert (2, 12) in ranges            # rows 2..10 NOT skipped
        assert r2._file_floor == {}

    def test_owner_past_floor_promotes(self, driver):
        _fill_topic(driver, name="alias-t6", partitions=1, n=20)
        r1 = self._reader(driver, "alias-t6")
        r1.initialOffset()
        r1.partitions({"0": 5}, {"0": 10})
        r1.commit({"0": 10})

        r2 = self._reader(driver, "alias-t6")
        # owner's NEXT batch after a clean restart starts AT the floor
        parts = r2.partitions({"0": 10}, {"0": 15})
        assert any(p.start == 10 and p.end == 15 for p in parts)
        assert r2._floor.get("0") == 10

    def test_clean_restart_announcement_does_not_bless_foreign_floor(
        self, driver
    ):
        """The circular case: a CLEAN restart (no pending batch) calls
        latestOffset FIRST — its announcement is seeded by the foreign
        file floor, so the following partitions() end >= floor proves
        nothing. Ownership must be judged by the batch START (Spark's
        offset log); here start=2 < floor=10 -> foreign, no skip."""
        topic = _fill_topic(driver, name="alias-t4", partitions=1, n=20)
        r1 = self._reader(driver, "alias-t4")
        r1.initialOffset()
        r1.commit({"0": 10})

        r2 = self._reader(driver, "alias-t4")
        out = r2.latestOffset()          # announcement-first restart
        assert int(out["0"]) >= 10       # seeded by the file floor
        parts = r2.partitions({"0": 2}, {"0": int(out["0"])})
        ranges = [(p.start, p.end) for p in parts]
        assert (2, int(out["0"])) in ranges   # rows 2..10 NOT skipped
        assert r2._file_floor == {}           # foreign floor discarded

    def test_announcement_uses_pending_floor(self, driver):
        _fill_topic(driver, name="alias-t3", partitions=1, n=20)
        r1 = self._reader(driver, "alias-t3")
        r1.initialOffset()
        r1.commit({"0": 10})

        r2 = self._reader(driver, "alias-t3")
        # before any evidence the announcement base respects the file
        # floor (announcing high merely enlarges a batch)
        out = r2.latestOffset()
        assert int(out["0"]) >= 10


class TestCompactionRefreshesBucketizedLayout:
    """A specialized store compactor (here: the DSIR bucket-count
    store) must refresh the bucketized layout's watermark — compaction
    folds every epoch to _epoch=-1, which sits below any watermark, so
    without the refresh read_store_split would drop the folded rows
    from the (base, overlay) split."""

    def test_dsir_compact_after_bucketize_keeps_split_exact(
        self, spark, tmp_path
    ):
        from mofka_spark.streaming.dsirstore import (
            dsir_sink,
            merge,
            read_bucket_counts,
        )
        from mofka_spark.streaming.store import (
            bucketize_store,
            compact_epoch_store,
            read_store_split,
        )

        path = str(tmp_path / "store")
        sink = dsir_sink(path)
        docs = lambda lo, hi: spark.createDataFrame(
            [(i, f"tok{i % 11} body text {i}") for i in range(lo, hi)],
            ["doc_id", "text"],
        )
        sink(docs(0, 30), 0)
        sink(docs(30, 60), 1)
        table = "bk_dsir_test"
        try:
            bucketize_store(spark, path, ["bucket"], num_buckets=4, table=table)
            want = sorted(map(tuple, read_bucket_counts(spark, path).collect()))
            compact_epoch_store(spark, path, merge=merge)
            base, overlay = read_store_split(
                spark, path, "bucket long, c long"
            )
            merged = (
                base.unionByName(overlay.drop("_epoch"))
                if overlay is not None
                else base
            )
            got = sorted(
                map(
                    tuple,
                    merged.groupBy("bucket")
                    .agg(F.sum("c").alias("cr"))
                    .collect(),
                )
            )
            assert got == want
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


class TestHeavyHittersUnderfilledCertificate:
    def test_fewer_stored_than_k_not_guaranteed(self, spark, tmp_path):
        """m_per_epoch < k: an item dropped every epoch can hold a
        true count up to slack, so a k wider than the stored summary
        must never certify."""
        from mofka_spark.streaming.heavyhitters import (
            heavyhitter_sink,
            read_top_k,
        )

        path = str(tmp_path / "hh")
        sink = heavyhitter_sink(path, "w", m_per_epoch=3)
        batch = spark.createDataFrame(
            [("a",)] * 50 + [("b",)] * 40 + [("c",)] * 30 + [("d",)] * 2,
            ["w"],
        )
        sink(batch, 0)  # keeps a,b,c; drops d -> slack 2
        rows = read_top_k(spark, path, k=10).collect()
        assert 0 < len(rows) < 10
        assert all(not r.guaranteed for r in rows)

    def test_full_kplus1_still_certifies(self, spark, tmp_path):
        from mofka_spark.streaming.heavyhitters import (
            heavyhitter_sink,
            read_top_k,
        )

        path = str(tmp_path / "hh2")
        sink = heavyhitter_sink(path, "w", m_per_epoch=3)
        batch = spark.createDataFrame(
            [("a",)] * 50 + [("b",)] * 40 + [("c",)] * 30 + [("d",)] * 2,
            ["w"],
        )
        sink(batch, 0)
        rows = read_top_k(spark, path, k=2).collect()
        # c_2 = 40 > c_3 (30) + slack (2) -> certifiable
        assert [r.item for r in rows] == ["a", "b"]
        assert all(r.guaranteed for r in rows)


class TestBloomProbeRobustness:
    def test_colliding_probe_columns_and_duplicates(self, spark, tmp_path):
        """Probe frames may carry columns named word/pos/bits and
        duplicate rows — membership must neither crash nor collapse
        them."""
        from mofka_spark.streaming.bloom import bloom_sink, read_membership

        path = str(tmp_path / "bf")
        bloom_sink(path, "key")(
            spark.createDataFrame([("a",), ("b",)], ["key"]), 0
        )
        probes = spark.createDataFrame(
            [("a", "word-collide", 7), ("a", "dup", 7), ("zz", "x", 1)],
            ["key", "word", "pos"],
        )
        out = read_membership(spark, path, probes, "key").collect()
        assert len(out) == 3                       # duplicates preserved
        assert {c for c in out[0].asDict()} == {
            "key", "word", "pos", "might_contain"
        }
        hits = [r.might_contain for r in out if r.key == "a"]
        assert hits == [True, True]
        (miss,) = [r for r in out if r.key == "zz"]
        assert miss.might_contain is False

    def test_null_probe_key_is_false(self, spark, tmp_path):
        from mofka_spark.streaming.bloom import bloom_sink, read_membership

        path = str(tmp_path / "bfn")
        bloom_sink(path, "key")(
            spark.createDataFrame([("a",)], ["key"]), 0
        )
        probes = spark.createDataFrame(
            [("a",), (None,)], "key string"
        )
        out = {r.key: r.might_contain for r in read_membership(
            spark, path, probes, "key").collect()}
        assert out["a"] is True
        assert out[None] is False   # pinned: False, never NULL


class TestStreamingCountMin:
    """streaming/cms.py: cell sums merge exactly — epoch boundaries,
    replays, and compaction are invisible to estimates."""

    def _epochs(self, spark, path, width=64):
        from mofka_spark.streaming.cms import cms_sink

        sink = cms_sink(path, "key", depth=4, width=width)
        sink(spark.createDataFrame([("a",)] * 3 + [("b",)] * 1, "key string"), 0)
        sink(spark.createDataFrame([("a",)] * 2 + [("c",)] * 4, "key string"), 1)
        return sink

    def _est(self, spark, path, width=64, as_of=None):
        from mofka_spark.streaming.cms import cms_estimates

        probes = spark.createDataFrame(
            [("a",), ("b",), ("c",), ("nope",)], "key string"
        )
        return {
            r.key: r.est
            for r in cms_estimates(
                spark, path, probes, "key", depth=4, width=width,
                as_of_epoch=as_of,
            ).collect()
        }

    def test_epoch_split_equals_batch(self, spark, tmp_path):
        from mofka_spark.operators.sketch import (
            count_min_build,
            count_min_estimate,
        )

        path = str(tmp_path / "cms")
        self._epochs(spark, path)
        streamed = self._est(spark, path)
        whole = spark.createDataFrame(
            [("a",)] * 5 + [("b",)] * 1 + [("c",)] * 4, "key string"
        )
        probes = spark.createDataFrame(
            [("a",), ("b",), ("c",), ("nope",)], "key string"
        )
        batch = {
            r.key: r.est
            for r in count_min_estimate(
                count_min_build(whole, "key", depth=4, width=64),
                probes, "key", depth=4, width=64,
            ).collect()
        }
        assert streamed == batch
        assert streamed["a"] == 5 and streamed["nope"] == 0

    def test_replay_and_compaction_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.cms import merge
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "cms")
        sink = self._epochs(spark, path)
        before = self._est(spark, path)
        # replay epoch 1: the partition overwrite makes it idempotent
        sink(spark.createDataFrame([("a",)] * 2 + [("c",)] * 4, "key string"), 1)
        assert self._est(spark, path) == before
        compact_epoch_store(spark, path, merge=merge)
        assert self._est(spark, path) == before
        assert set(
            spark.read.parquet(path).select("_epoch").distinct().toPandas()["_epoch"]
        ) == {-1}

    def test_time_travel_reads_prefix(self, spark, tmp_path):
        path = str(tmp_path / "cms")
        self._epochs(spark, path)
        at0 = self._est(spark, path, as_of=0)
        assert at0["a"] == 3 and at0["b"] == 1 and at0["c"] == 0

    def test_empty_store_estimates_zero(self, spark, tmp_path):
        est = self._est(spark, str(tmp_path / "none"))
        assert est == {"a": 0, "b": 0, "c": 0, "nope": 0}


class TestStreamingBottomkDistinct:
    """streaming/sample.py estimate_distinct: the sample store doubles
    as a KMV cardinality sketch."""

    def _fill(self, spark, path, k=8):
        from mofka_spark.streaming.sample import sample_sink

        sink = sample_sink(path, "key", "s", k=k)
        sink(
            spark.createDataFrame(
                [("a", f"k{i}") for i in range(30)] + [("b", "x1")],
                "s string, key string",
            ),
            0,
        )
        sink(
            spark.createDataFrame(
                [("a", f"k{i}") for i in range(20, 60)] + [("b", "x2")],
                "s string, key string",
            ),
            1,
        )
        return sink

    def test_small_stratum_exact_large_estimated(self, spark, tmp_path):
        from mofka_spark.streaming.sample import estimate_distinct

        path = str(tmp_path / "bk")
        self._fill(spark, path, k=8)
        out = {
            r.stratum: r.est_distinct
            for r in estimate_distinct(spark, path, k=8).collect()
        }
        assert out["b"] == 2.0  # below k: exact
        assert abs(out["a"] - 60) / 60 < 1.0  # k=8: coarse but sane

    def test_replay_and_compaction_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.sample import estimate_distinct, merge
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "bk")
        sink = self._fill(spark, path, k=8)
        before = {
            tuple(r)
            for r in estimate_distinct(spark, path, k=8).collect()
        }
        sink(
            spark.createDataFrame(
                [("a", f"k{i}") for i in range(20, 60)] + [("b", "x2")],
                "s string, key string",
            ),
            1,
        )
        after_replay = {
            tuple(r)
            for r in estimate_distinct(spark, path, k=8).collect()
        }
        assert after_replay == before
        compact_epoch_store(spark, path, merge=merge(8))
        assert {
            tuple(r)
            for r in estimate_distinct(spark, path, k=8).collect()
        } == before

    def test_matches_batch_estimator(self, spark, tmp_path):
        """stream-merged estimate == the batch bottomk estimator shape
        over the same keys and race family (salt 'rs', MOD 1e6)."""
        from mofka_spark.operators.sampling import _MOD, hash_bucket
        from mofka_spark.streaming.sample import estimate_distinct

        path = str(tmp_path / "bk")
        self._fill(spark, path, k=8)
        got = {
            r.stratum: r.est_distinct
            for r in estimate_distinct(spark, path, k=8).collect()
        }
        keys = spark.createDataFrame(
            [("a", f"k{i}") for i in range(60)], "s string, key string"
        )
        u = (
            hash_bucket(F.col("key"), "rs").cast("double") + F.lit(1.0)
        ) / F.lit(float(_MOD))
        from pyspark.sql import Window

        w = Window.partitionBy("s").orderBy("_u")
        ranked = (
            keys.distinct()
            .select("s", u.alias("_u"))
            .withColumn("_rn", F.row_number().over(w))
        )
        (uk,) = ranked.filter(F.col("_rn") == 8).select("_u").collect()
        import builtins

        assert got["a"] == builtins.round(7.0 / uk._u, 4)


class TestStreamingDrift:
    """streaming/quantiles.py read_drift: PSI-since-checkpoint off the
    stored histograms alone."""

    SCHEMA = "g string, bin long, cnt long"

    def _sink(self, path):
        from mofka_spark.streaming.quantiles import histogram_sink

        return histogram_sink(path, ["g"], "v", lo=0.0, hi=10.0, nbins=10)

    def test_no_drift_then_shift_detected(self, spark, tmp_path):
        from mofka_spark.streaming.quantiles import read_drift

        path = str(tmp_path / "h")
        sink = self._sink(path)
        base = spark.createDataFrame(
            [("a", float(i % 10)) for i in range(200)], ["g", "v"]
        )
        sink(base, 0)
        # epoch 1 repeats the same distribution: psi ~ 0
        sink(base, 1)
        (row,) = read_drift(
            spark, path, "g", self.SCHEMA, nbins=10, ref_epoch=0
        ).collect()
        assert not row.drifted and row.psi < 0.05
        assert row.n_ref == 200 and row.n_cur == 400
        # epoch 2 dumps everything in the top bin: drift flips
        sink(
            spark.createDataFrame([("a", 9.5)] * 2000, ["g", "v"]), 2
        )
        (row2,) = read_drift(
            spark, path, "g", self.SCHEMA, nbins=10, ref_epoch=0
        ).collect()
        assert row2.drifted and row2.psi > 0.2

    def test_group_without_reference_omitted(self, spark, tmp_path):
        from mofka_spark.streaming.quantiles import read_drift

        path = str(tmp_path / "h")
        sink = self._sink(path)
        sink(spark.createDataFrame([("a", 1.0)] * 10, ["g", "v"]), 0)
        sink(spark.createDataFrame([("b", 2.0)] * 10, ["g", "v"]), 1)
        out = {r.g for r in read_drift(
            spark, path, "g", self.SCHEMA, nbins=10, ref_epoch=0
        ).collect()}
        assert out == {"a"}  # 'b' has no epoch-0 baseline

    def test_compaction_preserves_current_not_reference(self, spark, tmp_path):
        """compaction folds epochs into one slot: the FULL distribution
        (current side) is unchanged, but per-epoch reference cuts are
        traded away — the documented LSM deal (snapshot the ref PSI
        before compacting)."""
        from mofka_spark.streaming.quantiles import merge, read_drift
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "h")
        sink = self._sink(path)
        sink(spark.createDataFrame([("a", float(i % 10)) for i in range(100)], ["g", "v"]), 0)
        sink(spark.createDataFrame([("a", 9.5)] * 300, ["g", "v"]), 1)
        before = read_drift(
            spark, path, "g", self.SCHEMA, nbins=10, ref_epoch=None
        ).collect()
        compact_epoch_store(spark, path, merge=merge(["g"]))
        after = read_drift(
            spark, path, "g", self.SCHEMA, nbins=10, ref_epoch=None
        ).collect()
        # ref=None means ref == cur == full store: psi exactly 0, and
        # identical before/after compaction
        assert before == after
        assert after[0].psi == 0.0


class TestIncrementalPqIndex:
    """streaming/pqindex.py: the compressed-domain ANN store."""

    def _models(self):
        cents = [[0.0, 0.0, 0.0, 0.0], [50.0, 50.0, 0.0, 0.0]]
        books = [
            [[0.0, 0.0], [50.0, 50.0]],
            [[0.0, 0.0], [5.0, 5.0]],
        ]
        return books, cents

    def _corpus(self, spark):
        rows = [(i, [float(i % 3), 0.0, 0.0, 0.0]) for i in range(8)]
        rows += [(10 + i, [50.0, 50.0, 5.0, 5.0]) for i in range(4)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_any_epoch_split_equals_batch(self, spark, tmp_path):
        from mofka_spark.operators.similarity import ivfpq_topk, pq_encode
        from mofka_spark.streaming.pqindex import (
            pq_index_sink,
            search_pq_index,
        )

        books, cents = self._models()
        df = self._corpus(spark)
        store = str(tmp_path / "s1")
        sink = pq_index_sink(store, books, cents, id_col="vec_id")
        sink(df.filter("vec_id < 5"), 0)
        sink(df.filter("vec_id >= 5"), 1)
        q = df.filter("vec_id = 0")
        got = sorted(
            (r["neighbor_id"], r["distance"], r["rank"])
            for r in search_pq_index(
                spark, store, q, books, cents, k=4, nprobe=1
            ).collect()
        )
        batch = sorted(
            (r["neighbor_id"], r["distance"], r["rank"])
            for r in ivfpq_topk(
                q, pq_encode(df, books, coarse_centroids=cents),
                books, cents, k=4, nprobe=1,
            ).collect()
        )
        assert got == batch and got

    def test_replay_idempotent_and_compaction_invariant(
        self, spark, tmp_path
    ):
        from mofka_spark.streaming.pqindex import (
            compact_pq_index,
            pq_index_sink,
            search_pq_index,
        )

        books, cents = self._models()
        df = self._corpus(spark)
        store = str(tmp_path / "s2")
        sink = pq_index_sink(store, books, cents, id_col="vec_id")
        sink(df.filter("vec_id < 5"), 0)
        sink(df.filter("vec_id >= 5"), 1)
        sink(df.filter("vec_id >= 5"), 1)  # replayed epoch: no dupes
        q = df.filter("vec_id = 0")

        def result():
            return sorted(
                (r["neighbor_id"], r["rank"])
                for r in search_pq_index(
                    spark, store, q, books, cents, k=4, nprobe=2
                ).collect()
            )

        before = result()
        compact_pq_index(spark, store)
        assert result() == before
        ids = [n for n, _ in before]
        assert len(ids) == len(set(ids)) == 4


class TestStreamingLineStore:
    """streaming/linestore.py: incremental cross-corpus line-frequency
    store — per-epoch distinct-doc counts are mergeable sums under the
    each-doc-arrives-once contract."""

    def _epochs(self, spark, path):
        from mofka_spark.streaming.linestore import line_count_sink

        sink = line_count_sink(path, min_line_chars=5)
        sink(spark.createDataFrame(
            [(1, "shared banner line\nunique alpha body"),
             (2, "shared banner line\nunique beta body")],
            "id long, text string"), 0)
        sink(spark.createDataFrame(
            [(3, "shared banner line\nunique gamma body"),
             (4, "other repeat\nother repeat\ntiny")],  # dup within ONE doc
            "id long, text string"), 1)
        return sink

    def _filtered(self, spark, path, min_docs=2, as_of=None):
        from mofka_spark.streaming.linestore import boilerplate_filter

        probe = spark.createDataFrame(
            [(9, "shared banner line\nfresh probe content\nother repeat")],
            "id long, text string",
        )
        r = boilerplate_filter(
            spark, path, probe, min_docs=min_docs, as_of_epoch=as_of
        ).collect()[0]
        return r

    def test_counts_accumulate_across_epochs(self, spark, tmp_path):
        from mofka_spark.streaming.linestore import read_line_counts

        path = str(tmp_path / "lines")
        self._epochs(spark, path)
        from pyspark.sql import functions as F
        got = {
            r["fp"]: r["n_docs"]
            for r in read_line_counts(spark, path).collect()
        }
        banner_fp = spark.range(1).select(
            F.xxhash64(F.lit("shared banner line"))
        ).collect()[0][0]
        other_fp = spark.range(1).select(
            F.xxhash64(F.lit("other repeat"))
        ).collect()[0][0]
        assert got[banner_fp] == 3      # 2 docs in epoch 0 + 1 in epoch 1
        assert got[other_fp] == 1       # distinct DOCS, not occurrences
        # "tiny" is under min_line_chars: never stored
        tiny_fp = spark.range(1).select(
            F.xxhash64(F.lit("tiny"))
        ).collect()[0][0]
        assert tiny_fp not in got

    def test_filter_uses_accumulated_history(self, spark, tmp_path):
        path = str(tmp_path / "lines")
        self._epochs(spark, path)
        r = self._filtered(spark, path, min_docs=2)
        # banner (3 docs) removed; probe content kept; "other repeat"
        # seen in only ONE doc -> kept
        assert r["clean_text"] == "fresh probe content\nother repeat"
        assert (r["n_lines"], r["n_kept"]) == (3, 2)

    def test_replay_and_compaction_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.linestore import merge
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "lines")
        sink = self._epochs(spark, path)
        before = tuple(self._filtered(spark, path))
        sink(spark.createDataFrame(
            [(3, "shared banner line\nunique gamma body"),
             (4, "other repeat\nother repeat\ntiny")],
            "id long, text string"), 1)  # replay epoch 1
        assert tuple(self._filtered(spark, path)) == before
        compact_epoch_store(spark, path, merge=merge)
        assert tuple(self._filtered(spark, path)) == before
        assert set(
            spark.read.parquet(path).select("_epoch").distinct().toPandas()["_epoch"]
        ) == {-1}

    def test_time_travel_reads_prefix(self, spark, tmp_path):
        path = str(tmp_path / "lines")
        self._epochs(spark, path)
        # as of epoch 0 the banner has 2 docs -> still removed at
        # min_docs=2, but min_docs=3 keeps it
        r = self._filtered(spark, path, min_docs=3, as_of=0)
        assert r["n_kept"] == 3
        r2 = self._filtered(spark, path, min_docs=2, as_of=0)
        assert r2["n_kept"] == 2

    def test_empty_store_removes_nothing(self, spark, tmp_path):
        r = self._filtered(spark, str(tmp_path / "none"))
        assert r["n_kept"] == r["n_lines"] == 3


class TestStreamingWebGraph:
    """streaming/webgraph.py: incremental link-graph accumulation —
    edges are idempotent facts (set semantics), merge = distinct
    union, components over the accumulated graph run the crawl-scale
    alternating algorithm."""

    def _page(self, i, *targets):
        html = "".join(f'<a href="{t}">x</a>' for t in targets)
        return (i, f"http://s{i}.ex.com/", html)

    def _epochs(self, spark, path):
        from mofka_spark.streaming.webgraph import web_graph_sink

        sink = web_graph_sink(path)
        schema = "id long, url string, html string"
        # epoch 0: chain s0 -> s1 -> s2 (one edge repeated as a
        # tracking variant: must dedup within the epoch)
        sink(spark.createDataFrame([
            self._page(0, "http://s1.ex.com/", "http://s1.ex.com/?utm_source=x"),
            self._page(1, "http://s2.ex.com/"),
        ], schema), 0)
        # epoch 1: s3 -> s4 (separate component) and a REPEAT of the
        # s0 -> s1 edge from another page's perspective (cross-epoch dedup)
        sink(spark.createDataFrame([
            self._page(3, "http://s4.ex.com/"),
            self._page(5, "http://s1.ex.com/"),
        ], schema), 1)
        return sink

    def test_edges_accumulate_and_dedup(self, spark, tmp_path):
        from mofka_spark.streaming.webgraph import read_web_graph

        path = str(tmp_path / "wg")
        self._epochs(spark, path)
        edges = {(r["src"], r["dst"]) for r in read_web_graph(spark, path).collect()}
        assert edges == {
            ("http://s0.ex.com", "http://s1.ex.com"),
            ("http://s1.ex.com", "http://s2.ex.com"),
            ("http://s3.ex.com", "http://s4.ex.com"),
            ("http://s5.ex.com", "http://s1.ex.com"),
        }

    def test_components_span_epochs(self, spark, tmp_path):
        from mofka_spark.streaming.webgraph import web_graph_components

        path = str(tmp_path / "wg")
        self._epochs(spark, path)
        comp = {
            r["id"]: r["component"]
            for r in web_graph_components(spark, path).collect()
        }
        # chain + the epoch-1 attachment are ONE component (min URL =
        # s0); s3/s4 are their own
        big = {k for k, v in comp.items() if v == "http://s0.ex.com"}
        assert big == {
            "http://s0.ex.com", "http://s1.ex.com",
            "http://s2.ex.com", "http://s5.ex.com",
        }
        assert comp["http://s3.ex.com"] == comp["http://s4.ex.com"] == "http://s3.ex.com"

    def test_replay_and_compaction_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.store import compact_epoch_store
        from mofka_spark.streaming.webgraph import merge, web_graph_components

        path = str(tmp_path / "wg")
        sink = self._epochs(spark, path)

        def result():
            return sorted(
                map(tuple, web_graph_components(spark, path).collect())
            )

        before = result()
        sink(spark.createDataFrame([
            self._page(3, "http://s4.ex.com/"),
            self._page(5, "http://s1.ex.com/"),
        ], "id long, url string, html string"), 1)  # replay epoch 1
        assert result() == before
        compact_epoch_store(spark, path, merge=merge)
        assert result() == before
        assert set(
            spark.read.parquet(path).select("_epoch").distinct().toPandas()["_epoch"]
        ) == {-1}

    def test_time_travel_reads_prefix(self, spark, tmp_path):
        from mofka_spark.streaming.webgraph import read_web_graph

        path = str(tmp_path / "wg")
        self._epochs(spark, path)
        e0 = {(r["src"], r["dst"])
              for r in read_web_graph(spark, path, as_of_epoch=0).collect()}
        assert e0 == {
            ("http://s0.ex.com", "http://s1.ex.com"),
            ("http://s1.ex.com", "http://s2.ex.com"),
        }

    def test_empty_store_empty_graph(self, spark, tmp_path):
        from mofka_spark.streaming.webgraph import (
            read_web_graph, web_graph_components,
        )

        path = str(tmp_path / "none")
        assert read_web_graph(spark, path).count() == 0
        assert web_graph_components(spark, path).count() == 0


class TestRobotsStore:
    """Incremental robots-rules store (streaming/robots.py): latest
    fetch per domain wins, including an empty refetch; epoch split
    invisible; replay idempotent; compaction invariant; time travel."""

    BODY_A = "User-agent: *\nDisallow: /old\n"
    BODY_B = "User-agent: *\nDisallow: /new\nAllow: /new/ok\n"
    BODY_EMPTY = "# nothing disallowed\n"

    def _fetch_df(self, spark, rows):
        return spark.createDataFrame(
            rows, "domain string, robots_txt string, fetch_seq long"
        )

    def _rules(self, spark, path, **kw):
        from mofka_spark.streaming.robots import read_robots_rules

        return sorted(
            tuple(r) for r in read_robots_rules(spark, path, **kw).collect()
        )

    def test_latest_fetch_wins_and_empty_override(self, spark, tmp_path):
        from mofka_spark.streaming.robots import robots_sink

        path = str(tmp_path / "store")
        sink = robots_sink(path)
        sink(self._fetch_df(spark, [
            ("a.com", self.BODY_A, 1), ("b.com", self.BODY_A, 2),
        ]), 0)
        sink(self._fetch_df(spark, [
            ("a.com", self.BODY_B, 10),      # refetch: new rules
            ("b.com", self.BODY_EMPTY, 11),  # refetch: rules REMOVED
            ("c.com", self.BODY_A, 12),
        ]), 1)
        assert self._rules(spark, path) == sorted([
            ("a.com", "/new", False), ("a.com", "/new/ok", True),
            ("c.com", "/old", False),
        ])  # b.com gone: latest fetch has no rules

    def test_epoch_split_invisible(self, spark, tmp_path):
        from mofka_spark.streaming.robots import robots_sink

        one, many = str(tmp_path / "one"), str(tmp_path / "many")
        rows = [
            ("a.com", self.BODY_A, 1), ("a.com", self.BODY_B, 5),
            ("b.com", self.BODY_A, 3),
        ]
        robots_sink(one)(self._fetch_df(spark, rows), 0)
        for i, r in enumerate(rows):
            robots_sink(many)(self._fetch_df(spark, [r]), i)
        assert self._rules(spark, one) == self._rules(spark, many)

    def test_replay_and_compaction_invariance(self, spark, tmp_path):
        from mofka_spark.streaming.robots import merge, robots_sink
        from mofka_spark.streaming.store import compact_epoch_store

        path = str(tmp_path / "store")
        sink = robots_sink(path)
        sink(self._fetch_df(spark, [("a.com", self.BODY_A, 1)]), 0)
        sink(self._fetch_df(spark, [("a.com", self.BODY_B, 9)]), 1)
        before = self._rules(spark, path)
        sink(self._fetch_df(spark, [("a.com", self.BODY_B, 9)]), 1)  # replay
        assert self._rules(spark, path) == before
        compact_epoch_store(spark, path, merge=merge)
        assert self._rules(spark, path) == before

    def test_time_travel_and_filter_integration(self, spark, tmp_path):
        from mofka_spark.operators.webtext import robots_rules_filter_df
        from mofka_spark.streaming.robots import (
            read_robots_rules, robots_sink,
        )

        path = str(tmp_path / "store")
        sink = robots_sink(path)
        sink(self._fetch_df(spark, [("a.com", self.BODY_A, 1)]), 0)
        sink(self._fetch_df(spark, [("a.com", self.BODY_B, 2)]), 1)
        assert self._rules(spark, path, as_of_epoch=0) == [
            ("a.com", "/old", False)
        ]
        urls = spark.createDataFrame(
            [(1, "http://a.com/new/x"), (2, "http://a.com/new/ok/y"),
             (3, "http://a.com/old/z")],
            "id long, url string",
        )
        got = {
            r["id"]: r["allowed"]
            for r in robots_rules_filter_df(
                urls, read_robots_rules(spark, path)
            ).collect()
        }
        assert got == {1: False, 2: True, 3: True}
