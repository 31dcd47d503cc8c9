"""Diaspora-Stream-API-shaped client façade over the Spark engine.

Mirrors the reference surface (SURVEY.md §2.2/§2.4, §3):

- ``Driver`` ≙ MofkaDriver (/root/reference/include/mofka/MofkaDriver.hpp:38)
- ``TopicHandle`` ≙ MofkaTopicHandle (/root/reference/src/MofkaTopicHandle.hpp:27)
- ``Producer.push(metadata, data[, partition]) -> FutureEventID`` with the
  validate -> select-partition -> serialize -> batch pipeline
  (/root/reference/src/MofkaProducer.cpp:54-98); ``flush()`` barrier
  (:100-137); batch-size / adaptive batching (P7,
  /root/reference/src/ActiveProducerBatchQueue.hpp:26-189)
- ``Consumer.pull() -> Event`` with per-event DataSelector subsetting
  (C3), ``acknowledge`` cursors (L4), partition-subset targets (C5), and
  ``NoMoreEvents`` forever after completion
  (/root/reference/src/MofkaConsumer.cpp:31-59,
  /root/reference/tests/MofkaEventConsumerTest.cpp:77-83)
- ``Consumer.process(fn)`` ≙ the declared-but-unimplemented callback API
  (C6) — here implemented via foreach over micro-batches.

The façade is a *thin* convenience layer: all bulk work (offset
assignment, filtering, byte-slicing) runs as Spark jobs; only the
per-event iterator surface materializes rows driver-side, in bounded
micro-batches (``batch_size``), never the whole log.
"""

from __future__ import annotations

import json
import os
from collections import deque
from dataclasses import dataclass
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mofka_spark.errors import MofkaError
from mofka_spark.functions.selectors import PartitionSelector
from mofka_spark.functions.serializers import Serializer
from mofka_spark.functions.validators import Validator
from mofka_spark.functions.views import DataDescriptor
from mofka_spark.log import INGEST_SCHEMA, EventLog
from mofka_spark.registry import TopicConfig, TopicRegistry


class _NoMoreEventsType:
    """Sentinel: stream end (reference NoMoreEvents,
    /root/reference/src/MofkaConsumer.cpp:46-50)."""

    _instance: "_NoMoreEventsType | None" = None

    def __new__(cls) -> "_NoMoreEventsType":
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __repr__(self) -> str:
        return "NoMoreEvents"

    def __bool__(self) -> bool:
        return False


NoMoreEvents = _NoMoreEventsType()


@dataclass(frozen=True)
class Event:
    """One consumed event (≙ MofkaEvent,
    /root/reference/include/mofka/MofkaEvent.hpp:30-54)."""

    topic: str
    partition: int
    offset: int
    metadata: dict[str, Any]
    data: bytes | None
    _consumer: "Consumer | None" = None

    def acknowledge(self) -> None:
        """Set this consumer's cursor to offset+1 (L4)."""
        if self._consumer is None:
            raise MofkaError("event not attached to a consumer")
        self._consumer._log.acknowledge(self._consumer.name, self.partition, self.offset)

    @property
    def id(self) -> int:
        return self.offset


class _FutureEventID:
    """Future resolving to the event's assigned dense offset after flush
    (reference Promise/Future, /root/reference/include/mofka/Promise.hpp)."""

    def __init__(self, producer: "Producer"):
        self._producer = producer
        self._value: int | None = None

    def _resolve(self, value: int) -> None:
        self._value = value

    def wait(self) -> int:
        if self._value is None:
            self._producer.flush()
        assert self._value is not None, "flush did not resolve future"
        return self._value

    result = wait


class Driver:
    """Engine entry point: service handle + DDL (≙ MofkaDriver)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.registry = TopicRegistry(root)

    # -- DDL (S1-S4, S9) ---------------------------------------------------
    def create_topic(
        self,
        name: str,
        num_partitions: int = 1,
        validator: dict[str, Any] | None = None,
        selector: dict[str, Any] | None = None,
        serializer: dict[str, Any] | None = None,
        backend: str = "default",
        partition_backends: list[str] | None = None,
        write_cache: dict[str, Any] | None = None,
    ) -> "TopicHandle":
        self.registry.create_topic(
            name,
            num_partitions=num_partitions,
            validator=validator,
            selector=selector,
            serializer=serializer,
            backend=backend,
            partition_backends=partition_backends,
            write_cache=write_cache,
        )
        return self.open_topic(name)

    def open_topic(self, name: str) -> "TopicHandle":
        cfg = self.registry.open_topic(name)
        return TopicHandle(self, cfg)

    def list_topics(self) -> list[str]:
        return self.registry.list_topics()

    def topic_exists(self, name: str) -> bool:
        return self.registry.topic_exists(name)

    def destroy_topic(self, name: str) -> None:
        from mofka_spark.log import MemoryEventLog

        MemoryEventLog._STORES.pop(self.registry.topic_path(name), None)
        self.registry.destroy_topic(name)

    def add_partitions(
        self, name: str, count: int = 1, backend: str | None = None
    ) -> None:
        """S5 addPartition; ``backend`` optionally gives the NEW
        partitions a different storage backend than the topic default
        (the reference's addMemoryPartition/addDefaultPartition)."""
        self.registry.add_partitions(name, count, backend=backend)

    def apply_retention(
        self, now=None, force: bool = False
    ) -> dict[str, dict[int, int]]:
        """Run every topic's configured ``retention.ms`` trim (see
        TopicHandle.apply_retention) — the periodic maintenance sweep a
        deployment schedules next to ``compact_files``. Topics without
        a retention config are skipped. Returns
        {topic: {partition: trim_floor}} for the trimmed topics only;
        O(#topics) metadata plus the per-topic file unlinks."""
        out: dict[str, dict[int, int]] = {}
        for name in self.list_topics():
            floors = self.open_topic(name).apply_retention(
                now=now, force=force
            )
            if floors:
                out[name] = floors
        return out

    # -- SQL surface (beyond-reference: mofka has no query language) -------
    def register_views(self, prefix: str = "topic_") -> list[str]:
        """Register every topic as a Spark temp view ``<prefix><name>``
        (non-alphanumeric name chars become ``_``). Views are lazy
        DataFrames over the topic log — partition pruning, predicate
        pushdown, and column pruning all apply; re-registering after
        new appends is cheap (metadata only). Returns the view names."""
        out = []
        for name in self.list_topics():
            view = prefix + "".join(
                c if c.isalnum() else "_" for c in name
            )
            th = self.open_topic(name)
            try:
                # schema-validated topics get a typed `meta` struct
                df = th.dataframe(parsed=True)
            except MofkaError:
                df = th.dataframe()
            df.createOrReplaceTempView(view)
            out.append(view)
        return out

    def sql(self, query: str) -> DataFrame:
        """Run Spark SQL over the service's topics (registered as
        ``topic_<name>`` views). The analytics entry point the
        reference lacks: topics are just tables here, so joins,
        aggregations, and window functions over event streams are
        one statement away."""
        self.register_views()
        return self.spark.sql(query)


class TopicHandle:
    """≙ MofkaTopicHandle: factory for producers/consumers + completion."""

    def __init__(self, driver: Driver, cfg: TopicConfig):
        from mofka_spark.log import MemoryEventLog, MixedEventLog

        self.driver = driver
        self._cfg = cfg
        path = driver.registry.topic_path(cfg.name)
        used = cfg.backends_used
        wc = getattr(cfg, "write_cache", None)
        if len(used) > 1:
            self.log = MixedEventLog(
                driver.spark,
                path,
                cfg.name,
                {p: cfg.backend_of(p) for p in range(cfg.num_partitions)},
                write_cache=wc,
            )
        else:
            log_cls = MemoryEventLog if used == {"memory"} else EventLog
            self.log = log_cls(driver.spark, path, cfg.name, write_cache=wc)

    @property
    def name(self) -> str:
        return self._cfg.name

    @property
    def num_partitions(self) -> int:
        return self._refresh().num_partitions

    def write_cache_stats(self) -> dict[str, int] | None:
        """Write-through cache hit/miss counters (the reference logs
        these at partition destruction,
        /root/reference/tests/MofkaWriteCacheTest.cpp:102). None when
        the cache is disabled for this topic."""
        caches = [
            log.write_cache
            for log in getattr(self.log, "_subs", [self.log])
            if log.write_cache is not None
        ]
        if not caches:
            return None
        out: dict[str, int] = {}
        for c in caches:
            for k, v in c.stats().items():
                out[k] = out.get(k, 0) + v
        return out

    def _refresh(self) -> TopicConfig:
        self._cfg = self.driver.registry.open_topic(self._cfg.name)
        return self._cfg

    def producer(
        self,
        name: str = "",
        batch_size: int | None = None,
        max_num_batches: int = 2,
        ordering: str = "strict",
        ack_early: bool = False,
    ) -> "Producer":
        """batch_size None == Adaptive (send ASAP on flush); fixed size
        auto-flushes every `batch_size` pushes (P7), handing full
        batches to a background sender while push() keeps buffering.
        `max_num_batches` bounds the in-flight batch queue: push blocks
        once that many batches are outstanding (the reference's
        ActiveProducerBatchQueue back-pressure). `ordering` and
        `ack_early` are accepted for API parity; both map to the same
        durable-commit path here (observable behavior matches the
        reference, where both orderings yield per-partition FIFO --
        SURVEY.md P9/P10)."""
        cfg = self._refresh()
        return Producer(self, name, batch_size, max_num_batches, ordering, ack_early, cfg)

    def consumer(
        self,
        name: str,
        batch_size: int | None = None,
        data_selector: "Callable[[dict[str, Any], DataDescriptor], DataDescriptor | None] | None" = None,
        targets: list[int] | None = None,
        prefetch: bool = False,
        data_allocator: "Callable[[dict[str, Any], DataDescriptor], Any] | None" = None,
    ) -> "Consumer":
        cfg = self._refresh()
        if targets is not None:
            bad = [t for t in targets if t < 0 or t >= cfg.num_partitions]
            if bad:
                raise MofkaError(
                    f"invalid consumer targets {bad} for topic with "
                    f"{cfg.num_partitions} partitions"
                )
        return Consumer(
            self, name, batch_size, data_selector, targets, prefetch, data_allocator
        )

    def consumer_lag(self, name: str | None = None) -> dict[str, dict[int, int]]:
        """Per-consumer lag: ledger head minus acknowledged cursor, per
        partition — the first thing an operator of a streaming service
        checks. O(#partitions) metadata (ledger + cursor JSON), no data
        read, no SparkSession work. ``name=None`` reports every consumer
        that has ever acknowledged."""
        heads = self.log.next_offsets()
        if name is not None:
            names = [name]
        else:
            try:
                names = sorted(
                    fn[: -len(".json")]
                    for fn in os.listdir(self.log.cursors_dir)
                    if fn.endswith(".json")
                )
            except FileNotFoundError:
                names = []
        out: dict[str, dict[int, int]] = {}
        for n in names:
            cur = self.log.load_cursors(n)
            out[n] = {p: heads.get(p, 0) - cur.get(p, 0) for p in heads}
        return out

    def compact_log(
        self, min_files: int = 8, target_mb: int = 512
    ) -> dict[int, tuple[int, int]]:
        """Small-file maintenance: rewrite each partition's accumulated
        per-flush Parquet files into offset-sorted ``target_mb`` files
        (see EventLog.compact_files). Rows/offsets are unchanged;
        run while no producer is active."""
        return self.log.compact_files(min_files=min_files, target_mb=target_mb)

    def trim(
        self,
        before_offset: int | None = None,
        before_ts=None,
        partitions: list[int] | None = None,
        force: bool = False,
    ) -> dict[int, int]:
        """Retention/expiry: retire events below a cut (offset or
        ingest timestamp) per partition — see EventLog.trim for the
        exact semantics (atomic floor commit, whole-file deletion,
        consumer-cursor fencing, crash safety). Returns
        {partition: trim_floor}."""
        return self.log.trim(
            before_offset=before_offset,
            before_ts=before_ts,
            partitions=partitions,
            force=force,
        )

    def apply_retention(self, now=None, force: bool = False) -> dict[int, int]:
        """Honor the topic's ``retention.ms`` config (Kafka facade):
        trim everything whose ingest_ts is older than now -
        retention.ms. No-op ({}) when the topic has no retention
        config. ``now`` defaults to the current UTC time (injectable
        for tests)."""
        import datetime

        cfg = ((self._cfg.extra or {}).get("kafka") or {}).get("config") or {}
        ms = cfg.get("retention.ms")
        if ms is None or int(str(ms)) == -1:
            # Kafka's -1 sentinel: infinite retention — never trim
            return {}
        if now is None:
            now = datetime.datetime.now(datetime.timezone.utc)
        cut = now - datetime.timedelta(milliseconds=int(ms))
        return self.log.trim(before_ts=cut, force=force)

    def mark_as_complete(self) -> None:
        self.driver.registry.mark_as_complete(self.name)

    # -- analytics surface -------------------------------------------------
    def snapshot(self) -> dict[int, int]:
        """Per-partition high-water offsets at this instant — a
        reproducible CUT of a growing topic. Pass the result to
        ``dataframe(until=...)`` (today or months later) to read
        exactly the events that existed now: offsets are dense and
        immutable, so the cut is stable under any amount of later
        ingest. O(#partitions) ledger metadata, no data read. The
        training-data use: pin the corpus snapshot a run trained on."""
        return dict(self.log.next_offsets())

    def dataframe(
        self,
        partitions: list[int] | None = None,
        parsed: bool = False,
        until: dict[int, int] | None = None,
    ) -> DataFrame:
        """The topic as a batch DataFrame — the bridge from streaming
        semantics to the full Spark relational surface.

        ``until``: a ``snapshot()`` dict — only events with
        ``offset < until[partition]`` are read (partitions absent from
        the dict are excluded). Compiles to per-partition offset-range
        predicates that reach the scan, so a snapshot read prunes to
        the row groups below the cut.

        ``parsed=True``: when the topic declares a JSON-Schema
        validator, project the metadata through it as a typed ``meta``
        struct column (from_json with the schema's Spark shape) —
        queries then use ``meta.field`` with real types instead of
        get_json_object string probes, and Catalyst prunes unread
        fields out of the JSON parse."""
        df = self.log.read(partitions)
        if until is not None:
            from functools import reduce
            from operator import or_

            from pyspark.sql import functions as F

            conds = [
                (F.col("partition") == int(p)) & (F.col("offset") < int(n))
                for p, n in until.items()
                if int(n) > 0
            ]
            df = df.filter(reduce(or_, conds)) if conds else df.filter(F.lit(False))
        if parsed:
            from pyspark.sql import functions as F

            from mofka_spark.functions.validators import (
                SchemaValidator,
                Validator,
            )

            v = Validator.from_metadata(self._cfg.validator)
            if not isinstance(v, SchemaValidator):
                raise MofkaError(
                    f"topic '{self.name}' has no schema validator to parse with"
                )
            df = df.withColumn(
                "meta", F.from_json("metadata", v.spark_struct())
            )
        return df

    def read_stream(
        self,
        batch_size: int | None = None,
        starting_offsets: str | dict[int, int] | None = None,
        checkpoint: str | None = None,
        native: bool | None = None,
        files_per_trigger: int | None = None,
    ) -> DataFrame:
        """The topic as a streaming DataFrame.

        Two engines serve it, chosen by ``native`` (default: auto):

        - **native fast path** (uncapped earliest reads — the common
          full-drain/tail-follow case): Spark's built-in file streaming
          source over the topic's parquet log. The row path is the JVM
          vectorized parquet reader — no Python worker process in the
          scan, no per-query Python source-runner spawn (measured at
          sf0.1: ~0.3s/drain vs ~1.9s through the Python source for
          identical rows — guide §4's "eliminate the boundary" applied
          to the source itself). Micro-batches advance by FILES
          (Spark's file log), not by ledger offset ranges; delivered
          rows, schema, and trim-floor filtering are identical to the
          custom source. Trim floors are captured when the stream is
          BUILT (a trim landing mid-query hides no already-delivered
          rows either way; whole-file deletes never re-deliver because
          the file log tracks processed files).
        - **custom 'mofka' source** (L3 feedConsumer ≙ micro-batch
          offset ranges from the ledger): required for ``batch_size``
          rate caps, non-earliest ``starting_offsets`` (latest /
          explicit resume maps), and per-batch trim clamping — the
          offset-controlled consumer semantics the reference feed loop
          defines. ``native=False`` forces it for uncapped reads too.

        Note on triggers: ``batch_size`` caps each trigger's advance via
        latestOffset. Trigger.AvailableNow snapshots the FIRST announced
        offset and stops there, so pair batch_size with a
        ProcessingTime trigger (+ await_completion to terminate on topic
        completion). A ``files_per_trigger`` cap works with
        AvailableNow: the drain still runs one epoch per capped file
        batch (2 files at a cap of 1 give 2 epochs) until it has read
        every file present at start, which is how
        ``streaming.completion.drain`` runs the capped gates.

        ``checkpoint``: pass the SAME path you give the query's
        writeStream checkpointLocation. The custom source then persists
        its committed-offset floor inside it, so a restarted rate-capped
        query derives its resume clamp from durable state instead of
        inferring it from Spark's recovery call sequence (see
        streaming/source.py floor notes). Checkpoints are engine-bound:
        a query checkpointed on one engine must not restart on the
        other (Spark rejects the source mismatch).

        ``files_per_trigger``: the native fast path's rate cap — each
        trigger advances by at most this many PUBLISHED FILES of the
        log (Spark's maxFilesPerTrigger). Epoch granularity is the unit
        the log appends (one file per partition per producer flush), so
        a consumer that needs a multi-epoch drain without the custom
        source's per-query Python overhead caps by files; offset-exact
        row caps still need ``batch_size`` (custom source). Mutually
        exclusive with ``batch_size``/``starting_offsets``."""
        eligible = batch_size is None and starting_offsets in (
            None,
            "earliest",
        )
        if files_per_trigger is not None:
            if not eligible or native is False:
                raise MofkaError(
                    "files_per_trigger is a native-fast-path rate cap: "
                    "it excludes batch_size, non-earliest "
                    "starting_offsets, and native=False"
                )
            if files_per_trigger < 1:
                raise MofkaError("files_per_trigger must be >= 1")
            native = True
        if native is None:
            native = eligible
        elif native and not eligible:
            raise MofkaError(
                "native=True supports only uncapped earliest reads "
                "(no batch_size, no starting_offsets) — those need the "
                "ledger-offset source"
            )
        if "memory" in self._refresh().backends_used:
            # The source's executor-side arrow scan runs in processes
            # that cannot see this one's memory store: attach-time spill
            # snapshots the store to the Parquet log and switches the
            # memory partitions to write-through (zero file IO before
            # the first stream attaches — see
            # MemoryEventLog.enable_stream_spill). The reference streams
            # its memory backend by serving consumers over RPC from the
            # owning process (src/MemoryPartitionManager.cpp:13); the
            # shared log is Spark's equivalent of that hand-off.
            self.log.enable_stream_spill()
        if native:
            return self._read_stream_native(files_per_trigger)
        from mofka_spark.streaming.source import MofkaDataSource

        spark = self.driver.spark
        spark.dataSource.register(MofkaDataSource)
        reader = (
            spark.readStream.format("mofka")
            .option("path", self.driver.root)
            .option("topic", self.name)
        )
        if batch_size is not None:
            reader = reader.option("batch_size", batch_size)
        if checkpoint is not None:
            reader = reader.option(
                "floor_path",
                os.path.join(checkpoint, "mofka_source_floor.json"),
            )
        if starting_offsets is not None:
            # "earliest" | "latest" | {partition: offset} resume map
            # (first run only; the checkpoint owns offsets afterwards)
            import json as _json

            opt = (
                starting_offsets
                if isinstance(starting_offsets, str)
                else _json.dumps({str(k): v for k, v in starting_offsets.items()})
            )
            reader = reader.option("starting_offsets", opt)
        return reader.load()

    def _read_stream_native(
        self, files_per_trigger: int | None = None
    ) -> DataFrame:
        """Earliest stream via Spark's file streaming source over the
        topic's parquet log (see read_stream). Appends publish by
        atomic rename, so files appear whole; new partition dirs are
        discovered by the per-batch listing. ``maxFileAge`` is disabled
        (the default 7d would silently skip old files of a long-lived
        topic on a fresh drain). ``files_per_trigger`` caps each
        trigger's advance by published files (maxFilesPerTrigger)."""
        from mofka_spark.log import EVENT_SCHEMA

        data_path = self.log.data_path
        os.makedirs(data_path, exist_ok=True)
        reader = (
            self.driver.spark.readStream.schema(EVENT_SCHEMA)
            .option("basePath", data_path)
            .option("maxFileAge", "36500d")
        )
        if files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", str(files_per_trigger)
            )
        df = (
            reader.parquet(data_path)
            .withColumn("topic", F.coalesce("topic", F.lit(self.name)))
            # partition-dir columns append last; restore the contract
            # column order (batch/stream schema parity)
            .select(*[f.name for f in EVENT_SCHEMA.fields])
        )
        return self.log.apply_trim_filter(df)

    def await_completion(self, query, poll_interval: float = 0.25, timeout: float | None = 120.0) -> bool:
        """Terminate a continuous streaming query reading this topic once
        the topic is complete and drained — the streaming analog of
        NoMoreEvents (L8; see streaming/completion.py)."""
        from mofka_spark.streaming.completion import stop_when_complete

        return stop_when_complete(query, self, poll_interval, timeout)

    def write_stream(
        self,
        df: DataFrame,
        checkpoint: str,
        trigger: dict | None = None,
        **sink_kwargs,
    ):
        """Write a streaming DataFrame into this topic (foreachBatch
        around the dense-offset sink; see streaming/sink.py). The sink's
        exactly-once epoch marker is keyed by the checkpoint path —
        epoch numbering and checkpoint share a lifetime, so a new query
        with a fresh checkpoint never collides with an old marker."""
        from mofka_spark.streaming.sink import topic_sink

        sink_kwargs.setdefault("sink_id", f"ckpt:{checkpoint}")
        writer = (
            df.writeStream.foreachBatch(
                topic_sink(self.driver, self.name, **sink_kwargs)
            )
            .option("checkpointLocation", checkpoint)
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()


class Producer:
    """Validate -> select partition -> serialize -> batch -> sink."""

    def __init__(
        self,
        topic: TopicHandle,
        name: str,
        batch_size: int | None,
        max_num_batches: int,
        ordering: str,
        ack_early: bool,
        cfg: TopicConfig,
    ):
        self.topic = topic
        self.name = name
        self.batch_size = batch_size
        self.max_num_batches = max_num_batches
        self.ordering = ordering
        self.ack_early = ack_early
        self._validator = Validator.from_metadata(cfg.validator)
        self._selector = PartitionSelector.from_metadata(cfg.selector)
        self._selector.set_partitions(cfg.num_partitions)
        self._serializer = Serializer.from_metadata(cfg.serializer)
        self._buffer: list[tuple[int, int, str, bytes | None, _FutureEventID]] = []
        self._seq = 0
        self.last_rejected_count = 0
        # async send machinery (reference ActiveProducerBatchQueue,
        # /root/reference/src/ActiveProducerBatchQueue.hpp:51-86): full
        # batches are written by ONE background sender thread while
        # push() keeps buffering; push blocks only when max_num_batches
        # batches are already in flight (back-pressure). Lazy: the pool
        # exists only once a fixed batch_size auto-flush fires.
        self._sender = None
        self._inflight: "deque" = deque()

    def push(
        self,
        metadata: dict[str, Any] | str,
        data: bytes | bytearray | list[bytes] | tuple[bytes, ...] | None = None,
        partition: int | None = None,
    ) -> _FutureEventID:
        """P1: returns a future resolving to the assigned EventID.

        ``data`` may be a single buffer or a SEQUENCE of buffers — the
        reference producer pushes a DataView of non-contiguous segments
        that concatenate logically into one event payload
        (/root/reference/tests/MofkaDataSelectionTest.cpp:42-52,
        /root/reference/src/ProducerBatch.hpp:100-106); consumers see
        one contiguous descriptor either way."""
        doc = json.loads(metadata) if isinstance(metadata, str) else metadata
        if isinstance(data, (list, tuple)):
            data = b"".join(bytes(seg) for seg in data)
        elif isinstance(data, bytearray):
            data = bytes(data)
        self._validator.validate(doc, data)  # P2: reject before batching
        p = self._selector.select(doc, partition)  # P5
        payload = self._serializer.serialize(doc)  # P6
        fut = _FutureEventID(self)
        self._buffer.append((p, self._seq, payload, data, fut))
        self._seq += 1
        if self.batch_size is not None and len(self._buffer) >= self.batch_size:
            self._submit_batch()
        return fut

    def _submit_batch(self) -> None:
        """Hand the current buffer to the background sender, blocking
        while ``max_num_batches`` batches are already in flight — the
        reference's producer back-pressure contract
        (/root/reference/src/ActiveProducerBatchQueue.hpp:51-86: push
        waits on a cv until the batch queue drops below max_batch).
        One sender thread keeps batch writes FIFO, so per-partition
        offsets stay in push order for both ordering modes (P9)."""
        if not self._buffer:
            return
        batch, self._buffer = self._buffer, []
        if self._sender is None:
            from concurrent.futures import ThreadPoolExecutor

            self._sender = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="mofka-producer-send"
            )
        try:
            while len(self._inflight) >= max(1, int(self.max_num_batches or 1)):
                # oldest first: the single worker completes in FIFO order.
                # .result() re-raises a failed batch write in the caller.
                self._inflight.popleft().result()
        except BaseException:
            # The current batch was already detached from self._buffer;
            # re-attach it so its events are not silently dropped and a
            # caller that handles the error can retry or flush() them.
            self._buffer = batch + self._buffer
            raise
        self._inflight.append(self._sender.submit(self._write_batch, batch))

    def _write_batch(self, batch) -> None:
        """Write one batch and resolve its futures (sender thread)."""
        rows = [(p, seq, meta, data) for p, seq, meta, data, _ in batch]
        acks = self.topic.log.append_rows(rows)
        # resolve futures: events in a partition get base + arrival-rank
        by_part: dict[int, list[tuple[int, _FutureEventID]]] = {}
        for p, seq, _meta, _data, fut in batch:
            by_part.setdefault(p, []).append((seq, fut))
        for p, items in by_part.items():
            base, _n = acks[p]
            for i, (_seq, fut) in enumerate(sorted(items)):
                fut._resolve(base + i)

    def flush(self) -> None:
        """P8: barrier — all buffered AND in-flight events durable,
        every future resolved, before return. A failed async batch
        write re-raises here.

        Client-side rows take the no-Spark append path (pyarrow write
        under the same ledger lock; log.append_rows) — a per-event
        producer's flush is milliseconds, not a Spark job."""
        if self._buffer:
            if self._inflight:
                # queue behind in-flight batches so offsets keep push
                # order; the drain below is the barrier either way
                self._submit_batch()
            else:
                # pure-sync fast path: nothing in flight, no sender
                # thread needed (adaptive producers never start one)
                batch, self._buffer = self._buffer, []
                self._write_batch(batch)
        while self._inflight:
            self._inflight.popleft().result()

    def push_dataframe(
        self, df: DataFrame, partition_expr=None, txn: tuple[str, int] | None = None
    ) -> dict[int, tuple[int, int]]:
        """Bulk ingest path: a DataFrame with (metadata, data) columns is
        validated + partitioned declaratively (Column exprs, zero python
        per row) and appended. This is THE 100TB ingest path; push() is
        the per-event API-parity path.

        Rows failing validation are filtered out (the reference rejects
        invalid events back to the producer,
        /root/reference/src/MofkaProducer.cpp:68-69; a bulk path can't
        raise per-row) — the dropped count is OBSERVABLE: it is measured
        with df.observe during the append (no extra scan) and exposed as
        ``self.last_rejected_count`` plus a warning log."""
        from pyspark.sql import Observation

        cols = df.columns
        if "metadata" not in cols:
            raise MofkaError("push_dataframe requires a 'metadata' column")
        if "data" not in cols:
            df = df.withColumn("data", F.lit(None).cast("binary"))
        df = df.withColumn(
            "seq", F.monotonically_increasing_id()
        )
        ok = self._validator.to_column("metadata")
        obs = Observation("mofka_validation")
        df = df.observe(
            obs,
            F.sum(F.when(ok, 0).otherwise(1)).alias("rejected"),
            F.count(F.lit(1)).alias("total"),
        ).filter(ok)
        if type(self._serializer) is not Serializer:
            # non-default serializer: the stored form must match what
            # the consumer will decode (P6 inverse). The base JSON
            # serializer stores the input text verbatim; packed/compact
            # forms re-encode per row via an Arrow-batched map — the
            # documented python boundary for custom codecs.
            ser = self._serializer

            @F.pandas_udf("string")
            def _reencode(col):
                return col.map(lambda m: ser.serialize(json.loads(m)) if m else m)

            df = df.withColumn("metadata", _reencode("metadata"))
        if partition_expr is None:
            partition_expr = self._selector.to_column("metadata", "seq")
        batch = df.select(
            partition_expr.cast("int").alias("partition"),
            F.col("seq").cast("long"),
            F.col("metadata").cast("string"),
            F.col("data").cast("binary"),
        )
        acks = self.topic.log.append_batch(batch, txn=txn)
        try:
            rejected = int(obs.get.get("rejected") or 0)
        except Exception:  # no action ran (empty/replayed batch)
            rejected = 0
        self.last_rejected_count = rejected
        if rejected:
            import logging

            logging.getLogger("mofka_spark").warning(
                "push_dataframe: %d invalid event(s) rejected by validator "
                "on topic %r", rejected, self.topic.name
            )
        return acks

    def __enter__(self) -> "Producer":
        return self

    def __exit__(self, *exc) -> None:
        # destructor flushes (/root/reference/src/MofkaProducer.cpp:46-48)
        self.flush()
        if self._sender is not None:
            self._sender.shutdown(wait=True)
            self._sender = None  # lazily recreated if reused


class Consumer:
    """Pull-based consumer with cursors, data selection, completion."""

    def __init__(
        self,
        topic: TopicHandle,
        name: str,
        batch_size: int | None,
        data_selector,
        targets: list[int] | None,
        prefetch: bool = False,
        data_allocator=None,
    ):
        self.topic = topic
        self.name = name
        self.batch_size = batch_size or 32  # adaptive clamp=32 (YokanEventStore.hpp:141-143)
        self.data_selector = data_selector
        # C4 DataAllocator: callable(metadata, selected_descriptor) ->
        # writable buffer (bytearray / memoryview / numpy array). The
        # selected bytes land IN the caller's buffer and Event.data IS
        # that buffer — the Python analog of the reference's zero-copy
        # RDMA landing into broker-allocated memory
        # (/root/reference/src/MofkaConsumer.cpp:240-262). The buffer's
        # byte length must equal the selected descriptor's size, or the
        # pull raises MofkaError (the reference throws the same way).
        self.data_allocator = data_allocator
        self.targets = targets
        self._log = topic.log
        self._iter: Iterator[Event] | None = None
        self._positions: dict[int, int] | None = None
        # C2: decode stored metadata with the TOPIC's serializer (the
        # inverse of the producer pipeline, SURVEY.md P6) — json for the
        # default, packed/compact forms otherwise
        self._serializer = Serializer.from_metadata(topic._cfg.serializer)
        # 1-deep prefetch pipeline: the reference's feed loop overlaps
        # the next disk read with the current batch's delivery
        # (/root/reference/src/DefaultPartitionManager.cpp:483-499);
        # here a single worker thread runs the next Spark fetch while
        # the caller consumes the current batch. Note: the data_selector
        # callback executes on that worker thread for prefetched
        # batches; close() (or the context manager) releases the worker.
        self._prefetch = prefetch
        self._pool = None
        self._pending = None
        if prefetch:
            from concurrent.futures import ThreadPoolExecutor

            self._pool = ThreadPoolExecutor(max_workers=1)

    # -- pull path ---------------------------------------------------------
    def _init_positions(self) -> None:
        if self._positions is None:
            # resume from persisted ack cursors (re-subscribe semantics,
            # /root/reference/src/DefaultPartitionManager.cpp:423-427)
            self._positions = dict(self._log.load_cursors(self.name))

    def _fetch_batch(self) -> list[Event]:
        """One feed round: <= batch_size events per partition starting at
        the in-memory positions. Reads the tail row-groups directly via
        the log's driver-side pyarrow scan (fetch_rows) — the pull API
        collects rows into client memory by definition, so a Spark job
        per feed round is pure overhead; the offset-range predicate
        still prunes to the tail files, never the whole topic."""
        self._init_positions()
        rows = sorted(
            self._log.fetch_rows(self._positions, self.batch_size, self.targets),
            key=lambda r: (r[0], r[1]),
        )
        events: list[Event] = []
        for part, off, meta_raw, data_raw in rows:
            r = {"partition": part, "offset": off}
            meta = self._serializer.deserialize(meta_raw) if meta_raw else {}
            data = bytes(data_raw) if data_raw is not None else None
            if self.data_selector is not None or self.data_allocator is not None:
                desc = DataDescriptor.identity(len(data) if data is not None else 0)
                sel = self.data_selector(meta, desc) if self.data_selector else desc
                if sel is None or not sel.segments:
                    sel = DataDescriptor.null()
                    selected = b""
                else:
                    selected = sel.apply(data or b"")
                if self.data_allocator is not None:
                    buf = self.data_allocator(meta, sel)
                    view = memoryview(buf if buf is not None else b"").cast("B")
                    if view.nbytes != len(selected):
                        raise MofkaError(
                            "DataAllocator returned a buffer of size "
                            f"{view.nbytes}, selected descriptor needs "
                            f"{len(selected)}"
                        )
                    if not view.readonly and view.nbytes:
                        view[:] = selected
                    elif view.readonly and view.nbytes:
                        raise MofkaError(
                            "DataAllocator must return a WRITABLE buffer"
                        )
                    data = buf
                else:
                    data = selected
            events.append(
                Event(
                    topic=self.topic.name,
                    partition=r["partition"],
                    offset=r["offset"],
                    metadata=meta,
                    data=data,
                    _consumer=self,
                )
            )
            self._positions[r["partition"]] = r["offset"] + 1
        return events

    def _next_batch(self) -> list[Event]:
        """Next feed batch, through the 1-deep prefetch pipeline when
        enabled: hand back the pending fetch's result and immediately
        start the next one."""
        if self._pool is None:
            return self._fetch_batch()
        if self._pending is None:
            batch = self._fetch_batch()
        else:
            batch = self._pending.result()
            self._pending = None
        if batch:
            # only pipeline while data flows; an empty batch means we
            # are at the tail (retry/completion is the caller's call)
            self._pending = self._pool.submit(self._fetch_batch)
        return batch

    def pull(self):
        """C1: next event, or NoMoreEvents forever once the topic is
        complete and drained."""
        if self._iter is None:
            self._iter = iter(())
        nxt = next(self._iter, None)
        if nxt is not None:
            return nxt
        batch = self._next_batch()
        if batch:
            self._iter = iter(batch)
            return next(self._iter)
        cfg = self.topic._refresh()
        if cfg.completed:
            return NoMoreEvents
        return None  # no data yet, topic still open (caller may retry)

    def __iter__(self) -> Iterator[Event]:
        while True:
            ev = self.pull()
            if ev is NoMoreEvents or ev is None:
                return
            yield ev

    def close(self) -> None:
        """Release the prefetch worker (if any). Safe to call twice."""
        if self._pool is not None:
            if self._pending is not None:
                self._pending.cancel()
                self._pending = None
            self._pool.shutdown(wait=False, cancel_futures=True)
            self._pool = None

    def __enter__(self) -> "Consumer":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def __del__(self):  # best-effort: don't leak worker threads
        try:
            self.close()
        except Exception:
            pass

    def process(
        self,
        processor: Callable[[Event], None],
        max_events: int | None = None,
    ) -> int:
        """C6 process(): callback over events (reference declares this but
        throws; we implement it)."""
        n = 0
        for ev in self:
            processor(ev)
            n += 1
            if max_events is not None and n >= max_events:
                break
        return n

    # -- bulk path ---------------------------------------------------------
    def dataframe(self, select_expr=None) -> DataFrame:
        """Unacknowledged events as a DataFrame (from persisted cursors),
        optionally with a compiled data-selection Column."""
        cursors = self._log.load_cursors(self.name)
        df = self._log.read_range(cursors, None, self.targets)
        if select_expr is not None:
            df = df.withColumn("data", select_expr)
        return df
