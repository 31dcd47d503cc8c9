"""The client push/pull path: workloads ``ref_small`` and ``bulk_wide``.

Each topic is pushed closed-loop by one producer (first ``push`` to the
return of the final ``flush``), then drained by a new consumer (opening
the consumer to ``NoMoreEvents``). ``ref_small`` adds a tail phase: a
generator pushes open-loop at a fixed rate while one consumer thread
tails the topic, and each event's delivery latency is timed from its
scheduled push time, which the generator stamps into its metadata.

Outputs are checked against the inputs: offsets dense per partition,
every ``seq`` delivered exactly once, and every selected payload equal
to the selector's expected slice. The consumer loop only compares each
payload with a precomputed slice and keeps a small record per event, as
a consumer that processes and drops its events would; the counting is
done after the timed phase.
"""

from __future__ import annotations

import gc
import os
import threading
import time
from dataclasses import dataclass

from mofka_spark.client import NoMoreEvents
from mofka_spark.functions.views import DataDescriptor

import envinfo
import inputs

# The reference consumer benchmark's selector (run-benchmark.sh):
# a `SELECTIVITY` share of events get the first `PROPORTION` of their
# payload, the rest get no data.
SELECTIVITY = 0.5
PROPORTION = 0.8


@dataclass(frozen=True)
class Shape:
    events: int  # per topic; every topic of the workload has this size
    payload: int  # bytes per event
    partitions: int
    producer_batch: int
    flush_every: int | None  # None: only the final flush
    consumer_batch: int | None  # None: the library default (32)
    ack_every: int
    validator: dict | None = None
    selector: dict | None = None
    tail_rate: float | None = None  # events/s of the tail phase
    tail_events: int = 0  # events of the tail phase's topic
    min_pushes: int = 3  # topics pushed per run at least
    min_pulls: int = 3  # topics drained per run at least


SHAPES = {
    # the reference benchmark shape: 16 fields, 128 B, batch 8, flush
    # every 10, one partition; the consumer acks every 5th event like
    # MofkaEventConsumerTest. The tail topic holds 1000 events, the
    # fewest that leave ten latencies above the 99th percentile. A topic
    # pushes in under a second, two files per flush, and single topics
    # vary by a third within a run, so a run takes the median of at
    # least six; a catch-up drain takes about four seconds and varies
    # less, so a run takes the median of three.
    "ref_small": Shape(2000, 128, 1, 8, 10, None, 5, tail_rate=200.0,
                       tail_events=1000, min_pushes=6),
    "bulk_wide": Shape(
        50_000, 4096, 4, 1024, None, 1024, 1024,
        validator={"type": "schema",
                   "schema": {"type": "object", "required": ["seq"]}},
        selector={"type": "key_hash", "field": "seq"},
    ),
}


def selector(metadata, descriptor):
    if (metadata.get("seq", 0) % 100) / 100.0 >= SELECTIVITY:
        return DataDescriptor.null()
    return descriptor.make_sub_view(0, max(1, int(descriptor.size * PROPORTION)))


def expected_slice(seq: int, payload: bytes) -> bytes:
    if (seq % 100) / 100.0 >= SELECTIVITY:
        return b""
    return payload[:max(1, int(len(payload) * PROPORTION))]


class ClientWorkload:
    def __init__(self, ctx, name: str, scale: float = 1.0):
        self.ctx = ctx
        self.name = name
        shape = SHAPES[name]
        if scale != 1.0:
            shape = Shape(**{**shape.__dict__,
                             "events": max(100, int(shape.events * scale))})
        self.shape = shape
        rng = ctx.rng
        self.metas = inputs.client_metadata(rng, shape.events)
        self.pays = inputs.payloads(rng, shape.events, shape.payload)
        self.want = [expected_slice(i, p) for i, p in enumerate(self.pays)]
        self._topics = 0
        # the inputs live for the whole run: keep them out of the
        # collector's generations so they add no garbage-collection
        # work to the library calls being timed
        gc.collect()
        gc.freeze()

    # -- helpers ----------------------------------------------------------
    def _new_topic(self):
        self._topics += 1
        s = self.shape
        return self.ctx.driver.create_topic(
            f"{self.name}-{self._topics}", num_partitions=s.partitions,
            validator=s.validator, selector=s.selector)

    def _destroy(self, topic) -> None:
        self.ctx.driver.destroy_topic(topic.name)

    def _selector(self):
        return self.ctx.tracer.wrap_fn(selector, "consumer.selector")

    def setup(self) -> None:
        """Warm-up: one small topic through push, pull and destroy, so
        imports, schema compilation and first-file costs land here."""
        topic = self._new_topic()
        n = min(200, self.shape.events)
        self._push(topic, n)
        topic.mark_as_complete()
        self._pull(topic, n)
        self._destroy(topic)

    def warm(self) -> None:
        """Nothing to warm outside ``setup``: its topic makes every
        library call the timed phases make."""

    def _push(self, topic, n: int) -> tuple[float, list]:
        s = self.shape
        metas, pays = self.metas, self.pays
        with topic.producer("bench", batch_size=s.producer_batch) as prod:
            with self.ctx.tracer.span("phase.push"):
                t0 = time.perf_counter()
                futs = [None] * n
                for i in range(n):
                    futs[i] = prod.push(metas[i], pays[i])
                    if s.flush_every and (i + 1) % s.flush_every == 0:
                        prod.flush()
                prod.flush()
                dt = time.perf_counter() - t0
        if self.ctx.tracer.enabled:
            self.ctx.tracer.count("log.bytes_written", _tree_bytes(topic.log.data_path))
        return dt, [f.wait() for f in futs]

    def _take(self, ev, got: list, n: int) -> None:
        """Record a delivered event for the checks, and acknowledge every
        ``ack_every``-th one."""
        seq = ev.metadata.get("seq", -1)
        got.append((ev.partition, ev.offset, seq,
                    0 <= seq < n and ev.data == self.want[seq]))
        if len(got) % self.shape.ack_every == 0:
            ev.acknowledge()

    def _pull(self, topic, n: int) -> tuple[float, list]:
        s = self.shape
        got = []
        with self.ctx.tracer.span("phase.pull"):
            t0 = time.perf_counter()
            with topic.consumer("bench", batch_size=s.consumer_batch,
                                data_selector=self._selector()) as cons:
                while True:
                    ev = cons.pull()
                    if ev is NoMoreEvents or ev is None:
                        break
                    self._take(ev, got, n)
            dt = time.perf_counter() - t0
        if ev is None:
            self.ctx.checks.fail(1, f"{topic.name}: pull returned None on a complete topic")
        if self.ctx.tracer.enabled:
            _count_cache(self.ctx.tracer, topic)
            files = sum(len(f) for _d, _s, f in os.walk(topic.log.data_path))
            self.ctx.tracer.count("log.files_per_partition", files / self.shape.partitions)
            self.ctx.tracer.count("log.pulled_topics")
        return dt, got

    # -- checks -----------------------------------------------------------
    def _check_offsets(self, topic, offsets: list[int], n: int) -> None:
        """Producer futures and the ledger both give dense offsets."""
        c = self.ctx.checks
        c.attempt(n)
        # futures carry offsets, not partitions: the offsets are dense
        # iff their multiset equals 0..head-1 of every partition
        dense = sorted(o for head in topic.snapshot().values() for o in range(head))
        if sorted(offsets) != dense:
            bad = max(1, len(set(dense).symmetric_difference(offsets)))
            c.fail(bad, f"{topic.name}: future offsets are not dense per partition "
                   f"({len(offsets)} futures, ledger holds {len(dense)})")

    def check_delivery(self, label: str, got: list, n: int) -> None:
        """``got``: (partition, offset, seq, payload_ok) per delivered
        event. Each seq exactly once, every payload equal to its expected
        slice, offsets consecutive per partition."""
        c = self.ctx.checks
        c.attempt(n)
        seen = bytearray(n)
        bad = 0
        nxt: dict[int, int] = {}
        for part, off, seq, payload_ok in got:
            if not isinstance(seq, int) or not 0 <= seq < n or seen[seq]:
                bad += 1
                continue
            seen[seq] = 1
            if not payload_ok:
                bad += 1
            if off != nxt.get(part, 0):
                bad += 1
            nxt[part] = off + 1
        missing = n - sum(seen)
        if bad or missing:
            c.fail(bad + missing, f"{label}: {missing} missing, {bad} duplicated, "
                   "out of order or with a wrong payload")

    # -- timed region -----------------------------------------------------
    def run(self, seconds: float) -> dict:
        s = self.shape
        n = s.events
        # the closed-loop phases share the budget; the tail phase, whose
        # length its rate sets, comes on top
        push_budget, pull_budget = seconds * 0.4, seconds * 0.6
        pushes = envinfo.Samples(push_budget, s.min_pushes)
        pulls = envinfo.Samples(pull_budget, s.min_pulls)
        topics = []

        while pushes.want_more():
            topic = self._new_topic()
            with pushes.sample() as smp:
                smp.dt, offs = self._push(topic, n)
            topics.append(topic)
            self._check_offsets(topic, offs, n)
        k = 0
        while pulls.want_more():
            if k == len(topics):
                # drains replacing stolen ones may outnumber the pushes
                topic = self._new_topic()
                _, offs = self._push(topic, n)
                topics.append(topic)
                self._check_offsets(topic, offs, n)
            topic = topics[k]
            k += 1
            topic.mark_as_complete()
            with pulls.sample() as smp:
                smp.dt, got = self._pull(topic, n)
            self.check_delivery(f"{topic.name} pull", got, n)
            del got
        for topic in topics:
            self._destroy(topic)

        push, pull = pushes.median(), pulls.median()
        out = {
            "push_events_per_s": n / push,
            "pull_events_per_s": n / pull,
            "cycle_s": push + pull,
            "push_topics": len(pushes.all),
            "push_topics_stolen": pushes.stolen(),
            "pull_topics": len(pulls.all),
            "pull_topics_stolen": pulls.stolen(),
        }
        if s.tail_rate is not None:
            out.update(self._tail(min(n, s.tail_events)))
        return out

    def _tail(self, n: int) -> dict:
        """Open-loop generator at ``tail_rate`` plus one tailing consumer
        thread; delivery latency runs from each event's scheduled push
        time to the consumer's ``pull`` returning it."""
        s = self.shape
        topic = self._new_topic()
        period = int(1e9 / s.tail_rate)
        got: list = []
        lat_ns: list = []
        state = {"empty": 0}
        cons = topic.consumer("tail", batch_size=s.consumer_batch,
                              data_selector=self._selector())

        def consume():
            while True:
                ev = cons.pull()
                if ev is None:
                    state["empty"] += 1
                    time.sleep(0.001)
                    continue
                if ev is NoMoreEvents:
                    return
                lat_ns.append(time.perf_counter_ns() - ev.metadata["due_ns"])
                self._take(ev, got, n)

        metas, pays = self.metas, self.pays
        late_ns = [0] * n
        backlog_max = 0
        th = threading.Thread(target=consume, name="tail-consumer", daemon=True)
        with self.ctx.tracer.span("phase.tail"):
            th.start()
            with topic.producer("tail", batch_size=s.producer_batch) as prod:
                t0 = time.perf_counter_ns() + 20_000_000
                for i in range(n):
                    due = t0 + i * period
                    wait = due - time.perf_counter_ns()
                    if wait > 0:
                        with self.ctx.tracer.span("generator.sleep"):
                            time.sleep(wait / 1e9)
                    late_ns[i] = time.perf_counter_ns() - due
                    prod.push(dict(metas[i], due_ns=due), pays[i])
                    if s.flush_every and (i + 1) % s.flush_every == 0:
                        prod.flush()
                    backlog_max = max(backlog_max, i + 1 - len(got))
                prod.flush()
            topic.mark_as_complete()
            th.join(timeout=120)
        cons.close()
        if self.ctx.tracer.enabled:
            _count_cache(self.ctx.tracer, topic)
        if th.is_alive():
            self.ctx.checks.fail(1, "tail consumer did not reach NoMoreEvents")
        lat = sorted(v / 1e6 for v in lat_ns)
        self.check_delivery("tail", got, n)
        self._destroy(topic)
        late = sorted(late_ns)
        return {
            "delivery_p50_ms": _pct(lat, 50),
            "delivery_p99_ms": _pct(lat, 99),
            "delivery_samples": len(lat),
            "tail.gen_late_p99_ms": _pct(late, 99) / 1e6,
            "tail.backlog_max_events": backlog_max,
            "tail.empty_polls": state["empty"],
        }


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, files in os.walk(path) for f in files)


def _count_cache(tracer, topic) -> None:
    stats = topic.write_cache_stats() or {}
    tracer.count("log.cache_hits", stats.get("hits", 0))
    tracer.count("log.cache_misses", stats.get("misses", 0))


def _pct(sorted_vals: list, p: float) -> float:
    if not sorted_vals:
        return float("nan")
    k = min(len(sorted_vals) - 1, int(round(p / 100 * (len(sorted_vals) - 1))))
    return sorted_vals[k]
