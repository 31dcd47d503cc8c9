"""The Spark path of a topic: workload ``spark_stream``.

1. Ingest the seeded events table (metadata = the row as JSON, data =
   ``props``) into a 4-partition topic with ``push_dataframe``.
2. Drain that topic through a one-day windowed count into a memory
   sink, once on the native engine (AvailableNow) and once on the custom
   ``mofka`` source with a ``batch_size`` cap, so the drain spans
   several epochs.
3. Run the analytics gates over the seeded tables, and check their rows
   against each gate's oracle after the timed region.

This workload never calls ``Producer.push`` or ``EventLog.fetch_rows``,
so a change to the client path should leave it unchanged.
"""

from __future__ import annotations

import math
import os
import time

import duckdb
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mofka_spark import queries

import envinfo
import inputs

# Gates run every cycle, in this order: a mergeable store sink fed by a
# stream drain of a topic, and `q5_region_revenue`, the plain-SQL
# control that touches no streaming or store code. Six gates of the
# wider set are left out to keep a run inside the time budget of a full
# benchmark session, where every run starts a JVM and warms each gate
# once: `minhash_dedup` (~7 s of warm-up and ~4.5 s a cycle, a third of
# this workload's run), `streaming_neardup` (its first run compiles for
# ~12 s), `bpe_vocab` (~8 s of warm-up and ~2-8 s a cycle),
# `dedup_components` (minhash_dedup's pipeline plus a components pass),
# and the two history-joining store sinks `streaming_web_components` and
# `streaming_pq_index`.
GATES = ["streaming_heavy_hitters", "q5_region_revenue"]

N_EVENTS, N_DOCS = 100_000, 1000
# events per partition per trigger of the capped custom-source drain:
# 100k events over 4 partitions make 3 epochs
SOURCE_BATCH = 10_000
# ingest and native drain take a second or two each, and the first
# full-size one of each runs a third slower than the rest while the JVM
# compiles its hot loops, so a cycle times three of each and reports
# the medians
INGESTS = 3


class SparkWorkload:
    def __init__(self, ctx, scale: float = 1.0):
        self.ctx = ctx
        self.n_events = max(1000, int(N_EVENTS * scale))
        self.data_dir = os.path.join(ctx.work, "tables")
        inputs.write_tables(self.data_dir, ctx.seed, n_events=self.n_events, n_docs=N_DOCS)
        self.days = _event_days(self.data_dir)
        self._topics = 0
        self._queries = 0
        self._oracle = None

    @property
    def spark(self):
        return self.ctx.spark

    # -- steps ------------------------------------------------------------
    def _events_frame(self, data_dir: str):
        ev = queries.load_events(self.spark, os.path.join(data_dir, "events.parquet"))
        return ev.select(
            F.to_json(F.struct("event_id", "ts", "user_id", "event_type", "value"))
            .alias("metadata"),
            F.col("props").cast("binary").alias("data"),
        )

    def _ingest(self, data_dir: str, n: int):
        self._topics += 1
        topic = self.ctx.driver.create_topic(f"events-{self._topics}", num_partitions=4)
        frame = self._events_frame(data_dir)
        with self.ctx.phase("phase.ingest"):
            t0 = time.perf_counter()
            acks = topic.producer("ingest").push_dataframe(frame)
            dt = time.perf_counter() - t0
        topic.mark_as_complete()
        c = self.ctx.checks
        c.attempt(1)
        acked = sum(count for _base, count in acks.values())
        held = sum(topic.snapshot().values())
        if acked != n or held != n:
            c.fail(1, f"ingest: acked {acked} rows, ledger holds {held}, expected {n}")
        return topic, dt

    def _drain(self, topic, native: bool, n: int, days: int) -> float:
        """Windowed count of the whole topic into a memory sink; the
        time runs from ``start()`` to the query's termination."""
        self._queries += 1
        name = f"drain_{self._queries}"
        ckpt = os.path.join(self.ctx.work, "ckpt", name)
        if native:
            stream = topic.read_stream()
        else:
            stream = topic.read_stream(batch_size=SOURCE_BATCH, native=False,
                                       checkpoint=ckpt)
        agg = (
            stream.select(F.to_timestamp(F.get_json_object("metadata", "$.ts")).alias("ts"))
            .groupBy(F.window("ts", "1 day")).count()
        )
        writer = (agg.writeStream.outputMode("complete").format("memory")
                  .queryName(name).option("checkpointLocation", ckpt))
        label = "phase.native_drain" if native else "phase.source_drain"
        trigger = {"availableNow": True} if native else {"processingTime": "0 seconds"}
        span = self.ctx.tracer.span
        with self.ctx.phase(label):
            t0 = time.perf_counter()
            with span("stream.start"):
                q = writer.trigger(**trigger).start()
            with span("stream.await"):
                if native:
                    ok = q.awaitTermination(120)
                else:
                    ok = topic.await_completion(q, poll_interval=0.02, timeout=120)
            dt = time.perf_counter() - t0
        c = self.ctx.checks
        c.attempt(1)
        if not ok:
            q.stop()
            c.fail(1, f"{label}: query did not finish")
        rows = self.spark.table(name).collect()
        total = sum(r["count"] for r in rows)
        if total != n or len(rows) != days:
            c.fail(1, f"{label}: {total} events in {len(rows)} windows, expected "
                   f"{n} in {days}")
        self.spark.catalog.dropTempView(name)
        return dt

    def _gate(self, name: str, data_dir: str, label: str = "gate") -> tuple[float, tuple]:
        """Plan, execute and collect one gate; returns its time and its
        result in ``_canonical`` form."""
        span = self.ctx.tracer.span
        with self.ctx.phase(f"{label}.{name}"):
            t0 = time.perf_counter()
            with span("queries.gate"):
                frame = queries.SPARK_QUERIES[name](self.spark, data_dir)
            with span("queries.collect"):
                rows = frame.collect()
            dt = time.perf_counter() - t0
        cols = frame.columns
        del frame
        self.ctx.isolate()
        return dt, _canonical(cols, [tuple(r) for r in rows])

    def _check_gates(self, results: dict) -> None:
        """Compare each gate's rows with its oracle's; the oracle runs
        once per process, outside every timed region."""
        if self._oracle is None:
            self._oracle = _oracle_rows(self.data_dir)
        c = self.ctx.checks
        for label, rows_by_gate in results.items():
            for name, rows in rows_by_gate.items():
                c.attempt(1)
                want = self._oracle[name]
                if not _same_rows(rows, want):
                    c.fail(1, f"{label} {name}: {len(rows)} rows differ from the "
                           f"oracle's {len(want)}")

    # -- setup and timed region ------------------------------------------
    def setup(self) -> None:
        """Warm-up counted in ``setup_s``: an ingest of a small table and
        a drain of it on each engine, so first-use costs of
        ``push_dataframe`` and of both stream sources land here."""
        tiny = os.path.join(self.ctx.work, "tables-warm")
        inputs.write_tables(tiny, self.ctx.seed + 1, n_events=2000, n_docs=10)
        topic, _ = self._ingest(tiny, 2000)
        days = _event_days(tiny)
        self._drain(topic, True, 2000, days)
        self._drain(topic, False, 2000, days)
        self.ctx.driver.destroy_topic(topic.name)

    def warm(self) -> None:
        """Every gate once on the benchmark's tables, outside ``setup_s``
        and the timed region: a gate's first run compiles for seconds
        (and builds the shared fixture topic the store-sink gate drains,
        as bench.py's warm-up does), and that first-run time varies too
        much from process to process to sit inside a bounded metric. It
        is reported as ``gates_warm_s``."""
        t0 = time.perf_counter()
        self._warm_rows = {g: self._gate(g, self.data_dir, "warm")[1] for g in GATES}
        self.setup_detail = {"gates_warm_s": time.perf_counter() - t0}

    def run(self, seconds: float) -> dict:
        """One cycle, which takes longer than any useful ``seconds``:
        ``INGESTS`` topics ingested and drained on the native engine
        (the median of each is reported; rounds the host's steal spoilt
        are replaced, as in the client workloads), the last one drained
        again on the custom source, then every gate once."""
        n = self.n_events
        rounds = envinfo.Samples(0.0, INGESTS)
        topic = None
        while rounds.want_more():
            if topic is not None:
                self.ctx.driver.destroy_topic(topic.name)
            with rounds.sample() as smp:
                topic, ingest = self._ingest(self.data_dir, n)
                smp.dt = (ingest, self._drain(topic, True, n, self.days))
            self.ctx.isolate()
        source = self._drain(topic, False, n, self.days)
        self.ctx.driver.destroy_topic(topic.name)
        gates, rows = {}, {}
        for g in GATES:
            gates[g], rows[g] = self._gate(g, self.data_dir)
        self._check_gates({"warm-up": self._warm_rows, "timed": rows})
        self._warm_rows = {}
        ingest, native = rounds.median(0), rounds.median(1)
        return {
            "ingest_events_per_s": n / ingest,
            "drain_events_per_s": n / native,
            "source_drain_events_per_s": n / source,
            "gates_s": sum(gates.values()),
            **{f"gate.{g}_s": dt for g, dt in gates.items()},
            "cycle_s": ingest + native + source + sum(gates.values()),
            "ingest_rounds": len(rounds.all),
            "ingest_rounds_stolen": rounds.stolen(),
        }


def _event_days(data_dir: str) -> int:
    ts = pq.read_table(os.path.join(data_dir, "events.parquet"), columns=["ts"])
    return len({t.date() for t in ts.column("ts").to_pylist()})


def _canonical(columns: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Rows as sorted tuples over the sorted column names, so two
    results compare regardless of column and row order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], sorted(tuple(r[i] for i in order) for r in rows)


def _same_rows(got, want) -> bool:
    (gcols, grows), (wcols, wrows) = got, want
    if gcols != wcols or len(grows) != len(wrows):
        return False
    for g, w in zip(grows, wrows):
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


def _oracle_rows(data_dir: str) -> dict:
    """Each gate's expected rows on the tables in ``data_dir``: DuckDB
    runs the gate's own oracle SQL (``queries.ORACLE_SQL``)."""
    con = duckdb.connect()
    try:
        for fn in sorted(os.listdir(data_dir)):
            path = os.path.join(data_dir, fn)
            con.execute(f"CREATE VIEW {fn[:-len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{path}')")
        out = {}
        for name in GATES:
            cur = con.execute(queries.ORACLE_SQL[name])
            out[name] = _canonical([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()
