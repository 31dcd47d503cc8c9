"""The traced run: per-layer metrics and the self-time table.

``traced_run`` repeats the workload's timed region with the tracer's
patches installed and a streaming-query listener attached, then turns
the spans, counts and streaming progress into the per-layer metrics.
Layer times are reported as a share of the traced region's wall time
(self time, so nested layers are not counted twice); the table printed
before the result line gives the absolute seconds. The tracing overhead
is the traced region's ``cycle_s`` against the untraced one measured
just before it in the same process.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

import envinfo
from sparkpath import GATES

# Self-time shares: metric -> the span whose self time it reports.
SHARES = {
    "producer.queue_wait_pct": "producer.push",
    "producer.flush_pct": "producer.flush",
    "producer.push_dataframe_pct": "producer.push_dataframe",
    "validators.validate_pct": "validators.validate",
    "selectors.select_pct": "selectors.select",
    "serializers.serialize_pct": "serializers.serialize",
    "serializers.deserialize_pct": "serializers.deserialize",
    "log.append_rows_pct": "log.append_rows",
    "log.append_batch_pct": "log.append_batch",
    "log.fetch_rows_pct": "log.fetch_rows",
    "log.ack_pct": "log.ack",
    "consumer.self_pct": "consumer.pull",
    "consumer.selector_pct": "consumer.selector",
    "views.apply_pct": "views.apply",
}
# streaming progress durationMs keys -> metric
STREAM_KEYS = {
    "latestOffset": "stream.latest_offset_pct",
    "getBatch": "stream.get_batch_pct",
    "queryPlanning": "stream.query_planning_pct",
    "addBatch": "stream.add_batch_pct",
    "walCommit": "stream.wal_commit_pct",
}
COUNTS = ["log.append_calls", "log.files_written", "log.fetch_rounds", "log.ack_calls"]
TAIL = ["tail.empty_polls", "tail.backlog_max_events"]

METRICS: dict[str, str] = {
    "session.start_s": "s",
    "proc.python_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.steal_pct": "%",
    "trace.overhead_pct": "%",
    "trace.coverage_pct": "%",
    "trace.spans": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "stream.queries": "count",
    "stream.epochs": "count",
    **{k: "count" for k in COUNTS + TAIL},
    "log.bytes_written": "B",
    "log.files_per_partition": "count",
    "log.cache_hit_pct": "%",
    **{k: "%" for k in SHARES},
    "stream.native_drain_pct": "%",
    "stream.source_drain_pct": "%",
    **{k: "%" for k in STREAM_KEYS.values()},
    **{f"gate.{g}_pct": "%" for g in GATES},
}


class _Listener(StreamingQueryListener):
    """Collects every streaming query's run id and per-epoch durations,
    including the queries that gates start internally."""

    def __init__(self):
        self.lock = threading.Lock()
        self.started: list[str] = []  # run ids, which are also job groups
        self.terminated = 0
        self.epochs = 0
        self.duration_ms: dict[str, float] = defaultdict(float)

    def onQueryStarted(self, event):
        with self.lock:
            self.started.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        with self.lock:
            self.epochs += 1
            for k, v in (p.durationMs or {}).items():
                self.duration_ms[k] += v

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated += 1

    def settle(self, timeout: float = 10.0) -> None:
        """Events reach Python asynchronously: wait until every started
        query has reported its termination."""
        end = time.time() + timeout
        while time.time() < end:
            with self.lock:
                if self.terminated >= len(self.started):
                    return
            time.sleep(0.05)


def _job_counts(tracker, job_ids) -> tuple[int, int, int]:
    jobs = stages = tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return jobs, stages, tasks


def traced_run(ctx, wl, seconds: float, untraced: dict, session_s: float) -> dict:
    tracer = ctx.tracer
    spark = ctx.spark
    listener = _Listener()
    spark.streams.addListener(listener)
    tracer.enabled = True
    tracer.install()
    tracker = spark.sparkContext.statusTracker()
    # jobs run from Python callbacks (foreachBatch) carry no job group
    ungrouped0 = set(tracker.getJobIdsForGroup(None))
    jvm = ctx.jvm_pid()
    cpu0 = envinfo.cpu_s(os.getpid()), envinfo.cpu_s(jvm) if jvm else 0.0
    ticks0 = envinfo.cpu_ticks()
    t0 = time.perf_counter_ns()
    try:
        out = wl.run(seconds)
    finally:
        wall_ns = time.perf_counter_ns() - t0
        tracer.uninstall()
        tracer.enabled = False
    steal = envinfo.steal_pct(ticks0, envinfo.cpu_ticks())
    cpu1 = envinfo.cpu_s(os.getpid()), envinfo.cpu_s(jvm) if jvm else 0.0
    listener.settle()
    spark.streams.removeListener(listener)

    rows = tracer.self_times()
    wall = wall_ns / 1e9

    def share(name, key="self_s"):
        return 100.0 * rows.get(name, {}).get(key, 0.0) / wall

    groups = {r[0] for r in tracer.spans if r[0].startswith(("phase.", "gate."))}
    groups.update(listener.started)
    job_ids = set(tracker.getJobIdsForGroup(None)) - ungrouped0
    for g in groups:
        job_ids.update(tracker.getJobIdsForGroup(g))
    jobs, stages, tasks = _job_counts(tracker, sorted(job_ids))
    c = tracer.counts
    hits, misses = c.get("log.cache_hits", 0), c.get("log.cache_misses", 0)
    coverage = tracer.phase_coverage()
    m = {
        "session.start_s": session_s,
        "proc.python_cpu_s": cpu1[0] - cpu0[0],
        "proc.jvm_cpu_s": cpu1[1] - cpu0[1],
        "proc.steal_pct": steal,
        "trace.overhead_pct": 100.0 * (out["cycle_s"] / untraced["cycle_s"] - 1),
        "trace.coverage_pct": min(coverage.values()) if coverage else 0.0,
        "trace.spans": len(tracer.spans),
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
        "stream.queries": len(listener.started),
        "stream.epochs": listener.epochs,
        **{k: c.get(k, 0) for k in COUNTS},
        **{k: out.get(k, 0) for k in TAIL},
        "log.bytes_written": c.get("log.bytes_written", 0),
        "log.files_per_partition": (c.get("log.files_per_partition", 0)
                                    / max(1, c.get("log.pulled_topics", 0))),
        "log.cache_hit_pct": 100.0 * hits / (hits + misses) if hits + misses else 0.0,
        **{k: share(v) for k, v in SHARES.items()},
        "stream.native_drain_pct": share("phase.native_drain", "total_s"),
        "stream.source_drain_pct": share("phase.source_drain", "total_s"),
        **{metric: 100.0 * listener.duration_ms.get(key, 0.0) / 1000 / wall
           for key, metric in STREAM_KEYS.items()},
        **{f"gate.{g}_pct": share(f"gate.{g}", "total_s") for g in GATES},
    }
    return {
        "metrics": {k: (m[k], u) for k, u in METRICS.items()},
        "rows": rows,
        "wall_s": wall,
        "coverage": coverage,
        "stream_ms": dict(listener.duration_ms),
        "out": out,
        "untraced": untraced,
    }


def print_table(res: dict) -> None:
    """Per-layer self-time table of the traced region, as comment lines."""
    wall = res["wall_s"]
    print(f"# traced region: {wall:.3f} s wall; cycle_s traced "
          f"{res['out']['cycle_s']:.4f} vs untraced {res['untraced']['cycle_s']:.4f} "
          f"(overhead {res['metrics']['trace.overhead_pct'][0]:+.1f}%)")
    print(f"# {'span':34s} {'calls':>8s} {'total_s':>9s} {'self_s':>9s} {'self%':>6s}")
    for name, r in sorted(res["rows"].items(), key=lambda kv: -kv[1]["self_s"]):
        print(f"# {name:34s} {r['calls']:8d} {r['total_s']:9.3f} {r['self_s']:9.3f} "
              f"{100 * r['self_s'] / wall:6.1f}")
    for name, cov in sorted(res["coverage"].items()):
        print(f"# coverage {name:30s} {cov:6.1f}% of its wall time in child spans")
    for k, v in sorted(res["stream_ms"].items()):
        print(f"# stream durationMs {k:24s} {v:10.0f}")
    fetch = res["rows"].get("log.fetch_rows")
    if fetch:
        print(f"# log.fetch_ms_per_round {1000 * fetch['total_s'] / fetch['calls']:.3f}")
