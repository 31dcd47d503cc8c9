"""In-memory span recorder for the traced benchmark run.

A span records name, start, end, parent span and thread. Spans come
from two places, both in the benchmark's own files: the workloads open
phase spans around each timed phase, and ``Tracer.install`` wraps the
library's public entry points (producer, consumer, log, validators,
selectors, serializers, views) so every call into a layer becomes a
child span. Nothing is patched in an untraced run, which is where the
end-to-end numbers come from.

Spans are kept in a list and summarised when the run ends: per-name call
counts, total time and self time (duration minus the time covered by
direct children).
"""

from __future__ import annotations

import contextlib
import threading
import time
from collections import defaultdict

_NULL = contextlib.nullcontext()


class _Span:
    __slots__ = ("tracer", "name", "idx")

    def __init__(self, tracer: "Tracer", name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.idx)
        return False


class Tracer:
    """Span recorder. ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        # [name, start_ns, end_ns, parent_idx, thread_name]
        self.spans: list[list] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._tls = threading.local()
        self._patched: list[tuple[type, str, object]] = []

    # -- recording ----------------------------------------------------------
    def span(self, name: str):
        return _Span(self, name) if self.enabled else _NULL

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _open(self, name: str) -> int:
        st = self._stack()
        rec = [name, time.perf_counter_ns(), 0, st[-1] if st else -1,
               threading.current_thread().name]
        self.spans.append(rec)  # list.append is atomic under the GIL
        idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def _close(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter_ns()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    # -- patching -----------------------------------------------------------
    def wrap(self, cls: type, attr: str, name: str, on_result=None) -> None:
        """Replace ``cls.attr`` with a version that runs inside a span
        named ``name``. ``on_result(result, args)`` may add counts."""
        orig = cls.__dict__[attr]
        tracer = self

        def traced(*args, **kwargs):
            idx = tracer._open(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._close(idx)
            if on_result is not None:
                on_result(out, args)
            return out

        traced.__wrapped__ = orig
        setattr(cls, attr, traced)
        self._patched.append((cls, attr, orig))

    def wrap_fn(self, fn, name: str):
        """Return ``fn`` wrapped in a span (for callables the benchmark
        passes into the library, such as the data selector)."""
        if not self.enabled:
            return fn
        tracer = self

        def traced(*args, **kwargs):
            idx = tracer._open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(idx)

        return traced

    def install(self) -> None:
        """Wrap the library's public layer entry points."""
        from mofka_spark import client, log
        from mofka_spark.functions import selectors, serializers, validators, views

        def _count_append(acks, _args):
            self.counts["log.append_calls"] += 1
            self.counts["log.files_written"] += len(acks or {})

        def _count_fetch(rows, _args):
            self.counts["log.fetch_rounds"] += 1

        def _count_ack(_out, _args):
            self.counts["log.ack_calls"] += 1

        self.wrap(client.Producer, "push", "producer.push")
        self.wrap(client.Producer, "flush", "producer.flush")
        self.wrap(client.Producer, "push_dataframe", "producer.push_dataframe")
        self.wrap(client.Consumer, "pull", "consumer.pull")
        self.wrap(log.EventLog, "append_rows", "log.append_rows", _count_append)
        self.wrap(log.EventLog, "append_batch", "log.append_batch", _count_append)
        self.wrap(log.EventLog, "fetch_rows", "log.fetch_rows", _count_fetch)
        self.wrap(log.EventLog, "acknowledge", "log.ack", _count_ack)
        self.wrap(views.DataDescriptor, "apply", "views.apply")
        for mod, base, attrs, prefix in (
            (validators, validators.Validator, ("validate",), "validators"),
            (selectors, selectors.PartitionSelector, ("select",), "selectors"),
            (serializers, serializers.Serializer, ("serialize", "deserialize"),
             "serializers"),
        ):
            for cls in [base, *_subclasses(base)]:
                for attr in attrs:
                    if attr in cls.__dict__:
                        self.wrap(cls, attr, f"{prefix}.{attr}")

    def uninstall(self) -> None:
        while self._patched:
            cls, attr, orig = self._patched.pop()
            setattr(cls, attr, orig)

    # -- summaries ----------------------------------------------------------
    def self_times(self) -> dict[str, dict]:
        """{name: {"calls", "total_s", "self_s"}} over all spans."""
        spans = self.spans
        child_ns: dict[int, int] = defaultdict(int)
        for rec in spans:
            if rec[3] >= 0 and rec[2]:
                child_ns[rec[3]] += rec[2] - rec[1]
        out: dict[str, dict] = {}
        for i, rec in enumerate(spans):
            if not rec[2]:
                continue
            dur = rec[2] - rec[1]
            row = out.setdefault(rec[0], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += dur / 1e9
            row["self_s"] += (dur - child_ns.get(i, 0)) / 1e9
        return out

    def phase_coverage(self, prefix: tuple[str, ...] = ("phase.", "gate.")) -> dict[str, float]:
        """For each phase span on the main thread: the least share of its
        wall time covered by its direct child spans, in percent."""
        main = threading.main_thread().name
        child_ns: dict[int, int] = defaultdict(int)
        for rec in self.spans:
            if rec[3] >= 0 and rec[2] and rec[4] == main:
                child_ns[rec[3]] += rec[2] - rec[1]
        cov: dict[str, list[float]] = defaultdict(list)
        for i, rec in enumerate(self.spans):
            if rec[0].startswith(prefix) and rec[4] == main and rec[2] > rec[1]:
                cov[rec[0]].append(100.0 * child_ns.get(i, 0) / (rec[2] - rec[1]))
        return {k: min(v) for k, v in cov.items()}


def _subclasses(cls: type) -> list[type]:
    out = []
    for sub in cls.__subclasses__():
        out.append(sub)
        out.extend(_subclasses(sub))
    return out
