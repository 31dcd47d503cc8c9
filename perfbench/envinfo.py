"""Environment evidence, process counters and the host-noise guard for
one benchmark run."""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import subprocess
import time
import types


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid``, in MiB."""
    return _status_kb(pid, "VmHWM") / 1024.0


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds of ``pid`` so far."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def source_id(root: str) -> dict:
    """git SHA and dirty flag when ``root`` is a git checkout, and in
    every case a hash of the package sources, so a run can be tied to
    the code it measured."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "mofka_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    out = {"git_sha": None, "git_dirty": None, "source_sha256": h.hexdigest()[:16]}
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            sha = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                                 capture_output=True, text=True, timeout=10)
            dirty = subprocess.run(["git", "-C", root, "status", "--porcelain",
                                    "--untracked-files=no"],
                                   capture_output=True, text=True, timeout=10)
            out["git_sha"] = sha.stdout.strip() or None
            out["git_dirty"] = bool(dirty.stdout.strip())
        except (OSError, subprocess.TimeoutExpired):
            pass
    return out


class Samples:
    """Timings of one repeated phase, with a host-noise guard.

    A phase takes at least ``minimum`` samples and goes on while the
    next one fits in its ``budget``. A sample during which the host
    stole more than ``STEAL_LIMIT_PCT`` of the CPU time measures the
    neighbours rather than the library (the steal guard bench.py
    applies per chunk): it is kept, but does not count toward the
    minimum, and up to ``minimum // 2`` (at least one) extra samples
    are taken to replace such samples, so a stolen host lengthens a
    phase by a bounded amount. Medians are taken over the clean
    samples, or over all of them when none is clean. A sample's ``dt``
    is one time, or a tuple of the times of the steps it made."""

    STEAL_LIMIT_PCT = 2.0

    def __init__(self, budget: float, minimum: int):
        self.budget = budget
        self.minimum = minimum
        self.cap = minimum + max(1, minimum // 2)
        self.all: list = []
        self.clean: list = []
        self.t0 = 0.0

    def want_more(self) -> bool:
        if not self.all:
            self.t0 = time.perf_counter()
            return True
        if len(self.clean) < self.minimum:
            return len(self.all) < self.cap
        last = self.all[-1]
        last = sum(last) if isinstance(last, tuple) else last
        return time.perf_counter() - self.t0 + last <= self.budget

    @contextlib.contextmanager
    def sample(self):
        smp = types.SimpleNamespace(dt=None)
        ticks = cpu_ticks()
        yield smp
        self.all.append(smp.dt)
        if steal_pct(ticks, cpu_ticks()) <= self.STEAL_LIMIT_PCT:
            self.clean.append(smp.dt)

    def median(self, step: int | None = None) -> float:
        """Median time, of step ``step`` when samples are tuples."""
        vals = self.clean or self.all
        return statistics.median(v if step is None else v[step] for v in vals)

    def stolen(self) -> int:
        return len(self.all) - len(self.clean)
