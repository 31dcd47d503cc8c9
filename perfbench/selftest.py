"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Passes when every workload, untraced and traced, prints every metric
named in BENCHMARK.json with its unit and zero failed operations, and
when a consumer that drops or duplicates one event, or a gate that
returns the right number of rows with a wrong value, makes the run
report failed operations instead of just a different speed. Takes a
few minutes: every run starts its own Spark session.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402

SCALE = "0.05"


def _args(workload: str, trace: int) -> list[str]:
    return ["--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", str(trace), "--scale", SCALE]


def _bench(workload: str, trace: int) -> dict:
    """One run in its own process, as the benchmark is meant to run."""
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                           *_args(workload, trace)],
                          stdout=subprocess.PIPE, text=True, timeout=600)
    assert proc.returncode == 0, f"{workload}: exit code {proc.returncode}"
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _bench_here(workload: str) -> dict:
    """One run in this process, so a patch made here reaches it."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(_args(workload, 0))
    assert code == 0, f"{workload}: exit code {code}"
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def _expect_metrics(res: dict, spec: list[dict], label: str) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, label
    for m in spec:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{label}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{label}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{label}: {m['name']}"
    assert len(res["metrics"]) == len(spec), f"{label}: unexpected extra metrics"


@contextlib.contextmanager
def _faulty_consumer(kind: str):
    """Make every ``Consumer`` drop or repeat the fifth event it returns."""
    from mofka_spark.client import Consumer

    orig = Consumer.pull
    seen: dict[int, int] = {}
    again: dict[int, object] = {}

    def pull(self):
        if id(self) in again:
            return again.pop(id(self))
        ev = orig(self)
        if hasattr(ev, "offset"):
            seen[id(self)] = seen.get(id(self), 0) + 1
            if seen[id(self)] == 5:
                if kind == "drop":
                    return orig(self)
                again[id(self)] = ev
        return ev

    Consumer.pull = pull
    try:
        yield
    finally:
        Consumer.pull = orig


@contextlib.contextmanager
def _wrong_gate():
    """Make ``q5_region_revenue`` return every revenue one cent high:
    the same rows, a wrong answer."""
    from pyspark.sql import functions as F

    from mofka_spark import queries

    name = "q5_region_revenue"
    orig = queries.SPARK_QUERIES[name]
    queries.SPARK_QUERIES[name] = (
        lambda spark, d: orig(spark, d).withColumn("revenue", F.col("revenue") + 0.01))
    try:
        yield
    finally:
        queries.SPARK_QUERIES[name] = orig


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for wl in run.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = _bench(wl, trace)
            _expect_metrics(res, spec[key], f"{wl} trace={trace}")
            assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, \
                f"{wl} trace={trace}: {res['failed']} failed of {res['attempted']}"
            print(f"ok {wl} trace={trace}: {len(res['metrics'])} metrics, "
                  f"{res['attempted']} operations checked")
    for kind in ("drop", "dup"):
        with _faulty_consumer(kind):
            res = _bench_here("ref_small")
        assert not res["correct"] and res["failed"] > 0, f"injected {kind} not detected"
        print(f"ok injected {kind}: {res['failed']} failed of {res['attempted']}")
    with _wrong_gate():
        res = _bench_here("spark_stream")
    assert not res["correct"] and res["failed"] > 0, "injected wrong gate rows not detected"
    print(f"ok injected wrong gate rows: {res['failed']} failed of {res['attempted']}")
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
