"""mofka-spark pub/sub benchmark.

    python3 perfbench/run.py --workload ref_small --seed 1 --seconds 8 --trace 0

Workloads: ref_small, bulk_wide (client push/pull path) and spark_stream
(the Spark path of a topic); see perfbench/README.md. Run from the root
of a source checkout: the benchmark imports ``mofka_spark`` from there
and writes only under ``.perfbench-work/`` in that root, which it
removes on exit.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Earlier lines carry the environment, the workload's own metrics and,
when traced, the per-layer self-time table.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ref_small", "bulk_wide", "spark_stream")

END_TO_END = {
    "setup_s": "s",
    "write_events_per_s": "ev/s",
    "read_events_per_s": "ev/s",
    "cycle_s": "s",
    "python_peak_rss_mb": "MB",
}


def unit_of(name: str) -> str:
    """Unit of a workload's own metric, from its name's suffix."""
    for suffix, unit in (("_per_s", "ev/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    return "count"


class Checks:
    """Operations attempted and failed, with a note per failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, n: int, note: str) -> None:
        self.failed += n
        self.notes.append(note)


class Context:
    """What every workload shares: the seed, the session, the scratch
    directory, the tracer and the correctness tally."""

    def __init__(self, seed: int, work: str, tracer):
        import numpy as np

        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.work = work
        self.tracer = tracer
        self.checks = Checks()
        self.spark = None
        self.driver = None

    def start_session(self) -> float:
        from mofka_spark.client import Driver
        from mofka_spark.session import get_spark

        nproc = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="mofka-spark-perfbench",
            master=f"local[{nproc}]",
            conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.shuffle.partitions": str(max(8, nproc)),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.driver = Driver(self.spark, os.path.join(self.work, "topics"))
        return dt

    @contextlib.contextmanager
    def phase(self, name: str):
        """A timed Spark phase: a span, and a job group so its jobs can
        be counted. Later jobs of this thread fall in the ``bench``
        group."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        try:
            with self.tracer.span(name):
                yield
        finally:
            sc.setJobGroup("bench", "benchmark checks")

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def isolate(self) -> None:
        """Outside the timed region: drop cached frames, persisted RDDs,
        terminated queries and temp views, then collect garbage on both
        sides, so one phase's leftovers neither slow the next nor raise
        the JVM heap's high-water mark by chance of GC timing."""
        spark = self.spark
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        spark.streams.resetTerminated()
        for t in spark.catalog.listTables():
            if t.isTemporary:
                spark.catalog.dropTempView(t.name)
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - the JVM must not outlive us
                proc.kill()
                proc.wait()


def make_workload(ctx, name: str, scale: float):
    if name == "spark_stream":
        from sparkpath import SparkWorkload

        return SparkWorkload(ctx, scale)
    from clientpath import ClientWorkload

    return ClientWorkload(ctx, name, scale)


def end_to_end(name: str, out: dict) -> dict:
    if name == "spark_stream":
        write, read = out["ingest_events_per_s"], out["drain_events_per_s"]
    else:
        write, read = out["push_events_per_s"], out["pull_events_per_s"]
    return {"write_events_per_s": write, "read_events_per_s": read,
            "cycle_s": out["cycle_s"]}


def run(args, work: str) -> dict:
    import envinfo
    import pyarrow
    from spans import Tracer

    tracer = Tracer(enabled=False)
    ctx = Context(args.seed, work, tracer)
    try:
        wl = make_workload(ctx, args.workload, args.scale)
        t0 = time.perf_counter()
        session_s = ctx.start_session()
        wl.setup()
        ctx.isolate()
        setup_s = time.perf_counter() - t0
        wl.warm()
        ctx.isolate()
        # write back what set-up wrote, so the timed phases do not pay
        # for it
        os.sync()

        ticks0 = envinfo.cpu_ticks()
        out = wl.run(args.seconds)
        steal = envinfo.steal_pct(ticks0, envinfo.cpu_ticks())
        layers = None
        if args.trace:
            import layers as layer_metrics

            ctx.isolate()
            layers = layer_metrics.traced_run(ctx, wl, args.seconds, out, session_s)
        jvm = ctx.jvm_pid()
        python_rss = envinfo.peak_rss_mb(os.getpid())
        jvm_rss = envinfo.peak_rss_mb(jvm) if jvm else None
        env = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
            "default_parallelism": ctx.spark.sparkContext.defaultParallelism,
            "spark": ctx.spark.version, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0],
            "loadavg": os.getloadavg(), "steal_pct": steal,
            "python_cpu_s": envinfo.cpu_s(os.getpid()),
            "jvm_cpu_s": envinfo.cpu_s(jvm) if jvm else None,
            **envinfo.source_id(ROOT),
        }
    finally:
        ctx.stop()
    return {"ctx": ctx, "out": out, "session_s": session_s, "setup_s": setup_s,
            "setup_detail": getattr(wl, "setup_detail", {}),
            "python_rss": python_rss, "jvm_rss": jvm_rss, "env": env, "layers": layers}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="topic size factor; 1 is the benchmark, the self-test "
                    "uses a small one")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "mofka_spark", "__init__.py")):
        print(f"perfbench: no mofka_spark package under {ROOT}; run from the "
              "root of a source checkout", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(work_root, str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the run writes, the JVM's and Python workers' scratch
    # included, stays inside the checkout; workers import the package
    # from the checkout too
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM Spark launches: temp files in the checkout, and no
    # /tmp/hsperfdata_* performance-counter file
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"),
                      f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"]))
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    try:
        # start from, and leave, a filesystem with no dirty pages: a
        # bulk_wide run writes close to a gigabyte, and its writeback
        # must not land in the next run's timed phases
        os.sync()
        res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        os.sync()
        try:
            os.rmdir(work_root)
        except OSError:
            pass

    ctx, out = res["ctx"], res["out"]
    metrics = {"setup_s": res["setup_s"], **end_to_end(args.workload, out),
               "python_peak_rss_mb": res["python_rss"]}
    print(json.dumps({"env": res["env"]}))
    own = {"session.start_s": res["session_s"], **res["setup_detail"], **out,
           "jvm_peak_rss_mb": res["jvm_rss"]}
    own = {k: {"value": v, "unit": unit_of(k)} for k, v in own.items()}
    print(json.dumps({"workload": args.workload, "metrics": own}))
    for note in ctx.checks.notes:
        print(f"# failed: {note}")
    if args.trace:
        import layers as layer_metrics

        layer_metrics.print_table(res["layers"])
        chosen = {k: {"value": v, "unit": u}
                  for k, (v, u) in res["layers"]["metrics"].items()}
    else:
        chosen = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": ctx.checks.failed == 0,
        "attempted": ctx.checks.attempted,
        "failed": ctx.checks.failed,
        "metrics": chosen,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
