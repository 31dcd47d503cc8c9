"""mofka-spark control-plane CLI — the mofkactl analog.

The reference ships ``mofkactl`` (typer-based) with ``topic create/...``
and ``partition add`` command groups
(/root/reference/python/mochi/mofka/mofkactl/__main__.py:7-25,
topic.py:11-55, partition.py:11-60). This CLI covers the same DDL
surface against the Spark engine's directory-backed registry. Registry
operations are pure metadata (JSON files on the shared filesystem) — no
SparkSession, no JVM: ``python -m mofka_spark topic list -r /data/mofka``
returns in milliseconds. Commands that need the data plane (``topic
stats``) read only the O(#partitions) ledger, not event data.

Usage::

    python -m mofka_spark topic create mytopic -r ROOT -n 4 \
        --validator '{"type": "schema", "schema": {...}}'
    python -m mofka_spark topic list -r ROOT
    python -m mofka_spark topic exists mytopic -r ROOT   # exit 0/1
    python -m mofka_spark topic stats mytopic -r ROOT
    python -m mofka_spark topic complete mytopic -r ROOT
    python -m mofka_spark topic destroy mytopic -r ROOT
    python -m mofka_spark partition add mytopic -r ROOT -n 2
"""

from __future__ import annotations

import argparse
import importlib
import json
import sys

from mofka_spark.errors import MofkaError


def _jarg(s: str | None, what: str) -> dict:
    flag = what if what.startswith("--") else f"--{what}"
    if s is None:
        return {}
    try:
        doc = json.loads(s)
    except ValueError as e:
        raise SystemExit(f"error: {flag} must be a JSON object: {e}")
    if not isinstance(doc, dict):
        raise SystemExit(f"error: {flag} must be a JSON object")
    return doc


def _registry(args):
    from mofka_spark.registry import TopicRegistry

    return TopicRegistry(args.root)


def cmd_topic_create(args) -> int:
    reg = _registry(args)
    cfg = reg.create_topic(
        args.name,
        num_partitions=args.partitions,
        validator=_jarg(args.validator, "validator") or None,
        selector=_jarg(args.selector, "selector") or None,
        serializer=_jarg(args.serializer, "serializer") or None,
        backend=args.backend,
    )
    print(cfg.to_json())
    return 0


def cmd_topic_list(args) -> int:
    for name in _registry(args).list_topics():
        print(name)
    return 0


def cmd_topic_exists(args) -> int:
    ok = _registry(args).topic_exists(args.name)
    print("true" if ok else "false")
    return 0 if ok else 1


def cmd_topic_show(args) -> int:
    print(_registry(args).open_topic(args.name).to_json())
    return 0


def cmd_topic_complete(args) -> int:
    print(_registry(args).mark_as_complete(args.name).to_json())
    return 0


def cmd_topic_destroy(args) -> int:
    _registry(args).destroy_topic(args.name)
    return 0


def cmd_topic_stats(args) -> int:
    """Events per partition from the ledger — O(#partitions), no Spark."""
    import os

    from mofka_spark.streaming.source import _read_ledger

    reg = _registry(args)
    cfg = reg.open_topic(args.name)
    ledger = _read_ledger(reg.topic_path(args.name))
    parts = {str(p): int(ledger.get(str(p), 0)) for p in range(cfg.num_partitions)}
    print(
        json.dumps(
            {
                "topic": cfg.name,
                "completed": cfg.completed,
                "partitions": parts,
                "total_events": sum(parts.values()),
            },
            sort_keys=True,
        )
    )
    return 0


def cmd_topic_lag(args) -> int:
    """Per-consumer lag (ledger head - ack cursor) — pure metadata."""
    from mofka_spark.log import EventLog

    reg = _registry(args)
    reg.open_topic(args.name)  # raises TopicNotFoundError if missing
    log = EventLog(None, reg.topic_path(args.name), args.name)
    heads = log.next_offsets()
    import os as _os

    try:
        names = sorted(
            fn[: -len(".json")]
            for fn in _os.listdir(log.cursors_dir)
            if fn.endswith(".json")
        )
    except FileNotFoundError:
        names = []
    out = {}
    for n in names:
        cur = log.load_cursors(n)
        out[n] = {str(p): heads.get(p, 0) - cur.get(p, 0) for p in heads}
    print(json.dumps(out, sort_keys=True))
    return 0


def cmd_topic_compact(args) -> int:
    """Small-file maintenance pass (EventLog.compact_files) — pure
    pyarrow, no SparkSession; run while no producer is active."""
    from mofka_spark.log import EventLog

    reg = _registry(args)
    cfg = reg.open_topic(args.name)
    log = EventLog(None, reg.topic_path(args.name), args.name)
    res = log.compact_files(min_files=args.min_files, target_mb=args.target_mb)
    print(json.dumps({str(p): list(v) for p, v in res.items()}, sort_keys=True))
    return 0


def cmd_topic_trim(args) -> int:
    """Retention/expiry (EventLog.trim): retire events below an offset
    or ingest-timestamp cut — atomic floor commit, whole-file deletion,
    consumer-cursor fencing. Pure pyarrow, no SparkSession. Exactly one
    of --before-offset / --before-ts / --retention-ms / --retention
    (honor the topic's persisted Kafka retention.ms config)."""
    import datetime

    from mofka_spark.log import EventLog

    chosen = [
        x for x in (
            args.before_offset, args.before_ts, args.retention_ms,
            True if args.retention else None,
        ) if x is not None
    ]
    if len(chosen) != 1:
        raise SystemExit(
            "exactly one of --before-offset / --before-ts / "
            "--retention-ms / --retention"
        )
    reg = _registry(args)
    cfg = reg.open_topic(args.name)
    log = EventLog(None, reg.topic_path(args.name), args.name)
    before_offset, before_ts = args.before_offset, args.before_ts
    ms = args.retention_ms
    if args.retention:
        ms = (
            ((cfg.extra or {}).get("kafka") or {}).get("config") or {}
        ).get("retention.ms")
        if ms is None:
            raise SystemExit(
                f"topic {args.name!r} has no retention.ms config"
            )
    if ms is not None:
        before_ts = datetime.datetime.now(
            datetime.timezone.utc
        ) - datetime.timedelta(milliseconds=int(ms))
    parts = (
        [int(x) for x in args.partitions.split(",")]
        if args.partitions
        else None
    )
    floors = log.trim(
        before_offset=before_offset, before_ts=before_ts,
        partitions=parts, force=args.force,
    )
    print(json.dumps({str(p): f for p, f in floors.items()}, sort_keys=True))
    return 0


def _cols(args) -> list[str]:
    return args.group_cols.split(",")


def _fold(module: str, merge=lambda m, args: m.merge):
    """Compaction of a mergeable summary store: compact_epoch_store
    folding with streaming/<module>.py's ``merge`` (built from the
    parsed flags where the fold has parameters)."""

    def run(spark, path, args) -> None:
        from mofka_spark.streaming.store import compact_epoch_store

        m = importlib.import_module(f"mofka_spark.streaming.{module}")
        compact_epoch_store(spark, path, merge=merge(m, args))

    return run


def _own(module: str, name: str):
    """A store's own compactor, streaming/<module>.py:<name>(spark,
    path) — the multi-table stores, and the unfolded generic store."""

    def run(spark, path, args) -> None:
        m = importlib.import_module(f"mofka_spark.streaming.{module}")
        getattr(m, name)(spark, path)

    return run


# store kind -> the compaction ``store compact -k <kind>`` runs
_STORE_COMPACT = {
    "annindex": _own("annindex", "compact_index"),
    "bloom": _fold("bloom"),
    "cms": _fold("cms"),
    "distinct": _fold("distinct", lambda m, a: m.merge(_cols(a))),
    "dsir": _fold("dsirstore"),
    "heavyhitters": _fold("heavyhitters"),
    "linestore": _fold("linestore"),
    "moments": _fold("moments"),
    "monitor": _own("monitor", "compact_monitor"),
    "neardup": _own("neardup", "compact_store"),
    "pqindex": _own("pqindex", "compact_pq_index"),
    "quantiles": _fold("quantiles", lambda m, a: m.merge(_cols(a))),
    "robots": _fold("robots"),
    "rollup": _fold(
        "rollup", lambda m, a: m.merge(_cols(a), _jarg(a.aggs, "--aggs"))
    ),
    "sample": _fold("sample", lambda m, a: m.merge(a.k)),
    "textindex": _own("textindex", "compact_index"),
    "webgraph": _fold("webgraph"),
    "generic": _own("store", "compact_epoch_store"),
}


def cmd_store_compact(args) -> int:
    """Maintenance compaction for the incremental summary stores: fold
    epoch fragments into the compacted slot with the store's own
    ``merge`` (streaming/store.py), so reads are identical before and
    after. The streaming analog of ``topic compact``: run on a cadence
    while no writer is mid-epoch. ``distinct``/``quantiles`` need
    --group-cols, ``rollup`` needs --group-cols and --aggs (the same
    dict its reader uses)."""
    from mofka_spark.session import get_spark

    kind = args.kind
    if kind in ("distinct", "quantiles", "rollup") and not args.group_cols:
        print(f"--group-cols is required for kind={kind}", file=sys.stderr)
        return 2
    if kind == "rollup" and not args.aggs:
        print("--aggs is required for kind=rollup", file=sys.stderr)
        return 2
    spark = get_spark(app_name="mofka-store-compact")
    _STORE_COMPACT[kind](spark, args.path, args)
    print(json.dumps({"compacted": args.path, "kind": kind}))
    return 0


def cmd_store_bucketize(args) -> int:
    """Opt-in bucketed layout maintenance (streaming/store.py
    bucketize_store): fold the accumulated store into a catalog table
    bucketed on the hot join/agg key so subsequent epoch joins read
    the store side without an Exchange. ``neardup`` buckets bands/ on
    (band_id, band_hash); ``textindex`` buckets postings/ on token;
    ``generic`` buckets --path on --cols."""
    from mofka_spark.session import get_spark

    spark = get_spark(app_name="mofka-store-bucketize")
    if args.kind == "neardup":
        from mofka_spark.streaming.neardup import bucketize_bands

        wm = bucketize_bands(spark, args.path, args.buckets, args.table)
    elif args.kind == "textindex":
        from mofka_spark.streaming.textindex import bucketize_postings

        wm = bucketize_postings(spark, args.path, args.buckets, args.table)
    else:
        if not args.cols:
            print("--cols is required for kind=generic", file=sys.stderr)
            return 2
        from mofka_spark.streaming.store import bucketize_store

        wm = bucketize_store(
            spark,
            args.path,
            args.cols.split(","),
            args.buckets,
            args.sort.split(",") if args.sort else None,
            args.table,
        )
    print(json.dumps({"bucketized": args.path, "kind": args.kind, "watermark": wm}))
    return 0


def cmd_partition_add(args) -> int:
    cfg = _registry(args).add_partitions(
        args.name, args.count, backend=args.type
    )
    print(cfg.to_json())
    return 0


def cmd_benchmark_producer(args) -> int:
    """The diaspora-producer-benchmark analog
    (/root/reference/tests/run-benchmark.sh:23-33): push n events of m
    metadata fields and s data bytes with batch size b, flushing every
    f events; print one JSON line with events/sec."""
    import time

    from mofka_spark.client import Driver
    from mofka_spark.session import get_spark

    spark = get_spark(app_name="mofka-bench-producer")
    driver = Driver(spark, args.root)
    if not driver.registry.topic_exists(args.topic):
        driver.create_topic(args.topic, num_partitions=args.partitions)
    topic = driver.open_topic(args.topic)
    meta = {f"field{i}": i for i in range(args.metadata_fields)}
    data = b"x" * args.data_size
    t0 = time.time()
    with topic.producer("bench", batch_size=args.batch_size) as producer:
        for i in range(args.num_events):
            producer.push(dict(meta, seq=i), data)
            if args.flush_every and (i + 1) % args.flush_every == 0:
                producer.flush()
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "benchmark": "producer",
                "events": args.num_events,
                "sec": round(dt, 3),
                "events_per_sec": round(args.num_events / dt, 1),
            }
        )
    )
    return 0


def cmd_benchmark_consumer(args) -> int:
    """The diaspora-consumer-benchmark analog
    (/root/reference/tests/run-benchmark.sh:39-44): pull all events with
    a data selector fetching a ``proportion`` of the payload for a
    ``selectivity`` fraction of events; print events/sec."""
    import time

    from mofka_spark.client import Driver
    from mofka_spark.functions.views import DataDescriptor
    from mofka_spark.session import get_spark

    spark = get_spark(app_name="mofka-bench-consumer")
    driver = Driver(spark, args.root)
    topic = driver.open_topic(args.topic)
    # drain-and-exit: completion makes the pull loop end in NoMoreEvents
    # instead of waiting for more events (L8)
    topic.mark_as_complete()

    def selector(metadata, descriptor):
        if (metadata.get("seq", 0) % 100) / 100.0 >= args.selectivity:
            return DataDescriptor.null()
        if descriptor.size == 0:  # zero-byte payloads have no sub-view
            return descriptor
        size = max(1, int(descriptor.size * args.proportion))
        return descriptor.make_sub_view(0, size)

    n = 0
    t0 = time.time()
    with topic.consumer("bench-consumer", data_selector=selector) as consumer:
        for _ev in consumer:
            n += 1
    dt = time.time() - t0
    print(
        json.dumps(
            {
                "benchmark": "consumer",
                "events": n,
                "sec": round(dt, 3),
                "events_per_sec": round(n / dt, 1) if dt > 0 else None,
            }
        )
    )
    return 0


def cmd_benchmark_generate(args) -> int:
    """The `mofkactl benchmark generate` analog
    (/root/reference/python/mochi/mofka/mofkactl/benchmark.py:69-315):
    build a config space over topic/producer/consumer/engine
    dimensions, sample ONE configuration (seeded — reproducible,
    unlike the reference's ambient ConfigSpace state), print the spec
    JSON. Feed it to `benchmark run --spec`."""
    from mofka_spark.benchspec import sample_spec, spec_to_json

    overrides = {}
    for d in args.dim or []:
        if "=" not in d:
            raise SystemExit(f"--dim takes name=range, got {d!r}")
        k, v = d.split("=", 1)
        overrides[k.strip()] = v.strip()
    spec = sample_spec(args.num_events, seed=args.seed, overrides=overrides)
    print(spec_to_json(spec))
    return 0


def cmd_engine_config_generate(args) -> int:
    """The `mofkactl config generate` analog
    (/root/reference/python/mochi/mofka/mofkactl/config.py:23-86):
    sample a deployable engine configuration — here a complete
    SparkSession conf JSON — from the declared engine-dim space."""
    from mofka_spark.benchspec import sample_engine_config, spec_to_json

    overrides = {}
    for d in args.dim or []:
        if "=" not in d:
            raise SystemExit(f"--dim takes name=range, got {d!r}")
        k, v = d.split("=", 1)
        overrides[k.strip()] = v.strip()
    cfg = sample_engine_config(
        seed=args.seed, overrides=overrides,
        base_defaults=not args.no_defaults,
    )
    print(spec_to_json(cfg))
    return 0


def cmd_benchmark_run(args) -> int:
    """Execute a generated spec: create the topic with the sampled
    layout (validator / partition_selector / serializer included), run
    the producer workload across ``num_producers`` round-robin
    producers with the sampled batching mode, drain it with
    ``num_consumers`` partition-subset consumers at the sampled
    consume batch size, print one JSON line per phase plus a summary.
    The spec's `spark` block is applied to the session — EVERY sampled
    dimension steers the run (the reference's benchmark.py applies all
    of its dimensions the same way)."""
    import contextlib
    import time

    from mofka_spark.benchspec import sample_spec
    from mofka_spark.client import Driver
    from mofka_spark.functions.views import DataDescriptor
    from mofka_spark.session import get_spark

    if args.spec:
        with open(args.spec) as f:
            spec = json.load(f)
    else:
        spec = sample_spec(args.num_events, seed=args.seed)
    t, pr, co = spec["topic"], spec["producer"], spec["consumer"]
    spark = get_spark(app_name="mofka-bench-run", conf=spec.get("spark"))
    driver = Driver(spark, args.root)
    name = args.topic
    meta_fields = [
        f"f{i}" + "k" * max(0, int(t["metadata_key_sizes"]) - 2)
        for i in range(int(t["metadata_num_fields"]))
    ]
    if not driver.registry.topic_exists(name):
        driver.create_topic(
            name,
            num_partitions=int(t["num_partitions"]),
            validator=(
                {"type": "schema",
                 "schema": {"type": "object", "required": ["seq"]}}
                if t["validator"] == "schema"
                else None
            ),
            selector=(
                {"type": "key_hash", "field": "seq"}
                if t["partition_selector"] == "key_hash"
                else None
            ),
            serializer=(
                {"type": "compact", "fields": meta_fields + ["seq"]}
                if t["serializer"] == "compact"
                else None
            ),
        )
    topic = driver.open_topic(name)
    meta = {f: "v" * int(t["metadata_val_sizes"]) for f in meta_fields}
    # data_num_blocks: the reference pushes the payload as that many
    # segments; this engine's event payload is one contiguous buffer
    # (the flatten view re-exposes segment structure, SURVEY §2.6), so
    # blocks assemble client-side.
    total = int(t["data_total_size"])
    nblocks = max(1, int(t["data_num_blocks"]))
    if total > 0:
        per = max(1, total // nblocks)
        data = b"".join(
            [b"x" * per] * (nblocks - 1) + [b"x" * (total - per * (nblocks - 1))]
        )
    else:
        data = b""
    n = int(spec["num_events"])
    batch = int(pr["producer_batch_size"])
    # adaptive == send-on-flush (batch_size None); fixed mode uses the
    # sampled positive batch size, falling back to 8 like the reference
    if bool(pr["producer_adaptive_batch_size"]):
        bsize = None
    else:
        bsize = batch if batch > 0 else 8
    nprod = max(1, int(pr["num_producers"]))
    fe = int(pr["producer_flush_every"])
    t0 = time.time()
    with contextlib.ExitStack() as stack:
        producers = [
            stack.enter_context(
                topic.producer(f"bench-{j}", batch_size=bsize)
            )
            for j in range(nprod)
        ]
        for i in range(n):
            producers[i % nprod].push(dict(meta, seq=i), data)
            if fe > 0 and (i + 1) % fe == 0:
                producers[i % nprod].flush()
    prod_dt = time.time() - t0
    topic.mark_as_complete()
    sel = float(co["consumer_data_selector_selectivity"])
    prop = float(co["consumer_data_selector_proportion"])
    check = bool(co["consumer_check_data"])

    def selector(metadata, descriptor):
        if (metadata.get("seq", 0) % 100) / 100.0 >= sel:
            return DataDescriptor.null()
        if descriptor.size == 0:  # spec sampled a zero-byte payload
            return descriptor
        size = max(1, int(descriptor.size * prop))
        return descriptor.make_sub_view(0, size)

    nparts = int(t["num_partitions"])
    ncons = max(1, min(int(co["num_consumers"]), nparts))
    cbs = int(co["consumer_batch_size"])
    got = 0
    t0 = time.time()
    with contextlib.ExitStack() as stack:
        consumers = [
            stack.enter_context(
                topic.consumer(
                    f"bench-consumer-{c}",
                    batch_size=(cbs if cbs > 0 else None),
                    data_selector=selector,
                    targets=[p for p in range(nparts) if p % ncons == c],
                )
            )
            for c in range(ncons)
        ]
        for cons in consumers:
            for ev in cons:
                if check and ev.data is not None and len(ev.data):
                    want = max(1, int(total * prop)) if total else 0
                    if len(ev.data) != want:
                        raise SystemExit(
                            f"consumer_check_data: event {ev.offset} "
                            f"payload {len(ev.data)} != {want}"
                        )
                got += 1
    cons_dt = time.time() - t0
    print(
        json.dumps(
            {
                "benchmark": "run",
                "seed": spec.get("seed"),
                "events": n,
                "producer_sec": round(prod_dt, 3),
                "producer_events_per_sec": round(n / prod_dt, 1)
                if prod_dt > 0
                else None,
                "consumer_events": got,
                "consumer_sec": round(cons_dt, 3),
                "consumer_events_per_sec": round(got / cons_dt, 1)
                if cons_dt > 0
                else None,
            }
        )
    )
    return 0


def cmd_layout_optimize(args) -> int:
    """Clustered rewrite of a parquet table for scan pruning
    (operators/layout.py optimize_layout): range-clustering on the
    given columns, or equi-depth Z-order for multi-dimensional
    predicates. Topic LOGS are excluded by design — their contract is
    offset order (fetch_rows prunes on offset ranges); layout applies
    to the derived analytic tables built from them."""
    from mofka_spark.operators.layout import optimize_layout, pruning_ratio
    from mofka_spark.session import get_spark

    cols = [c.strip() for c in args.cluster_by.split(",") if c.strip()]
    if not cols:
        raise SystemExit("--cluster-by needs at least one column")
    spark = get_spark(app_name="mofka-layout")
    df = spark.read.parquet(args.src)
    optimize_layout(
        df, args.dst, cols, num_files=args.num_files,
        zorder=args.zorder, zorder_bits=args.zorder_bits,
    )
    out = {"src": args.src, "dst": args.dst, "cluster_by": cols,
           "zorder": bool(args.zorder), "num_files": args.num_files}
    if args.probe:
        # optional skipping probe: report the fraction of rows footer
        # stats alone can skip for a mid-range slice of each column
        probes = {}
        for c in cols:
            qs = df.stat.approxQuantile(c, [0.45, 0.55], 0.01)
            if len(qs) < 2:  # all-NULL column: approxQuantile -> []
                probes[c] = None
                continue
            lo, hi = qs
            probes[c] = round(pruning_ratio(args.dst, c, lo, hi), 3)
        out["pruning_ratio_10pct_slice"] = probes
    print(json.dumps(out, sort_keys=True))
    return 0


def cmd_corpus_report(args) -> int:
    """One-shot corpus health report over a parquet documents table:
    tokenizer fertility, n-gram diversity, and the Zipf fit per
    stratum — the pre-training-mix sanity checks as one JSON line per
    metric (the DataFrame operators underneath are the same gated ones
    __spark_entry__ exposes)."""
    from mofka_spark.operators import text
    from mofka_spark.session import get_spark

    spark = get_spark(app_name="mofka-corpus-report")
    df = spark.read.parquet(args.path)
    metrics = args.metrics.split(",")
    known = {
        "fertility": lambda: text.tokenizer_fertility(
            df, args.strata, args.text_col
        ),
        "diversity": lambda: text.ngram_diversity(
            df, args.strata, args.text_col, n=args.ngram
        ),
        "zipf": lambda: text.zipf_fit(
            df, args.strata, args.text_col, max_vocab=args.max_vocab
        ),
    }
    bad = [m for m in metrics if m not in known]
    if bad:
        print(f"unknown metrics: {','.join(bad)} (known: fertility,"
              f"diversity,zipf)", flush=True)
        return 2
    for m in metrics:
        rows = [r.asDict() for r in known[m]().collect()]
        rows.sort(key=lambda r: str(r.get(args.strata)))
        print(json.dumps({"metric": m, "rows": rows}, sort_keys=True))
    return 0


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="mofka_spark", description="Mofka-Spark CLI.")
    sub = ap.add_subparsers(dest="group", required=True)

    topic = sub.add_parser("topic", help="Manipulate topics").add_subparsers(
        dest="cmd", required=True
    )

    def _std(p, name=True):
        if name:
            p.add_argument("name", help="Topic name")
        p.add_argument("-r", "--root", required=True, help="Engine root directory")

    p = topic.add_parser("create", help="Register a topic")
    _std(p)
    p.add_argument("-n", "--partitions", type=int, default=1)
    p.add_argument("-v", "--validator", help="Validator config (JSON)")
    p.add_argument("-p", "--selector", help="Partition selector config (JSON)")
    p.add_argument("-s", "--serializer", help="Serializer config (JSON)")
    p.add_argument("-b", "--backend", default="default", choices=["default", "memory"])
    p.set_defaults(fn=cmd_topic_create)

    p = topic.add_parser("list", help="List topics")
    _std(p, name=False)
    p.set_defaults(fn=cmd_topic_list)

    for cname, fn, hlp in [
        ("exists", cmd_topic_exists, "Check existence (exit code 0/1)"),
        ("show", cmd_topic_show, "Print a topic's persisted config"),
        ("complete", cmd_topic_complete, "Mark a topic complete (L8)"),
        ("destroy", cmd_topic_destroy, "Destroy a topic (S9)"),
        ("stats", cmd_topic_stats, "Events per partition from the ledger"),
    ]:
        p = topic.add_parser(cname, help=hlp)
        _std(p)
        p.set_defaults(fn=fn)

    p = topic.add_parser("lag", help="Per-consumer lag from cursors/ledger")
    _std(p)
    p.set_defaults(fn=cmd_topic_lag)

    p = topic.add_parser(
        "compact", help="Rewrite small per-flush files (maintenance)"
    )
    _std(p)
    p.add_argument("--min-files", type=int, default=8)
    p.add_argument("--target-mb", type=int, default=512)
    p.set_defaults(fn=cmd_topic_compact)

    p = topic.add_parser(
        "trim", help="Retention: retire events below an offset/time cut"
    )
    _std(p)
    p.add_argument("--before-offset", type=int, default=None)
    p.add_argument(
        "--before-ts", default=None,
        help="ISO-8601 cut; events with older ingest_ts are retired",
    )
    p.add_argument(
        "--retention-ms", type=int, default=None,
        help="Cut = now - RETENTION_MS",
    )
    p.add_argument(
        "--retention", action="store_true",
        help="Honor the topic's persisted Kafka retention.ms config",
    )
    p.add_argument(
        "--partitions", default=None, help="Comma list (default: all)"
    )
    p.add_argument(
        "--force", action="store_true",
        help="Trim past registered consumer cursors (they resume at the floor)",
    )
    p.set_defaults(fn=cmd_topic_trim)

    store = sub.add_parser(
        "store", help="Incremental summary-store maintenance"
    ).add_subparsers(dest="cmd", required=True)
    p = store.add_parser(
        "compact", help="Fold a store's epoch fragments (reads unchanged)"
    )
    p.add_argument("path", help="Store root directory")
    p.add_argument("-k", "--kind", default="generic", choices=_STORE_COMPACT)
    p.add_argument("--group-cols", help="Comma list (distinct/quantiles/rollup)")
    p.add_argument("--aggs", help="Rollup aggs JSON (rollup only)")
    p.add_argument(
        "--sample-k", type=int, default=100, dest="k",
        help="Sample size per stratum (sample only)",
    )
    p.set_defaults(fn=cmd_store_compact)
    p = store.add_parser(
        "bucketize",
        help="Fold a store into a bucketed table (exchange-free epoch joins)",
    )
    p.add_argument("path", help="Store root directory")
    p.add_argument(
        "-k", "--kind", default="generic",
        choices=["neardup", "textindex", "generic"],
    )
    p.add_argument("-b", "--buckets", type=int, default=32)
    p.add_argument("--cols", help="Comma bucket-key list (generic only)")
    p.add_argument("--sort", help="Comma sort-cols list (generic only)")
    p.add_argument("--table", help="Catalog table name (default derived)")
    p.set_defaults(fn=cmd_store_bucketize)

    part = sub.add_parser("partition", help="Manipulate partitions").add_subparsers(
        dest="cmd", required=True
    )
    p = part.add_parser("add", help="Add partitions to a topic (S5)")
    _std(p)
    p.add_argument("-n", "--count", type=int, default=1)
    p.add_argument(
        "-t",
        "--type",
        default=None,
        choices=["default", "memory"],
        help="Storage backend for the NEW partitions (mofkactl's "
        "partition add --type; omit to inherit the topic default)",
    )
    p.set_defaults(fn=cmd_partition_add)

    bench = sub.add_parser(
        "benchmark", help="Producer/consumer throughput benchmarks"
    ).add_subparsers(dest="cmd", required=True)
    p = bench.add_parser("producer", help="Push-path throughput")
    p.add_argument("-r", "--root", required=True)
    p.add_argument("-t", "--topic", default="bench_topic")
    p.add_argument("-n", "--num-events", type=int, default=100)
    p.add_argument("-m", "--metadata-fields", type=int, default=16)
    p.add_argument("-s", "--data-size", type=int, default=128)
    p.add_argument("-b", "--batch-size", type=int, default=8)
    p.add_argument("-f", "--flush-every", type=int, default=10)
    p.add_argument("-p", "--partitions", type=int, default=1)
    p.set_defaults(fn=cmd_benchmark_producer)
    p = bench.add_parser("consumer", help="Pull-path throughput")
    p.add_argument("-r", "--root", required=True)
    p.add_argument("-t", "--topic", default="bench_topic")
    p.add_argument("-s", "--selectivity", type=float, default=0.5)
    p.add_argument("-i", "--proportion", type=float, default=0.8)
    p.set_defaults(fn=cmd_benchmark_consumer)
    p = bench.add_parser(
        "generate",
        help="Sample a benchmark config from a declared space "
        "(mofkactl benchmark generate analog)",
    )
    p.add_argument("-n", "--num-events", type=int, default=100)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument(
        "-d",
        "--dim",
        action="append",
        help="Override a dimension: name=range ('1-16'), name=choice "
        "list ('a,b,c'), or name=constant; repeatable. See "
        "mofka_spark/benchspec.py SPACE for dimension names.",
    )
    p.set_defaults(fn=cmd_benchmark_generate)
    p = bench.add_parser(
        "run", help="Execute a generated spec end-to-end"
    )
    p.add_argument("-r", "--root", required=True)
    p.add_argument("-t", "--topic", default="bench_topic")
    p.add_argument("--spec", help="Spec JSON from `benchmark generate`")
    p.add_argument("-n", "--num-events", type=int, default=100)
    p.add_argument("--seed", type=int, default=0)
    p.set_defaults(fn=cmd_benchmark_run)

    lay = sub.add_parser(
        "layout", help="Clustered rewrites of derived parquet tables"
    ).add_subparsers(dest="cmd", required=True)
    p = lay.add_parser(
        "optimize",
        help="Range- or Z-order-cluster a parquet table for scan pruning",
    )
    p.add_argument("src", help="Source parquet path")
    p.add_argument("dst", help="Destination parquet path")
    p.add_argument(
        "-c", "--cluster-by", required=True,
        help="Comma list of cluster columns (numeric for --zorder)",
    )
    p.add_argument("-n", "--num-files", type=int, default=8)
    p.add_argument(
        "-z", "--zorder", action="store_true",
        help="Equi-depth Z-order across ALL cluster columns (default: "
        "lexicographic range clustering)",
    )
    p.add_argument("--zorder-bits", type=int, default=12)
    p.add_argument(
        "--probe", action="store_true",
        help="Also report footer-measured pruning for a 10%% mid-range "
        "slice of each cluster column",
    )
    p.set_defaults(fn=cmd_layout_optimize)

    eng = sub.add_parser(
        "engine-config",
        help="Sample deployable engine (SparkSession) configurations "
        "(mofkactl config generate analog)",
    ).add_subparsers(dest="cmd", required=True)
    p = eng.add_parser(
        "generate", help="Sample one Spark conf JSON from the engine space"
    )
    p.add_argument("--seed", type=int, default=0)
    p.add_argument(
        "-d",
        "--dim",
        action="append",
        help="Override an engine dimension: name=range ('8-64'), "
        "name=choice list, or name=constant; repeatable. Dimensions: "
        "spark_shuffle_partitions, spark_adaptive_enabled, "
        "spark_broadcast_threshold_mb, spark_max_partition_mb.",
    )
    p.add_argument(
        "--no-defaults",
        action="store_true",
        help="Emit only the sampled knobs, not merged over the "
        "session's scale-appropriate defaults",
    )
    p.set_defaults(fn=cmd_engine_config_generate)

    corpus = sub.add_parser(
        "corpus", help="Corpus health reports over parquet tables"
    ).add_subparsers(dest="cmd", required=True)
    p = corpus.add_parser(
        "report", help="Fertility / diversity / Zipf per stratum"
    )
    p.add_argument("path", help="Parquet path of a documents-like table")
    p.add_argument(
        "-m", "--metrics", default="fertility,diversity,zipf",
        help="Comma list of: fertility, diversity, zipf",
    )
    p.add_argument("-s", "--strata", default="lang")
    p.add_argument("--text-col", default="text")
    p.add_argument("--ngram", type=int, default=2)
    p.add_argument("--max-vocab", type=int, default=None)
    p.set_defaults(fn=cmd_corpus_report)
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    try:
        return args.fn(args)
    except MofkaError as e:
        print(f"Error: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
