"""The mergeable-summary store family on one live topic:

    topic -> (rollup, HLL distinct, histogram quantiles,
              heavy hitters, embedding moments)  -- all incremental

Each store ingests the SAME stream once, writes O(summary) partials
per epoch (never rescanning history), survives replay, and compacts
without changing any answer. This is the observability layer a
100 TB ingest pipeline runs next to the log: counts, cardinalities,
distributions, hot keys, and embedding health, all maintained as
data arrives.

Run:  PYTHONPATH=.. python incremental_summaries.py
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from mofka_spark.client import Driver
from mofka_spark.session import get_spark
from mofka_spark.streaming.distinct import distinct_sink, read_distinct
from mofka_spark.streaming.heavyhitters import heavyhitter_sink, read_top_k
from mofka_spark.streaming.quantiles import histogram_sink, read_quantiles
from mofka_spark.streaming.rollup import read_rollup, rollup_sink


def main(spark=None) -> None:
    owns_spark = spark is None
    if owns_spark:
        spark = get_spark(master="local[4]")
    root = tempfile.mkdtemp(prefix="summaries-")
    driver = Driver(spark, root)

    topic = driver.create_topic("metrics", num_partitions=2)
    with topic.producer("loader") as p:
        for i in range(400):
            p.push(
                {
                    "user": f"u{i % 37}",
                    "kind": "click" if i % 3 else "purchase",
                    "value": float(i % 100),
                },
                data=b"",
            )
    topic.mark_as_complete()

    parsed = topic.read_stream(batch_size=150).select(
        F.get_json_object("metadata", "$.user").alias("user"),
        F.get_json_object("metadata", "$.kind").alias("kind"),
        F.get_json_object("metadata", "$.value").cast("double").alias("value"),
    )

    stores = {k: os.path.join(root, k) for k in ("roll", "hll", "hist", "hh")}
    sinks = [
        rollup_sink(stores["roll"], ["kind"], {"value": ["count", "sum"]}),
        distinct_sink(stores["hll"], ["kind"], "user"),
        histogram_sink(stores["hist"], ["kind"], "value", 0.0, 100.0, 20),
        heavyhitter_sink(stores["hh"], "user", m_per_epoch=10),
    ]

    def fan_out(batch, epoch_id):
        batch = batch.persist()
        for sink in sinks:
            sink(batch, epoch_id)
        batch.unpersist()

    # batch_size caps each trigger's advance, so drain with a
    # ProcessingTime trigger + await_completion (AvailableNow would
    # snapshot the first capped offset and stop there — see
    # TopicHandle.read_stream's trigger note)
    q = (
        parsed.writeStream.foreachBatch(fan_out)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    if not topic.await_completion(q, timeout=300):
        q.stop()
        raise RuntimeError("summaries stream did not drain")

    print("rollup (merge-on-read):")
    read_rollup(
        spark, stores["roll"], ["kind"], {"value": ["count", "sum"]}
    ).show()
    print("distinct users per kind (HLL union):")
    read_distinct(spark, stores["hll"], ["kind"], "kind string, sk binary").show()
    print("value quantile envelopes (histogram merge):")
    read_quantiles(
        spark, stores["hist"], ["kind"], "kind string, bin long, cnt long",
        [0.5, 0.95], lo=0.0, hi=100.0, nbins=20,
    ).orderBy("kind", "q").show()
    print("hottest users (top-m + slack certificate):")
    read_top_k(spark, stores["hh"], k=5).show()

    # Maintenance cadence: compact each store once epoch fragments
    # outgrow the merge-on-read budget. Compaction folds with the same
    # ``merge`` the store's reader applies (in code:
    # compact_epoch_store(spark, path, merge=heavyhitters.merge)), so
    # answers are identical before and after; in production this is a
    # cron job running the CLI, one `-k` per store kind:
    #   python -m mofka_spark store compact STORE -k rollup \
    #       --group-cols kind --aggs '{"value": ["count", "sum"]}'
    #   python -m mofka_spark store compact STORE -k distinct --group-cols kind
    #   python -m mofka_spark store compact STORE -k quantiles --group-cols kind
    #   python -m mofka_spark store compact STORE -k heavyhitters
    # (and `store bucketize -k neardup|textindex` for the join-heavy
    # stores — exchange-free epoch joins after the fold.)
    from mofka_spark.__main__ import main as cli

    before = read_rollup(
        spark, stores["roll"], ["kind"], {"value": ["count", "sum"]}
    ).collect()
    cli([
        "store", "compact", stores["roll"], "-k", "rollup",
        "--group-cols", "kind", "--aggs", '{"value": ["count", "sum"]}',
    ])
    cli(["store", "compact", stores["hll"], "-k", "distinct", "--group-cols", "kind"])
    cli(["store", "compact", stores["hist"], "-k", "quantiles", "--group-cols", "kind"])
    cli(["store", "compact", stores["hh"], "-k", "heavyhitters"])
    after = read_rollup(
        spark, stores["roll"], ["kind"], {"value": ["count", "sum"]}
    ).collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    print("compacted all four stores; rollup answers unchanged")

    if owns_spark:
        spark.stop()


if __name__ == "__main__":
    main()
