"""Incremental robots-rules store: the crawl-policy companion of the
webgraph/linestore family. Hosts' robots.txt bodies stream in as they
are (re)fetched; each epoch parses ITS batch and writes the rules
stamped with the fetch sequence; reads resolve the LATEST fetch per
domain — so the live crawl always filters against each host's current
policy, and a refetch that REMOVED rules wins over older ones.

Protocol (streaming/store.py): per-epoch cost is the batch's own parse
plus one row per (rule + fetched domain); history is never read on
write; replayed epochs overwrite their own partition (idempotent);
compaction folds fragments to the per-domain latest without changing
any read; ``as_of_epoch`` time-travels to the policy as of an epoch.

Latest-wins mechanics: every fetch writes a SENTINEL row
(prefix NULL) for its domain even when it parsed zero rules — without
it, a newer empty robots.txt could never override an older restrictive
one. ``fetch_seq`` must be a totally-ordered fetch stamp unique per
fetch (the topic offset or ingest timestamp both qualify); reads keep
only rows carrying each domain's max stamp.

The resolved rules frame feeds
``webtext.robots_rules_filter_df`` directly — the full loop: fetch ->
parse -> store -> filter the frontier.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mofka_spark.streaming.store import epoch_write, read_store

_SCHEMA = "domain string, fetch_seq long, prefix string, allow boolean"


def robots_sink(
    path: str,
    domain_col: str = "domain",
    body_col: str = "robots_txt",
    seq_col: str = "fetch_seq",
    agent: str = "*",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch writer: parse the epoch's fetches (latest fetch per
    domain WITHIN the batch — a batch may carry a refetch) and write
    (domain, fetch_seq, prefix, allow) rows plus the per-domain
    sentinel (prefix NULL) that records the fetch itself."""
    from mofka_spark.operators.webtext import parse_robots_txt

    def write_epoch(batch: DataFrame, epoch_id: int) -> None:
        w = Window.partitionBy(domain_col).orderBy(F.col(seq_col).desc())
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        rules = parse_robots_txt(
            latest, domain_col=domain_col, body_col=body_col, agent=agent
        )
        rows = (
            latest.select(
                F.col(domain_col).alias("domain"),
                F.col(seq_col).cast("long").alias("fetch_seq"),
            )
            .join(rules, "domain", "left")
            .select("domain", "fetch_seq", "prefix", "allow")
        )
        epoch_write(rows, path, epoch_id)

    return write_epoch


def merge(df: DataFrame) -> DataFrame:
    """The store's fold: each domain's rows of its latest
    ``fetch_seq`` (sentinels included). Older fetches' rows can never
    win a max-stamp resolution, so dropping them changes no read."""
    latest = df.groupBy("domain").agg(F.max("fetch_seq").alias("fetch_seq"))
    return (
        df.join(latest, ["domain", "fetch_seq"])
        .select("domain", "fetch_seq", "prefix", "allow")
        .distinct()
    )


def read_robots_rules(
    spark: SparkSession,
    path: str,
    as_of_epoch: int | None = None,
) -> DataFrame:
    """The current policy: (domain, prefix, allow) of each domain's
    LATEST fetch across stored epochs (domains whose latest fetch
    parsed zero rules contribute nothing — everything allowed).
    Feed to webtext.robots_rules_filter_df."""
    return (
        merge(read_store(spark, path, _SCHEMA, as_of_epoch))
        .filter(F.col("prefix").isNotNull())
        .select("domain", "prefix", "allow")
        .distinct()
    )

