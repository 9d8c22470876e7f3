"""Real-time push fan-out (SURVEY.md §2.8 T7, §3.4).

The reference publishes classified traces / confirmed transactions /
account-state changes to Redis pub/sub channels consumed by a
websocket/SSE tier (ton-streaming-go/v2/server.go:116-121, 867-1360).

Spark-side, the publish step is a ``foreachBatch`` hook: each micro-batch's
outputs are turned into per-event-type payload batches and handed to a
publisher callback (Redis, Kafka, or anything callable).  The per-client
predicate filtering (``InterestedIn``, server.go:291-338) stays in the
delivery tier, exactly as in the reference — the engine's job ends at
ordered, typed event emission with a finality marker (T6 discriminator).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

# event types mirror server.go:116-121; v2 distinguishes the commit tier
# a transaction has reached (SubscribeToConfirmedTransactions vs
# SubscribeToFinalizedTransactions, v2/server.go:1032-1093): confirmed =
# in a shard block, finalized = under a masterchain commit
EV_TRACES = "traces"
EV_TRANSACTIONS = "transactions"
EV_CONFIRMED_TRANSACTIONS = "confirmed_transactions"
EV_ACCOUNT_STATES = "account_states"

Publisher = Callable[[str, list[dict]], None]  # (channel, payloads) -> None


def publish_batch(
    publisher: Publisher,
    final_traces: DataFrame | None = None,
    transactions: DataFrame | None = None,
    confirmed_transactions: DataFrame | None = None,
    account_states: DataFrame | None = None,
    max_payloads_per_channel: int = 10_000,
) -> dict[str, int]:
    """Emit one micro-batch's events.  Payloads are plain dicts (JSON-ready);
    the cap guards the driver against pathological batches (the reference's
    large-result guards, crud_traces.go:154-159)."""
    published: dict[str, int] = {}

    def emit(channel: str, df: DataFrame, finality: str) -> None:
        rows = [
            r.asDict(recursive=True)
            for r in df.limit(max_payloads_per_channel).collect()
        ]
        for r in rows:
            r["finality"] = finality
        publisher(channel, rows)
        published[channel] = len(rows)

    if final_traces is not None:
        emit(EV_TRACES, final_traces, "finalized")
    if transactions is not None:
        emit(EV_TRANSACTIONS, transactions, "finalized")
    if confirmed_transactions is not None:
        # block-committed but not yet under the masterchain horizon — the
        # v2 confirmed tier; the same rows are re-emitted on the finalized
        # channel once their trace closes (ProcessNewConfirmedTxs →
        # ProcessNewFinalizedTxs lifecycle)
        emit(EV_CONFIRMED_TRANSACTIONS, confirmed_transactions, "confirmed")
    if account_states is not None:
        emit(EV_ACCOUNT_STATES, account_states, "finalized")
    return published

