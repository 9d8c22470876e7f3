"""`GET /api/v3/transactions` equivalent (SURVEY.md §3.1).

Mirrors ton-index-go/index/crud/crud_transactions.go:
- :15-158  buildTransactionsQuery — filter set, FROM-shape switch (plain
  scan vs messages⋈transactions when message filters present), sort-key
  switch (now vs lt) with deterministic tiebreakers;
- :202-261 app-side enrichment (messages + bodies, out-msg sort) — here a
  single plan: two left joins to message_contents + ordered collect_list.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ton_indexer_spark.catalog import Catalog
from ton_indexer_spark.operators import filter_by_array, filter_range, paginate
from ton_indexer_spark.operators.pagination import order_columns


def transactions_query(
    cat: Catalog,
    accounts: Sequence[str] | None = None,
    hashes: Sequence[str] | None = None,
    trace_ids: Sequence[str] | None = None,
    start_lt: int | None = None,
    end_lt: int | None = None,
    start_utime: int | None = None,
    end_utime: int | None = None,
    mc_seqno: int | None = None,
    exclude_aborted: bool = False,
    msg_opcode: int | None = None,
    msg_direction: str | None = None,
    sort: str = "desc",
    limit: int = 100,
    offset: int = 0,
    with_messages: bool = True,
) -> DataFrame:
    txs = cat.transactions
    txs = filter_by_array(txs, "account", accounts)
    txs = filter_by_array(txs, "hash", hashes)
    txs = filter_by_array(txs, "trace_id", trace_ids)
    txs = filter_range(txs, "lt", start_lt, end_lt)
    txs = filter_range(txs, "now", start_utime, end_utime)
    if mc_seqno is not None:
        txs = txs.filter(F.col("mc_block_seqno") == mc_seqno)
    if exclude_aborted:
        txs = txs.filter(~F.col("aborted"))

    if msg_opcode is not None or msg_direction is not None:
        # FROM-shape switch: join through messages (crud_transactions.go:140-146)
        m = cat.messages
        if msg_opcode is not None:
            m = m.filter(F.col("opcode") == msg_opcode)
        if msg_direction is not None:
            m = m.filter(F.col("direction") == msg_direction)
        probe = m.select(
            F.col("tx_hash").alias("hash"), F.col("tx_lt").alias("lt")
        ).distinct()
        txs = txs.join(probe, ["hash", "lt"], "left_semi")

    # sort-key semantics: utime filters → order by now; else by lt
    # (crud_transactions.go:55-74,87); tiebreakers pin a total order
    key = "now" if (start_utime is not None or end_utime is not None) else "lt"
    order = [(key, sort), ("lt", sort), ("account", "asc"), ("hash", "asc")]
    txs = paginate(txs, sort=order, limit=limit, offset=offset)

    if not with_messages:
        return txs
    return _with_messages(cat, txs, order)


def _with_messages(
    cat: Catalog, txs: DataFrame, order: Sequence[tuple[str, str]]
) -> DataFrame:
    """Enrichment: in/out messages with bodies, out-msgs sorted by
    created_lt (crud_transactions.go:227-261) — one ordered collect per
    direction.  Shared by every transactions-shaped endpoint; ``order`` is
    the page's sort, which the enrichment join does not preserve."""
    contents = cat.message_contents.select(
        F.col("hash").alias("body_hash"), F.col("body")
    )
    msgs = (
        cat.messages.join(F.broadcast(txs.select("hash", "lt")
                                      .withColumnRenamed("hash", "tx_hash")
                                      .withColumnRenamed("lt", "tx_lt")),
                          ["tx_hash", "tx_lt"], "left_semi")
        .join(contents, "body_hash", "left")
        .select(
            "tx_hash", "tx_lt", "direction",
            F.struct(
                F.col("created_lt"), F.col("msg_hash"), F.col("source"),
                F.col("destination"), F.col("value"), F.col("opcode"),
                F.col("body"),
            ).alias("msg"),
        )
    )
    folded = msgs.groupBy("tx_hash", "tx_lt").agg(
        F.max(F.when(F.col("direction") == "in", F.col("msg"))).alias("in_msg"),
        F.array_sort(
            F.collect_list(F.when(F.col("direction") == "out", F.col("msg")))
        ).alias("out_msgs"),
    )
    # re-apply the page's total order: the page is at most MAX_LIMIT rows,
    # so one partition sorts it without a range-partitioning sample job
    return (
        txs.join(
            folded,
            (txs["hash"] == folded["tx_hash"]) & (txs["lt"] == folded["tx_lt"]),
            "left",
        )
        .drop("tx_hash", "tx_lt")
        .coalesce(1)
        .sortWithinPartitions(*order_columns(order))
    )


def adjacent_transactions(
    cat: Catalog,
    tx_hash: str,
    direction: str | None = None,
    with_messages: bool = False,
) -> DataFrame:
    """/api/v3/adjacentTransactions: transactions linked to ``tx_hash``
    through a shared message — the producer of its in-message and the
    consumers of its out-messages.

    Reference SQL (crud_transactions.go:266-302): messages self-join on
    msg_hash with opposite directions, M1 pinned to the target tx,
    optional M1.direction filter; results hydrate as full transactions.
    Spark: the M1 side is a pushed-filter scan of a single tx's messages
    (broadcast-sized), so the msg_hash join broadcasts.
    """
    m1 = cat.messages.filter(F.col("tx_hash") == tx_hash)
    if direction in ("in", "out"):
        m1 = m1.filter(F.col("direction") == direction)
    m1 = m1.select("msg_hash", F.col("direction").alias("d1"))
    m2 = cat.messages.select(
        "msg_hash", F.col("direction").alias("d2"),
        F.col("tx_hash").alias("adj_hash"),
    )
    adj = (
        m2.join(F.broadcast(m1), "msg_hash")
        .filter(F.col("d1") != F.col("d2"))
        .select(F.col("adj_hash").alias("hash"))
        .distinct()
    )
    order = [("lt", "asc"), ("hash", "asc")]
    txs = paginate(
        cat.transactions.join(adj, "hash", "left_semi"),
        sort=order,
        limit=1_000_000,
        offset=0,
    )
    if not with_messages:
        return txs
    return _with_messages(cat, txs, order)


def transactions_by_message(
    cat: Catalog,
    msg_hash: str | None = None,
    body_hash: str | None = None,
    opcode: int | None = None,
    with_messages: bool = False,
    limit: int = 100,
    offset: int = 0,
) -> DataFrame:
    """/api/v3/transactionsByMessage: every transaction on EITHER side of
    the matching messages (the producer and the consumer both list it —
    crud_transactions.go message-probe shape)."""
    m = cat.messages
    if msg_hash is not None:
        m = m.filter(F.col("msg_hash") == msg_hash)
    if body_hash is not None:
        m = m.filter(F.col("body_hash") == body_hash)
    if opcode is not None:
        m = m.filter(F.col("opcode") == opcode)
    probe = m.select(F.col("tx_hash").alias("hash"),
                     F.col("tx_lt").alias("lt")).distinct()
    txs = cat.transactions.join(probe, ["hash", "lt"], "left_semi")
    order = [("lt", "desc"), ("hash", "asc")]
    txs = paginate(txs, sort=order, limit=limit, offset=offset)
    if not with_messages:
        return txs
    return _with_messages(cat, txs, order)
