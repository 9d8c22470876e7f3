"""Batch trace assembly (SURVEY.md §2.8 T2, §7 step 4).

The reference assembles traces incrementally and strictly in-order
(ton-index-worker/tondb-scanner/src/TraceAssembler.cpp:285-412): a trace is
the connected component of transactions linked by message hashes, rooted at
the first transaction, with states:

- ``broken``  — an internal in-message whose producing out-message is
  missing (TraceAssembler.cpp:316-325);
- ``pending`` — an out-message with a destination but no consuming
  transaction yet (pending_edges > 0, TraceAssembler.cpp:350-366);
- ``complete`` otherwise.

Batch re-expression (order-free, so it parallelizes):
1. one row-preserving pass keyed by msg_hash: each message row learns its
   producer (the out-row's transaction) and how many in- and out-rows
   share its hash;
2. one aggregate per transaction over those rows: orphan flag (an internal
   in-message nobody produced), pending out-edges (destined out-messages
   nobody consumed), out-edge count, parent (minimum producer of its
   in-messages) and its in-message;
3. a transaction consumes exactly one in-message, so the child→parent
   pairs form a FOREST; roots found by operators/graph.py:forest_roots;
   trace_id = root transaction hash (the reference's convention,
   migrate.cpp:516) — the parentless tx, exactly as in the incremental
   assembler;
4. one pass keyed by trace_id puts every trace field (counters, spans,
   state) on each member row, materialized once; the trace rows and the
   per-transaction assignment are projections of that frame.

The streaming variant (streaming/trace_assembler.py) shares the same
semantics; this operator also serves as its reconciliation/backfill path —
the Spark analog of the reference's 50-block backtrack on lost state
(IndexScheduler.cpp:174-194).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ton_indexer_spark.operators.graph import forest_roots

# one row per trace (schemas.TRACES minus classification state)
TRACE_COLS = [
    "trace_id", "external_hash", "external_hash_norm",
    "mc_seqno_start", "mc_seqno_end", "start_lt", "end_lt",
    "start_utime", "end_utime", "state", "edges_", "pending_edges_",
    "nodes_",
]


@dataclass
class AssembledTraces:
    members: DataFrame     # input txs + trace_id + every TRACE_COLS field
    tx_columns: list[str]  # the input transaction columns

    @property
    def transactions(self) -> DataFrame:
        """Input txs + assigned trace_id."""
        return self.members.select(*self.tx_columns, "trace_id")

    @property
    def traces(self) -> DataFrame:
        """One row per trace, taken from its lowest-hash member."""
        return self.members.filter(
            F.col("hash") == F.col("first_member_")
        ).select(*TRACE_COLS)


def assemble_traces(
    transactions: DataFrame,
    messages: DataFrame,
    forest_local_threshold: int | None = None,
) -> AssembledTraces:
    """Reproduce trace_id / state / counters from transactions+messages alone.

    Any pre-existing ``trace_id`` column on the input is dropped — this
    operator is the assigner of trace ids (ingest-time semantics,
    IndexScheduler.cpp:306 stage `assemble_traces`).

    ``forest_local_threshold`` passes through to
    ``forest_roots(local_threshold=...)`` — 0 forces the distributed
    pointer-doubling root finder (the backfill/100 TB path) regardless of
    edge count; None keeps the operator's size-gated default.
    """
    txs = transactions.drop("trace_id")
    # hash leads, as it does in any frame joined on it
    tx_columns = ["hash", *(c for c in txs.columns if c != "hash")]
    is_in = F.col("direction") == "in"
    is_out = F.col("direction") == "out"

    # 1. row-preserving pass keyed by msg_hash (one shuffle): the producer
    # and the in/out row counts of each message hash
    by_hash = Window.partitionBy("msg_hash")
    msgs = messages.select(
        "tx_hash", "msg_hash", "direction", "source", "destination",
        F.min(F.when(is_out, F.col("tx_hash"))).over(by_hash)
        .alias("producer"),
        F.count(F.when(is_in, 1)).over(by_hash).alias("n_in"),
        F.count(F.when(is_out, 1)).over(by_hash).alias("n_out"),
    )
    # 2. per-transaction facts (one shuffle on tx_hash); materialized
    # because forest_roots sizes and resolves it and step 4 joins it
    per_tx = msgs.groupBy(F.col("tx_hash").alias("hash")).agg(
        # orphan internal in-message → broken (TraceAssembler.cpp:316-325)
        F.max(
            F.when(is_in & F.col("source").isNotNull() & (F.col("n_out") == 0), 1)
        ).alias("orphan_"),
        # destined out-message nobody consumed → pending edge
        F.count(
            F.when(is_out & F.col("destination").isNotNull() & (F.col("n_in") == 0), 1)
        ).alias("pending_"),
        # producer→consumer edges leaving this tx (out-row × in-rows)
        F.sum(F.when(is_out, F.col("n_in"))).alias("out_edges_"),
        # duplicate producers (corrupt input) keep the minimum parent
        F.min(F.when(is_in, F.col("producer"))).alias("parent_"),
        # a root's in-message is its trace's external hash
        F.min(F.when(is_in, F.col("msg_hash"))).alias("in_msg_"),
    ).localCheckpoint(eager=True)

    # 3. each tx consumes exactly ONE in-message → producer→consumer edges
    # form a forest; root-finding = forest_roots instead of generic
    # connected components (operators/graph.py)
    fr_kwargs = (
        {} if forest_local_threshold is None
        else {"local_threshold": forest_local_threshold}
    )
    comp = forest_roots(
        per_tx.filter(F.col("parent_").isNotNull()).select(
            F.col("hash").alias("child"), F.col("parent_").alias("parent")
        ),
        **fr_kwargs,
    ).withColumnRenamed("node", "hash")

    # 4. one pass keyed by trace_id (one shuffle): every trace field on
    # each member row
    by_trace = Window.partitionBy("trace_id")

    def over(agg):
        return agg.over(by_trace)

    pending_edges = F.coalesce(over(F.sum("pending_")), F.lit(0))
    external_hash = over(
        F.max(F.when(F.col("hash") == F.col("trace_id"), F.col("in_msg_")))
    )
    members = (
        txs.join(per_tx, "hash", "left")
        .join(comp, "hash", "left")
        # a tx with no parent roots its own trace; trace_id = root tx hash
        # (the reference's convention, migrate.cpp:516)
        .withColumn("trace_id", F.coalesce(F.col("root"), F.col("hash")))
        .select(
            *tx_columns,
            "trace_id",
            external_hash.alias("external_hash"),
            external_hash.alias("external_hash_norm"),
            over(F.min("mc_block_seqno")).alias("mc_seqno_start"),
            over(F.max("mc_block_seqno")).alias("mc_seqno_end"),
            over(F.min("lt")).alias("start_lt"),
            over(F.max("lt")).alias("end_lt"),
            over(F.min("now")).alias("start_utime"),
            over(F.max("now")).alias("end_utime"),
            F.when(over(F.max("orphan_")) > 0, "broken")
            .when(pending_edges > 0, "pending")
            .otherwise("complete")
            .alias("state"),
            F.coalesce(over(F.sum("out_edges_")), F.lit(0)).alias("edges_"),
            pending_edges.alias("pending_edges_"),
            over(F.count(F.lit(1))).alias("nodes_"),
            over(F.min("hash")).alias("first_member_"),
        )
        .localCheckpoint(eager=True)
    )
    return AssembledTraces(members=members, tx_columns=tx_columns)


def broken_trace_roots(messages: DataFrame) -> DataFrame:
    """Trace ids containing a dangling internal edge — an out-message
    that names a destination but was never consumed by an indexed
    transaction (the detection query of the reference's repair tool,
    utils/fix-broken-traces/main.go:132-141: per msg_hash,
    ``bool_or(destination is not null) and max(in-direction tx) is
    null``).  One aggregation over messages; no fact is mutated."""
    per_msg = messages.groupBy("trace_id", "msg_hash").agg(
        F.max(
            F.when(F.col("direction") == "out", F.col("destination"))
        ).alias("dangling_dest"),
        F.max(
            F.when(F.col("direction") == "in", F.col("tx_hash"))
        ).alias("consumer"),
    )
    return (
        per_msg.filter(
            F.col("dangling_dest").isNotNull() & F.col("consumer").isNull()
        )
        .select("trace_id")
        .distinct()
    )


def trace_link_closure(
    messages: DataFrame, roots: DataFrame
) -> DataFrame:
    """Expand a set of trace ids to its msg_hash closure: every trace
    reachable from a flagged one through shared message hashes,
    transitively — the batch analog of the reference repair tool's
    recursive CTE walk over ALL messages (fix-broken-traces/main.go,
    trace_get_transactions), which follows msg links regardless of the
    transactions' CURRENT trace assignment.

    Why this matters: the dangling-edge detection flags only the
    PRODUCER fragment of a split trace (the consumer fragment has no
    dangling out-edge of its own), so reassembling the flagged trace ids
    alone would silently reproduce the split.  Closure first, then
    reassemble the union.

    Cost shape: one distinct + one groupBy over (trace_id, msg_hash),
    then connected components over only the CROSS-TRACE link pairs — a
    graph bounded by the number of split points, not by message volume.
    Returns a single-column ``trace_id`` DataFrame (superset of roots).
    """
    from ton_indexer_spark.operators.graph import connected_components

    m = messages.select("trace_id", "msg_hash").distinct()
    shared = (
        m.groupBy("msg_hash")
        .agg(F.collect_set("trace_id").alias("tids"))
        .filter(F.size("tids") > 1)
    )
    # star edges: every trace at a shared hash links to the min trace
    links = shared.select(
        F.explode("tids").alias("src"), F.array_min("tids").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    comp = connected_components(links, "src", "dst").withColumnRenamed(
        "node", "trace_id"
    )
    flagged_comps = comp.join(roots, "trace_id", "left_semi").select(
        "component"
    ).distinct()
    linked = comp.join(flagged_comps, "component", "left_semi").select(
        "trace_id"
    )
    return roots.select("trace_id").union(linked).distinct()


def repair_broken_traces(
    transactions: DataFrame,
    messages: DataFrame,
    roots: DataFrame | None = None,
) -> AssembledTraces:
    """Re-derive the traces named by ``roots`` from facts alone — the
    engine analog of the reference's utils/fix-broken-traces, whose
    Postgres surgery (delete_broken_trace + re-insert trace_edges,
    main.go:16-198) dissolves here because trace assignment is a pure
    recomputation: repair = re-run ``assemble_traces`` over the affected
    transaction subset and swap the rows in via
    ``sources.writer.replace_by_key(key=trace_id)`` (the same idempotent
    primitive reclassification uses).

    ``roots`` defaults to ``broken_trace_roots(messages)``.  The member
    set is the msg_hash CLOSURE of the flagged trace ids
    (``trace_link_closure``) — a trace split across two stored trace_ids
    is flagged only on the producer fragment, so the consumer fragment
    must be pulled in for the reassembly to actually heal the split
    (the reference walks messages recursively for the same reason,
    fix-broken-traces/main.go trace_get_transactions).  Scoping is a
    semi-join (no broadcast pin — a backfill repair set can be
    arbitrarily large; AQE picks the strategy)."""
    if roots is None:
        roots = broken_trace_roots(messages)
    members = trace_link_closure(messages, roots.select("trace_id"))
    member_txs = transactions.join(members, "trace_id", "left_semi")
    member_msgs = messages.join(members, "trace_id", "left_semi")
    return assemble_traces(
        member_txs.drop("trace_id"), member_msgs.drop("trace_id")
    )
