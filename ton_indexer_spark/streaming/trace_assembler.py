"""Incremental (streaming) trace assembly — SURVEY.md §2.8 T2/T3/T4.

The reference's TraceAssembler is a single-threaded, strictly-in-order state
machine: open traces + pending message edges; a transaction joins the trace
owning its in-message edge, completes a trace when pending_edges hits zero,
and roots a *broken* trace when the producing edge is missing
(TraceAssembler.cpp:285-412).  Its state is snapshotted every 10 s and
restored (or backtracked 50 blocks) on restart (:90-212).

Spark re-expression: the per-transaction state machine becomes a per-micro-
batch *incremental connected-components* step.  Key insight making this
correct AND bounded: once a trace has zero pending edges it can never gain
members (every join happens through a pending out-edge), so such traces —
complete or broken — are emitted and dropped from state; the carried state
is exactly the reference's open-trace set — transactions and messages of
traces with pending edges.

    state ∪ batch → assemble_traces (batch CC) → split by pending edges:
        0 pending edges or TTL → emit (final)     [T4: broken preserved]
        pending edges          → keep in state    [T6: pending overlay]

State is persisted as parquet per batch (atomic dir swap) — the analog of
the reference's ``<seqno>.tastate`` snapshots (T3); on restart the assembler
resumes from the last persisted state, and a from-scratch batch rebuild
(operators/trace_assembly.py) covers the reference's backtrack path.

Wire it either from ``foreachBatch`` of a Structured Streaming source
(see streaming/ingest.py) or drive ``process_batch`` directly.

Scale: state size ∝ open traces only (the reference's own bound); each
batch costs, over |batch| + |open| rows and independent of table history
size: one read of the messages, the assembler's three shuffles (msg_hash,
tx_hash, trace_id) plus its root finding (one in-memory task at block
cadence, O(log depth) rounds above forest_roots' size gate), one
tx_hash join that labels the messages, and the two snapshot writes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ton_indexer_spark.operators.trace_assembly import assemble_traces

# wide enough for downstream classification (T5), not just CC linkage
_TX_STATE_COLS = [
    "account", "hash", "lt", "now", "mc_block_seqno",
    "aborted", "orig_status", "end_status", "total_fees",
]
_MSG_STATE_COLS = [
    "tx_hash", "tx_lt", "msg_hash", "direction", "source", "destination",
    "value", "opcode", "created_lt", "body_hash",
]


@dataclass
class BatchResult:
    final_traces: DataFrame          # no pending edges left, or TTL-expired
    pending_traces: DataFrame        # provisional snapshot (overlay, T6)
    final_transactions: DataFrame    # full tx rows of final traces + trace_id
    final_messages: DataFrame        # message rows of final traces + trace_id
    pending_transactions: DataFrame  # tx rows of open traces + provisional id
    pending_messages: DataFrame      # their message rows + provisional id


class IncrementalTraceAssembler:
    """``pending_ttl_mc_seqnos`` bounds state: a pending trace whose last
    activity is older than the TTL (in masterchain seqnos behind the batch
    maximum) is emitted as final-pending and evicted — the Spark analog of
    the reference's ton-trace-ttl-tracker service (SURVEY.md T6).  Batches
    must arrive in mc_seqno order (the reference's T1 in-order scheduler
    contract); within a batch order is irrelevant.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str | None = None,
        pending_ttl_mc_seqnos: int | None = None,
        snapshot_every: int = 1,
    ):
        """``snapshot_every=K`` persists the durable parquet snapshot only
        on every K-th batch id, amortizing the per-batch fixed cost (2
        parquet writes + swap + reread) that dominates small micro-batches
        — the reference checkpoints on a 10 s timer, not per block
        (TraceAssembler.cpp:104-123).  Between snapshots, state continues
        in-memory (localCheckpoint).  Recovery contract under K>1: restart
        resumes from the LAST PERSISTED snapshot and the driver must
        re-deliver every batch after it (the reference's backtrack path,
        :90-212); the batch-keyed idempotent sinks (T8) make the replay
        converge.  K=1 (default) keeps the strict per-batch durability the
        Structured Streaming wiring expects."""
        self.spark = spark
        self.state_dir = state_dir
        self.pending_ttl_mc_seqnos = pending_ttl_mc_seqnos
        self.snapshot_every = max(1, snapshot_every)
        self._open_txs: DataFrame | None = None
        self._open_msgs: DataFrame | None = None
        if state_dir:
            snaps = self._snap_ids()
            if snaps:
                self._load_snap(snaps[-1])
            elif os.path.exists(os.path.join(state_dir, "txs")):
                self._open_txs = spark.read.parquet(
                    os.path.join(state_dir, "txs")
                )
                self._open_msgs = spark.read.parquet(
                    os.path.join(state_dir, "msgs")
                )

    # -- batch-id-keyed snapshots (T3/T8 replay coordination) ----------------
    def _snap_ids(self) -> list[int]:
        """COMMITTED snapshots only: a snapshot counts iff both tables
        carry their _SUCCESS markers.  A SIGKILL mid-persist leaves either
        a .staging-* dir (never listed) or, for older layouts, a partial
        snap dir — both must be invisible to recovery (the soak/chaos test
        kills the process mid-write and restores; examples/soak_chaos.py)."""
        if not self.state_dir or not os.path.isdir(self.state_dir):
            return []
        out = []
        for d in os.listdir(self.state_dir):
            if not d.startswith("snap="):
                continue
            base = os.path.join(self.state_dir, d)
            if all(
                os.path.exists(os.path.join(base, t, "_SUCCESS"))
                for t in ("txs", "msgs")
            ):
                out.append(int(d.split("=", 1)[1]))
        return sorted(out)

    def _load_snap(self, snap_id: int) -> None:
        base = os.path.join(self.state_dir, f"snap={snap_id}")
        self._open_txs = self.spark.read.parquet(os.path.join(base, "txs"))
        self._open_msgs = self.spark.read.parquet(os.path.join(base, "msgs"))

    # -- state plumbing -----------------------------------------------------
    def _union_state(self, txs: DataFrame, msgs: DataFrame):
        txs = txs.select(*_TX_STATE_COLS)
        msgs = msgs.select(*_MSG_STATE_COLS)
        if self._open_txs is not None:
            txs = self._open_txs.select(*_TX_STATE_COLS).unionByName(txs)
            msgs = self._open_msgs.unionByName(msgs)
        return txs, msgs

    def open_rows(self) -> tuple[DataFrame, DataFrame] | None:
        """(transactions incl. provisional trace_id, messages) of the
        traces currently pending in state — the T6 overlay input."""
        if self._open_txs is None:
            return None
        open_msgs = self._open_msgs.join(
            self._open_txs.select(
                F.col("hash").alias("tx_hash"), "trace_id"
            ),
            "tx_hash",
        )
        return self._open_txs, open_msgs

    def _persist_state(self, txs: DataFrame, msgs: DataFrame,
                       batch_id: int | None = None) -> None:
        # keep state materialized so the next batch doesn't re-derive a
        # growing lineage; parquet swap doubles as the restart snapshot (T3)
        if (
            self.state_dir
            and batch_id is not None
            and self.snapshot_every > 1
            and batch_id % self.snapshot_every != 0
        ):
            # amortized mode: carry state in memory between durable
            # snapshots (every K-th batch persists)
            self._open_txs = txs.localCheckpoint(eager=True)
            self._open_msgs = msgs.localCheckpoint(eager=True)
            return
        if self.state_dir and batch_id is not None:
            # batch-keyed snapshot: state AFTER batch_id.  Replay of the
            # same batch reloads the previous snapshot first, so the rerun
            # derives identical outputs — the sink side (batch-keyed fact
            # dirs) then replaces rather than duplicates (T8).
            #
            # CRASH ATOMICITY: both tables are written into a .staging-*
            # dir (invisible to _snap_ids) and the WHOLE snapshot appears
            # with one directory rename.  A per-table swap is not enough —
            # a SIGKILL between the two table writes/renames left a
            # half-snapshot that recovery trusted (caught by the chaos
            # test, examples/soak_chaos.py).  If the process dies between
            # rmtree and rename below, the previous snapshot (always
            # retained) is the rewind target and the driver re-delivers
            # this batch.
            import shutil
            import uuid

            staging = os.path.join(
                self.state_dir, f".staging-{batch_id}-{uuid.uuid4().hex[:8]}"
            )
            txs.write.mode("overwrite").parquet(
                os.path.join(staging, "txs")
            )
            msgs.write.mode("overwrite").parquet(
                os.path.join(staging, "msgs")
            )
            base = os.path.join(self.state_dir, f"snap={batch_id}")
            if os.path.exists(base):  # redelivered batch: replace
                shutil.rmtree(base)
            os.rename(staging, base)
            self._load_snap(batch_id)

            # retain the current snapshot plus the latest one BEFORE it
            # (the rewind target for a redelivered batch — correct for any
            # snapshot_every spacing); drop everything else, including
            # snaps with ids AFTER the current batch, which are stale
            # leftovers of a previous run after a fresh-checkpoint restart
            snaps = self._snap_ids()
            prevs = [s for s in snaps if s < batch_id]
            keep = {batch_id} | ({prevs[-1]} if prevs else set())
            for sid in snaps:
                if sid not in keep:
                    shutil.rmtree(
                        os.path.join(self.state_dir, f"snap={sid}")
                    )
            # sweep leftovers of crashed persists: uncommitted snaps and
            # orphaned staging dirs are garbage once a newer commit exists
            for d in os.listdir(self.state_dir):
                p = os.path.join(self.state_dir, d)
                if d.startswith(".staging-") or (
                    d.startswith("snap=")
                    and int(d.split("=", 1)[1]) not in snaps
                ):
                    shutil.rmtree(p, ignore_errors=True)
        elif self.state_dir:
            from ton_indexer_spark.sources.writer import atomic_replace_many

            atomic_replace_many(
                [
                    (txs, os.path.join(self.state_dir, "txs")),
                    (msgs, os.path.join(self.state_dir, "msgs")),
                ]
            )
            self._open_txs = self.spark.read.parquet(os.path.join(self.state_dir, "txs"))
            self._open_msgs = self.spark.read.parquet(os.path.join(self.state_dir, "msgs"))
        else:
            self._open_txs = txs.localCheckpoint(eager=True)
            self._open_msgs = msgs.localCheckpoint(eager=True)

    # -- the operator -------------------------------------------------------
    def process_batch(self, batch_txs: DataFrame, batch_msgs: DataFrame,
                      batch_id: int | None = None) -> BatchResult:
        if batch_id is not None and self.state_dir:
            snaps = self._snap_ids()
            if snaps and snaps[-1] >= batch_id:
                # redelivered batch (crash after state persist, before the
                # streaming checkpoint committed): rewind to the snapshot
                # preceding this batch so the rerun is deterministic
                prev = [s for s in snaps if s < batch_id]
                if prev:
                    self._load_snap(prev[-1])
                else:
                    self._open_txs = self._open_msgs = None
        all_txs, all_msgs = self._union_state(batch_txs, batch_msgs)
        # state ∪ batch messages feed both the assembler and the message
        # split below: read them once
        all_msgs = all_msgs.localCheckpoint(eager=True)
        assembled = assemble_traces(all_txs, all_msgs)

        # a trace can gain members only through a pending out-edge, so it
        # is final once it has none (TraceAssembler.cpp:350-366) — broken
        # traces included — or once its TTL expires
        closed = F.col("pending_edges_") == 0
        if self.pending_ttl_mc_seqnos is not None:
            horizon = assembled.members.agg(F.max("mc_block_seqno")).first()[0]
            if horizon is not None:
                cutoff = horizon - self.pending_ttl_mc_seqnos
                closed = closed | (F.col("mc_seqno_end") < cutoff)
        # a trace without mc_seqno stays open rather than vanish from both
        closed = F.coalesce(closed, F.lit(False))

        # every frame handed out below filters one of two materialized
        # frames, so none references the state files replaced at the end
        traces = assembled.traces
        txs = assembled.members.select(
            *_TX_STATE_COLS, "trace_id", closed.alias("closed")
        )
        # NO broadcast hint: at block cadence AQE broadcasts the small side
        # anyway, but a backfill or the 50-block backtrack path makes it
        # arbitrarily large — a forced broadcast would OOM exactly when it
        # matters
        msgs = all_msgs.join(
            txs.select(F.col("hash").alias("tx_hash"), "trace_id", "closed"),
            "tx_hash",
        ).localCheckpoint(eager=True)

        def split(df: DataFrame, cols: list[str], final: bool) -> DataFrame:
            return df.filter(
                F.col("closed") if final else ~F.col("closed")
            ).select(*cols)

        tx_cols = [*_TX_STATE_COLS, "trace_id"]
        msg_cols = [*_MSG_STATE_COLS, "trace_id"]
        pending_txs = split(txs, tx_cols, False)
        pending_msgs = split(msgs, msg_cols, False)
        # the pending rows become the open-trace state; the provisional
        # trace_id rides along on transactions so the pending overlay (T6)
        # can classify and serve these traces before finalization
        self._persist_state(
            pending_txs, pending_msgs.select(*_MSG_STATE_COLS),
            batch_id=batch_id,
        )
        return BatchResult(
            final_traces=traces.filter(closed),
            pending_traces=traces.filter(~closed),
            final_transactions=split(txs, tx_cols, True),
            final_messages=split(msgs, msg_cols, True),
            pending_transactions=pending_txs,
            pending_messages=pending_msgs,
        )

    def open_trace_count(self) -> int:
        """Number of transactions held in open-trace state (the state-size
        bound; pending traces average a handful of transactions each)."""
        if self._open_txs is None:
            return 0
        return self._open_txs.select("hash").distinct().count()
