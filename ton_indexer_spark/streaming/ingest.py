"""Streaming ingest pipeline (SURVEY.md §3.2 re-expressed, T1/T5/T7/T8).

Reference write path: scheduler discovers seqnos in order → fetch → parse →
assemble traces (stateful) → detect interfaces → per-seqno transactional
COPY (IndexScheduler.cpp:212-386); a DB trigger then queues classification
(T5, migrate.cpp:707-718) and results fan out over pub/sub (T7).
Spark shape — one foreachBatch, no queues, no triggers:

    readStream (file source over per-seqno-bucket parquet drops,
                maxFilesPerTrigger = the reference's --max-active-tasks)
      → foreachBatch(batch_df, batch_id):
            1. IncrementalTraceAssembler.process_batch   (T2 state op)
            2. classify final and still-open traces once  (T5, optional)
            3. write_facts_batch(txs, traces, actions)    (T8 idempotent sink)
               + replace pending_actions with the open
                 traces' actions from step 2              (T6 overlay)
            4. merge_dimension(latest account states)     (W2 LWW)
            5. publish_batch(...)                         (T7, optional)

Every micro-batch carries the id ``foreachBatch`` supplies: the assembler
persists its state once per batch as a ``snap=<id>`` snapshot and each
fact table gets a ``batch=<id>`` directory, so a redelivered batch
replaces its outputs instead of duplicating them.

``run_available_now`` processes everything currently in the source dir and
stops — used by tests and backfills; a production deployment passes a
processing-time trigger instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ton_indexer_spark.sources.writer import merge_dimension, write_facts_batch
from ton_indexer_spark.streaming.push import Publisher, publish_batch
from ton_indexer_spark.streaming.trace_assembler import IncrementalTraceAssembler

MSG_DROP_BUCKET = 100  # masterchain seqnos per message-drop partition


def _run_file_stream(spark: SparkSession, source_dir: str,
                     checkpoint_dir: str, handle) -> StreamingQuery:
    """Drive ``handle(batch_df, batch_id)`` through ``foreachBatch`` over
    the parquet files now in ``source_dir``, one file per micro-batch
    (maxFilesPerTrigger = the reference's --max-active-tasks), and return
    the query once every file is processed."""
    schema = spark.read.parquet(source_dir).schema
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def write_message_drops(msgs: DataFrame, path: str,
                        bucket_size: int = MSG_DROP_BUCKET,
                        seqno_col: str = "mc_seqno") -> None:
    """Stage message drops partitioned by seqno bucket so the streaming
    ingest's per-batch filter prunes at the directory level (the analog of
    the reference scheduler's per-seqno bundles)."""
    (
        msgs.withColumn(
            "seq_bucket", F.expr(f"`{seqno_col}` div {bucket_size}")
        )
        .repartition("seq_bucket")
        .write.mode("append")
        .partitionBy("seq_bucket")
        .parquet(path)
    )


class IngestPipeline:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        state_dir: str,
        pending_ttl_mc_seqnos: int | None = None,
        classify: bool = False,
        message_contents: DataFrame | None = None,
        jetton_wallets: DataFrame | None = None,
        nft_items: DataFrame | None = None,
        publisher: Publisher | None = None,
        audit_every: int | None = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        self.assembler = IncrementalTraceAssembler(
            spark, state_dir=state_dir, pending_ttl_mc_seqnos=pending_ttl_mc_seqnos
        )
        self.classify = classify
        self.message_contents = message_contents
        self.jetton_wallets = jetton_wallets
        self.nft_items = nft_items
        self.publisher = publisher
        # continuous integrity audit (SURVEY §5 "data integrity"): every
        # K-th micro-batch re-derives the traces just sunk from the batch's
        # own facts and diffs them against the batch=<id> directory READ
        # BACK from disk — the streaming analog of the reference checker's
        # seqno-window walk (IntegrityChecker.cpp:61-104).  Scoped to one
        # batch dir, so the audit never rescans history.
        self.audit_every = audit_every
        self.audit_findings: dict[int, int] = {}

    def process_batch(self, txs: DataFrame, msgs: DataFrame,
                      batch_id: int,
                      message_contents: DataFrame | None = None) -> None:
        if message_contents is None:
            message_contents = self.message_contents

        def sink(df: DataFrame, table: str, sort_cols: list[str]) -> None:
            # T8: the batch-keyed dir is replaced on redelivery
            write_facts_batch(df, os.path.join(self.out_dir, table),
                              sort_cols, batch_id)

        res = self.assembler.process_batch(txs, msgs, batch_id=batch_id)
        flushed = res.final_transactions
        final = res.final_traces
        # a final trace has members, so one probe covers both sinks
        has_final = bool(final.head(1))
        if has_final:
            sink(
                flushed,
                "transactions",
                sort_cols=["lt", "account", "hash"],
            )
            sink(
                final.withColumn("mc_block_seqno", final["mc_seqno_end"]),
                "traces",
                sort_cols=["end_lt", "trace_id"],
            )
        if self.classify:
            # T5 + T6: one classification of final and still-open traces;
            # the final trace join keeps the final actions for the sinks,
            # the open traces' actions replace the pending overlay (the
            # emulated/pending overlay the reference keeps in Redis)
            from ton_indexer_spark.classifier import classify_traces
            from ton_indexer_spark.sources.writer import atomic_replace

            cls = classify_traces(
                flushed.unionByName(res.pending_transactions),
                res.final_messages.unionByName(res.pending_messages),
                message_contents,
                self.jetton_wallets,
                self.nft_items,
            )
            if has_final:
                actions = cls.actions.join(
                    final.select(
                        "trace_id",
                        final["end_lt"].alias("trace_end_lt"),
                        final["end_utime"].alias("trace_end_utime"),
                        final["mc_seqno_end"].alias("trace_mc_seqno_end"),
                    ),
                    "trace_id",
                )
                sink(
                    actions.withColumn(
                        "mc_block_seqno", actions["trace_mc_seqno_end"]
                    ),
                    "actions",
                    sort_cols=["trace_end_lt", "trace_id", "action_id"],
                )
                sink(
                    cls.action_accounts.join(
                        final.select(
                            "trace_id",
                            final["end_lt"].alias("trace_end_lt"),
                            final["mc_seqno_end"].alias("mc_block_seqno"),
                        ),
                        "trace_id",
                    ),
                    "action_accounts",
                    sort_cols=["account", "trace_end_lt"],
                )
            atomic_replace(
                cls.actions.join(
                    res.pending_traces.select("trace_id"), "trace_id",
                    "left_semi",
                ).withColumn("finality", F.lit("pending")),
                os.path.join(self.out_dir, "pending_actions"),
            )
            # all classify outputs are on disk — release the cached
            # classify-stage output for this batch
            cls.unpersist()

        if (
            self.audit_every is not None
            and batch_id % self.audit_every == 0
            and has_final
        ):
            from ton_indexer_spark.operators.audit import audit_traces

            stored = self.spark.read.parquet(
                os.path.join(self.out_dir, "traces", f"batch={batch_id}")
            )
            findings = audit_traces(
                flushed.drop("trace_id"),
                res.final_messages.drop("trace_id"),
                stored,
            )
            n = findings.count()
            self.audit_findings[batch_id] = n
            if n:
                # keep the evidence; the caller decides whether to halt
                write_facts_batch(
                    findings.withColumn("mc_block_seqno", F.lit(None)
                                        .cast("long")),
                    os.path.join(self.out_dir, "integrity_findings"),
                    sort_cols=["check", "key"],
                    batch_id=batch_id,
                )

        # derived dimension: latest account state per account (W2)
        merge_dimension(
            self.spark,
            txs.selectExpr(
                "account",
                "account_state_hash_after as hash",
                "lt as last_trans_lt",
                "hash as last_trans_hash",
                "now as timestamp",
            ),
            os.path.join(self.out_dir, "latest_account_states"),
            key=["account"],
            version_col="last_trans_lt",
            tiebreakers=["hash"],
        )

        if self.publisher is not None:  # T7 fan-out
            publish_batch(
                self.publisher,
                final_traces=final,
                # finalized tier: members of traces that closed this batch
                transactions=flushed.select("hash", "lt", "account", "trace_id"),
                # confirmed tier: every tx that ARRIVED this batch — block-
                # committed, trace possibly still open so no trace_id yet
                # (v2/server.go:1032)
                confirmed_transactions=txs.select("hash", "lt", "account"),
            )

    def run_available_now(self, tx_source_dir: str, msg_source_dir: str,
                          checkpoint_dir: str,
                          msg_bucket_size: int = MSG_DROP_BUCKET):
        """Structured Streaming wiring: one file-source stream drives the
        pipeline; messages for the batch are read by mc_seqno range (the
        per-seqno bundle discipline of the reference's scheduler).

        When the message drop directory is laid out in ``seq_bucket=``
        partitions (write_message_drops), the per-batch filter hits the
        partition column first — the scan PRUNES to the batch's buckets
        instead of re-reading the whole message history every micro-batch
        (the O(table)-per-batch trap at backfill scale)."""
        msgs_all = self.spark.read.parquet(msg_source_dir)
        has_bucket = "seq_bucket" in msgs_all.columns

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            # driver sees only TWO scalars per batch (min/max seqno) —
            # never a per-seqno list, so a backfill batch spanning 10⁶
            # seqnos costs the driver nothing.  The same job is the
            # empty-batch probe: min is null when the batch has no rows.
            # The range prunes the seq_bucket partition column; exact
            # seqno membership is a distributed semi-join against the
            # batch's own seqnos (AQE broadcasts the tiny aggregate at
            # block cadence, shuffles it on a huge backfill batch — both
            # correct).
            lo, hi = batch_df.agg(
                F.min("mc_block_seqno"), F.max("mc_block_seqno")
            ).first()
            if lo is None:
                return
            pruned = msgs_all
            if has_bucket:
                pruned = pruned.filter(
                    msgs_all["seq_bucket"].between(
                        lo // msg_bucket_size, hi // msg_bucket_size
                    )
                )
            pruned = pruned.filter(pruned["mc_seqno"].between(lo, hi))
            batch_msgs = pruned.join(
                batch_df.select(
                    F.col("mc_block_seqno").alias("mc_seqno")
                ).distinct(),
                "mc_seqno",
                "left_semi",
            )
            self.process_batch(batch_df, batch_msgs, batch_id=batch_id)

        return _run_file_stream(self.spark, tx_source_dir, checkpoint_dir,
                                handle)


class RawBocIngest:
    """S2→T1 fusion: raw BOC-encoded transaction cells → TL-B flatten →
    the same micro-batch assembler/classifier pipeline.

    Input drops are parquet rows
    ``(boc string, workchain?, block_workchain?, block_shard?,
    block_seqno?, mc_block_seqno)`` — the per-row block envelope the
    reference reads from the enclosing block record
    (DataParser.cpp:29-82).  Each micro-batch parses in Arrow tasks
    (sources/tx_ingest.py), projects to the core schemas, derives the
    content-addressed body store for classification, and drives
    ``IngestPipeline.process_batch`` with the standard in-order batch-id
    contract (T8 idempotence included).
    """

    def __init__(self, pipeline: "IngestPipeline"):
        self.pipeline = pipeline

    def run_available_now(self, boc_source_dir: str,
                          checkpoint_dir: str):
        from ton_indexer_spark.sources.tx_ingest import (
            core_transactions_from_parsed,
            message_contents_from_parsed,
            messages_from_parsed,
            parse_raw_transactions,
        )

        spark = self.pipeline.spark

        def handle(batch_df: DataFrame, batch_id: int) -> None:
            if not batch_df.head(1):
                return
            parsed = parse_raw_transactions(batch_df).localCheckpoint(
                eager=True
            )
            txs = core_transactions_from_parsed(parsed)
            msgs = messages_from_parsed(parsed)
            # the body store must ACCUMULATE across batches: a trace can
            # finalize in batch N with messages from batch N-k, and
            # classification needs those earlier bodies too.  The store is
            # a hash-keyed DIMENSION (kb-bucketed, duplicate-free by
            # construction via merge_dimension): the merge touches only
            # the buckets holding this batch's hashes, and the read back
            # needs NO full-store dropDuplicates — the per-batch cost a
            # monotonically growing store would otherwise impose
            from ton_indexer_spark.sources.writer import merge_dimension

            store = os.path.join(self.pipeline.out_dir, "message_contents")
            batch_contents = message_contents_from_parsed(parsed)
            if batch_contents.head(1):
                merge_dimension(
                    spark,
                    batch_contents.withColumn("_v", F.lit(0)),
                    store,
                    key=["hash"],
                    version_col="_v",
                    tiebreakers=["body"],
                )
            contents = spark.read.parquet(store).select("hash", "body")
            if self.pipeline.message_contents is not None:
                contents = self.pipeline.message_contents.unionByName(
                    contents
                ).dropDuplicates(["hash"])
            self.pipeline.process_batch(
                txs, msgs, batch_id=batch_id, message_contents=contents
            )

        return _run_file_stream(spark, boc_source_dir, checkpoint_dir, handle)
