"""Workload ``ingest``: ``IngestPipeline(classify=True).run_available_now``
over a generated TON fixture staged as in-order ``mc_seqno`` file drops.

This is the write path: trace assembly (``streaming``), classification
(``classifier``) and the sinks (``sources``) do most of the work here and
none in ``api_reads``.  A round ingests every drop into fresh output,
state and checkpoint directories; the checks read the last round's output.
"""

from __future__ import annotations

import os

from perfbench import checks
from perfbench.harness import fresh_dir, median

N_TRACES = 1000  # ~5.7k transactions, ~11.5k message rows
N_DROPS = 2      # one micro-batch per drop (maxFilesPerTrigger = 1)
SINK_TABLES = ("transactions", "traces", "actions", "action_accounts")
MSG_BUCKET = 100  # streaming.ingest.MSG_DROP_BUCKET: seqnos per message dir


def drop_of_seqno(seqnos, n_drops: int) -> dict[int, int]:
    """mc_seqno → the drop it is staged in: ``n_drops`` contiguous ranges
    of the distinct seqnos."""
    import numpy as np

    parts = np.array_split(np.unique(np.asarray(seqnos)), n_drops)
    return {int(s): i for i, part in enumerate(parts) for s in part}


def stage_drops(fixture: str, dst: str, n_drops: int) -> tuple[str, str]:
    """Transactions as ``n_drops`` parquet files, each a contiguous
    mc_seqno range, with increasing modification times so the file source
    takes them in order; messages as ``seq_bucket=`` directories (the
    layout ``streaming.ingest.write_message_drops`` produces), so each
    batch's message scan prunes to its buckets.  Hidden trace ids are
    dropped: the pipeline must find the traces itself."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    txs = pq.read_table(f"{fixture}/transactions.parquet").drop(["trace_id"])
    msgs = pq.read_table(f"{fixture}/messages.parquet").drop(["trace_id"])
    drop = drop_of_seqno(txs.column("mc_block_seqno").to_numpy(), n_drops)
    src_tx = fresh_dir(os.path.join(dst, "src_tx"))
    for i in range(n_drops):
        part = [s for s, d in drop.items() if d == i]
        sel = pc.is_in(txs.column("mc_block_seqno"),
                       value_set=pa.array(part, pa.int64()))
        path = os.path.join(src_tx, f"drop-{i:04d}.parquet")
        pq.write_table(txs.filter(sel), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    src_msg = fresh_dir(os.path.join(dst, "src_msg"))
    bucket = pc.divide(msgs.column("mc_seqno"), MSG_BUCKET)
    for b in np.unique(bucket.to_numpy()):
        d = fresh_dir(os.path.join(src_msg, f"seq_bucket={b}"))
        pq.write_table(msgs.filter(pc.equal(bucket, b)),
                       os.path.join(d, "part-0.parquet"))
    return src_tx, src_msg


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _rows(path: str, columns: list[str]) -> list[tuple]:
    import pyarrow.dataset as ds

    if not os.path.exists(path):
        return []
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns)
    return list(zip(*(t.column(c).to_pylist() for c in columns)))


def _last_snapshot(state_dir: str) -> str | None:
    snaps = sorted((int(d.split("=", 1)[1]), d) for d in os.listdir(state_dir)
                   if d.startswith("snap="))
    return os.path.join(state_dir, snaps[-1][1]) if snaps else None


def _open_txs(snap: str | None) -> int:
    """Transactions held in the open-trace state snapshot."""
    return len(_rows(os.path.join(snap, "txs"), ["hash"])) if snap else 0


class _BatchTracing:
    """Spans around the public calls each layer makes inside a micro-batch,
    and the Spark jobs and tasks of each batch.  Installed only in traced
    runs; the batch handler runs on the stream's thread, so the job group
    is set there."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.counts: list[dict] = []
        self.in_pending = False

    def install(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        import ton_indexer_spark.classifier as classifier
        import ton_indexer_spark.sources.writer as writer
        import ton_indexer_spark.streaming.ingest as ingest
        from ton_indexer_spark.streaming.trace_assembler import (
            IncrementalTraceAssembler,
        )

        tr = self.ctx.tracer
        tr.wrap(ingest.IngestPipeline, "process_batch", "ingest.process_batch")
        tr.wrap(IncrementalTraceAssembler, "process_batch",
                "streaming.assemble")
        tr.wrap(ingest, "write_facts_batch", "sources.write",
                name_of=lambda a, k: "sources.write." + os.path.basename(a[1]))
        tr.wrap(ingest, "merge_dimension", "sources.merge_dimension")
        # the pending overlay is the classify that follows open_rows()
        tr.wrap(classifier, "classify_traces", "classifier.build",
                name_of=lambda a, k: "classifier.pending_classify"
                if self.in_pending else "classifier.build")
        tr.wrap(writer, "atomic_replace", "classifier.pending_replace")

        open_rows = IncrementalTraceAssembler.open_rows

        def traced_open_rows(assembler):
            self.in_pending = True
            return open_rows(assembler)

        IncrementalTraceAssembler.open_rows = traced_open_rows

        foreach_batch = DataStreamWriter.foreachBatch

        def traced_foreach_batch(writer_, func):
            def handler(df, batch_id):
                self.in_pending = False
                tr.op_id = f"batch-{batch_id}"
                cnt: dict = {}
                with self.ctx.job_group(tr.op_id, cnt), \
                        tr.span("ingest.batch"):
                    func(df, batch_id)
                self.counts.append(cnt)
                self.in_pending = False
            return foreach_batch(writer_, handler)

        DataStreamWriter.foreachBatch = traced_foreach_batch

    def per_batch(self, *names: str) -> float:
        """Median over batches of the time in spans named ``names``."""
        per: dict[str, float] = {}
        for s in self.ctx.tracer.spans:
            if s["name"] in names:
                per[s["op"]] = per.get(s["op"], 0.0) + s["end"] - s["start"]
        return median(per.get(b, 0.0) for b in self._batches())

    def _batches(self) -> list[str]:
        return [s["op"] for s in self.ctx.tracer.spans
                if s["name"] == "ingest.batch"]

    def metrics(self, db: str, snap: str | None, split: int) -> dict:
        tr = self.ctx.tracer
        own: dict[str, float] = {}
        for s, t in tr.own_times():
            if s["name"] in ("ingest.batch", "ingest.process_batch"):
                own[s["op"]] = own.get(s["op"], 0.0) + t
        n = len(self.counts)
        out = {
            "spark.jobs_per_batch": sum(c["jobs"] for c in self.counts) / n,
            "spark.tasks_per_batch": sum(c["tasks"] for c in self.counts) / n,
            "streaming.assemble_s": self.per_batch("streaming.assemble"),
            "streaming.batch_self_s": median(own.values()),
            "streaming.open_state_txs": _open_txs(snap),
            "streaming.snapshot_bytes": _dir_bytes(snap) if snap else 0,
            "streaming.broken_traces_split": split,
            "classifier.build_s": self.per_batch("classifier.build"),
            "classifier.pending_s": self.per_batch(
                "classifier.pending_classify", "classifier.pending_replace"),
            "classifier.actions_emitted": len(
                _rows(os.path.join(db, "actions"), ["action_id"])),
            "sources.merge_dimension_s": self.per_batch(
                "sources.merge_dimension"),
            "sources.bytes_written": _dir_bytes(db),
        }
        for t in SINK_TABLES:
            out[f"sources.write_s.{t}"] = self.per_batch(f"sources.write.{t}")
        return out


def run(ctx):
    import pyarrow.parquet as pq

    fixture = ctx.fixture(N_TRACES)
    src_tx, src_msg = stage_drops(fixture, ctx.work, N_DROPS)

    spark = ctx.start_spark()
    from ton_indexer_spark.streaming.ingest import IngestPipeline

    tr = ctx.tracer
    tracing = _BatchTracing(ctx)
    if tr.enabled:
        tracing.install()
    dims = {name: spark.read.parquet(f"{fixture}/{name}.parquet")
            for name in ("message_contents", "jetton_wallets", "nft_items")}

    batch_s: list[float] = []
    traces_done = 0
    rounds = 0
    ctx.begin_measure()
    while True:
        rd = fresh_dir(os.path.join(ctx.work, f"round-{rounds}"))
        pipe = IngestPipeline(
            spark, out_dir=os.path.join(rd, "db"),
            state_dir=os.path.join(rd, "state"), classify=True,
            message_contents=dims["message_contents"],
            jetton_wallets=dims["jetton_wallets"], nft_items=dims["nft_items"])
        q = pipe.run_available_now(src_tx, src_msg, os.path.join(rd, "ckpt"))
        batch_s += [p["durationMs"]["triggerExecution"] / 1e3
                    for p in q.recentProgress if p["numInputRows"] > 0]
        traces_done += pq.ParquetDataset(os.path.join(rd, "db", "traces")) \
            .read(columns=["trace_id"]).num_rows
        rounds += 1
        if ctx.measure_elapsed() >= ctx.seconds:
            break
    wall = ctx.end_measure()
    tr.op_id = None

    db, state = os.path.join(rd, "db"), os.path.join(rd, "state")
    problems, split = check(spark, fixture, db, state, ctx.log)

    e2e = {"cpu_ms_per_op": ctx.cpu_ms_per_op(len(batch_s))}
    layer = {"streaming.batch_s_p50": median(batch_s),
             "streaming.traces_per_s": traces_done / wall}
    if tr.enabled:
        layer.update(tracing.metrics(db, _last_snapshot(state), split))
    ctx.log(f"{rounds} round(s), {len(batch_s)} batches in {wall:.2f}s "
            f"({[round(b, 2) for b in batch_s]}), {traces_done} traces, "
            f"{ctx.cpu_s:.1f} CPU s, "
            f"{len(problems)} problems")
    return problems, len(batch_s), 0, e2e, layer


def cut_pieces(fixture: str, truth, broken) -> dict:
    """For each ground-truth broken trace, its pieces when cut at the drop
    boundaries (``checks.drop_pieces``), from the fixture's mc_seqnos and
    message edges."""
    seqno = dict(_rows(f"{fixture}/transactions.parquet",
                       ["hash", "mc_block_seqno"]))
    drop = drop_of_seqno(list(seqno.values()), N_DROPS)
    drop_of = {h: drop[s] for h, s in seqno.items()}
    msgs = _rows(f"{fixture}/messages.parquet",
                 ["msg_hash", "tx_hash", "direction"])
    producers: dict = {}
    for m, tx, d in msgs:
        if d == "out":
            producers.setdefault(m, []).append(tx)
    edges = [(a, tx) for m, tx, d in msgs if d == "in"
             for a in producers.get(m, ())]
    members = checks.groups(truth)
    return {t: checks.drop_pieces(members[t], edges, drop_of)
            for t in broken if t in members}


def check(spark, fixture: str, db: str, state: str,
          log) -> tuple[list[str], int]:
    """All ingest checks on one round's output (see perfbench/checks.py);
    also returns how many broken traces came out cut at the boundary."""
    import duckdb
    from pyspark.sql import functions as F

    truth_tx = _rows(f"{fixture}/transactions.parquet", ["trace_id", "hash"])
    states = dict(_rows(f"{fixture}/traces.parquet", ["trace_id", "state"]))
    final = _rows(os.path.join(db, "transactions"), ["trace_id", "hash"])
    truth = [(t, h) for t, h in truth_tx if states[t] != "pending"]
    broken = {t for t, s in states.items() if s == "broken"}
    problems = checks.check_trace_partition(
        final, truth, cut_pieces(fixture, truth, broken),
        [t for (t,) in _rows(os.path.join(db, "traces"), ["trace_id"])])
    pieces, _ = checks.trace_pieces(final, truth)
    split = sum(len(pieces.get(t, ())) > 1 for t in broken)
    log(f"{split} of {len(broken)} broken traces finalized in pieces")

    problems += checks.check_conservation(
        len(truth_tx), len(final), _open_txs(_last_snapshot(state)))

    cols = ["account", "hash", "last_trans_lt", "last_trans_hash", "timestamp"]
    con = duckdb.connect()
    want = con.execute(
        "SELECT account, arg_max(account_state_hash_after, lt), max(lt), "
        "arg_max(hash, lt), arg_max(now, lt) FROM "
        f"read_parquet('{fixture}/transactions.parquet') GROUP BY account"
    ).fetchall()
    con.close()
    problems += checks.check_latest_states(
        _rows(os.path.join(db, "latest_account_states"), cols), want)

    # one batch classification of every finalized trace, from the sunk
    # transactions and the input messages of those transactions, with the
    # columns the assembler hands the classifier in each micro-batch
    from ton_indexer_spark.classifier import classify_traces
    from ton_indexer_spark.streaming.trace_assembler import (
        _MSG_STATE_COLS,
        _TX_STATE_COLS,
    )

    txs = spark.read.parquet(os.path.join(db, "transactions")).select(
        *_TX_STATE_COLS, "trace_id")
    msgs = spark.read.parquet(f"{fixture}/messages.parquet").select(
        *_MSG_STATE_COLS).join(
        txs.select(F.col("hash").alias("tx_hash"), "trace_id"), "tx_hash")
    cls = classify_traces(
        txs, msgs, *(spark.read.parquet(f"{fixture}/{n}.parquet")
                     for n in ("message_contents", "jetton_wallets",
                               "nft_items")))
    batch = cls.actions.collect()
    acols = cls.actions.columns
    streamed = spark.read.parquet(os.path.join(db, "actions")).select(
        *acols).collect()
    cls.unpersist()
    problems += checks.check_actions(streamed, batch)
    return problems, split
