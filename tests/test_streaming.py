"""Streaming plane tests: incremental trace assembly must converge to the
batch ground truth when fed in-order micro-batches; the LWW writer must
match the window-latest view; the file-stream wiring must run end to end.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_incremental_matches_batch(spark, fixture_dir, tmp_path):
    from ton_indexer_spark.streaming import IncrementalTraceAssembler

    txs = spark.read.parquet(f"{fixture_dir}/transactions.parquet")
    msgs = spark.read.parquet(f"{fixture_dir}/messages.parquet")
    truth = {
        r["trace_id"]: r
        for r in spark.read.parquet(f"{fixture_dir}/traces.parquet").collect()
    }

    seqnos = sorted(r[0] for r in txs.select("mc_block_seqno").distinct().collect())
    cuts = [seqnos[i::4] for i in range(4)]
    # in-order batches: split seqno range into 4 contiguous slices
    k = len(seqnos) // 4 + 1
    slices = [set(seqnos[i * k : (i + 1) * k]) for i in range(4)]

    asm = IncrementalTraceAssembler(spark, state_dir=str(tmp_path / "state"))
    emitted: dict[str, dict] = {}
    for i, sl in enumerate(slices):
        if not sl:
            continue
        bt = txs.filter(F.col("mc_block_seqno").isin(list(sl))).drop("trace_id")
        bm = msgs.filter(F.col("mc_seqno").isin(list(sl)))
        res = asm.process_batch(bt, bm, batch_id=i)
        for r in res.final_traces.collect():
            assert r["trace_id"] not in emitted, "trace finalized twice"
            emitted[r["trace_id"]] = r.asDict()

    # everything still open at the end is pending ground truth
    final_pending = {
        tid for tid, r in truth.items() if r["state"] == "pending"
    }
    assert set(emitted) == set(truth) - final_pending

    for tid, got in emitted.items():
        want = truth[tid]
        for col in ["state", "nodes_", "edges_", "pending_edges_", "start_lt",
                    "end_lt", "external_hash"]:
            assert got[col] == want[col], (tid, col, got[col], want[col])

    assert asm.open_trace_count() > 0  # pending traces retained in state


def test_broken_trace_is_not_split_at_the_batch_boundary(spark, tmp_path):
    """A broken trace whose out-edge is consumed in a later batch stays
    open until then and is emitted once, whole: a trace completes when its
    pending edges reach zero (TraceAssembler.cpp:350-366), broken or not."""
    from ton_indexer_spark.streaming import IncrementalTraceAssembler

    tx_schema = (
        "account string, hash string, lt long, now long, "
        "mc_block_seqno long, aborted boolean, orig_status string, "
        "end_status string, total_fees long"
    )
    msg_schema = (
        "tx_hash string, tx_lt long, msg_hash string, direction string, "
        "source string, destination string, value long, opcode long, "
        "created_lt long, body_hash string"
    )

    def tx(h, lt, seqno):
        return (f"acc_{h}", h, lt, lt, seqno, False, "active", "active", 0)

    def msg(tx_hash, lt, msg_hash, direction, source, destination):
        return (tx_hash, lt, msg_hash, direction, source, destination, 1, 0,
                lt, None)

    batches = [
        # r's in-message is internal with no producer → broken; its
        # out-message is consumed only in the next batch
        ([tx("r", 100, 1)], [msg("r", 100, "i0", "in", "X", "R"),
                             msg("r", 100, "m1", "out", "R", "C")]),
        ([tx("c", 200, 2)], [msg("c", 200, "m1", "in", "R", "C")]),
    ]
    asm = IncrementalTraceAssembler(spark, state_dir=str(tmp_path / "state"))
    emitted, members = [], []
    for i, (t, m) in enumerate(batches):
        res = asm.process_batch(spark.createDataFrame(t, tx_schema),
                                spark.createDataFrame(m, msg_schema),
                                batch_id=i)
        emitted.append([r.asDict() for r in res.final_traces.collect()])
        members.append(sorted(
            (r["hash"], r["trace_id"])
            for r in res.final_transactions.collect()))

    assert emitted[0] == [] and members[0] == []
    [trace] = emitted[1]
    assert (trace["trace_id"], trace["state"], trace["nodes_"],
            trace["edges_"], trace["pending_edges_"]) == ("r", "broken", 2, 1, 0)
    assert members[1] == [("c", "r"), ("r", "r")]
    assert asm.open_trace_count() == 0


def test_state_restart_resumes(spark, fixture_dir, tmp_path):
    from ton_indexer_spark.streaming import IncrementalTraceAssembler

    txs = spark.read.parquet(f"{fixture_dir}/transactions.parquet")
    msgs = spark.read.parquet(f"{fixture_dir}/messages.parquet")
    seqnos = sorted(r[0] for r in txs.select("mc_block_seqno").distinct().collect())
    mid = seqnos[len(seqnos) // 2]
    state = str(tmp_path / "state")

    a1 = IncrementalTraceAssembler(spark, state_dir=state)
    a1.process_batch(
        txs.filter(F.col("mc_block_seqno") <= mid).drop("trace_id"),
        msgs.filter(F.col("mc_seqno") <= mid),
        batch_id=0,
    )
    n_open = a1.open_trace_count()

    # new instance restores the snap=0 snapshot (the reference's .tastate
    # restore)
    a2 = IncrementalTraceAssembler(spark, state_dir=state)
    assert a2.open_trace_count() == n_open
    res = a2.process_batch(
        txs.filter(F.col("mc_block_seqno") > mid).drop("trace_id"),
        msgs.filter(F.col("mc_seqno") > mid),
        batch_id=1,
    )
    assert res.final_traces.count() > 0


def test_pending_ttl_evicts(spark, fixture_dir, tmp_path):
    from ton_indexer_spark.streaming import IncrementalTraceAssembler

    txs = spark.read.parquet(f"{fixture_dir}/transactions.parquet")
    msgs = spark.read.parquet(f"{fixture_dir}/messages.parquet")
    asm = IncrementalTraceAssembler(
        spark, state_dir=str(tmp_path / "state"), pending_ttl_mc_seqnos=0
    )
    res = asm.process_batch(txs.drop("trace_id"), msgs, batch_id=0)
    # ttl=0 → every pending trace with an mc_seqno is evicted as final; only
    # a trace without one may stay open
    states = {r["state"] for r in res.final_traces.collect()}
    assert "pending" in states
    assert res.pending_traces.filter(
        F.col("mc_seqno_end").isNotNull()
    ).count() == 0


def test_replayed_batch_is_idempotent(spark, fixture_dir, tmp_path):
    """T8 exactly-once effect under at-least-once delivery: redelivering a
    micro-batch (crash between sink write and checkpoint commit) must leave
    every output table byte-for-row identical — the batch-keyed sink dir is
    replaced, and the assembler rewinds to its pre-batch snapshot.  Then a
    full rerun from a fresh checkpoint (the backfill/reorg path) must
    converge to the same table state."""
    from ton_indexer_spark.streaming.ingest import IngestPipeline

    txs = spark.read.parquet(f"{fixture_dir}/transactions.parquet")
    msgs = spark.read.parquet(f"{fixture_dir}/messages.parquet")
    seqnos = sorted(r[0] for r in txs.select("mc_block_seqno").distinct().collect())
    k = len(seqnos) // 3 + 1
    slices = [set(seqnos[i * k: (i + 1) * k]) for i in range(3)]

    out = str(tmp_path / "out")
    pipe = IngestPipeline(spark, out_dir=out, state_dir=str(tmp_path / "state"))

    def batch(i):
        bt = txs.filter(F.col("mc_block_seqno").isin(slices[i])).drop("trace_id")
        bm = msgs.filter(F.col("mc_seqno").isin(slices[i]))
        return bt, bm

    for i in (0, 1):
        bt, bm = batch(i)
        pipe.process_batch(bt, bm, batch_id=i)

    def table_state(name):
        p = os.path.join(out, name)
        if not os.path.exists(p):
            return None
        df = spark.read.parquet(p)
        return sorted(map(tuple, df.drop("batch", "mc_bucket").collect()))

    before = {t: table_state(t) for t in ("transactions", "traces")}
    assert before["transactions"], "batches produced no output"

    # redeliver batch 1 (same data, same id) — must be a no-op on tables
    bt, bm = batch(1)
    pipe.process_batch(bt, bm, batch_id=1)
    after = {t: table_state(t) for t in ("transactions", "traces")}
    assert after == before

    # continue: batch 2 completes the stream; compare to ground truth
    bt, bm = batch(2)
    pipe.process_batch(bt, bm, batch_id=2)
    truth = spark.read.parquet(f"{fixture_dir}/traces.parquet")
    n_final = truth.filter(F.col("state") != "pending").count()
    traces = spark.read.parquet(os.path.join(out, "traces"))
    assert traces.count() == n_final

    # full rerun into the same out dir with a fresh assembler (fresh
    # checkpoint analog): batch ids restart, dirs are replaced, state
    # converges to the identical table content
    final_before = {t: table_state(t) for t in ("transactions", "traces")}
    pipe2 = IngestPipeline(spark, out_dir=out,
                           state_dir=str(tmp_path / "state"))
    for i in (0, 1, 2):
        bt, bm = batch(i)
        pipe2.process_batch(bt, bm, batch_id=i)
    final_after = {t: table_state(t) for t in ("transactions", "traces")}
    assert final_after == final_before


def test_merge_dimension_rewrites_only_delta_buckets(spark, tmp_path):
    """Incremental merge honesty at scale: a delta touching a few keys must
    leave every unaffected kb= bucket's files byte-identical — the property
    that keeps per-batch I/O O(delta), not O(table)."""
    import hashlib

    from ton_indexer_spark.sources import merge_dimension

    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(f"0:acc{i:03d}", f"h{i}", i) for i in range(200)],
        "account string, hash string, last_trans_lt long",
    )
    merge_dimension(spark, base, path, key=["account"],
                    version_col="last_trans_lt", tiebreakers=["hash"])

    def file_hashes():
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[os.path.relpath(p, path)] = hashlib.sha256(
                        open(p, "rb").read()
                    ).hexdigest()
        return out

    before = file_hashes()
    buckets_before = {p.split("/")[0] for p in before}
    assert len(buckets_before) > 4  # keys actually spread across buckets

    delta = spark.createDataFrame(
        [("0:acc001", "h1-new", 1000), ("0:acc002", "h2-new", 2000)],
        "account string, hash string, last_trans_lt long",
    )
    merge_dimension(spark, delta, path, key=["account"],
                    version_col="last_trans_lt", tiebreakers=["hash"])
    after = file_hashes()

    from pyspark.sql import functions as F2
    from ton_indexer_spark.sources.writer import DIM_BUCKETS, _with_key_bucket
    touched = {
        f"kb={r[0]}"
        for r in _with_key_bucket(delta, ["account"], DIM_BUCKETS)
        .select("kb").distinct().collect()
    }
    for p, digest in before.items():
        bucket = p.split("/")[0]
        if bucket not in touched:
            assert after.get(p) == digest, f"untouched bucket rewritten: {p}"

    # merged content is still the LWW view
    got = {
        r["account"]: r["hash"]
        for r in spark.read.parquet(path)
        .filter(F2.col("account").isin("0:acc001", "0:acc002")).collect()
    }
    assert got == {"0:acc001": "h1-new", "0:acc002": "h2-new"}


def test_lww_writer_matches_window(spark, fixture_dir, tmp_path):
    import duckdb

    from ton_indexer_spark.sources import merge_dimension

    hist = spark.read.parquet(f"{fixture_dir}/account_states_history.parquet")
    path = str(tmp_path / "latest")
    # write in two deltas to exercise the merge path
    merge_dimension(spark, hist.filter(F.col("last_trans_lt") % 2 == 0), path,
                    key=["account"], version_col="last_trans_lt",
                    tiebreakers=["hash"])
    merge_dimension(spark, hist.filter(F.col("last_trans_lt") % 2 == 1), path,
                    key=["account"], version_col="last_trans_lt",
                    tiebreakers=["hash"])
    got = sorted(
        (r["account"], r["hash"]) for r in spark.read.parquet(path).collect()
    )
    con = duckdb.connect()
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"""
            SELECT account, hash FROM (
                SELECT account, hash,
                       ROW_NUMBER() OVER (PARTITION BY account
                                          ORDER BY last_trans_lt DESC, hash DESC) rn
                FROM read_parquet('{fixture_dir}/account_states_history.parquet')
            ) WHERE rn = 1
            """
        ).fetchall()
    )
    assert got == want


def test_file_stream_end_to_end(spark, fixture_dir, tmp_path):
    """readStream file source → foreachBatch pipeline → parquet sinks."""
    from ton_indexer_spark.streaming.ingest import IngestPipeline

    txs = spark.read.parquet(f"{fixture_dir}/transactions.parquet")
    msgs = spark.read.parquet(f"{fixture_dir}/messages.parquet")

    # stage source files: two seqno-ordered drops
    seqnos = sorted(r[0] for r in txs.select("mc_block_seqno").distinct().collect())
    mid = seqnos[len(seqnos) // 2]
    src_tx = str(tmp_path / "src_tx")
    (txs.filter(F.col("mc_block_seqno") <= mid).drop("trace_id")
        .coalesce(1).write.parquet(src_tx))
    (txs.filter(F.col("mc_block_seqno") > mid).drop("trace_id")
        .coalesce(1).write.mode("append").parquet(src_tx))
    from ton_indexer_spark.streaming.ingest import write_message_drops

    src_msg = str(tmp_path / "src_msg")
    write_message_drops(msgs, src_msg, bucket_size=4)

    out = str(tmp_path / "out")
    pipe = IngestPipeline(spark, out_dir=out, state_dir=str(tmp_path / "state"))
    pipe.run_available_now(src_tx, src_msg, str(tmp_path / "ckpt"),
                           msg_bucket_size=4)

    flushed = spark.read.parquet(os.path.join(out, "transactions"))
    traces = spark.read.parquet(os.path.join(out, "traces"))
    latest = spark.read.parquet(os.path.join(out, "latest_account_states"))
    truth = spark.read.parquet(f"{fixture_dir}/traces.parquet")
    n_final_truth = truth.filter(F.col("state") != "pending").count()
    assert traces.count() == n_final_truth
    assert flushed.select("trace_id").distinct().count() == n_final_truth
    assert latest.groupBy("account").count().agg(F.max("count")).collect()[0][0] == 1


def test_replace_by_key_pins_bucket_count(spark, tmp_path):
    """A later call with a different n_buckets must not strand stale rows:
    the persisted _n_buckets marker overrides the parameter."""
    from pyspark.sql import functions as F

    from ton_indexer_spark.sources.writer import replace_by_key

    path = str(tmp_path / "actions_kb")
    base = spark.createDataFrame(
        [(f"t{i}", f"a{i}", 1) for i in range(40)],
        "trace_id string, action string, version int",
    )
    replace_by_key(spark, path, base, key=["trace_id"], n_buckets=8)

    # reclassify t7 with a DIFFERENT (wrong) bucket count
    delta = spark.createDataFrame(
        [("t7", "a7-new", 2)], "trace_id string, action string, version int")
    replace_by_key(spark, path, delta, key=["trace_id"], n_buckets=32)

    rows = spark.read.parquet(path).filter(F.col("trace_id") == "t7").collect()
    assert len(rows) == 1  # no stale duplicate in another bucket
    assert rows[0]["action"] == "a7-new"
    assert spark.read.parquet(path).count() == 40


def test_merge_dimension_pins_bucket_count(spark, tmp_path):
    """Same contract as replace_by_key: a later merge with a mismatched
    n_buckets must not leave the old row version alive in its original
    bucket — the persisted _n_buckets marker overrides the parameter."""
    from pyspark.sql import functions as F

    from ton_indexer_spark.sources.writer import merge_dimension

    path = str(tmp_path / "dim_kb")
    base = spark.createDataFrame(
        [(f"acct{i}", i, 100) for i in range(40)],
        "account string, balance long, last_transaction_lt long",
    )
    merge_dimension(spark, base, path, key=["account"], n_buckets=8)

    delta = spark.createDataFrame(
        [("acct7", 777, 200)],
        "account string, balance long, last_transaction_lt long",
    )
    merge_dimension(spark, delta, path, key=["account"], n_buckets=32)

    rows = spark.read.parquet(path).filter(
        F.col("account") == "acct7").collect()
    assert len(rows) == 1  # LWW held: no stale version in another bucket
    assert rows[0]["balance"] == 777
    assert spark.read.parquet(path).count() == 40


def test_streaming_integrity_audit(spark, fixture_dir, tmp_path):
    """The continuous audit (SURVEY §5, reference IntegrityChecker's
    seqno-window walk) wired into the micro-batch loop: clean batches
    audit to zero findings; a lost sink write is caught on the very
    batch that dropped it, with the evidence written to
    integrity_findings/."""
    import ton_indexer_spark.streaming.ingest as ingest_mod
    from ton_indexer_spark.streaming.ingest import IngestPipeline

    txs = spark.read.parquet(f"{fixture_dir}/transactions.parquet")
    msgs = spark.read.parquet(f"{fixture_dir}/messages.parquet")
    seqnos = sorted(
        r[0] for r in txs.select("mc_block_seqno").distinct().collect())
    k = len(seqnos) // 3 + 1
    slices = [set(seqnos[i * k: (i + 1) * k]) for i in range(3)]

    def batch(i):
        bt = txs.filter(
            F.col("mc_block_seqno").isin(slices[i])).drop("trace_id")
        bm = msgs.filter(F.col("mc_seqno").isin(slices[i]))
        return bt, bm

    # clean run: every batch audited, zero findings
    out = str(tmp_path / "out_clean")
    pipe = IngestPipeline(spark, out_dir=out,
                          state_dir=str(tmp_path / "state_clean"),
                          audit_every=1)
    for i in range(3):
        pipe.process_batch(*batch(i), batch_id=i)
    assert pipe.audit_findings and set(pipe.audit_findings) == {0, 1, 2}
    assert all(n == 0 for n in pipe.audit_findings.values())
    assert not os.path.exists(os.path.join(out, "integrity_findings"))

    # corrupted run: the traces sink silently drops one row of batch 0
    real_write = ingest_mod.write_facts_batch

    def lossy_write(df, path, sort_cols, batch_id, **kw):
        if path.endswith("/traces") and batch_id == 0:
            victim = df.select("trace_id").limit(1)
            df = df.join(victim, "trace_id", "left_anti")
        return real_write(df, path, sort_cols, batch_id, **kw)

    ingest_mod.write_facts_batch = lossy_write
    try:
        out2 = str(tmp_path / "out_lossy")
        pipe2 = IngestPipeline(spark, out_dir=out2,
                               state_dir=str(tmp_path / "state_lossy"),
                               audit_every=1)
        pipe2.process_batch(*batch(0), batch_id=0)
    finally:
        ingest_mod.write_facts_batch = real_write
    assert pipe2.audit_findings[0] > 0
    findings = spark.read.parquet(os.path.join(out2, "integrity_findings"))
    rows = findings.collect()
    assert rows and all(r["issue"] == "missing" for r in rows)
