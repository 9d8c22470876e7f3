"""Assembler throughput probe — reproduces PERF.md's "TON pipeline
throughput" table on demand.

Measures (a) one-shot batch assembly, (b) its root finding alone on the
producer→consumer edges, size-gated and forced onto the distributed
pointer-doubling path (``forest_roots(local_threshold=0)``, the
backfill/100 TB path), and (c) incremental streaming assembly split into
in-order mc_seqno batches, with its snapshot persisted once per batch.

Run:  python examples/assembler_probe.py [n_traces] [n_batches]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from tests.fixture_gen import generate  # noqa: E402
from ton_indexer_spark.operators.graph import forest_roots  # noqa: E402
from ton_indexer_spark.operators.trace_assembly import assemble_traces  # noqa: E402
from ton_indexer_spark.session import get_spark  # noqa: E402
from ton_indexer_spark.streaming import IncrementalTraceAssembler  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    nb = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    spark = get_spark(app_name="assembler_probe")
    work = tempfile.mkdtemp(prefix="asm_probe_")
    fx = generate(os.path.join(work, "raw"), n_traces=n)
    txs = spark.read.parquet(
        f"{fx}/transactions.parquet").localCheckpoint(eager=True)
    msgs = spark.read.parquet(
        f"{fx}/messages.parquet").localCheckpoint(eager=True)
    ntx, nmsg = txs.count(), msgs.count()
    print(f"fixture: {n} traces, {ntx:,} txs, {nmsg:,} msgs")

    t0 = time.time()
    res = assemble_traces(txs.drop("trace_id"), msgs)
    out_traces = res.traces.count()
    wall = time.time() - t0
    print(f"batch assembly: {wall:.1f}s -> {ntx / wall:,.0f} tx/s, "
          f"{out_traces / wall:,.0f} traces/s")

    # root finding alone: consumer → producer edges of every message
    producers = msgs.filter(F.col("direction") == "out").select(
        "msg_hash", F.col("tx_hash").alias("parent"))
    edges = msgs.filter(F.col("direction") == "in").select(
        "msg_hash", F.col("tx_hash").alias("child")
    ).join(producers, "msg_hash").select("child", "parent") \
        .localCheckpoint(eager=True)
    n_edges = edges.count()
    for label, kw in (("size-gated", {}),
                      ("forced distributed", {"local_threshold": 0})):
        t0 = time.time()
        forest_roots(edges, **kw).count()
        wall = time.time() - t0
        print(f"root finding ({label}): {wall:.1f}s -> "
              f"{n_edges / wall:,.0f} edges/s ({n_edges:,} edges)")

    seqnos = sorted(
        r[0] for r in txs.select("mc_block_seqno").distinct().collect())
    step = len(seqnos) // nb + 1
    slices = [seqnos[i * step:(i + 1) * step] for i in range(nb)]
    asm = IncrementalTraceAssembler(
        spark, state_dir=os.path.join(work, "state"))
    emitted = 0
    t0 = time.time()
    for bid, sl in enumerate(s for s in slices if s):
        bt = txs.filter(F.col("mc_block_seqno").isin(sl)).drop("trace_id")
        bm = msgs.filter(F.col("mc_seqno").isin(sl))
        r = asm.process_batch(bt, bm, batch_id=bid)
        emitted += r.final_traces.count()
    wall = time.time() - t0
    print(f"incremental assembly: {wall:.1f}s / {nb} batches "
          f"-> {emitted / wall:,.0f} finalized traces/s "
          f"({emitted:,} finalized)")


if __name__ == "__main__":
    main()
