"""Streaming soak + chaos test (round-7 verdict ask #6).

One sustained incremental run — ≥20 in-order mc_seqno batches through the
trace assembler AND the classifier — with a HARD mid-batch process kill
(SIGKILL from inside a worker thread, no cleanup, no atexit) followed by
a snapshot restore in a fresh process.  The restored run must converge to
EXACTLY the uninterrupted run's output: the comparison hashes the full
finalized-trace set and the per-trace action multiset.

Recovery contract exercised end-to-end
(``IncrementalTraceAssembler.process_batch``): restart resumes from the
last persisted snapshot; the driver re-delivers every batch after it; the
batch-keyed output dirs act as the idempotent T8 sink (replayed batch ids
REPLACE their directory, so duplicates are structurally impossible).

Round-9 extensions (verdict ask #8): multiple kill/restore CYCLES
(``kill1,kill2`` — child A dies at kill1, child B restores and dies at
kill2, child C restores and completes), a per-batch committed-snapshot
size curve, and a timed audit-every-K overlay (the T4 integrity audit,
``operators/audit.py::audit_traces``, re-derives each K-th batch's
finalized traces from the facts and diffs them against the written
sink) so the audit overhead is measured, not asserted.

Usage:
    python examples/soak_chaos.py [n_traces] [n_batches] [kills] [audit_K]
        # defaults 100000 20 13 — the PERF.md soak configuration
        # kills: comma-separated batch ids, e.g. 7,14 for two cycles
Internal child mode (one incremental run in its own process/JVM):
    python examples/soak_chaos.py --child <work_dir> <fixture_dir>
        <n_batches> [kill_batch] [audit_every]
"""

from __future__ import annotations

import hashlib
import json
import os
import signal
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

BATCH_PLAN = "batch_plan.json"


def _spark(app: str):
    from ton_indexer_spark.session import get_spark

    return get_spark(app_name=app, shuffle_partitions=16)


def make_fixture(fixture_dir: str, n_traces: int, n_batches: int) -> None:
    """Generate the TON-shaped fixture and a deterministic in-order batch
    plan (contiguous mc_seqno slices) shared by every run."""
    import duckdb

    from tests.fixture_gen import generate

    generate(fixture_dir, n_traces=n_traces)
    con = duckdb.connect()
    seqnos = [
        r[0] for r in con.execute(
            "SELECT DISTINCT mc_block_seqno FROM read_parquet(?) ORDER BY 1",
            [os.path.join(fixture_dir, "transactions.parquet")],
        ).fetchall()
    ]
    step = len(seqnos) // n_batches + 1
    plan = [seqnos[i * step:(i + 1) * step] for i in range(n_batches)]
    with open(os.path.join(fixture_dir, BATCH_PLAN), "w") as f:
        json.dump([s for s in plan if s], f)


def _snap_bytes(state_dir: str) -> int:
    """Total bytes of COMMITTED snapshots currently on disk (the durable
    state footprint; includes the retained rewind target)."""
    total = 0
    if not os.path.isdir(state_dir):
        return 0
    for d in os.listdir(state_dir):
        if not d.startswith("snap="):
            continue
        for root, _, files in os.walk(os.path.join(state_dir, d)):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
    return total


def run_incremental(spark, work: str, fixture: str,
                    kill_batch: int | None = None,
                    audit_every: int | None = None) -> dict:
    """One incremental pass: resume from whatever snapshot exists in
    ``work/state``, re-deliver every batch after it, classify finalized
    traces, write batch-keyed outputs.  ``kill_batch``: SIGKILL this
    process MIDWAY through that batch's processing (a timer thread —
    the hardest crash shape: torn batch, no cleanup).  ``audit_every``:
    every K-th batch, re-derive the finalized traces from the facts and
    diff against the written sink (T4 audit), timed separately."""
    from pyspark.sql import functions as F

    from ton_indexer_spark.classifier import classify_traces
    from ton_indexer_spark.operators.audit import audit_traces
    from ton_indexer_spark.streaming import IncrementalTraceAssembler

    kill_mode = "mid"
    if isinstance(kill_batch, str):
        if kill_batch.endswith(":post"):
            kill_mode = "post"
            kill_batch = int(kill_batch[:-5])
        else:
            kill_batch = int(kill_batch)

    plan = json.load(open(os.path.join(fixture, BATCH_PLAN)))
    txs = spark.read.parquet(os.path.join(fixture, "transactions.parquet"))
    msgs = spark.read.parquet(os.path.join(fixture, "messages.parquet"))
    bodies = spark.read.parquet(
        os.path.join(fixture, "message_contents.parquet")
    )
    state_dir = os.path.join(work, "state")
    asm = IncrementalTraceAssembler(spark, state_dir=state_dir)
    out_dir = os.path.join(work, "out")
    os.makedirs(out_dir, exist_ok=True)
    # Restart protocol (the driver contract of
    # IncrementalTraceAssembler.process_batch): the assembler restores
    # from its last committed snapshot, and the DRIVER re-delivers every
    # batch after its own checkpoint — which in a real pipeline commits
    # only after the foreachBatch body (sinks included) completes.  The
    # harness's stand-in for that checkpoint is the batch-keyed sink
    # itself: a batch counts as delivered only when BOTH its output dirs
    # are committed.  Resuming from the snapshot id alone loses the batch
    # whose state persisted but whose sink write was cut by the crash
    # (caught by the two-cycle chaos run — the assembler rewinds on
    # redelivery, so re-delivering is safe).
    snaps = asm._snap_ids()
    start = (snaps[-1] + 1) if snaps else 0
    delivered = 0
    while all(
        os.path.exists(os.path.join(out_dir, f"batch={delivered}", t,
                                    "_SUCCESS"))
        for t in ("traces", "actions")
    ):
        delivered += 1
    start = min(start, delivered)
    stats = {"batches": 0, "finalized": 0, "actions": 0, "wall": 0.0,
             "audit_wall": 0.0, "audit_findings": 0}
    last_wall = 5.0
    for bid in range(start, len(plan)):
        if bid == kill_batch and kill_mode == "mid":
            # fire mid-batch: half of the previous batch's wall
            threading.Timer(
                last_wall / 2, os.kill, (os.getpid(), signal.SIGKILL)
            ).start()
        t0 = time.time()
        sl = plan[bid]
        bt = txs.filter(F.col("mc_block_seqno").isin(sl)).drop("trace_id")
        bm = msgs.filter(F.col("mc_seqno").isin(sl))
        r = asm.process_batch(bt, bm, batch_id=bid)
        if bid == kill_batch and kill_mode == "post":
            # deterministic worst-case crash point: the state snapshot
            # for this batch IS committed, the sink write has not
            # started — recovery must re-deliver this batch
            os.kill(os.getpid(), signal.SIGKILL)
        cls = classify_traces(r.final_transactions, r.final_messages, bodies)
        acts = (
            cls.actions.groupBy("trace_id", "type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        # batch-keyed idempotent sink: replay REPLACES the directory (T8)
        base = os.path.join(out_dir, f"batch={bid}")
        r.final_traces.select(
            "trace_id", "state", "nodes_", "edges_", "start_lt", "end_lt"
        ).write.mode("overwrite").parquet(os.path.join(base, "traces"))
        acts.write.mode("overwrite").parquet(os.path.join(base, "actions"))
        last_wall = time.time() - t0
        stats["batches"] += 1
        stats["wall"] += last_wall
        stats["finalized"] += r.final_traces.count()
        stats["actions"] += acts.agg(F.sum("n")).first()[0] or 0
        extra = {"snap_mb": round(_snap_bytes(state_dir) / 1e6, 2)}
        if audit_every and bid % audit_every == 0:
            # T4 integrity audit over THIS batch's finalized output:
            # re-assemble from the flushed facts, diff vs the written sink
            ta = time.time()
            findings = audit_traces(
                r.final_transactions.drop("trace_id"),
                r.final_messages.drop("trace_id"),
                spark.read.parquet(os.path.join(base, "traces")),
            ).count()
            stats["audit_wall"] += time.time() - ta
            stats["audit_findings"] += findings
            extra["audited"] = True
        print(json.dumps({"batch": bid, **stats, **extra}), flush=True)
    return stats


def output_hash(spark, work: str) -> str:
    """Canonical digest of the run's full finalized output (all batch
    dirs): the trace set and the per-trace action multiset."""
    traces = spark.read.parquet(os.path.join(work, "out", "batch=*",
                                             "traces"))
    acts = spark.read.parquet(os.path.join(work, "out", "batch=*",
                                           "actions"))
    t_rows = sorted(map(tuple, traces.collect()))
    a_rows = sorted(map(tuple, acts.collect()))
    digest = hashlib.sha256()
    for r in t_rows + a_rows:
        digest.update(repr(r).encode())
    return f"{len(t_rows)}t/{len(a_rows)}a/{digest.hexdigest()[:16]}"


def _first_batch(stdout: str) -> int | None:
    for line in stdout.splitlines():
        if line.startswith('{"batch"'):
            return json.loads(line)["batch"]
    return None


def chaos_run(work_root: str, fixture: str, n_batches: int,
              kill_batches: int | list[int]) -> dict:
    """One killed child per entry in ``kill_batches`` (each restores from
    the previous child's last committed snapshot before dying at ITS
    kill batch), then a final clean child that replays to completion.
    Every child gets its own process/JVM via subprocess."""
    if isinstance(kill_batches, (int, str)):
        kill_batches = [kill_batches]
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    cycles = []
    for k in sorted(kill_batches,
                    key=lambda s: int(str(s).split(":")[0])):
        a = subprocess.run(
            [sys.executable, __file__, "--child", work_root, fixture,
             str(n_batches), str(k)],
            env=env, capture_output=True, text=True,
        )
        cycles.append({
            "kill_batch": k,
            "killed_by_sigkill": a.returncode == -signal.SIGKILL,
            "started_at": _first_batch(a.stdout),
        })
    b = subprocess.run(
        [sys.executable, __file__, "--child", work_root, fixture,
         str(n_batches)],
        env=env, capture_output=True, text=True,
    )
    if b.returncode != 0:
        raise RuntimeError(f"resume child failed:\n{b.stdout[-2000:]}"
                           f"\n{b.stderr[-2000:]}")
    return {
        "cycles": cycles,
        "killed_by_sigkill": all(c["killed_by_sigkill"] for c in cycles),
        "resumed_from": _first_batch(b.stdout),
    }


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        work, fixture = sys.argv[2], sys.argv[3]
        kill = (sys.argv[5]
                if len(sys.argv) > 5 and sys.argv[5] != "-" else None)
        audit = int(sys.argv[6]) if len(sys.argv) > 6 else None
        spark = _spark("soak_child")
        run_incremental(spark, work, fixture, kill_batch=kill,
                        audit_every=audit)
        return

    import tempfile

    n_traces = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    kills = (sys.argv[3].split(",") if len(sys.argv) > 3 else ["13"])
    audit_every = int(sys.argv[4]) if len(sys.argv) > 4 else None
    root = tempfile.mkdtemp(prefix="soak_chaos_")
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    # SPARK_GRAFT_SOAK_FIXTURE: reuse a pre-generated fixture (the 1M
    # generation is minutes of driver-side python; build it once)
    fixture = os.environ.get("SPARK_GRAFT_SOAK_FIXTURE",
                             os.path.join(root, "fixture"))
    if os.path.exists(os.path.join(fixture, BATCH_PLAN)):
        print(f"workdir {root}: reusing fixture {fixture}", flush=True)
    else:
        print(f"workdir {root}: generating {n_traces} traces...",
              flush=True)
        t0 = time.time()
        make_fixture(fixture, n_traces, n_batches)
        print(f"fixture generated in {time.time() - t0:.1f}s", flush=True)

    # uninterrupted reference run (own process for a fair wall clock);
    # the audit overlay runs HERE so its overhead is measured against
    # the same run's pipeline wall
    t0 = time.time()
    cmd = [sys.executable, __file__, "--child",
           os.path.join(root, "ref"), fixture, str(n_batches)]
    if audit_every:
        cmd += ["-", str(audit_every)]  # kill placeholder, audit K
    ref = subprocess.run(cmd, capture_output=True, text=True, env=env)
    ref_wall = time.time() - t0
    if ref.returncode != 0:
        raise RuntimeError(f"reference run failed:\n{ref.stderr[-2000:]}")
    batch_lines = [json.loads(x) for x in ref.stdout.splitlines()
                   if x.startswith('{"batch"')]
    last = batch_lines[-1]
    print(f"reference: {last['finalized']:,} finalized, "
          f"{last['actions']:,} actions, {last['wall']:.1f}s work "
          f"({last['finalized']/last['wall']:,.0f} finalized traces/s "
          f"sustained), {ref_wall:.1f}s wall incl. startup", flush=True)
    snap_curve = [(b["batch"], b.get("snap_mb")) for b in batch_lines]
    print(f"snapshot curve (batch, MB): {snap_curve}", flush=True)
    if audit_every:
        print(f"audit overlay: every {audit_every} batches, "
              f"{last['audit_wall']:.1f}s total "
              f"({100 * last['audit_wall'] / last['wall']:.1f}% of "
              f"pipeline wall), {last['audit_findings']} findings",
              flush=True)

    info = chaos_run(os.path.join(root, "chaos"), fixture, n_batches,
                     kills)
    print(f"chaos: {info}", flush=True)

    spark = _spark("soak_verify")
    h_ref = output_hash(spark, os.path.join(root, "ref"))
    h_chaos = output_hash(spark, os.path.join(root, "chaos"))
    print(f"ref   : {h_ref}\nchaos : {h_chaos}", flush=True)
    assert info["killed_by_sigkill"], "child A was not SIGKILLed"
    assert h_ref == h_chaos, "restored run diverged from uninterrupted run"
    print("SOAK+CHAOS OK: restored state ≡ uninterrupted state", flush=True)


if __name__ == "__main__":
    main()
