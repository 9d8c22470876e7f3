"""Chaos-recovery test: SIGKILL mid-batch, restore, converge (T2/T3/T8).

Pytest-scale version of examples/soak_chaos.py (the PERF.md soak runs
100k traces / 20 batches): a child process is hard-killed by a timer
thread HALFWAY THROUGH a batch — torn snapshot writes included — and a
fresh process restores from the last committed snapshot and replays.
The restored run's full output (finalized trace set + per-trace action
multiset, both hashed) must equal an uninterrupted run's.

Child processes get their own JVMs: killing the shared test session
would take the whole suite down, and a real crash kills driver +
executors together anyway.
"""

from __future__ import annotations

import importlib.util
import json
import os
import signal
import subprocess
import sys

import pytest

from tests.conftest import driver_heap, host_ram

_spec = importlib.util.spec_from_file_location(
    "soak_chaos",
    os.path.join(os.path.dirname(__file__), "..", "examples",
                 "soak_chaos.py"),
)
soak = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(soak)

N_TRACES, N_BATCHES, KILL_AT = 2_500, 8, 4
# the session's host-RAM heap rule, capped at 6g, so a small host does not
# start the children with a heap it cannot hold
CHILD_HEAP = driver_heap(host_ram(), cap_mb=6 * 1024)


@pytest.fixture(scope="module")
def soak_root(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("soak"))
    soak.make_fixture(os.path.join(root, "fixture"), N_TRACES, N_BATCHES)
    return root


def _child(root: str, sub: str, kill: int | str | None):
    cmd = [sys.executable, soak.__file__, "--child",
           os.path.join(root, sub), os.path.join(root, "fixture"),
           str(N_BATCHES)]
    if kill is not None:
        cmd.append(str(kill))
    return subprocess.run(
        cmd, capture_output=True, text=True,
        env=dict(os.environ, SPARK_GRAFT_DRIVER_MEM=CHILD_HEAP),
    )


def test_sigkill_restore_converges(spark, soak_root):
    ref = _child(soak_root, "ref", None)
    assert ref.returncode == 0, ref.stderr[-2000:]

    a = _child(soak_root, "chaos", KILL_AT)
    assert a.returncode == -signal.SIGKILL, (
        f"child A exited {a.returncode}, expected SIGKILL"
    )
    # The kill is a wall-clock timer (last_wall/2 into batch KILL_AT), so
    # under ambient load it races the batch commit: the torn batch is
    # USUALLY KILL_AT but can be a later one if KILL_AT committed fast.
    # The exact resume point the restart protocol dictates is derived
    # from child A's torn on-disk state — min(last committed snapshot+1,
    # first batch whose sinks are not both committed) — and the restored
    # child must start exactly there, never from scratch.
    state = os.path.join(soak_root, "chaos", "state")
    snaps = [
        int(d.split("=", 1)[1]) for d in os.listdir(state)
        if d.startswith("snap=") and all(
            os.path.exists(os.path.join(state, d, t, "_SUCCESS"))
            for t in ("txs", "msgs"))
    ]
    delivered = 0
    while all(
        os.path.exists(os.path.join(soak_root, "chaos", "out",
                                    f"batch={delivered}", t, "_SUCCESS"))
        for t in ("traces", "actions")
    ):
        delivered += 1
    expected = min(max(snaps) + 1 if snaps else 0, delivered)
    assert expected < N_BATCHES, "kill landed after the final batch"

    b = _child(soak_root, "chaos", None)
    assert b.returncode == 0, b.stderr[-2000:]
    first = next(json.loads(x)["batch"] for x in b.stdout.splitlines()
                 if x.startswith('{"batch"'))
    # everything before the kill batch was delivered pre-kill, so the
    # resume point sits at KILL_AT or later — but exactly at `expected`
    assert KILL_AT <= first == expected

    h_ref = soak.output_hash(spark, os.path.join(soak_root, "ref"))
    h_chaos = soak.output_hash(spark, os.path.join(soak_root, "chaos"))
    assert h_ref == h_chaos
    # and the state dir holds no uncommitted garbage snapshots
    state = os.path.join(soak_root, "chaos", "state")
    for d in os.listdir(state):
        if d.startswith("snap="):
            for t in ("txs", "msgs"):
                assert os.path.exists(os.path.join(state, d, t, "_SUCCESS"))


def test_post_persist_kill_redelivers(spark, soak_root):
    """Deterministic worst-case crash point: SIGKILL right AFTER the
    batch's state snapshot commits but BEFORE its sink dirs are written.
    Recovery must re-deliver that batch (the assembler rewinds to the
    prior snapshot; the batch-keyed sink replaces) — resuming from the
    snapshot id alone would silently lose the batch's outputs."""
    ref = _child(soak_root, "ref2", None)
    assert ref.returncode == 0, ref.stderr[-2000:]

    a = _child(soak_root, "chaos2", f"{KILL_AT}:post")
    assert a.returncode == -signal.SIGKILL
    # the torn batch's snapshot IS committed...
    state = os.path.join(soak_root, "chaos2", "state")
    snaps = [int(d.split("=")[1]) for d in os.listdir(state)
             if d.startswith("snap=")]
    assert KILL_AT in snaps
    # ...and its sink dirs are NOT
    assert not os.path.exists(os.path.join(
        soak_root, "chaos2", "out", f"batch={KILL_AT}", "traces",
        "_SUCCESS"))

    b = _child(soak_root, "chaos2", None)
    assert b.returncode == 0, b.stderr[-2000:]
    first = next(json.loads(x)["batch"] for x in b.stdout.splitlines()
                 if x.startswith('{"batch"'))
    assert first == KILL_AT, "resume must re-deliver the torn batch"

    h_ref = soak.output_hash(spark, os.path.join(soak_root, "ref2"))
    h_chaos = soak.output_hash(spark, os.path.join(soak_root, "chaos2"))
    assert h_ref == h_chaos
