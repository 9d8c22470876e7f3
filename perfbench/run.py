"""Benchmark of ton_indexer_spark: one named workload, one seed, one run.

    python3 perfbench/run.py --workload {api_reads,ingest,analytics} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Progress goes to stderr; the last line on
stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics, read from spans that are written to
``perfbench/.out/trace-<workload>-seed<N>.jsonl`` at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))  # the repository root

from perfbench import harness, wl_analytics, wl_api, wl_ingest  # noqa: E402
from perfbench.harness import metric  # noqa: E402

WORKLOADS = {"api_reads": wl_api, "ingest": wl_ingest,
             "analytics": wl_analytics}

# Every run reports every per-layer metric; a layer that a workload does
# not call reads 0 there (api_reads never assembles a trace, for one).
PER_LAYER_UNITS = {
    "spark.jobs_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.jobs_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "spark.jobs_per_query": "count",
    "session.peak_rss_mb": "MB",
    "api.request_ms_p50": "ms",
    "api.requests_per_s": "1/s",
    "api.build_ms_p50": "ms",
    "api.exec_ms_p50": "ms",
    **{f"api.route.{r}.p50_ms": "ms" for r in wl_api.ROUTES},
    "streaming.batch_s_p50": "s",
    "streaming.traces_per_s": "1/s",
    "streaming.assemble_s": "s",
    "streaming.batch_self_s": "s",
    "streaming.open_state_txs": "count",
    "streaming.snapshot_bytes": "bytes",
    "streaming.broken_traces_split": "count",
    "classifier.build_s": "s",
    "classifier.pending_s": "s",
    "classifier.actions_emitted": "count",
    **{f"sources.write_s.{t}": "s" for t in wl_ingest.SINK_TABLES},
    "sources.merge_dimension_s": "s",
    "sources.bytes_written": "bytes",
    "analytics.round_s": "s",
    "analytics.queries_per_s": "1/s",
    **{f"analytics.build_s.{q}": "s" for q in wl_analytics.QUERIES},
    **{f"analytics.run_s.{q}": "s" for q in wl_analytics.QUERIES},
}


class Context:
    """What a workload gets: its seed and time, the clock, the tracer,
    the Spark session once started, and a private work directory."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, clock: harness.Clock) -> None:
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.clock = clock
        self.tracer = harness.Tracer(clock, trace)
        self.work = harness.fresh_dir(
            os.path.join(harness.CACHE_DIR, f"run-{os.getpid()}"))
        self.spark = None
        self.jobs = None
        self.setup_s = None
        self.sampler = None
        self.peak_rss_mb = None
        self.cpu_s = None
        self._t0 = None
        self._cpu0 = None

    def log(self, msg: str) -> None:
        print(f"# [{self.workload} seed={self.seed} "
              f"t={self.clock.now():.1f}s] {msg}", file=sys.stderr, flush=True)

    def fixture(self, n_traces: int) -> str:
        """A generated TON store (tests/fixture_gen.py) for this run's seed,
        cached on disk per (size, seed); generating it is left out of
        set-up time."""
        seed = self.seed
        path = os.path.join(harness.CACHE_DIR, "fixtures",
                            f"ton-n{n_traces}-s{seed}")
        if not os.path.exists(os.path.join(path, "_DONE")):
            with self.clock.excluded_from_setup():
                from tests.fixture_gen import generate

                tmp = harness.fresh_dir(path + f".tmp-{os.getpid()}")
                generate(tmp, n_traces=n_traces, seed=seed)
                open(os.path.join(tmp, "_DONE"), "w").close()
                shutil.rmtree(path, ignore_errors=True)
                os.rename(tmp, path)
        return path

    def start_spark(self):
        self.spark = harness.start_spark(self.work)
        if self.tracer.enabled:
            self.jobs = harness.JobCounter(self.spark)
        return self.spark

    def job_group(self, group_id: str, out: dict):
        if self.jobs is None:
            return contextlib.nullcontext()
        return self.jobs.group(group_id, out)

    def begin_measure(self) -> None:
        self.setup_s = self.clock.setup_s()
        self.log(f"set-up done in {self.setup_s:.2f}s; measuring")
        self._t0 = time.perf_counter()
        self._cpu0 = harness.tree_cpu_s(os.getpid())

    def measure_elapsed(self) -> float:
        return time.perf_counter() - self._t0

    def end_measure(self) -> float:
        wall = self.measure_elapsed()
        self.cpu_s = harness.tree_cpu_s(os.getpid()) - self._cpu0
        self.tracer.stop()
        if self.sampler is not None:
            self.peak_rss_mb = self.sampler.stop()
        return wall

    def cpu_ms_per_op(self, ops: int) -> dict:
        """The end-to-end cost metric: CPU time of the whole process tree
        (client, JVM, Python workers) over the timed region, per
        operation."""
        return metric(self.cpu_s * 1e3 / max(1, ops), "ms")

    def close(self) -> None:
        if self.spark is not None:
            harness.stop_spark(self.spark)
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)


def main(argv=None) -> int:
    clock = harness.Clock()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(harness.REPO_ROOT, "ton_indexer_spark")):
        print("perfbench: ton_indexer_spark/ not found next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    module = WORKLOADS[args.workload]

    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace),
                  clock)
    if args.trace:
        ctx.sampler = harness.RssSampler().start()
    try:
        problems, attempted, failed, e2e, layer = module.run(ctx)
    finally:
        if ctx.sampler is not None and ctx.peak_rss_mb is None:
            ctx.sampler.stop()
        ctx.close()
    for p in problems:
        ctx.log(f"CHECK FAILED: {p}")

    if args.trace:
        ctx.tracer.write(os.path.join(
            harness.OUT_DIR, f"trace-{args.workload}-seed{args.seed}.jsonl"))
        layer["session.peak_rss_mb"] = ctx.peak_rss_mb
        metrics = {name: metric(float(layer.get(name, 0.0)), unit)
                   for name, unit in PER_LAYER_UNITS.items()}
    else:
        metrics = {"setup_s": metric(ctx.setup_s, "s"), **e2e}
    print(harness.result_line(not problems, attempted, failed, metrics),
          flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
