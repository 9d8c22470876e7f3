"""The package attributes the ``ingest`` benchmark hooks, checked JVM-free.

``perfbench/wl_ingest.py`` times a traced run by wrapping module and class
attributes by name, and its checks import the assembler's state columns.
A refactor that renames or moves one of them breaks only traced benchmark
runs, and silently: the wrap raises, or no span fires and a per-layer
metric reads 0.  This test fails instead.
"""

from __future__ import annotations

import importlib

import pytest

# (module, attribute path) of every callable the benchmark wraps or calls
HOOKS = [
    ("ton_indexer_spark.streaming.ingest", "write_facts_batch"),
    ("ton_indexer_spark.streaming.ingest", "merge_dimension"),
    ("ton_indexer_spark.streaming.ingest", "IngestPipeline.process_batch"),
    ("ton_indexer_spark.streaming.ingest", "IngestPipeline.run_available_now"),
    ("ton_indexer_spark.sources.writer", "atomic_replace"),
    ("ton_indexer_spark.classifier", "classify_traces"),
    ("ton_indexer_spark.streaming.trace_assembler",
     "IncrementalTraceAssembler.process_batch"),
    ("ton_indexer_spark.streaming.trace_assembler",
     "IncrementalTraceAssembler.open_rows"),
]


def _resolve(module: str, path: str):
    obj = importlib.import_module(module)
    for name in path.split("."):
        obj = getattr(obj, name)
    return obj


@pytest.mark.parametrize("module,path", HOOKS,
                         ids=[f"{m}.{p}" for m, p in HOOKS])
def test_wrapped_attribute_is_callable(module, path):
    assert callable(_resolve(module, path))


@pytest.mark.parametrize("name", ["_TX_STATE_COLS", "_MSG_STATE_COLS"])
def test_state_columns_are_named(name):
    cols = _resolve("ton_indexer_spark.streaming.trace_assembler", name)
    assert cols and all(isinstance(c, str) for c in cols)


def test_pending_replace_is_not_bound_at_import():
    """The pending overlay's ``atomic_replace`` is wrapped on
    ``sources.writer``; ``IngestPipeline.process_batch`` sees the wrapper
    only if it looks the name up there when it runs, not if the ingest
    module binds its own copy at import."""
    import ton_indexer_spark.streaming.ingest as ingest

    assert not hasattr(ingest, "atomic_replace")
