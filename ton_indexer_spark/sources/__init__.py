"""Sources & sinks: parquet fact/dimension writers and streaming wiring."""

from ton_indexer_spark.sources.writer import merge_dimension, write_facts_batch

__all__ = ["write_facts_batch", "merge_dimension"]
