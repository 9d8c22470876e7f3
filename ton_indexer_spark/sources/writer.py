"""Parquet writers implementing the reference's two write disciplines
(SURVEY.md §2.1 S3/S4).

1. **Batch-keyed facts** (transactions/traces/actions): the reference
   bulk-COPYs per seqno into Postgres and mirrors into ClickHouse with
   explicit ORDER BY sort keys (InsertManagerClickhouse.cpp:186,219).
   Spark analog: every micro-batch carries an id (``foreachBatch``
   supplies it) and lands in its own ``batch=<id>`` directory, partitioned
   by a coarse time bucket (``mc_bucket = mc_seqno div bucket_size``) with
   rows pre-sorted *within partitions* by the query-path sort key —
   parquet row-group min/max then prunes both by partition (time) and by
   sort column (lt/hash point lookups), replacing the reference's 40 btree
   indexes.  A redelivered batch replaces its directory.

2. **Dimension last-writer-wins merge** (latest_account_states, jetton
   wallets, NFT items, …): the reference upserts keeping max
   ``last_transaction_lt`` (InsertManagerPostgres.cpp:1019-1460), ClickHouse
   uses ReplacingMergeTree(ver).  Spark analog: read-current ∪ delta →
   window-latest per key → atomic directory swap.  Idempotent (re-running a
   batch converges to the same table state — the reference's ON CONFLICT
   fallback, :1746-1748).

Every replacement goes through ``_swap_dir``: the new directory is written
under a dot-prefixed temp name and renamed in, the old one renamed aside
to a dot-prefixed name and removed, so partition discovery never lists a
temp or aside directory.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ton_indexer_spark.operators.windows import latest_by

DEFAULT_BUCKET = 1_000_000


def with_mc_bucket(df: DataFrame, seqno_col: str = "mc_block_seqno",
                   bucket_size: int = DEFAULT_BUCKET) -> DataFrame:
    return df.withColumn("mc_bucket", F.expr(f"`{seqno_col}` div {bucket_size}"))


def _hidden(dest: str, tag: str) -> str:
    """A fresh dot-prefixed sibling of ``dest``: partition discovery skips
    names starting with a dot, so readers of the table never list it."""
    head, name = os.path.split(dest)
    return os.path.join(head, f".{tag}-{name}-{uuid.uuid4().hex[:8]}")


def _swap_dir(src: str, dest: str) -> None:
    """Move the finished directory ``src`` to ``dest``, replacing whatever
    is there: the old directory is renamed aside to a hidden sibling, the
    new one renamed in, then the old one removed.  Readers see the old or
    the new directory, never a half-written one (single writer)."""
    old = _hidden(dest, "old")
    if os.path.exists(dest):
        os.rename(dest, old)
    os.rename(src, dest)
    if os.path.exists(old):
        shutil.rmtree(old)


DIM_BUCKETS = 64  # key-hash partitions per dimension table


def _with_key_bucket(df: DataFrame, key: Sequence[str],
                     n_buckets: int) -> DataFrame:
    return df.withColumn(
        "kb",
        F.pmod(F.xxhash64(*[F.col(k) for k in key]), F.lit(n_buckets))
        .cast("int"),
    )


def write_facts_batch(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    batch_id: int,
    seqno_col: str = "mc_block_seqno",
    bucket_size: int = DEFAULT_BUCKET,
) -> None:
    """Idempotent T8 fact sink for at-least-once streaming delivery.

    Each micro-batch lands in its own ``batch=<id>`` subdirectory, written
    to a hidden temp dir and swapped in: a redelivered batch (crash between
    sink write and checkpoint commit) REPLACES its directory instead of
    appending duplicate rows — exactly-once table effect without a
    transaction log.  Readers scan the root; partition discovery exposes
    batch and mc_bucket as columns and prunes both."""
    out = with_mc_bucket(df, seqno_col, bucket_size)
    dest = os.path.join(path, f"batch={batch_id}")
    tmp = _hidden(dest, "tmp")
    (
        out.repartition("mc_bucket")
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .partitionBy("mc_bucket")
        .parquet(tmp)
    )
    _swap_dir(tmp, dest)


def _resolve_n_buckets(path: str, n_buckets: int) -> tuple[int, str]:
    """(effective bucket count, marker path) — the persisted ``_n_buckets``
    marker wins over the parameter so no caller can prune wrong buckets."""
    marker = os.path.join(path, "_n_buckets")
    if os.path.exists(marker):
        with open(marker) as fh:
            return int(fh.read().strip()), marker
    return n_buckets, marker


def merge_dimension(
    spark: SparkSession,
    delta: DataFrame,
    path: str,
    key: Sequence[str],
    version_col: str = "last_transaction_lt",
    tiebreakers: Sequence[str] = (),
    n_buckets: int = DIM_BUCKETS,
) -> None:
    """Last-writer-wins upsert of ``delta`` into the dimension at ``path``.

    The dimension is laid out as ``kb=<hash(key) % n_buckets>`` partitions;
    a merge touches ONLY the buckets containing delta keys: read those
    buckets (partition-pruned scan) ∪ delta → window-latest → swap just
    those bucket directories (the scale analog of the reference's keyed
    upsert, InsertManagerPostgres.cpp:1019-1460).

    Per-batch I/O grows with the number of buckets the delta's keys touch,
    not with the delta: each touched bucket is read and rewritten whole.
    ``k`` distinct keys touch about ``n_buckets · (1 − (1 − 1/n_buckets)^k)``
    buckets, so once ``k`` nears ``n_buckets`` a merge rewrites nearly the
    whole table — an ``ingest`` drop of ~200 accounts touches 61 of the 64
    ``latest_account_states`` buckets.  Only batches with few keys per
    bucket count stay O(delta).

    Idempotent (re-running a batch converges — the reference's ON CONFLICT
    fallback, :1746-1748); per-bucket swaps are atomic under the
    single-writer assumption, and untouched bucket files are never opened
    or rewritten.

    The bucket count is persisted in a ``_n_buckets`` marker at table
    creation and overrides the parameter on later calls (same contract as
    ``replace_by_key``): a caller passing a different ``n_buckets`` would
    hash keys into DIFFERENT buckets and leave the old row version alive
    in its original bucket — silently breaking last-writer-wins.
    """
    n_buckets, marker = _resolve_n_buckets(path, n_buckets)
    delta_b = _with_key_bucket(delta, key, n_buckets)
    if not os.path.exists(path):
        latest = latest_by(delta_b, key, version_col, tiebreakers=tiebreakers)
        latest.write.mode("overwrite").partitionBy("kb").parquet(path)
        with open(marker, "w") as fh:
            fh.write(str(n_buckets))
        return
    if not os.path.exists(marker):
        with open(marker, "w") as fh:  # adopt pre-marker tables as-is
            fh.write(str(n_buckets))
    affected = sorted(
        r[0] for r in delta_b.select("kb").distinct().collect()
    )
    current = spark.read.parquet(path).filter(F.col("kb").isin(affected))
    merged = current.unionByName(delta_b, allowMissingColumns=True)
    latest = latest_by(merged, key, version_col, tiebreakers=tiebreakers)
    _write_and_swap_buckets(latest, path, affected)


def _write_and_swap_buckets(
    df: DataFrame, path: str, affected: Sequence[int]
) -> None:
    """Write ``df`` kb-partitioned to a temp dir, then swap ONLY the
    ``affected`` bucket directories into ``path``.  Untouched bucket files
    are never opened or rewritten; each bucket swap is atomic under the
    single-writer assumption."""
    tmp = _hidden(path, "tmp")
    df.write.mode("overwrite").partitionBy("kb").parquet(tmp)
    for kb in affected:
        src = os.path.join(tmp, f"kb={kb}")
        if os.path.exists(src):  # a bucket without rows has nothing new
            _swap_dir(src, os.path.join(path, f"kb={kb}"))
    shutil.rmtree(tmp)


def replace_by_key(
    spark: SparkSession,
    path: str,
    delta: DataFrame,
    key: Sequence[str],
    n_buckets: int = DIM_BUCKETS,
) -> None:
    """Replace all rows sharing a key with ``delta``'s rows — the engine's
    reclassification primitive (the reference deletes-then-reinserts actions
    per trace, indexer/event_classifier.py:261-267).  Idempotent: applying
    the same delta twice converges.

    Scale path: the table is laid out as ``kb=<hash(key) % n_buckets>``
    partitions (same discipline as ``merge_dimension``), and a
    reclassification batch rewrites ONLY the buckets containing delta keys.
    Per-batch I/O therefore grows with the number of buckets those keys
    touch, each rewritten whole: a delta with about as many keys as
    buckets rewrites nearly the whole table (see ``merge_dimension``).
    Readers see either the old or the new classification of a trace, never
    a mix (per-bucket atomic swap; the key hash pins every key to one
    bucket).

    The bucket count is persisted in a ``_n_buckets`` marker at table
    creation and takes precedence over the parameter on later calls: a
    caller passing a different ``n_buckets`` would hash keys into
    DIFFERENT buckets, prune the wrong directories, and leave stale rows
    alive — silently.
    """
    n_buckets, marker = _resolve_n_buckets(path, n_buckets)
    delta_b = _with_key_bucket(delta, key, n_buckets)
    if not os.path.exists(path):
        delta_b.write.mode("overwrite").partitionBy("kb").parquet(path)
        with open(marker, "w") as fh:
            fh.write(str(n_buckets))
        return
    if not os.path.exists(marker):
        with open(marker, "w") as fh:  # adopt pre-marker tables as-is
            fh.write(str(n_buckets))
    affected = sorted(
        r[0] for r in delta_b.select("kb").distinct().collect()
    )
    current = spark.read.parquet(path).filter(F.col("kb").isin(affected))
    keep = current.join(delta_b.select(*key).distinct(), list(key), "left_anti")
    merged = keep.unionByName(delta_b, allowMissingColumns=True)
    _write_and_swap_buckets(merged, path, affected)


def atomic_replace(df: DataFrame, path: str) -> None:
    """Write ``df`` (whose plan may read from ``path``) to a temp dir, then
    swap directories.  Needed whenever a table is rebuilt from itself —
    a plain overwrite deletes the input files before the lazy plan reads
    them.  Readers never observe a half-written table."""
    tmp = _hidden(path, "tmp")
    df.write.mode("overwrite").parquet(tmp)
    _swap_dir(tmp, path)
