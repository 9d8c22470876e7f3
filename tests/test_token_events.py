"""Derived token-event tables + blocks plan + compaction."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.test_classifier import A, TraceBuilder, W1, W2, body_of, build_dfs
from ton_indexer_spark.classifier.matchers import JETTON_BURN, JETTON_TRANSFER


def test_derive_jetton_transfers_decodes_body(spark):
    from ton_indexer_spark.operators.token_events import (
        derive_jetton_burns,
        derive_jetton_transfers,
    )

    b = TraceBuilder("ev1")
    root = b.tx(A[0], None)
    b.chain(root, W1, opcode=JETTON_TRANSFER,
            body=body_of({"amount": 4242, "destination": A[3], "query_id": 9}))
    b2 = TraceBuilder("ev2")
    r2 = b2.tx(A[1], None)
    b2.chain(r2, W2, opcode=JETTON_BURN, body=body_of({"amount": 77}))

    txs_df, msgs, bodies_df = build_dfs(spark, [b, b2])
    txs = txs_df.withColumn("mc_block_seqno", F.lit(1)).withColumn(
        "trace_id", F.lit("t")
    )
    jw = spark.createDataFrame(
        [(W1, "0:master1"), (W2, "0:master2")], "address string, jetton string"
    )
    jt = derive_jetton_transfers(txs, msgs, bodies_df, jw).collect()
    assert len(jt) == 1
    r = jt[0]
    assert r["amount"] == 4242 and r["destination"] == A[3]
    assert r["query_id"] == 9
    assert r["jetton_wallet_address"] == W1
    assert r["jetton_master_address"] == "0:master1"
    assert r["source"] == A[0]

    jb = derive_jetton_burns(txs, msgs, bodies_df, jw).collect()
    assert len(jb) == 1
    assert jb[0]["amount"] == 77 and jb[0]["owner"] == A[1]
    assert jb[0]["jetton_master_address"] == "0:master2"


def test_blocks_query(spark, fixture_dir):
    import duckdb

    from ton_indexer_spark.catalog import Catalog
    from ton_indexer_spark.plans.blocks import block_exists, blocks_query

    cat = Catalog(spark, fixture_dir)
    got = blocks_query(cat, workchain=-1, sort="asc", limit=50)
    con = duckdb.connect()
    want = [
        tuple(map(str, r))
        for r in con.execute(
            f"""
            SELECT seqno, gen_utime
            FROM read_parquet('{fixture_dir}/blocks.parquet')
            WHERE workchain = -1
            ORDER BY gen_utime ASC, workchain, shard, seqno LIMIT 50
            """
        ).fetchall()
    ]
    assert [
        (str(r["seqno"]), str(r["gen_utime"])) for r in got.collect()
    ] == want
    first = got.first()
    assert block_exists(cat, -1, first["seqno"])
    assert not block_exists(cat, -1, 10**9)


def test_compaction_preserves_data(spark, fixture_dir, tmp_path):
    from ton_indexer_spark.sources.compact import compact_facts
    from ton_indexer_spark.sources.writer import with_mc_bucket

    txs = spark.read.parquet(f"{fixture_dir}/transactions.parquet")
    path = str(tmp_path / "facts")
    # simulate many small appends into each mc_bucket partition
    for i in range(12):
        (
            with_mc_bucket(txs.filter(F.col("lt") % 12 == i))
            .repartition("mc_bucket")
            .sortWithinPartitions("lt", "account", "hash")
            .write.mode("append")
            .partitionBy("mc_bucket")
            .parquet(path)
        )
    # collect BEFORE compaction — the lazy plan would re-read swapped files
    before_hashes = sorted(
        r["hash"] for r in spark.read.parquet(path).collect()
    )
    n_before = len(before_hashes)
    rewritten = compact_facts(
        spark, path, sort_cols=["lt", "account", "hash"],
        max_files_per_partition=4,
    )
    assert rewritten  # at least one partition was fragmented
    after = spark.read.parquet(path)
    assert after.count() == n_before
    assert sorted(r["hash"] for r in after.collect()) == before_hashes
    for part, n_files in rewritten.items():
        pdir = os.path.join(path, part)
        now = len([f for f in os.listdir(pdir) if f.endswith(".parquet")])
        assert now < n_files


def test_token_event_amount_survives_uint128(spark):
    """from_json must decode a >2^63 amount into DECIMAL(38,0) exactly —
    the int64 schema this replaced would overflow (SURVEY §1.3)."""
    from ton_indexer_spark.operators.token_events import derive_jetton_transfers

    big = 2 ** 100
    b = TraceBuilder("ovf1")
    root = b.tx(A[0], None)
    b.chain(root, W1, opcode=JETTON_TRANSFER,
            body=body_of({"amount": big, "destination": A[3]}))
    txs_df, msgs, bodies_df = build_dfs(spark, [b])
    txs = txs_df.withColumn("mc_block_seqno", F.lit(1))
    rows = derive_jetton_transfers(txs, msgs, bodies_df).collect()
    assert len(rows) == 1
    assert int(rows[0]["amount"]) == big
    assert dict(rows[0].asDict())["amount"].__class__.__name__ == "Decimal"
