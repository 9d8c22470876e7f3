"""T5/T6/T7: classification-in-stream, pending overlay, push fan-out."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def test_pipeline_with_classification_and_push(spark, fixture_dir, tmp_path):
    from ton_indexer_spark.streaming.ingest import IngestPipeline

    txs = spark.read.parquet(f"{fixture_dir}/transactions.parquet").drop("trace_id")
    msgs = spark.read.parquet(f"{fixture_dir}/messages.parquet").drop("trace_id")
    contents = spark.read.parquet(f"{fixture_dir}/message_contents.parquet")
    jw = spark.read.parquet(f"{fixture_dir}/jetton_wallets.parquet")

    channels: dict[str, list] = {}

    def publisher(channel: str, payloads: list[dict]) -> None:
        channels.setdefault(channel, []).extend(payloads)

    out = str(tmp_path / "out")
    pipe = IngestPipeline(
        spark,
        out_dir=out,
        state_dir=str(tmp_path / "state"),
        classify=True,
        message_contents=contents,
        jetton_wallets=jw,
        publisher=publisher,
    )

    seqnos = sorted(r[0] for r in txs.select("mc_block_seqno").distinct().collect())
    mid = seqnos[len(seqnos) // 2]
    pipe.process_batch(
        txs.filter(F.col("mc_block_seqno") <= mid),
        msgs.filter(F.col("mc_seqno") <= mid),
    )
    pipe.process_batch(
        txs.filter(F.col("mc_block_seqno") > mid),
        msgs.filter(F.col("mc_seqno") > mid),
    )

    actions = spark.read.parquet(os.path.join(out, "actions"))
    assert actions.count() > 0
    assert actions.filter(F.col("trace_end_lt").isNull()).count() == 0
    aa = spark.read.parquet(os.path.join(out, "action_accounts"))
    assert aa.count() >= actions.count()

    # T7: both channels got payloads with finality markers
    assert set(channels) == {"traces", "transactions",
                             "confirmed_transactions"}
    assert all(p["finality"] == "finalized" for p in channels["traces"])

    # flushed transactions cover every finalized trace exactly
    flushed = spark.read.parquet(os.path.join(out, "transactions"))
    traces = spark.read.parquet(os.path.join(out, "traces"))
    assert (
        flushed.select("trace_id").distinct().count()
        == traces.select("trace_id").distinct().count()
    )

    # T6: provisional actions exist for the still-pending traces
    pending_actions = spark.read.parquet(os.path.join(out, "pending_actions"))
    assert pending_actions.count() > 0
    assert {r["finality"] for r in pending_actions.collect()} == {"pending"}
    assert (
        pending_actions.join(traces.select("trace_id"), "trace_id", "left_semi")
        .count() == 0
    )  # pending overlay never overlaps finalized traces


def test_pending_overlay_tracks_open_traces(spark, fixture_dir, tmp_path):
    """The overlay comes from the batch's one classification: after each
    batch pending_actions holds exactly the actions of the traces still
    open, and the batch that closes the last open trace empties it."""
    from ton_indexer_spark.classifier import classify_traces
    from ton_indexer_spark.streaming.ingest import IngestPipeline

    truth = spark.read.parquet(f"{fixture_dir}/traces.parquet")
    # the traces that have closed by the end of the fixture
    closing = truth.filter(F.col("pending_edges_") == 0)
    txs = spark.read.parquet(f"{fixture_dir}/transactions.parquet").join(
        closing.select("trace_id"), "trace_id", "left_semi")
    msgs = spark.read.parquet(f"{fixture_dir}/messages.parquet").join(
        closing.select("trace_id"), "trace_id", "left_semi")
    contents = spark.read.parquet(f"{fixture_dir}/message_contents.parquet")
    jw = spark.read.parquet(f"{fixture_dir}/jetton_wallets.parquet")
    # cut where the most closing traces straddle the batch boundary
    spans = [(r[0], r[1]) for r in closing.select(
        "mc_seqno_start", "mc_seqno_end").collect()]
    cut = max(sorted({s for s, _ in spans}),
              key=lambda c: sum(s <= c < e for s, e in spans))

    out = str(tmp_path / "out")
    pipe = IngestPipeline(spark, out_dir=out, state_dir=str(tmp_path / "state"),
                          classify=True, message_contents=contents,
                          jetton_wallets=jw)

    def overlay():
        return sorted(
            str(tuple(r)) for r in spark.read.parquet(
                os.path.join(out, "pending_actions")).drop("finality").collect())

    pipe.process_batch(
        txs.filter(F.col("mc_block_seqno") <= cut).drop("trace_id"),
        msgs.filter(F.col("mc_seqno") <= cut).drop("trace_id"), batch_id=0)
    open_txs, open_msgs = pipe.assembler.open_rows()
    assert open_txs.count() > 0
    cls = classify_traces(open_txs, open_msgs, contents, jw)
    want = sorted(str(tuple(r)) for r in cls.actions.collect())
    cls.unpersist()
    assert want and overlay() == want

    pipe.process_batch(
        txs.filter(F.col("mc_block_seqno") > cut).drop("trace_id"),
        msgs.filter(F.col("mc_seqno") > cut).drop("trace_id"), batch_id=1)
    assert pipe.assembler.open_trace_count() == 0
    assert overlay() == []


def test_pending_overlay(spark, fixture_dir):
    from ton_indexer_spark.catalog import Catalog
    from ton_indexer_spark.plans import traces_query
    from ton_indexer_spark.plans.traces import pending_overlay

    cat = Catalog(spark, fixture_dir)
    finalized = cat.traces.filter(F.col("state") != "pending")
    pending = cat.traces.filter(F.col("state") == "pending")

    over = pending_overlay(finalized, pending)
    counts = {r["finality"]: r["count"]
              for r in over.groupBy("finality").count().collect()}
    assert counts["pending"] == pending.count()
    assert counts["finalized"] == finalized.count()

    # finalized rows shadow same-id pending rows
    over2 = pending_overlay(cat.traces, pending)
    assert over2.filter(F.col("finality") == "pending").count() == 0


def test_nsfw_presentation_transform(spark):
    from ton_indexer_spark.functions.presentation import (
        BLUR_PLACEHOLDER,
        apply_nsfw_policy,
    )

    df = spark.createDataFrame(
        [
            ("a", "https://x/1.png", False),
            ("b", "https://x/2.png", True),
            ("c", None, False),
        ],
        "address string, image string, nsfw boolean",
    )
    rows = {r["address"]: r["image"]
            for r in apply_nsfw_policy(df).collect()}
    assert rows["b"] == BLUR_PLACEHOLDER
    assert rows["a"].startswith("https://imgproxy.local/")
    assert rows["c"] is None


def test_reclassification_replaces_per_trace(spark, fixture_dir, tmp_path):
    """Reclassifying a trace replaces exactly its actions (delete-then-
    reinsert semantics, idempotent)."""
    from pyspark.sql import functions as F

    from ton_indexer_spark.sources.writer import replace_by_key

    actions = spark.read.parquet(f"{fixture_dir}/actions.parquet")
    path = str(tmp_path / "actions")
    actions.write.parquet(path)

    victims = [r[0] for r in actions.select("trace_id").distinct().limit(3).collect()]
    # one replacement action per victim trace (the reclassifier's output)
    new_rows = (
        actions.filter(F.col("trace_id").isin(victims))
        .dropDuplicates(["trace_id"])
        .withColumn("type", F.lit("reclassified"))
    )
    replace_by_key(spark, path, new_rows, key=["trace_id"])
    replace_by_key(spark, path, new_rows, key=["trace_id"])  # idempotent

    after = spark.read.parquet(path)
    got_victim = after.filter(F.col("trace_id").isin(victims))
    assert got_victim.count() == len(victims)
    assert {r["type"] for r in got_victim.collect()} == {"reclassified"}
    # untouched traces keep their original action count
    assert (
        after.filter(~F.col("trace_id").isin(victims)).count()
        == actions.filter(~F.col("trace_id").isin(victims)).count()
    )


def test_emulated_externals_classify_as_pending(spark):
    """C8 input-path seam: external message → (fake-)emulated pending
    trace rows → the same classifier → a pending action, evictable by
    trace_id on finalization.  Swapping the fake for a real TVM keeps
    every contract here."""
    from ton_indexer_spark.classifier.classify import classify_traces
    from ton_indexer_spark.functions.boc import encode_jetton_transfer
    from ton_indexer_spark.streaming.emulate import emulate_externals

    W1 = "0:" + "a1" * 32
    W2 = "0:" + "b2" * 32
    BOB = "0:" + "c3" * 32
    ALICE = "0:" + "d4" * 32
    ext = spark.createDataFrame(
        [("extmsg1", W1, 0x0F8A7EA5, 10,
          encode_jetton_transfer(1, 555, BOB), W2)],
        "msg_hash string, destination string, opcode long, value long, "
        "body string, forward_to string",
    )
    txs, msgs = emulate_externals(ext)
    assert txs.count() == 2 and msgs.count() == 3  # 2 hops, ext+int+in

    # idempotent: re-emulation derives the same trace_id/tx hashes
    txs2, _ = emulate_externals(ext)
    assert sorted(r["hash"] for r in txs.collect()) == sorted(
        r["hash"] for r in txs2.collect()
    )

    trace_id = txs.first()["trace_id"]
    contents = msgs.filter(F.col("body").isNotNull()).select(
        F.col("msg_hash").alias("hash"), "body"
    ).distinct()
    cls = classify_traces(
        txs,
        msgs.withColumn("body_hash", F.col("msg_hash")),
        message_contents=contents,
        jetton_wallets=spark.createDataFrame(
            [(W1, ALICE, "0:" + "e5" * 32),
             (W2, BOB, "0:" + "e5" * 32)],
            "address string, owner string, jetton string",
        ),
    )
    acts = cls.actions.filter(F.col("trace_id") == trace_id).collect()
    assert [a["type"] for a in acts] == ["jetton_transfer"]
    assert acts[0]["amount"] == 555


def test_reclassification_leaves_other_buckets_untouched(spark, fixture_dir, tmp_path):
    """The 100 TB contract of replace_by_key: a reclassification batch may
    rewrite only the kb buckets containing its trace_ids — every file in
    every other bucket must remain BYTE-IDENTICAL (not merely row-equal),
    proving untouched buckets were never opened or rewritten."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from ton_indexer_spark.sources.writer import replace_by_key

    actions = spark.read.parquet(f"{fixture_dir}/actions.parquet")
    path = str(tmp_path / "actions")
    # first call establishes the kb-bucketed layout
    replace_by_key(spark, path, actions, key=["trace_id"])

    def file_digests(root):
        out = {}
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.sha256(
                        fh.read()
                    ).hexdigest()
        return out

    before = file_digests(path)

    victims = [
        r[0] for r in actions.select("trace_id").distinct().limit(2).collect()
    ]
    new_rows = (
        actions.filter(F.col("trace_id").isin(victims))
        .dropDuplicates(["trace_id"])
        .withColumn("type", F.lit("reclassified"))
    )
    replace_by_key(spark, path, new_rows, key=["trace_id"])

    table = spark.read.parquet(path)
    affected = {
        r[0]
        for r in table.filter(F.col("trace_id").isin(victims))
        .select("kb").distinct().collect()
    }
    assert affected, "victim traces must land in some bucket"
    after = file_digests(path)
    untouched_before = {
        p: d for p, d in before.items()
        if not any(p.startswith(f"kb={kb}/") for kb in affected)
    }
    untouched_after = {
        p: d for p, d in after.items()
        if not any(p.startswith(f"kb={kb}/") for kb in affected)
    }
    assert untouched_before == untouched_after
    # and the affected buckets DID change
    assert any(
        before.get(p) != after.get(p)
        for p in set(before) | set(after)
        if any(p.startswith(f"kb={kb}/") for kb in affected)
    )
    # semantics still hold
    got = table.filter(F.col("trace_id").isin(victims))
    assert got.count() == len(victims)
    assert {r["type"] for r in got.collect()} == {"reclassified"}


def test_emulator_seam_contract_branching_trace(spark):
    """Drop-in contract for a real TVM (streaming/emulate.py seam): a
    BRANCHING trace that touches the same account twice at the same depth
    must yield unique tx hashes and strictly increasing, non-colliding
    lts (hash ← child-index path, lt ← walk preorder), and a node
    violating the documented schema must fail with a clear error."""
    import pytest as _pytest

    from ton_indexer_spark.streaming.emulate import emulate_externals

    SAME = "0:same" + "0" * 58

    def branching(ext):
        leaf = lambda: {"account": SAME, "in_source": ext["destination"],
                        "opcode": 7, "value": 1, "body": None, "out": []}
        return [{
            "account": ext["destination"], "in_source": None,
            "opcode": ext.get("opcode"), "value": ext.get("value"),
            "body": None,
            "out": [leaf(), leaf()],  # two siblings, same account+depth
        }]

    ext = spark.createDataFrame(
        [("m1", "0:dst" + "0" * 59, 42, 5, None, None)],
        "msg_hash string, destination string, opcode long, value long, "
        "body string, forward_to string",
    )
    txs, msgs = emulate_externals(ext, emulator=branching)
    rows = txs.collect()
    assert len(rows) == 3
    assert len({r["hash"] for r in rows}) == 3  # no collisions
    assert len({r["lt"] for r in rows}) == 3
    assert all(r["finality"] == "pending" for r in rows)
    # deterministic: re-emulation produces identical hashes
    again = {r["hash"] for r in emulate_externals(ext, emulator=branching)[0].collect()}
    assert again == {r["hash"] for r in rows}

    def broken(ext):
        return [{"in_source": None, "out": []}]  # missing 'account'

    with _pytest.raises(Exception, match="account"):
        emulate_externals(ext, emulator=broken)[0].collect()


def test_push_confirmed_vs_finalized_tiers(spark, fixture_dir, tmp_path):
    """v2 push tiers: every arriving tx hits the confirmed channel in its
    arrival batch; the finalized channel only carries members of closed
    traces (ton-streaming-go/v2/server.go:1032-1093)."""
    from ton_indexer_spark.streaming.ingest import IngestPipeline

    txs = spark.read.parquet(
        f"{fixture_dir}/transactions.parquet").drop("trace_id")
    msgs = spark.read.parquet(
        f"{fixture_dir}/messages.parquet").drop("trace_id")

    channels: dict[str, list] = {}

    def publisher(channel: str, payloads: list[dict]) -> None:
        channels.setdefault(channel, []).extend(payloads)

    pipe = IngestPipeline(
        spark,
        out_dir=str(tmp_path / "out"),
        state_dir=str(tmp_path / "state"),
        publisher=publisher,
    )
    seqnos = sorted(
        r[0] for r in txs.select("mc_block_seqno").distinct().collect())
    mid = seqnos[len(seqnos) // 2]
    pipe.process_batch(
        txs.filter(F.col("mc_block_seqno") <= mid),
        msgs.filter(F.col("mc_seqno") <= mid),
    )

    confirmed = {p["hash"] for p in channels.get("confirmed_transactions", [])}
    finalized = {p["hash"] for p in channels.get("transactions", [])}
    n_batch = txs.filter(F.col("mc_block_seqno") <= mid).count()
    assert len(confirmed) == n_batch          # every arrival is confirmed
    assert finalized <= confirmed             # finalized ⊆ confirmed
    assert len(finalized) < len(confirmed)    # some traces still open
    assert all(p["finality"] == "confirmed"
               for p in channels["confirmed_transactions"])
    assert all(p["finality"] == "finalized"
               for p in channels["transactions"])


def test_imgproxy_signed_url_matches_reference_hmac(spark):
    """Column-expression HMAC signing ≡ the reference resigner's
    BuildUrl (utils/imgproxy-url-resigner/main.go:33-47), replicated
    here with python hmac as the oracle."""
    import base64
    import hashlib
    import hmac as hmac_mod

    from pyspark.sql import functions as F

    from ton_indexer_spark.functions.presentation import imgproxy_signed_url

    key, salt = b"\x01\x02secret-key", b"\xaa\xbbsalt"
    ipfs_base = "https://ipfs.example/ipfs"

    def oracle(src: str, preset: str) -> str:
        if src.startswith("ipfs://"):
            src = f"{ipfs_base}/{src[len('ipfs://'):]}"
        enc = base64.urlsafe_b64encode(src.encode()).decode().rstrip("=")
        path = f"/pr:{preset}/{enc}"
        mac = hmac_mod.new(key, salt + path.encode(), hashlib.sha256)
        sig = base64.urlsafe_b64encode(mac.digest()).decode().rstrip("=")
        return f"/{sig}{path}"

    srcs = [
        "https://example.org/cat.png",
        "ipfs://QmYwAPJzv5CZsnAzt8auVZRn1pfejErrs",
        "http://x/y?z=1&w=2",  # query chars exercise url-safe encoding
        None,
    ]
    df = spark.createDataFrame([(s,) for s in srcs], "src string")
    got = {
        r["src"]: r["u"]
        for r in df.withColumn(
            "u",
            imgproxy_signed_url(
                F.col("src"), "small", key, salt, ipfs_base
            ),
        ).collect()
    }
    for s in srcs:
        assert got[s] == (oracle(s, "small") if s is not None else None), s
