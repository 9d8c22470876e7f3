"""Physical-plan regression tests.

Correctness tests prove the right rows come back; these prove the right
PLAN produces them — the properties that matter at 100 TB:
filters pushed into the parquet scan, dimensions broadcast, aggregations
partial (map-side), top-k as TakeOrderedAndProject, and no Python UDFs in
the relational paths.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from tests.conftest import SF_SMALL
from ton_indexer_spark.queries import all_specs


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="session")
def specs():
    return all_specs()


def test_filter_pushdown_reaches_scan(spark, specs):
    plan = plan_of(specs["filter_sort_page"].builder(spark, SF_SMALL))
    assert "PushedFilters" in plan
    assert "In(l_returnflag" in plan  # IN filter pushed to parquet
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark, specs):
    plan = plan_of(specs["filter_sort_page"].builder(spark, SF_SMALL))
    # ReadSchema must not include unprojected columns like l_comment-ish ones
    assert "l_extendedprice" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_broadcast_join_for_dims(spark, specs):
    plan = plan_of(specs["join_enrich"].builder(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan


def test_partial_aggregation(spark, specs):
    plan = plan_of(specs["group_agg"].builder(spark, SF_SMALL))
    # two HashAggregate nodes = map-side partial + final
    assert plan.count("HashAggregate") >= 2


def test_topk_is_take_ordered(spark, specs):
    plan = plan_of(specs["top_k"].builder(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_semi_join_stays_semi(spark, specs):
    plan = plan_of(specs["semi_join"].builder(spark, SF_SMALL))
    assert "LeftSemi" in plan


def test_no_python_udf_in_relational_queries(spark, specs):
    # everything except the explicitly-Python surfaces must stay JVM-side
    python_allowed = {
        "multimodal_metadata",
        "dedup_embedding_cosine",
        # codec-attestation gate: the decode itself is mapInPandas and the
        # ImageIO-tolerance comparison (r9 ADVICE #2 fix) diffs opaque
        # pixel-plane binaries in an Arrow-batched pandas_udf — there is
        # no JVM built-in for bytewise max-abs-diff of binary columns,
        # and the columns never feed a relational operator
        "jpeg_decode",
    }
    for name, spec in specs.items():
        if name in python_allowed:
            continue
        plan = plan_of(spec.builder(spark, SF_SMALL))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_wholestage_codegen_active(spark, specs):
    # AQE defers the final plan until execution — run it, then inspect
    df = specs["group_agg"].builder(spark, SF_SMALL)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # codegen'd operators carry the "*(<stage>)" prefix in the final plan
    assert re.search(r"\*\(\d+\)", executed), executed[:500]


def test_transactions_plan_pushdown(spark, tmp_path_factory):
    from tests.fixture_gen import generate
    from ton_indexer_spark.catalog import Catalog
    from ton_indexer_spark.plans import transactions_query

    fx = generate(str(tmp_path_factory.mktemp("fx_explain")), n_traces=50)
    cat = Catalog(spark, fx)
    plan = plan_of(
        transactions_query(cat, accounts=["0:ab"], start_lt=5, end_lt=10,
                           with_messages=False)
    )
    assert "EqualTo(account,0:ab)" in plan
    assert "GreaterThanOrEqual(lt,5)" in plan


def test_partition_pruning_on_written_facts(spark, fixture_dir, tmp_path):
    """write_facts_batch partitions by mc_bucket; a seqno-range query must
    prune partition directories (the 100 TB access-path contract)."""
    from ton_indexer_spark.sources.writer import write_facts_batch

    txs = spark.read.parquet(f"{fixture_dir}/transactions.parquet")
    path = str(tmp_path / "facts")
    write_facts_batch(txs, path, sort_cols=["lt", "account", "hash"],
                      batch_id=0, bucket_size=1)

    full = spark.read.parquet(path)
    buckets = sorted(r[0] for r in full.select("mc_bucket").distinct().collect())
    assert len(buckets) >= 2, buckets
    df = full.filter(full["mc_bucket"] == buckets[-1])
    plan = plan_of(df)
    # the predicate must land in PartitionFilters (directory pruning), not
    # in PushedFilters (row-group filtering)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "mc_bucket" in pf_line
    assert df.count() > 0


def test_message_drop_scan_prunes_by_seq_bucket(spark, fixture_dir, tmp_path):
    """The streaming ingest's per-batch message read must prune the drop
    directory by seq_bucket — a backfill batch must not re-scan the whole
    message history every micro-batch."""
    from ton_indexer_spark.streaming.ingest import write_message_drops

    msgs = spark.read.parquet(f"{fixture_dir}/messages.parquet")
    path = str(tmp_path / "msg_drops")
    write_message_drops(msgs, path, bucket_size=4)

    all_msgs = spark.read.parquet(path)
    seqs = [r[0] for r in all_msgs.select("mc_seqno").distinct().limit(3).collect()]
    buckets = sorted({s // 4 for s in seqs})
    df = all_msgs.filter(
        all_msgs["seq_bucket"].isin(buckets) & all_msgs["mc_seqno"].isin(seqs)
    )
    plan = plan_of(df)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "seq_bucket" in pf_line, pf_line
    assert df.count() > 0


def test_bucketed_join_has_no_exchange(spark, fixture_dir):
    """Both sides bucketed on msg_hash → the self-join plans ZERO shuffles
    (the co-located layout for trace assembly's hottest join)."""
    from pyspark.sql import functions as F

    from ton_indexer_spark.sources.bucketed import read_table, write_bucketed

    # the planner auto-disables bucketed scans on tiny tables; force it so
    # the plan shape (not the cost model) is under test
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    msgs = spark.read.parquet(f"{fixture_dir}/messages.parquet")
    write_bucketed(
        msgs.filter(F.col("direction") == "out"), "b_out",
        bucket_cols=["msg_hash"], n_buckets=8, sort_cols=["msg_hash"],
    )
    write_bucketed(
        msgs.filter(F.col("direction") == "in"), "b_in",
        bucket_cols=["msg_hash"], n_buckets=8, sort_cols=["msg_hash"],
    )
    try:
        joined = (
            read_table(spark, "b_out").alias("o").hint("merge")
            .join(read_table(spark, "b_in").alias("i"), "msg_hash")
            .select("msg_hash", "o.tx_hash", "i.tx_hash")
        )
        joined.collect()
        executed = joined._jdf.queryExecution().executedPlan().toString()
        # sort-merge over co-located buckets: no shuffle exchange anywhere
        assert "SortMergeJoin" in executed, executed[:800]
        assert "Exchange hashpartitioning" not in executed, executed[:800]
        # sanity: same result as the plain shuffle join
        plain = (
            msgs.filter(F.col("direction") == "out").alias("o")
            .join(msgs.filter(F.col("direction") == "in").alias("i"), "msg_hash")
        )
        assert joined.count() == plain.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_out")
        spark.sql("DROP TABLE IF EXISTS b_in")
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        )


def test_classifier_dims_account_scoped_not_broadcast(spark):
    """classify_traces must never broadcast a RAW dimension table — TON
    mainnet has tens of millions of jetton wallets, so an unconditional
    ``F.broadcast(dim)`` OOMs the driver at scale.  The fix scopes each dim
    to the batch's account set with a broadcast semi-join of the (small)
    ACCOUNT SET (the reference's 5000-account IN-list analog,
    interface_repository.py:512-534).  With auto-broadcast disabled, a
    ``BroadcastHashJoin … LeftOuter`` could only come from a forced dim
    broadcast — assert none exists, while semi scoping and the classified
    result stay intact."""
    from pyspark.sql import functions as F

    from tests.test_classifier import (
        A,
        W1,
        W2,
        TraceBuilder,
        body_of,
        build_dfs,
    )
    from ton_indexer_spark.classifier import classify_traces
    from ton_indexer_spark.classifier.matchers import (
        JETTON_INTERNAL,
        JETTON_NOTIFY,
        JETTON_TRANSFER,
    )

    b = TraceBuilder("sc1")
    root = b.tx(A[0], None)
    w1 = b.chain(root, W1, opcode=JETTON_TRANSFER,
                 body=body_of({"amount": 5, "destination": A[1]}))
    w2 = b.chain(w1, W2, opcode=JETTON_INTERNAL)
    b.chain(w2, A[1], opcode=JETTON_NOTIFY)
    txs_df, msgs_df, bodies_df = build_dfs(spark, [b])

    # dimension much wider than any broadcast budget stand-in: 20k synthetic
    # wallets + the 2 wallets the trace actually touches
    big_dim = spark.range(20_000).select(
        F.concat(F.lit("0:"), F.lpad(F.hex("id"), 64, "0")).alias("address"),
        F.lit("0:owner").alias("owner"),
        F.lit("0:jetton").alias("jetton"),
    ).unionByName(
        spark.createDataFrame(
            [(W1, A[0], "0:jetton1"), (W2, A[1], "0:jetton1")],
            "address string, owner string, jetton string",
        )
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        res = classify_traces(txs_df, msgs_df, bodies_df, jetton_wallets=big_dim)
        acts = res.actions.collect()
        assert [a["type"] for a in acts] == ["jetton_transfer"]
        assert acts[0]["asset"] == "0:jetton1"

        executed = (
            res.actions._jdf.queryExecution().executedPlan().toString()
        )
        assert "LeftSemi" in executed, executed[:1200]
        # no broadcast node may appear with LeftOuter type (= dim broadcast)
        for line in executed.splitlines():
            if "BroadcastHashJoin" in line:
                assert "LeftOuter" not in line, line
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_shingling_splits_text_exactly_once(spark):
    """Regression guard for the O(len²) shingle pitfall: if the token-array
    projection collapses into the shingle expression, Catalyst re-inlines
    split() at every element_at site (k× per shingle position) and the
    shingle stage slows ~8×.  The healthy plan binds `toks` once."""
    from ton_indexer_spark.catalog import Catalog
    from ton_indexer_spark.dedup.shingles import shingles

    docs = Catalog(spark, SF_SMALL).documents
    plan = plan_of(shingles(docs))
    assert plan.count("split(") == 1, plan
    assert "AS toks" in plan


def test_tfidf_broadcasts_tiny_sides(spark, specs):
    """tfidf_topk: the term-df and corpus-count sides broadcast (no
    shuffle join against 5 / 1 rows), top-k is TakeOrderedAndProject,
    and the scan is pruned to (doc_id, text)."""
    plan = plan_of(specs["tfidf_topk"].builder(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert plan.count("SortMergeJoin") == 0
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(
        c.split(":")[0] for c in m.group(1).split(",")
    ) <= {"doc_id", "text"}


def test_doc_chunks_has_no_mid_plan_shuffle(spark, specs):
    """doc_chunks: sequence+explode+slice is shuffle-free until the
    presentation sort — exactly one Exchange (the final orderBy range
    partitioning)."""
    plan = plan_of(specs["doc_chunks"].builder(spark, SF_SMALL))
    assert "Generate" in plan
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges == 1, plan
    assert "rangepartitioning" in plan and "hashpartitioning" not in plan


def test_dataset_split_and_pii_are_map_side(spark, specs):
    """dataset_split / pii_detect: pure codegen column expressions — the
    only Exchange in each gate plan is the final presentation sort."""
    for name in ("dataset_split", "pii_detect"):
        plan = plan_of(specs[name].builder(spark, SF_SMALL))
        n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n_exchanges == 1, (name, plan)
        assert "hashpartitioning" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_source_mixture_corpus_is_not_shuffled(spark, specs):
    """source_mixture: the corpus side reaches the threshold join without
    an Exchange on it — thresholds are broadcast (tiny per-source table);
    only the small aggregation side shuffles."""
    from ton_indexer_spark.catalog import Catalog
    from ton_indexer_spark.operators.sampling import source_mixture
    from ton_indexer_spark.queries.analytics import MIXTURE_WEIGHTS

    d = Catalog(spark, SF_SMALL).documents
    plan = plan_of(
        source_mixture(d, "doc_id", "source", MIXTURE_WEIGHTS)
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    # corpus rows never range/hash-partition: every Exchange in the plan
    # belongs to the |sources|-row aggregation/broadcast side
    assert "SortMergeJoin" not in plan, plan


def test_decontaminate_single_pass_over_training_shingles(spark, specs):
    """decontaminate: hit-marking LEFT join + ONE per-doc aggregation —
    the training shingle explode is scanned once (a semi-join variant
    would re-run the explode for the separate total-count branch), and
    the big side carries no plan-mandated broadcast."""
    plan = plan_of(specs["decontaminate"].builder(spark, SF_SMALL))
    assert len(re.findall(r"hashpartitioning\(doc_id", plan)) <= 2, plan
    # the benchmark side joins as the build side; training side streams
    assert "LeftOuter" in plan or "BroadcastHashJoin" in plan, plan


def test_bloom_probe_broadcasts_filter(spark, specs):
    """bloom_membership: the set-bit position table (bounded <= m rows) is
    the broadcast side of the probe join."""
    plan = plan_of(specs["bloom_membership"].builder(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan


def test_bpe_pair_counts_is_two_small_shuffles(spark, specs):
    """bpe_pair_counts: corpus-sized pass is ONE partial-agg shuffle
    (word frequency); the pair explode + count runs over the vocabulary
    and the top-k is a TakeOrdered, never a global sort."""
    plan = plan_of(specs["bpe_pair_counts"].builder(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan
    assert len(re.findall(r"hashpartitioning", plan)) <= 2, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shard_assign_single_shuffle_parallel_windows(spark, specs):
    """shard_assign: ONE hash partition on shard; the in-shard order is a
    per-shard window (parallel), never a global 0-partition sort."""
    plan = plan_of(specs["shard_assign"].builder(spark, SF_SMALL))
    body = plan.split("ORDER BY")[0] if "ORDER BY" in plan else plan
    assert re.search(r"hashpartitioning\(shard", body), plan
    assert "SinglePartition" not in body, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_ratio_table_broadcast(spark, specs):
    """dsir_weight: the per-bucket log-ratio model is a dense array
    literal consumed via element_at — NO model join stage at all (the
    r11-opt upgrade from the broadcast-join model table); the corpus
    side never sort-merge-joins, and no Python touches the plan."""
    plan = plan_of(specs["dsir_weight"].builder(spark, SF_SMALL))
    assert "element_at" in plan, plan
    # model rides the expression, not a join: no join OPERATOR of any
    # strategy (matching concrete node names, not the substring "Join",
    # which would false-fail on unrelated plan text)
    for node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shard_state_broadcasts_tips(spark, fixture_dir):
    """masterchainBlockShardState: the per-shard arg-max side is tiny and
    must broadcast; the blocks scan must carry the mc_block_seqno bound."""
    from ton_indexer_spark.catalog import Catalog
    from ton_indexer_spark.plans.blocks import masterchain_block_shard_state

    cat = Catalog(spark, fixture_dir)
    sq = cat.blocks.selectExpr("max(mc_block_seqno) m").first()["m"]
    plan = plan_of(masterchain_block_shard_state(cat, sq))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "LessThanOrEqual(mc_block_seqno" in plan  # pushed to the scan


def test_line_dedup_groups_on_digest_not_line(spark, specs):
    """The frequency shuffle must key on the md5 digest (bounded width),
    and removal must be a single marking pass: one LEFT join against the
    frequent digests feeding ONE per-doc aggregation (the r11-opt
    upgrade from anti-join + totals outer-join, which aggregated the
    corpus lines twice)."""
    plan = plan_of(specs["line_dedup"].builder(spark, SF_SMALL))
    assert "LeftOuter" in plan, plan
    assert "md5" in plan
    # partial aggregation on the digest before the exchange
    assert "partial_count" in plan or "count(distinct" in plan.lower()
    # the marking pass replaced the anti-join, and the totals branch
    # (a second corpus-wide aggregate + outer join of two per-doc
    # tables) is gone: count AGGREGATE OPERATOR nodes (stable), not raw
    # expression-string occurrences (formatted explain repeats
    # expressions in the details section)
    assert "LeftAnti" not in plan, plan
    n_obj_agg = len(re.findall(r"\(\d+\) ObjectHashAggregate", plan))
    assert n_obj_agg <= 2, plan  # ONE partial/final collect_list pair


def test_pending_scope_broadcasts_ids(spark, fixture_dir):
    """Pending-overlay scoping: the scoped trace-id set (minutes of
    unfinalized traces) broadcasts into the semi-join."""
    from pyspark.sql import functions as F

    from ton_indexer_spark.catalog import Catalog
    from ton_indexer_spark.plans.pending import pending_transactions_query

    cat = Catalog(spark, fixture_dir)
    ptxs = spark.createDataFrame(
        [("0:acc", "h1", 1, "tr1", 10, "active", "active", False, "pending")],
        "account string, hash string, lt long, trace_id string, now long, "
        "orig_status string, end_status string, aborted boolean, "
        "finality string",
    )
    pmsgs = spark.createDataFrame(
        [("h1", 1, 10, "m1", "in", "tr1", None, "0:acc", 5, 0, 0, None,
          "pending")],
        "tx_hash string, tx_lt long, tx_now long, msg_hash string, "
        "direction string, trace_id string, source string, "
        "destination string, value long, created_lt long, opcode long, "
        "body string, finality string",
    )
    plan = plan_of(pending_transactions_query(cat, ptxs, pmsgs,
                                              account="0:acc"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "LeftAnti" in plan  # finalized shadowing + landed-msg removal


def test_word_lm_model_join_not_forced_broadcast(spark, specs):
    """word_lm_score: the bigram model is corpus-vocabulary-sized — at
    100 TB it can never be broadcast, so the plan must not PIN a
    broadcast on the model join (AQE may still pick one from runtime
    size at toy scale; what we forbid is a strategy hint)."""
    df = specs["word_lm_score"].builder(spark, SF_SMALL)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in optimized, optimized[:800]


def test_pq_scan_is_single_pass_per_side(spark, specs):
    """embed_pq_topk: encode + ADC scan are chained mapInPandas over the
    corpus with no shuffle between them; the only Exchange feeds the
    final global top-k window."""
    df = specs["embed_pq_topk"].builder(spark, SF_SMALL)
    plan = plan_of(df)
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 2, plan  # window partitioning + final sort


def test_nb_train_has_single_bucket_exchange(spark, specs):
    """quality_nb_train's only data shuffle is the n_buckets-cardinality
    groupBy (plus the 1-row totals broadcast): partial aggregation must
    appear below it so each map task emits <= n_buckets rows."""
    df = specs["quality_nb_train"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    assert "BroadcastExchange" in plan  # the totals join


def test_curriculum_assignment_adds_no_exchange(spark, specs):
    """After the scalar percentile agg collects the cut points, the
    tier/shuffle_key projection must be map-only."""
    from pyspark.sql import functions as F

    from ton_indexer_spark.catalog import Catalog
    from ton_indexer_spark.operators.curriculum import curriculum_order

    d = Catalog(spark, SF_SMALL).documents.select(
        "doc_id", F.length("text").alias("diff")
    )
    out = curriculum_order(d, F.col("diff"), n_tiers=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_auc_windows_are_partitioned(spark, specs):
    """binary_auc must never plan a global single-partition data window:
    every Window over the per-score table is partitioned by the prefix
    sum's _pid (the only unpartitioned window runs on the #partitions-row
    totals table, which is bounded by config, not data)."""
    df = specs["quality_nb_auc"].builder(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    # every window operator over the score rows carries a partition spec
    wins = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\]", plan)
    assert any("_pid" in w for w in wins) or "_pid" in plan
