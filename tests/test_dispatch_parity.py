"""Opcode-indexed dispatch ≡ full matcher scan (classifier/dispatch.py).

The index keys each matcher on the opcodes it declares with ``@opcodes``;
these tests prove every declaration is conservative by replaying every
reference golden fixture AND a synthetic corpus through BOTH dispatch
paths and asserting identical actions — the same defense-in-depth the
round-5 verdict demanded for classifier changes.
"""

from __future__ import annotations

import json

import pytest

from parity_harness import REF_TRACE_FIXTURES, TRACES_DIR, reference_params
from ton_indexer_spark.classifier.fixture_replay import (
    fixture_ctx,
    fixture_rows,
    flatten_actions,
    load_fixture,
)
from ton_indexer_spark.classifier.matchers import _INDEX, MATCHERS, classify_tree
from ton_indexer_spark.classifier.tree import Msg, Node, build_tree


def _canon(acts: list[dict]) -> str:
    return json.dumps(
        [{k: v for k, v in a.items() if k != "children"} for a in acts],
        sort_keys=True,
        default=str,
    )


@pytest.mark.parametrize(
    "fixture",
    reference_params(
        sorted(p.name for p in TRACES_DIR.glob("*.lz4")),
        TRACES_DIR, REF_TRACE_FIXTURES,
    ),
)
def test_golden_fixture_indexed_equals_full_scan(fixture):
    data = load_fixture(TRACES_DIR / fixture)
    indexed = flatten_actions(
        classify_tree(build_tree(fixture_rows(data)), fixture_ctx(data),
                      use_index=True)
    )
    full = flatten_actions(
        classify_tree(build_tree(fixture_rows(data)), fixture_ctx(data),
                      use_index=False)
    )
    assert _canon(indexed) == _canon(full)


def test_synthetic_corpus_indexed_equals_full_scan():
    import tempfile

    import duckdb

    import ton_indexer_spark.classifier.classify as C
    from tests.fixture_gen import generate

    fx = generate(tempfile.mkdtemp(prefix="dispatch_parity_"), n_traces=500)
    con = duckdb.connect()
    df = con.execute(f"""
      SELECT t.trace_id, t.hash AS tx_hash, t.lt AS tx_lt, t.now AS tx_now,
             t.account, t.aborted, t.orig_status, t.end_status,
             m.msg_hash, m.direction, m.source, m.destination, m.value,
             m.opcode, m.created_lt, NULL AS created_at, m.body_hash,
             CAST(NULL AS VARCHAR) AS body,
             CAST(NULL AS VARCHAR) AS acc_jw_owner,
             CAST(NULL AS VARCHAR) AS acc_jw_jetton,
             FALSE AS acc_is_nft, CAST(NULL AS VARCHAR) AS acc_pool_dex,
             FALSE AS acc_is_multisig, FALSE AS acc_is_auction,
             CAST(NULL AS VARCHAR) AS acc_sale_nft, FALSE AS acc_is_dns,
             CAST(NULL AS BIGINT) AS acc_sale_price,
             CAST(NULL AS VARCHAR) AS acc_sale_owner,
             CAST(NULL AS VARCHAR) AS acc_sale_marketplace
      FROM read_parquet('{fx}/transactions.parquet') t
      LEFT JOIN read_parquet('{fx}/messages.parquet') m
        ON m.tx_hash = t.hash
      ORDER BY t.trace_id
    """).df()[C._ROW_COLS]
    groups: dict = {}
    for r in C._records(df):
        groups.setdefault(r["trace_id"], []).append(r)

    def run(use_index: bool) -> list[tuple[str, str]]:
        outs = []
        for tid, rows in groups.items():
            ctx = {
                "dims_present": frozenset(), "jetton_wallets": {},
                "nft_items": set(), "dns_items": set(), "dex_pools": set(),
                "pool_dex": {}, "multisig": None, "auctions": set(),
                "nft_sales": {},
            }
            acts = classify_tree(
                build_tree([dict(r) for r in rows]), ctx, use_index=use_index
            )
            outs.append((tid, _canon(flatten_actions(acts))))
        return sorted(outs)

    assert run(True) == run(False)


class TestExtractorRules:
    """The index built from the matchers' ``@opcodes`` declarations."""

    def test_index_preserves_priority_order(self):
        pos = {name: i for i, (name, _) in enumerate(MATCHERS)}
        by_fn = {fn: name for name, fn in MATCHERS}
        for op in (None, 0, 0x0F8A7EA5, 0x595F07BC, 0xD53276DB):
            cand = _INDEX.candidates(op)
            order = [pos[by_fn[fn]] for fn in cand]
            assert order == sorted(order)

    def test_keyed_majority(self):
        # the index only pays off if most matchers key; alert if a
        # refactor drops declarations and degrades toward full scans
        assert _INDEX.n_keyed >= 65, _INDEX.keys


def test_index_rebuilds_on_in_place_element_replacement():
    """MATCHERS[i] = (name, new_fn) keeps registry identity AND length —
    the staleness check must still catch it (element-wise snapshot
    compare), or the stale index would dispatch the old function."""
    import ton_indexer_spark.classifier.matchers as M

    calls = []
    # find a keyed matcher so the replacement is observable via dispatch
    idx, (name, orig_fn) = next(
        (i, t) for i, t in enumerate(M.MATCHERS)
        if t[0] == "ton_transfer"
    )

    def probe(node, ctx):
        calls.append(node.tx_hash)
        return orig_fn(node, ctx)

    node = Node(
        tx_hash="s1", tx_lt=1, tx_now=1, account="0:" + "0" * 64,
        aborted=False, orig_status="active", end_status="active",
        in_msg=Msg(
            msg_hash="m1", direction="in", source="0:" + "1" * 64,
            destination="0:" + "0" * 64, value=10, opcode=0,
            created_lt=0,
        ),
    )
    ctx = {"dims_present": frozenset()}
    try:
        M.MATCHERS[idx] = (name, probe)
        acts = classify_tree([node], ctx, use_index=True)
        assert calls == ["s1"], "stale index dispatched the old function"
        assert any(a["type"] == "ton_transfer" for a in acts)
    finally:
        M.MATCHERS[idx] = (name, orig_fn)
