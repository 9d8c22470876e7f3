"""No-Spark classifier smoke tests.

Round-5 post-mortem: a missing import in ``matchers.py`` made every matcher
raise ``NameError``, the classify UDF's catch-all turned that into a
``failed`` sentinel, and all 121 reference-parity cases went red while the
driver gates stayed green.  These tests run in <2 s without a JVM and are
deliberately import-sensitive:

* every registered matcher body is *executed* (not just imported) against
  nodes rooted at no opcode, an unknown one and every opcode the library
  names, so an unresolved name anywhere in the matcher library fails here
  first, and so does a matcher that matches outside its ``@opcodes``;
* ``_classify_group`` re-raises engine errors (NameError/ImportError/
  AttributeError/UnboundLocalError) instead of masking them, and records a
  ``failure_reason`` for genuine data errors — mirroring the reference,
  which only catches per-trace data errors and stores the exception
  (indexer/indexer/events/event_classifier.py:337-343).
"""

from __future__ import annotations

import pandas as pd
import pytest

from ton_indexer_spark.classifier import base, protocols
from ton_indexer_spark.classifier import matchers as M
from ton_indexer_spark.classifier.classify import _ROW_COLS, _classify_group
from ton_indexer_spark.classifier.matchers import MATCHERS, classify_tree
from ton_indexer_spark.classifier.tree import Msg, Node, build_tree

ACC = [f"0:{i:064x}" for i in range(4)]

EMPTY_CTX = {
    "dims_present": frozenset(),
    "jetton_wallets": {},
    "nft_items": set(),
    "dns_items": set(),
    "dex_pools": set(),
    "pool_dex": {},
    "multisig": None,
    "auctions": set(),
    "nft_sales": {},
}


def _node(opcode=None, source=ACC[0], value=10**9, children=0,
          out_opcode=None, aborted=False):
    n = Node(
        tx_hash="t1", tx_lt=100, tx_now=1000, account=ACC[1],
        aborted=aborted, orig_status="active", end_status="active",
    )
    n.in_msg = Msg(
        msg_hash="m1", direction="in", source=source, destination=ACC[1],
        value=value, opcode=opcode, created_lt=98,
    )
    if out_opcode is not None:
        n.out_msgs.append(Msg(
            msg_hash="mo", direction="out", source=ACC[1],
            destination=ACC[2], value=1, opcode=out_opcode, created_lt=101,
        ))
    for i in range(children):
        c = Node(
            tx_hash=f"c{i}", tx_lt=110 + i, tx_now=1010, account=ACC[2],
            aborted=False, orig_status="active", end_status="active",
        )
        c.in_msg = Msg(
            msg_hash=f"cm{i}", direction="in", source=ACC[1],
            destination=ACC[2], value=1, opcode=0xDEADBEE0 + i,
            created_lt=105,
        )
        c.parent = n
        n.children.append(c)
    return n


def _subscription_flow():
    """A wallet-plugin payment (subscriptions.py:28-59): the subscription
    asks the wallet to pay (SUBSCRIPTION_PAYMENT), the wallet's response
    returns to it (SUBSCRIPTION_PAY_RESPONSE) and it pays the beneficiary
    (SUBSCRIPTION_PAY_INTERNAL).  Returns the request and response nodes:
    each roots a ``match_subscription`` arm, so a declaration missing
    either opcode fails the drift guard below."""
    nodes = []
    hops = [(ACC[0], ACC[1], M.SUBSCRIPTION_PAYMENT),
            (ACC[1], ACC[0], M.SUBSCRIPTION_PAY_RESPONSE),
            (ACC[0], ACC[3], M.SUBSCRIPTION_PAY_INTERNAL)]
    for i, (src, dst, op) in enumerate(hops):
        n = Node(
            tx_hash=f"s{i}", tx_lt=200 + 10 * i, tx_now=2000 + i,
            account=dst, aborted=False, orig_status="active",
            end_status="active",
        )
        n.in_msg = Msg(
            msg_hash=f"sm{i}", direction="in", source=src, destination=dst,
            value=10**8, opcode=op, created_lt=199 + 10 * i,
        )
        if nodes:
            n.parent = nodes[-1]
            nodes[-1].children.append(n)
        nodes.append(n)
    return nodes[:2]


# every 32-bit opcode constant the matcher library names
OPCODES = sorted({
    v for mod in (base, M, protocols) for k, v in vars(mod).items()
    if k.isupper() and type(v) is int and 0 <= v < 2**32
})
# node shapes chosen so opcode/value/child comparisons in every matcher
# evaluate: never-matching opcode, no opcode, external root, children,
# out-messages, aborted — plus one node rooted at every named opcode,
# which a keyed matcher must not match unless it declares that opcode
SHAPES = [
    _node(opcode=0x0BADC0DE),
    _node(opcode=None, value=None),
    _node(opcode=0x0BADC0DE, source=None),
    _node(opcode=0x0BADC0DE, children=2, out_opcode=0x0BADC0D1),
    _node(opcode=0x0BADC0DE, aborted=True),
    *(_node(opcode=op, children=2, out_opcode=0x0BADC0D1) for op in OPCODES),
    *_subscription_flow(),
]


@pytest.mark.parametrize("name,matcher", MATCHERS, ids=[n for n, _ in MATCHERS])
def test_every_matcher_body_executes(name, matcher):
    """An unresolved name inside any matcher raises here, JVM-free.  A
    keyed matcher must also return None on every node whose root opcode
    lies outside its ``@opcodes`` declaration, since the dispatch index
    never offers it one."""
    declared = getattr(matcher, "opcodes", None)
    for node in SHAPES:
        node.consumed = False
        for child in node.children:
            child.consumed = False
        res = matcher(node, dict(EMPTY_CTX))
        assert res is None or isinstance(res, dict)
        if declared is not None and node.in_msg.opcode not in declared:
            assert res is None, (
                f"{name} matched opcode {node.in_msg.opcode!r} outside its "
                f"declared {sorted(declared)}"
            )


def test_minimal_trace_classifies_without_spark():
    rows = [{
        "tx_hash": "t1", "tx_lt": 100, "tx_now": 1000, "account": ACC[1],
        "aborted": False, "orig_status": "active", "end_status": "active",
        "msg_hash": "m1", "direction": "in", "source": ACC[0],
        "destination": ACC[1], "value": 5 * 10**9, "opcode": 0,
        "created_lt": 98, "created_at": 998, "body": None,
    }]
    acts = classify_tree(build_tree(rows), dict(EMPTY_CTX))
    assert [a["type"] for a in acts] == ["ton_transfer"]
    assert acts[0]["value"] == 5 * 10**9


def _group_pdf():
    row = {c: None for c in _ROW_COLS}
    row.update({
        "trace_id": "tr0", "tx_hash": "t1", "tx_lt": 100, "tx_now": 1000,
        "account": ACC[1], "aborted": False, "orig_status": "active",
        "end_status": "active", "msg_hash": "m1", "direction": "in",
        "source": ACC[0], "destination": ACC[1], "value": 10**9,
        "opcode": 0, "created_lt": 98, "created_at": 998,
    })
    return pd.DataFrame([row])


def test_engine_error_reraises(monkeypatch):
    """A broken build must fail loudly, not classify to zero actions."""
    def boom(node, ctx):
        raise NameError("name 'MISSING_CONSTANT' is not defined")

    monkeypatch.setattr(M, "MATCHERS", [("boom", boom)])
    with pytest.raises(NameError):
        _classify_group(_group_pdf(), big_trace_cutoff=4000)


def test_attribute_error_is_a_data_error(monkeypatch):
    """Matchers legitimately hit AttributeError on malformed payloads
    ('NoneType' has no attribute ...); the reference records any per-trace
    exception as failed (trace_processor.py:55-72) — only unresolved-name
    and import errors are build breakage worth aborting on."""
    def none_deref(node, ctx):
        raise AttributeError("'NoneType' object has no attribute 'amount'")

    monkeypatch.setattr(M, "MATCHERS", [("bad", none_deref)])
    out = _classify_group(_group_pdf(), big_trace_cutoff=4000)
    assert list(out["classification_state"]) == ["failed"]
    assert "AttributeError" in out["failure_reason"].iloc[0]


def test_data_error_sentinels_with_reason(monkeypatch):
    def bad_data(node, ctx):
        raise ValueError("malformed payload")

    monkeypatch.setattr(M, "MATCHERS", [("bad", bad_data)])
    out = _classify_group(_group_pdf(), big_trace_cutoff=4000)
    assert list(out["classification_state"]) == ["failed"]
    assert "ValueError" in out["failure_reason"].iloc[0]
    assert "malformed payload" in out["failure_reason"].iloc[0]


def test_big_trace_skip_records_reason():
    pdf = pd.concat(
        [_group_pdf().assign(tx_hash=f"t{i}") for i in range(3)],
        ignore_index=True,
    )
    out = _classify_group(pdf, big_trace_cutoff=2)
    assert list(out["classification_state"]) == ["skipped"]
    assert "big_trace_cutoff" in out["failure_reason"].iloc[0]
