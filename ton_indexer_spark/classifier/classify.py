"""Spark wrapper for the classifier (C2+C5+C6) — SURVEY.md §3.3 re-expressed.

Reference lifecycle: claim task batch → hydrate traces via 3 batched queries
→ load interface context into Redis → classify in 4 worker processes →
delete-and-reinsert actions (event_classifier.py:93-352).  Spark shape:

    rows = messages ⋈ transaction attrs ⋈ message bodies
    rows = rows ⋈ (dims ⋉ broadcast(batch accounts))          # C6: each
        # dimension is semi-join-scoped to the batch's account set before
        # the row join — the Spark analog of the reference's 5000-account
        # IN-list batches (interface_repository.py:512-534); the full
        # dimension is never shuffled or broadcast
    actions = rows.repartition(trace_id).sortWithinPartitions(trace_id)
        .mapInPandas(classify_stream)                         # C1-C5: the
        # stream groups contiguous trace runs in python — same shuffle a
        # groupBy/applyInPandas would run, without its per-trace pandas
        # frame cost (a ~25× python-side win, see PERF.md)
    action_accounts = explode(involved accounts)              # J6 table

The task-queue/mp.Queue machinery disappears into Spark's scheduler; the
big-trace cutoff (nodes > 4000, event_classifier.py:405) and per-trace
failure capture (``_classifier_failed_traces``) become sentinel rows folded
into a ``classification_states`` output.
"""

from __future__ import annotations

import functools
import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ton_indexer_spark.classifier.matchers import classify_tree
from ton_indexer_spark.classifier.tree import build_tree

BIG_TRACE_CUTOFF = 4000  # event_classifier.py:405

_S, _L, _B, _I = (
    T.StringType(), T.LongType(), T.BooleanType(), T.IntegerType()
)
_D = T.DecimalType(38, 0)  # `numeric` token amounts (migrate.cpp:313-383)


def _struct(**fields: T.DataType) -> T.StructType:
    return T.StructType([T.StructField(k, v) for k, v in fields.items()])


# Typed action payloads (F5) — one nested struct per composite type of the
# reference's actions table (ton-index-postgres/src/migrate.cpp:83-105,
# 760, plus block_tree_serializer.py:1292-1587 field semantics).  Amounts
# use DecimalType(38,0) (SURVEY §1.3; the reference's `numeric`,
# migrate.cpp:313-383): TON jetton amounts are uint256-range and int64
# silently overflows on large-supply jettons.  lt/utime/indices stay
# BIGINT; the x96 price, which exceeds even decimal38, stays a string.
_PAYLOAD_STRUCTS: list[T.StructField] = [
    T.StructField("jetton_transfer_data", _struct(
        response_destination=_S, forward_amount=_D, query_id=_L,
        custom_payload=_S, forward_payload=_S, comment=_S,
        is_encrypted_comment=_B, has_internal_transfer=_B)),
    T.StructField("nft_transfer_data", _struct(
        is_purchase=_B, price=_D, query_id=_L, custom_payload=_S,
        forward_payload=_S, forward_amount=_D, response_destination=_S,
        nft_item_index=_L, marketplace=_S, marketplace_address=_S,
        real_prev_owner=_S, payout_amount=_D, payout_comment=_S,
        payout_comment_encrypted=_B, payout_comment_encoded=_B,
        royalty_amount=_D, royalty_address=_S, payout_address=_S)),
    T.StructField("nft_mint_data", _struct(nft_item_index=_L)),
    T.StructField("change_dns_record_data", _struct(
        key=_S, value_schema=_S, value=_S, flags=_I)),
    T.StructField("dex_deposit_liquidity_data", _struct(
        dex=_S, amount1=_D, amount2=_D, asset1=_S, asset2=_S,
        user_jetton_wallet_1=_S, user_jetton_wallet_2=_S,
        lp_tokens_minted=_D, target_asset_1=_S, target_asset_2=_S,
        target_amount_1=_D, target_amount_2=_D,
        vault_excesses=T.ArrayType(_struct(asset=_S, amount=_D)),
        tick_lower=_L, tick_upper=_L, nft_index=_L, nft_address=_S)),
    T.StructField("dex_withdraw_liquidity_data", _struct(
        dex=_S, amount1=_D, amount2=_D, asset1_out=_S, asset2_out=_S,
        user_jetton_wallet_1=_S, user_jetton_wallet_2=_S,
        dex_jetton_wallet_1=_S, dex_jetton_wallet_2=_S, lp_tokens_burnt=_D,
        dex_wallet_1=_S, dex_wallet_2=_S, burned_nft_index=_L,
        burned_nft_address=_S, tick_lower=_L, tick_upper=_L)),
    T.StructField("staking_data", _struct(
        provider=_S, ts_nft=_S, tokens_burnt=_D, tokens_minted=_D)),
    T.StructField("tonco_deploy_pool_data", _struct(
        jetton0_router_wallet=_S, jetton1_router_wallet=_S,
        jetton0_minter=_S, jetton1_minter=_S, tick_spacing=_I,
        initial_price_x96=_S, protocol_fee=_I, lp_fee_base=_I,
        lp_fee_current=_I, pool_active=_B)),
    T.StructField("multisig_create_order_data", _struct(
        query_id=_L, order_seqno=_L, is_created_by_signer=_B,
        is_signed_by_creator=_B, creator_index=_L, expiration_date=_L,
        order_boc=_S)),
    T.StructField("multisig_approve_data", _struct(
        signer_index=_L, exit_code=_L)),
    T.StructField("multisig_execute_data", _struct(
        query_id=_L, order_seqno=_L, expiration_date=_L, approvals_num=_L,
        signers_hash=_S, order_boc=_S)),
    T.StructField("vesting_send_message_data", _struct(
        query_id=_L, message_boc=_S)),
    T.StructField("vesting_add_whitelist_data", _struct(
        query_id=_L, accounts_added=T.ArrayType(_S))),
    T.StructField("evaa_supply_data", _struct(
        sender_jetton_wallet=_S, recipient_jetton_wallet=_S,
        master_jetton_wallet=_S, master=_S, asset_id=_S, is_ton=_B)),
    T.StructField("evaa_withdraw_data", _struct(
        sender_jetton_wallet=_S, recipient_jetton_wallet=_S,
        master_jetton_wallet=_S, master=_S, fail_reason=_S, asset_id=_S)),
    T.StructField("evaa_liquidate_data", _struct(
        fail_reason=_S, debt_amount=_D, asset_id=_S)),
    T.StructField("jvault_claim_data", _struct(
        claimed_jettons=T.ArrayType(_S), claimed_amounts=T.ArrayType(_D))),
    T.StructField("jvault_stake_data", _struct(
        period=_L, minted_stake_jettons=_D, stake_wallet=_S)),
    T.StructField("coffee_create_pool_data", _struct(
        amount_1=_D, amount_2=_D, initiator_1=_S, initiator_2=_S,
        provided_asset=_S, lp_tokens_minted=_D, pool_creator_contract=_S)),
    T.StructField("coffee_staking_deposit_data", _struct(
        minted_item_address=_S, minted_item_index=_L)),
    T.StructField("coffee_staking_withdraw_data", _struct(
        nft_address=_S, nft_index=_L, points=_L)),
    T.StructField("nft_listing_data", _struct(
        nft_item_index=_L, full_price=_D, marketplace_fee=_D,
        royalty_amount=_D, mp_fee_factor=_L, mp_fee_base=_L,
        royalty_fee_base=_L, max_bid=_D, min_bid=_D,
        marketplace_fee_address=_S, royalty_address=_S, marketplace=_S)),
    T.StructField("layerzero_send_data", _struct(
        send_request_id=_L, msglib_manager=_S, msglib=_S, uln=_S,
        native_fee=_D, zro_fee=_D, endpoint=_S, channel=_S)),
    T.StructField("layerzero_packet_data", _struct(
        src_oapp=_S, dst_oapp=_S, src_eid=_I, dst_eid=_I, nonce=_L,
        guid=_S, message=_S)),
    T.StructField("layerzero_dvn_verify_data", _struct(
        nonce=_L, status=_S, dvn=_S, proxy=_S, uln=_S, uln_connection=_S)),
    # LZ endpoint event log (reference layerzero.py:302-346 — the md cell
    # carries a 256-bit event topic behind the header/filler prefix)
    T.StructField("layerzero_receive_data", _struct(
        query_id=_L, donation_nanos=_D, origin=_S, topic=_S)),
    # tgBTC bridge event payloads (reference tgbtc.py TgBTCMintData /
    # TgBTCBurnData / key-rotation logs; txid/pubkeys carried as hex)
    T.StructField("tgbtc_mint_data", _struct(
        amount=_D, recipient=_S, bitcoin_txid=_S)),
    T.StructField("tgbtc_burn_data", _struct(
        amount=_D, sender=_S, pegout_address=_S)),
    T.StructField("tgbtc_new_key_data", _struct(
        amount=_D, new_internal_pubkey=_S, pegout_address=_S)),
    T.StructField("cocoon_worker_payout_data", _struct(
        payout_type=_S, query_id=_D, new_tokens=_D, worker_state=_I,
        worker_tokens=_D)),
    T.StructField("cocoon_proxy_payout_data", _struct(query_id=_D)),
    T.StructField("cocoon_proxy_charge_data", _struct(
        query_id=_D, new_tokens_used=_D, expected_address=_S)),
    T.StructField("cocoon_client_top_up_data", _struct(query_id=_D)),
    T.StructField("cocoon_register_proxy_data", _struct(query_id=_D)),
    T.StructField("cocoon_unregister_proxy_data", _struct(
        query_id=_D, seqno=_L)),
    T.StructField("cocoon_client_register_data", _struct(
        query_id=_D, nonce=_D)),
    T.StructField("cocoon_client_change_secret_hash_data", _struct(
        query_id=_D, new_secret_hash=_S)),
    T.StructField("cocoon_client_request_refund_data", _struct(
        query_id=_D, via_wallet=_B)),
    T.StructField("cocoon_grant_refund_data", _struct(
        query_id=_D, new_tokens_used=_D, expected_address=_S)),
    T.StructField("cocoon_client_increase_stake_data", _struct(
        query_id=_D, new_stake=_D)),
    T.StructField("cocoon_client_withdraw_data", _struct(
        query_id=_D, withdraw_amount=_D)),
    T.StructField("tgbtc_dkg_log_data", _struct(
        timestamp=_L, internal_pubkey=_S)),
]

ACTIONS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("trace_id", T.StringType()),
        T.StructField("action_id", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("source_secondary", T.StringType()),
        T.StructField("destination", T.StringType()),
        T.StructField("destination_secondary", T.StringType()),
        T.StructField("asset", T.StringType()),
        T.StructField("asset_secondary", T.StringType()),
        T.StructField("asset2", T.StringType()),
        T.StructField("asset2_secondary", T.StringType()),
        # deferred dimension lookup: a jetton WALLET recovered from a
        # decoded payload that never transacts in the trace (e.g. the
        # intended target of a FAILED tonco swap, swaps.py:1154-1186) —
        # the trace-scoped context can't resolve it, so classify_traces
        # runs a post-classification point-lookup join and drops this
        # column (the reference's interface_repository.get_jetton_wallet
        # await at the same spot)
        T.StructField("asset2_wallet_unresolved", T.StringType()),
        T.StructField("opcode", T.LongType()),
        T.StructField("value", _D),
        T.StructField("amount", _D),
        T.StructField("success", T.BooleanType()),
        T.StructField("tx_hashes", T.ArrayType(T.StringType())),
        # involved-accounts set (migrate.cpp:588-599 feeds action_accounts
        # from it; block_tree_serializer.py:1462-1480 computes it)
        T.StructField("accounts", T.ArrayType(T.StringType())),
        T.StructField("start_lt", T.LongType()),
        T.StructField("end_lt", T.LongType()),
        T.StructField("start_utime", T.LongType()),
        T.StructField("end_utime", T.LongType()),
        # composite payload (F5) — nested struct, exactly the reference's
        # Postgres composite-type pattern (migrate.cpp:83-105)
        T.StructField(
            "jetton_swap_data",
            T.StructType(
                [
                    T.StructField("dex", T.StringType()),
                    T.StructField("sender", T.StringType()),
                    T.StructField("amount_in", _D),
                    T.StructField("asset_in", T.StringType()),
                    T.StructField("amount_out", _D),
                    T.StructField("asset_out", T.StringType()),
                    T.StructField("peer_address", T.StringType()),
                    T.StructField("min_out_amount", _D),
                    # dex_transfer_details twins (migrate.cpp:86,92)
                    T.StructField(
                        "dex_incoming_transfer",
                        _struct(amount=_D, asset=_S, source=_S,
                                destination=_S, source_jetton_wallet=_S,
                                destination_jetton_wallet=_S),
                    ),
                    T.StructField(
                        "dex_outgoing_transfer",
                        _struct(amount=_D, asset=_S, source=_S,
                                destination=_S, source_jetton_wallet=_S,
                                destination_jetton_wallet=_S),
                    ),
                    T.StructField(
                        "peer_swaps",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("asset_in", T.StringType()),
                                    T.StructField("amount_in", _D),
                                    T.StructField("asset_out", T.StringType()),
                                    T.StructField("amount_out", _D),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
        T.StructField(
            "ton_transfer_data",
            T.StructType(
                [
                    T.StructField("content", T.StringType()),
                    T.StructField("encrypted", T.BooleanType()),
                ]
            ),
        ),
        *_PAYLOAD_STRUCTS,
        T.StructField("parent_action_id", T.StringType()),
        T.StructField("ancestor_type", T.ArrayType(T.StringType())),
        T.StructField("classification_state", T.StringType()),
        # reference records failed traces with the exception
        # (event_classifier.py:337-343) — carried here for data errors;
        # engine bugs (NameError/ImportError/AttributeError) re-raise
        T.StructField("failure_reason", T.StringType()),
    ]
)

# every schema field a matcher dict may carry — serialization picks these
# straight off the action dict (absent keys → null struct)
_PAYLOAD_KEYS = tuple(
    f.name for f in ACTIONS_OUT_SCHEMA
    if f.name not in (
        "trace_id", "action_id", "parent_action_id", "classification_state",
        "failure_reason",
    )
)

_FIELD_TYPE = {f.name: f.dataType for f in ACTIONS_OUT_SCHEMA}
_I64_MIN, _I64_MAX = -(2**63), 2**63 - 1
_I32_MIN, _I32_MAX = -(2**31), 2**31 - 1
_DEC38_MAX = 10**38 - 1


def _bound_numeric(v, dt):
    """uint256 overflow policy (SURVEY §1.2, round-7 verdict ask #7).

    TON numerics wider than the column domain become NULL at the
    serialize boundary — never a silent two's-complement wrap, never
    saturation — and full fidelity stays recoverable from the raw body
    BOC (and the ``order_boc``/``initial_price_x96`` string twins).
    Spec-conformant ``Coins`` (TEP-74 VarUInteger 16, <= 2^120-1) always
    fit DecimalType(38,0) (max ~1.7e38 > 1.3e36), so a NULL can only
    come from a genuinely uint256-typed field (order seqnos, asset ids)
    or an out-of-protocol/adversarial body.  Without this bound a
    >int64 python int would fail Arrow conversion and poison the whole
    batch, not just the offending trace."""
    if v is None or isinstance(v, bool):
        return v
    if isinstance(dt, T.DecimalType):
        return v if not isinstance(v, int) or abs(v) <= _DEC38_MAX else None
    if isinstance(dt, T.LongType):
        return v if not isinstance(v, int) or _I64_MIN <= v <= _I64_MAX \
            else None
    if isinstance(dt, T.IntegerType):
        return v if not isinstance(v, int) or _I32_MIN <= v <= _I32_MAX \
            else None
    if isinstance(dt, T.StructType) and isinstance(v, dict):
        types = {f.name: f.dataType for f in dt.fields}
        return {
            k: _bound_numeric(x, types[k]) if k in types else x
            for k, x in v.items()
        }
    if isinstance(dt, T.ArrayType) and isinstance(v, (list, tuple)):
        return [_bound_numeric(x, dt.elementType) for x in v]
    return v

_ROW_COLS = [
    "trace_id", "tx_hash", "tx_lt", "tx_now", "account", "aborted",
    "orig_status", "end_status", "msg_hash", "direction", "source",
    "destination", "value", "opcode", "created_lt", "created_at", "body",
    "acc_jw_owner", "acc_jw_jetton", "acc_is_nft", "acc_pool_dex",
    "acc_is_multisig", "acc_is_auction", "acc_sale_nft", "acc_is_dns",
    "acc_sale_price", "acc_sale_owner", "acc_sale_marketplace",
]


_OUT_COLS = [f.name for f in ACTIONS_OUT_SCHEMA]
_INT_ROW_FIELDS = (
    "tx_lt", "tx_now", "value", "opcode", "created_lt", "created_at",
    "acc_sale_price",
)


def _records(pdf: pd.DataFrame) -> list[dict]:
    """Columnar pandas→python conversion: one ``tolist()`` per column
    instead of a per-group ``astype(object)`` re-block (the per-trace
    form dominated the classifier profile at ~10× the matcher cost).
    NaN (a float64 null from Arrow) normalizes to None so opcode/value
    comparisons see real Nones; the _INT_ROW_FIELDS re-coercion (from the
    float64 that nullable int64 columns arrive as) happens inside
    _classify_rows' try so a malformed value fails one trace, not the
    batch."""
    names = list(pdf.columns)
    cols = [pdf[c].tolist() for c in names]
    recs = [dict(zip(names, vals)) for vals in zip(*cols)]
    for r in recs:
        for k, v in r.items():
            if v is None or v != v:  # NaN -> None, any column
                r[k] = None
    return recs


def _sentinel_row(
    trace_id, state: str, reason: str | None = None
) -> dict:
    return {c: None for c in _OUT_COLS} | {
        "trace_id": trace_id,
        "classification_state": state,
        "failure_reason": reason,
    }


def _out_frame(out: list[dict]) -> pd.DataFrame:
    res = pd.DataFrame(out, columns=_OUT_COLS)
    # decimal-typed top-level columns must stay exact python ints:
    # pd.DataFrame coerces an int+None column to float64/NaN, which
    # Arrow rejects for decimal128 and which already lost precision
    # past 2^53 — rebuild from the raw dicts as object dtype
    for c in ("value", "amount"):
        res[c] = pd.Series([r.get(c) for r in out], dtype=object)
    return res


def _classify_group(
    pdf: pd.DataFrame,
    big_trace_cutoff: int,
    dims_present: frozenset[str] = frozenset(),
) -> pd.DataFrame:
    """One-trace pandas wrapper over ``_classify_rows`` (tests and any
    per-group caller); ``classify_traces`` itself streams whole Arrow
    batches through ``_classify_stream``."""
    trace_id = pdf["trace_id"].iloc[0]
    return _out_frame(
        _classify_rows(
            trace_id, _records(pdf), big_trace_cutoff, dims_present
        )
    )


def _classify_rows(
    trace_id,
    rows: list[dict],
    big_trace_cutoff: int,
    dims_present: frozenset[str] = frozenset(),
) -> list[dict]:

    def sentinel(state: str, reason: str | None = None) -> list[dict]:
        return [_sentinel_row(trace_id, state, reason)]

    n_txs = len({r["tx_hash"] for r in rows})
    if n_txs > big_trace_cutoff:
        return sentinel("skipped", f"big_trace_cutoff: {n_txs} txs")
    try:
        # int coercion INSIDE the per-trace try: a malformed numeric (inf,
        # out-of-range) must yield this trace's 'failed' sentinel, never
        # kill the whole Arrow batch
        for r in rows:
            for k in _INT_ROW_FIELDS:
                v = r[k]
                if v is not None:
                    r[k] = int(v)
        ctx = {
            # which dimension tables were supplied to classify_traces at
            # all — lets matchers distinguish "dimension hydrated but this
            # account absent" (gate hard) from "no dimension context"
            # (fall back to body-shape heuristics), mirroring the
            # reference's per-account interface repository (C6)
            "dims_present": dims_present,
            "jetton_wallets": {
                r["account"]: (r["acc_jw_owner"], r["acc_jw_jetton"])
                for r in rows
                if r["acc_jw_jetton"] is not None
            },
            "nft_items": {r["account"] for r in rows if r["acc_is_nft"]},
            "dns_items": {r["account"] for r in rows if r["acc_is_dns"]},
            "dex_pools": {
                r["account"] for r in rows if r["acc_pool_dex"] is not None
            },
            "pool_dex": {
                r["account"]: r["acc_pool_dex"]
                for r in rows
                if r["acc_pool_dex"] is not None
            },
            "multisig": {r["account"] for r in rows if r["acc_is_multisig"]}
            or None,
            "auctions": {r["account"] for r in rows if r["acc_is_auction"]},
            "nft_sales": {
                r["account"]: r["acc_sale_nft"]
                for r in rows
                if r["acc_sale_nft"] is not None
            },
            # full listing records where the dimension supplied them —
            # enables the purchase detection's price/owner/marketplace
            # fields (matchers.py match_nft_transfer; reference
            # nft.py:117-150)
            "nft_sale_info": {
                r["account"]: {
                    "nft_address": r["acc_sale_nft"],
                    "full_price": r["acc_sale_price"],
                    "nft_owner_address": r["acc_sale_owner"],
                    "marketplace_address": r["acc_sale_marketplace"],
                }
                for r in rows
                if r["acc_sale_nft"] is not None
                and (r["acc_sale_price"] is not None
                     or r["acc_sale_owner"] is not None)
            },
        }
        nodes = build_tree(rows)
        acts = classify_tree(nodes, ctx)
        if not acts:
            # sentinel keeps the trace visible in classification_states
            # (action_id NULL rows are filtered out of the actions table)
            return sentinel("ok")
        out: list[dict] = []

        def serialize(a: dict, parent_id: str | None) -> None:
            # matchers emit the reference-compatible content hash
            # (base.py::_base); index-hash fallback keeps synthetic action
            # dicts without one serializable
            aid = a.get("action_id") or hashlib.sha256(
                f"{trace_id}:{len(out)}".encode()
            ).hexdigest()
            # matchers keep x96 fixed-point values as exact ints (the
            # in-memory/parity shape); the Spark column is a string
            # because they overflow int64 — convert at this boundary only
            tdp = a.get("tonco_deploy_pool_data")
            if tdp is not None and isinstance(
                tdp.get("initial_price_x96"), int
            ):
                a = a | {
                    "tonco_deploy_pool_data": tdp
                    | {"initial_price_x96": str(tdp["initial_price_x96"])}
                }
            out.append(
                {
                    "trace_id": trace_id,
                    "action_id": aid,
                    "classification_state": "ok",
                    "failure_reason": None,
                    "parent_action_id": parent_id,
                    **{
                        k: _bound_numeric(a.get(k), _FIELD_TYPE[k])
                        for k in _PAYLOAD_KEYS
                    },
                }
            )
            for child in a.get("children", ()):  # C5 hierarchy serialization
                serialize(child, aid)

        for a in acts:
            serialize(a, None)
        return out
    except (NameError, ImportError):
        # unresolved-name/import bugs are build breakage, never data — fail
        # loudly instead of silently classifying every trace to zero
        # actions (the round-5 regression class).  AttributeError stays a
        # per-trace data error: matchers legitimately hit "'NoneType' has
        # no attribute ..." on malformed on-chain payloads, and the
        # reference records any per-trace exception as state='failed'
        # (trace_processor.py:55-72) — the failure_reason column keeps
        # those visible
        raise
    except Exception as e:  # genuinely unclassifiable trace: record why
        return sentinel("failed", f"{type(e).__name__}: {e}")


def _classify_stream(big_trace_cutoff: int, dims_present: frozenset[str]):
    """mapInPandas generator over trace-sorted partitions.

    The former per-trace ``groupBy().applyInPandas`` spent ~90% of its
    time in pandas block slicing and per-group frame construction (the
    matcher logic itself was <10% of the profile).  Streaming whole
    Arrow batches, grouping contiguous trace_id runs in plain python and
    emitting ONE output frame per input batch removes that overhead;
    the input must be hash-partitioned and sorted by trace_id (the same
    shuffle+sort the groupBy performed), with the tail group buffered
    across batch boundaries."""

    def gen(batches):
        cur_tid = None
        buf: list[dict] = []
        out: list[dict] = []
        for pdf in batches:
            if pdf.empty:
                continue
            for r in _records(pdf):
                tid = r["trace_id"]
                if tid != cur_tid:
                    if cur_tid is not None:
                        out.extend(
                            _classify_rows(
                                cur_tid, buf, big_trace_cutoff, dims_present
                            )
                        )
                    cur_tid, buf = tid, []
                buf.append(r)
            if out:  # flush per input batch — bounded memory
                yield _out_frame(out)
                out = []
        if cur_tid is not None:
            out.extend(
                _classify_rows(cur_tid, buf, big_trace_cutoff, dims_present)
            )
        if out:
            yield _out_frame(out)

    return gen


class ClassifiedActions:
    """Classify-stage outputs, constructed LAZILY on first attribute
    access.  Most consumers (the ~40 classify query gates, the pending
    overlay) read only ``actions``, and each output's plan construction
    costs hundreds of driver py4j round-trips (the builder profile is
    ~entirely socket wait on the JVM) — so the states rollup and the
    accounts explode are built only for callers that touch them.
    Attribute semantics are unchanged from the eager dataclass: the same
    DataFrame comes back on every access."""

    def __init__(self, actions_fn, states_fn, accounts_fn, cached=None):
        self._actions_fn = actions_fn
        self._states_fn = states_fn
        self._accounts_fn = accounts_fn
        # the persisted classify-stage output; batch owners release it
        # once all the outputs they use are materialized
        self._cached: DataFrame | None = cached

    @functools.cached_property
    def actions(self) -> DataFrame:
        return self._actions_fn()

    @functools.cached_property
    def classification_states(self) -> DataFrame:
        # (trace_id, classification_state, failure_reason)
        return self._states_fn()

    @functools.cached_property
    def action_accounts(self) -> DataFrame:
        return self._accounts_fn(self.actions)

    def unpersist(self) -> None:
        """Release the persisted classify-stage output.  An output read
        (or first built) after this call still answers correctly, but its
        plan reads ``raw`` again, so the classify stage is recomputed: the
        matcher UDF runs over the batch a second time."""
        if self._cached is not None:
            self._cached.unpersist()


def classify_traces(
    transactions: DataFrame,
    messages: DataFrame,
    message_contents: DataFrame | None = None,
    jetton_wallets: DataFrame | None = None,
    nft_items: DataFrame | None = None,
    dns_items: DataFrame | None = None,
    dex_pools: DataFrame | None = None,
    multisig: DataFrame | None = None,
    auctions: DataFrame | None = None,
    nft_sales: DataFrame | None = None,
    big_trace_cutoff: int = BIG_TRACE_CUTOFF,
    n_partitions: int | None = None,
) -> ClassifiedActions:
    """``n_partitions`` sets the classify shuffle's partition count for
    callers that know their batch size (micro-batches / fixtures pass a
    small number so the persisted classify output is not fanned over
    shuffle.partitions near-empty tasks in every downstream consumer);
    default derives it from the optimizer's input-size estimate, which
    keeps full parallelism at scale."""
    # transaction-driven row build: a LEFT join keeps messageless
    # transactions (tick-tock system txs) in their trace's group
    tx_attrs = transactions.select(
        "trace_id",
        F.col("hash").alias("tx_hash"),
        F.col("lt").alias("tx_lt"),
        F.col("now").alias("tx_now"),
        "account", "aborted", "orig_status", "end_status",
    )
    msg_cols = messages.select(
        "tx_hash", "msg_hash", "direction", "source", "destination",
        "value", "opcode", "created_lt",
        # minimal synthetic inputs may omit created_at; _node_utime falls
        # back to the consuming tx's `now`
        F.col("created_at") if "created_at" in messages.columns
        else F.lit(None).cast("long").alias("created_at"),
        "body_hash",
    )
    rows = tx_attrs.join(msg_cols, "tx_hash", "left")

    # §7 driver overhead: every withColumn is a full DataFrame round-trip
    # (the classify builder profile is ~entirely py4j socket wait), so
    # null defaults and null-fill coalesces for the dimension columns
    # accumulate in `final` and ride the ONE projection ahead of the
    # classify shuffle instead of a per-dim withColumn chain.  Each
    # present dimension contributes exactly one join.
    final: dict[str, object] = {}

    if message_contents is not None:
        rows = rows.join(
            message_contents.select(
                F.col("hash").alias("body_hash"), F.col("body")
            ),
            "body_hash",
            "left",
        )
    else:
        final["body"] = F.lit(None).cast("string")

    # C6: interface repository as account-scoped dimension joins.  The
    # Spark analog of the reference's 5000-account IN-list batches
    # (interface_repository.py:512-534): broadcast the batch's (small)
    # distinct account set, semi-join each dimension down to it MAP-SIDE —
    # the full dimension is never shuffled or broadcast, so a
    # tens-of-millions-row jetton_wallets table costs one pruned scan —
    # then let AQE pick the strategy for the now batch-bounded row join.
    batch_accounts = tx_attrs.select("account").distinct()

    def scoped(dim: DataFrame) -> DataFrame:
        return dim.join(F.broadcast(batch_accounts), "account", "left_semi")

    if jetton_wallets is not None:
        jw = jetton_wallets.select(
            F.col("address").alias("account"),
            F.col("owner").alias("acc_jw_owner"),
            F.col("jetton").alias("acc_jw_jetton"),
        )
        rows = rows.join(scoped(jw), "account", "left")
    else:
        final["acc_jw_owner"] = F.lit(None).cast("string")
        final["acc_jw_jetton"] = F.lit(None).cast("string")
    # flag dims: a left join against the scoped membership set yields
    # true-or-null, null-filled to false in the final projection
    for flag_col, dim in (("acc_is_nft", nft_items),
                          ("acc_is_dns", dns_items),
                          ("acc_is_multisig", multisig),
                          ("acc_is_auction", auctions)):
        if dim is not None:
            fd = dim.select(
                F.col("address").alias("account"),
                F.lit(True).alias(flag_col),
            )
            rows = rows.join(scoped(fd), "account", "left")
            final[flag_col] = F.coalesce(flag_col, F.lit(False))
        else:
            final[flag_col] = F.lit(False)
    if dex_pools is not None:
        dp = dex_pools.select(
            F.col("address").alias("account"), F.col("dex").alias("acc_pool_dex")
        )
        rows = rows.join(scoped(dp), "account", "left")
    else:
        final["acc_pool_dex"] = F.lit(None).cast("string")
    # sale columns that neither the dimension nor its optional listing
    # record supplies default to null in the final projection
    sale_defaults = {"acc_sale_price": "long", "acc_sale_owner": "string",
                     "acc_sale_marketplace": "string"}
    if nft_sales is not None:
        # the sale dimension optionally carries the full listing record
        # (the reference interface repo's get_nft_sale fields,
        # nft.py:117-150: full_price, nft_owner_address, marketplace) —
        # absent columns degrade to the address→nft mapping alone
        ns_cols = [
            F.col("address").alias("account"),
            F.col("nft_address").alias("acc_sale_nft"),
        ]
        ns_present = nft_sales.columns
        for src, dst in (("full_price", "acc_sale_price"),
                         ("owner", "acc_sale_owner"),
                         ("marketplace_address", "acc_sale_marketplace")):
            if src in ns_present:
                ns_cols.append(F.col(src).alias(dst))
                del sale_defaults[dst]
        ns = nft_sales.select(*ns_cols)
        rows = rows.join(scoped(ns), "account", "left")
    else:
        final["acc_sale_nft"] = F.lit(None).cast("string")
    for col, typ in sale_defaults.items():
        final[col] = F.lit(None).cast(typ)

    dims_present = frozenset(
        name
        for name, dim in (
            ("jetton_wallets", jetton_wallets),
            ("nft_items", nft_items),
            ("dns_items", dns_items),
            ("dex_pools", dex_pools),
            ("multisig", multisig),
            ("auctions", auctions),
            ("nft_sales", nft_sales),
        )
        if dim is not None
    )
    # trace-locality via hash repartition + in-partition sort (exactly the
    # shuffle+sort groupBy/applyInPandas would run), then stream whole
    # Arrow batches — _classify_stream's python-side grouping replaces the
    # per-trace pandas frame machinery that dominated the profile
    from ton_indexer_spark.operators.spread import adaptive_partitions

    rows = rows.select(
        *[final[c].alias(c) if c in final else c for c in _ROW_COLS]
    )
    raw = (
        # explicit scale-adaptive partition count: a micro-batch/fixture
        # input collapses to a few tasks instead of fanning
        # shuffle.partitions near-empty tasks through the classify stage
        # and every downstream consumer of the persisted output; a real
        # batch keeps full parallelism (the estimate only rounds up)
        rows.repartition(
            n_partitions or adaptive_partitions(rows), F.col("trace_id")
        )
        .sortWithinPartitions("trace_id")
        .mapInPandas(
            _classify_stream(big_trace_cutoff, dims_present),
            schema=ACTIONS_OUT_SCHEMA,
        )
    )
    # The classify stage fans out to up to three consumers — the actions
    # plan, the states rollup, and (when dims are present) the deferred-
    # resolver `keys` broadcast, each a separate Spark job.  Persist the
    # (batch-sized) UDF output so the expensive repartition+mapInPandas
    # stage executes once; lazy, spills to disk, and callers that own a
    # batch lifecycle release it via ClassifiedActions.unpersist().
    from pyspark import StorageLevel

    raw = raw.persist(StorageLevel.MEMORY_AND_DISK)

    # the three outputs below are handed to ClassifiedActions as thunks:
    # their plan construction (more driver py4j round-trips) runs only
    # for the outputs a caller actually reads

    def _build_actions() -> DataFrame:
        actions = raw.filter(F.col("action_id").isNotNull()).drop(
            "classification_state", "failure_reason"
        )
        # Deferred dimension point lookups (the reference's
        # interface_repository.get_jetton_wallet awaits,
        # swaps.py:1164-1180): a matcher may reference a jetton wallet
        # that never transacts in its trace (a FAILED swap's intended
        # target), which the trace-scoped context can't resolve.  Resolve
        # here on the (rare) flagged subset: broadcast the distinct
        # unresolved keys, prune the dimension map-side (same discipline
        # as scoped() above — the full dim is never shuffled), then
        # broadcast-join the pruned rows back.
        if jetton_wallets is not None:
            from ton_indexer_spark.classifier.base import PTON_MASTERS

            # flag format "<field>|<wallet>": a2 = top-level asset2
            # (failed tonco swap target), dep1/dep2 = the deposit
            # payload's target_asset_1/_2 (the pair's other wallet)
            flag = F.col("asset2_wallet_unresolved")
            # decoded payload addresses render uppercase hex while the
            # dimension's case is caller-defined — join case-insensitively
            wallet_of = F.when(
                flag.isNotNull(), F.upper(F.substring_index(flag, "|", -1))
            )
            field_of = F.substring_index(flag, "|", 1)
            keys = (
                actions.filter(flag.isNotNull())
                .select(F.upper(F.substring_index(flag, "|", -1))
                        .alias("_deferred_wallet"))
                .distinct()
            )
            dim = (
                jetton_wallets
                .select(F.upper(F.col("address")).alias("_deferred_wallet"),
                        F.col("jetton").alias("_deferred_jetton"))
                .join(F.broadcast(keys), "_deferred_wallet", "left_semi")
                # the uppercased key must stay unique on the build side:
                # two dim rows differing only in address case (or plain
                # dup rows) would otherwise fan each flagged action out
                # into duplicates
                .dropDuplicates(["_deferred_wallet"])
            )
            # pTON-family wallets resolve to TON = NULL asset, the
            # _wallet_asset lookup discipline
            fill = F.when(
                ~F.col("_deferred_jetton").isin(*PTON_MASTERS),
                F.col("_deferred_jetton"),
            )
            dep = F.col("dex_deposit_liquidity_data")
            # ONE left join over all actions — no filter/union split, so
            # the classify UDF is not re-executed per branch (and the
            # `keys` broadcast materializes from the persisted stage, not
            # a rerun).  The build side is pruned to the flagged keys
            # (usually empty), AQE picks the strategy (no forced
            # broadcast — the plan keeps the "no forced dim broadcast"
            # invariant, tests/test_explain.py), and unflagged rows carry
            # a NULL join key that simply misses.
            actions = (
                actions.withColumn("_deferred_wallet", wallet_of)
                .withColumn("_deferred_field", field_of)
                .join(dim, "_deferred_wallet", "left")
                .withColumn(
                    # a2 rows carry the refund-leg asset as a fallback; a
                    # RESOLVED lookup (dim row matched) overwrites it — to
                    # the wallet's jetton, or to TON (NULL) for
                    # pTON-family wallets — while a miss keeps the
                    # fallback, matching the reference's
                    # `if target_asset:` guard (swaps.py:1187-1190)
                    "asset2",
                    F.when((F.col("_deferred_field") == "a2")
                           & F.col("_deferred_jetton").isNotNull(), fill)
                    .otherwise(F.col("asset2")),
                )
                .withColumn(
                    "dex_deposit_liquidity_data",
                    F.when(
                        F.col("_deferred_field") == "dep1",
                        dep.withField(
                            "target_asset_1",
                            F.coalesce(dep["target_asset_1"], fill)),
                    ).when(
                        F.col("_deferred_field") == "dep2",
                        dep.withField(
                            "target_asset_2",
                            F.coalesce(dep["target_asset_2"], fill)),
                    ).otherwise(dep),
                )
                .drop("_deferred_wallet", "_deferred_field",
                      "_deferred_jetton")
            )
        return actions.drop("asset2_wallet_unresolved")

    def _build_states() -> DataFrame:
        return (
            raw.select("trace_id", "classification_state", "failure_reason")
            .groupBy("trace_id")
            .agg(
                F.min("classification_state").alias("classification_state"),
                # min: failed < ok < skipped alphabetically —
                # failed/skipped dominate; max skips nulls so any
                # recorded reason survives
                F.max("failure_reason").alias("failure_reason"),
            )
        )

    def _build_accounts(actions: DataFrame) -> DataFrame:
        return (
            actions.select(
                "action_id", "trace_id", "end_lt", "end_utime",
                # `accounts` already folds claimed tx accounts + endpoint
                # columns + matcher extras (signers); fall back to the
                # endpoint columns for action rows built outside the
                # matcher library
                F.explode(
                    F.coalesce(
                        F.col("accounts"),
                        F.array_distinct(
                            F.filter(
                                F.array("source", "destination",
                                        "source_secondary",
                                        "destination_secondary"),
                                lambda c: c.isNotNull(),
                            )
                        ),
                    )
                ).alias("account"),
            )
            .withColumnRenamed("end_lt", "action_end_lt")
            .withColumnRenamed("end_utime", "action_end_utime")
        )

    return ClassifiedActions(
        _build_actions, _build_states, _build_accounts, cached=raw
    )
