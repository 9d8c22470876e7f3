"""Protocol matchers (C3/C4 — representative subset of the reference's ~95).

Each matcher inspects an unconsumed tree node (plus its subtree and the
broadcast dimension context) and either returns an action dict and marks the
claimed nodes consumed, or returns None.  Matchers run in priority order per
node, BFS over the trace — the same discipline as the reference's
``event_processing.py:313-323`` matcher loop, re-implemented from scratch.

Opcodes are the public TEP standards (TEP-74 jettons, TEP-62 NFTs):
    0x0f8a7ea5 jetton transfer      0x178d4519 jetton internal transfer
    0x7362d09c transfer notification 0xd53276db excesses
    0x595f07bc jetton burn          0x7bdd97de burn notification
    0x5fcc3d14 nft transfer         0x05138d91 ownership assigned
"""

from __future__ import annotations

from collections.abc import Callable

from ton_indexer_spark.classifier.base import (  # noqa: F401  (re-exported)
    BURN_NOTIFY,
    CHANGE_DNS_OP,
    ELECTOR_NEW_STAKE,
    ELECTOR_RECOVER_STAKE,
    EXCESSES,
    JETTON_BURN,
    JETTON_INTERNAL,
    JETTON_NOTIFY,
    JETTON_TRANSFER,
    MULTISIG_APPROVE,
    MULTISIG_APPROVE_ACCEPTED,
    MULTISIG_APPROVE_REJECTED,
    MULTISIG_EXECUTE,
    MULTISIG_NEW_ORDER,
    NFT_DISCOVERY,
    NFT_REPORT_STATIC,
    NFT_TRANSFER,
    PTON_MASTERS,
    OWNERSHIP_ASSIGNED,
    POOL_WITHDRAWAL,
    STAKE_DEPOSIT_OP,
    STAKE_WITHDRAW_OP,
    SUBSCRIPTION_PAYMENT,
    SUBSCRIPTION_PAY_INTERNAL,
    SUBSCRIPTION_PAY_RESPONSE,
    UNSUBSCRIBE_OP,
    VESTING_ADD_WHITELIST,
    VESTING_ADD_WHITELIST_RESP,
    VESTING_SEND,
    VESTING_SEND_RESP,
    Ctx,
    _base,
    _jetton_chain,
    _op,
)
from ton_indexer_spark.classifier.dispatch import OpcodeIndex, opcodes
from ton_indexer_spark.classifier.protocols import (
    PROTOCOL_MATCHERS,
    TAIL_MATCHERS,
)
from ton_indexer_spark.classifier.tree import Node


def match_tick_tock(node: Node, ctx: Ctx) -> dict | None:
    """System tick-tock transactions have no in-message at all."""
    if node.in_msg is None:
        return _base(node, "tick_tock", source=None, destination=node.account)
    return None


def match_nft_mint(node: Node, ctx: Ctx) -> dict | None:
    """Deploy of a known NFT item account = mint (priority over the generic
    contract_deploy)."""
    if node.orig_status != "active" and node.end_status == "active":
        items = ctx.get("nft_items") or set()
        if node.account in items:
            # the ownership_assigned notice stays UNCLAIMED: the
            # reference emits it as its own nft_transfer next to the
            # mint (nft.py:299-345 TelegramNftPurchaseBlockMatcher)
            claimed = [node]
            body = node.in_msg.decoded_body() if node.in_msg else {}
            index = body.get("index")
            if index is None:
                index = ctx.get("nft_index", {}).get(node.account)
            return _base(
                node, "nft_mint", claimed=claimed,
                # serializer shape (block_tree_serializer.py:267-277):
                # asset = collection (the deployer), asset_secondary = item
                asset=(node.in_msg.source if node.in_msg else None),
                asset_secondary=node.account,
                nft_mint_data={"nft_item_index": index},
            )
    return None


# Opcodes that root a token chain: a wallet/item deployed in the same
# transaction as its first transfer must still classify as the chain action
# (the reference emits ContractDeploy as a child block without suppressing
# the main action, basic_blocks.py:102) — so deploy yields to these.
_TOKEN_CHAIN_OPS = frozenset(
    {JETTON_TRANSFER, JETTON_INTERNAL, JETTON_BURN, NFT_TRANSFER}
)


def match_contract_deploy(node: Node, ctx: Ctx) -> dict | None:
    if node.orig_status != "active" and node.end_status == "active":
        if node.in_msg is not None and node.in_msg.opcode in _TOKEN_CHAIN_OPS:
            return None  # deployed-in-first-transfer: chain matcher claims it
        return _base(node, "contract_deploy")
    return None


JETTON_MINT_MINTER = 0x00000015   # standard minter mint entry
JETTON_MINT_ALT = 0x642B7D07      # alternative minter mint entry


@opcodes(JETTON_MINT_MINTER, JETTON_MINT_ALT)
def match_jetton_mint_entry(node: Node, ctx: Ctx) -> dict | None:
    """Mint matched from the MINTER-side entry call (ops 0x15 /
    0x642b7d07, reference JettonMintBlockMatcher jettons.py:250-280).
    Catches FAILED mints too — the entry op is present even when the
    internal-transfer leg never happened (the wallet-side matcher below
    needs the leg)."""
    if _op(node) not in (JETTON_MINT_MINTER, JETTON_MINT_ALT):
        return None
    body = node.in_msg.decoded_body()
    to_owner = body.get("to_address")
    internal = node.child_via(JETTON_INTERNAL)
    if internal is None:
        # no internal-transfer leg: demand more than address-shaped bits —
        # 0x15 is a tiny generic opcode other contracts use (the reference
        # gates on the minter interface, JettonMintBlockMatcher).  A
        # FAILED attempt is accepted on the decoded body alone (the leg
        # can't evidence it, and the per-trace jetton_wallets context
        # cannot either — a failed mint's trace contains no wallet, so
        # its master never appears in the trace-scoped masters set); a
        # SUCCESSFUL legless call needs master-membership evidence.
        if to_owner is None:
            return None
        if not node.aborted:
            masters = {
                m for _o, m in ctx.get("jetton_wallets", {}).values()
            }
            if node.account not in masters:
                return None  # succeeded, legless, no evidence: collision
    claimed = [node]
    wallet = None
    amount = body.get("amount")
    asset = node.account  # the minter IS the jetton master
    if internal is not None:
        # successful-leg path (jettons.py::_get_jetton_mint_data:189-218):
        # destination = receiver wallet's OWNER from the interface
        # repository, amount = the internal transfer's amount, asset = the
        # receiver wallet's jetton — the entry body's to_address may be
        # addr_none on minters that route purely via master_msg
        claimed.append(internal)
        wallet = internal.account
        owner, jetton = ctx.get("jetton_wallets", {}).get(
            wallet, (None, None)
        )
        internal_amount = internal.in_msg.decoded_body().get("amount")
        if internal_amount is not None:
            amount = internal_amount
        notify = internal.child_via(JETTON_NOTIFY)
        if notify is not None:
            claimed.append(notify)
        to_owner = owner or (notify.account if notify else to_owner)
        asset = jetton or asset
        excess = internal.child_via(EXCESSES)
        if excess is not None:
            claimed.append(excess)
    return _base(
        node,
        "jetton_mint",
        claimed=claimed,
        destination=to_owner,
        destination_secondary=wallet,
        asset=asset,
        amount=amount,
        value=body.get("ton_amount"),
    )


@opcodes(JETTON_INTERNAL)
def match_jetton_mint(node: Node, ctx: Ctx) -> dict | None:
    """Internal transfer (0x178d4519) arriving at a jetton wallet DIRECTLY
    from its master (not from a peer wallet) = mint."""
    if node.in_msg is None or node.in_msg.opcode != JETTON_INTERNAL:
        return None
    wallets = ctx.get("jetton_wallets", {})
    info = wallets.get(node.account)
    if info is None or node.in_msg.source != info[1]:
        return None
    payload = node.in_msg.decoded_body()
    claimed = [node]
    notify = node.child_via(JETTON_NOTIFY)
    if notify is not None:
        claimed.append(notify)
    return _base(
        node,
        "jetton_mint",
        claimed=claimed,
        source=info[1],
        destination=info[0],
        destination_secondary=node.account,
        asset=info[1],
        amount=payload.get("amount"),
    )


def match_nft_put_on_sale(node: Node, ctx: Ctx) -> dict | None:
    """Deploy of a known sale contract followed by the NFT moving into it
    (nft_transfer whose new owner is the sale) = put-on-sale; a deploy of
    a known AUCTION contract = put-on-auction (the reference's
    NftPutOnSaleBlockMatcher sale-type split)."""
    if not (node.orig_status != "active" and node.end_status == "active"):
        return None
    sales = ctx.get("nft_sales", {})
    auctions = ctx.get("auctions") or set()
    if node.account not in sales and node.account not in auctions:
        return None
    body = node.in_msg.decoded_body() if node.in_msg is not None else {}
    return _base(
        node,
        "nft_put_on_sale" if node.account in sales else "nft_put_on_auction",
        claimed=[node],
        destination=node.account,
        # the listed NFT item (auctions: from the deploy payload if any)
        asset=sales.get(node.account) or body.get("nft_address"),
        # nft_listing_details (migrate.cpp:822) — populated from the sale
        # contract's deploy payload where decodable
        nft_listing_data={
            "full_price": body.get("full_price"),
            "marketplace_fee": body.get("marketplace_fee"),
            "royalty_amount": body.get("royalty_amount"),
            "marketplace_fee_address": body.get("marketplace_fee_address"),
            "royalty_address": body.get("royalty_address"),
            "marketplace": body.get("marketplace", "getgems"),
        },
    )


def match_auction_bid(node: Node, ctx: Ctx) -> dict | None:
    """Plain value transfer into a known auction contract = bid."""
    m = node.in_msg
    if m is None or m.source is None or (m.value or 0) <= 0:
        return None
    if m.opcode not in (None, 0):
        return None
    if node.account not in (ctx.get("auctions") or set()):
        return None
    return _base(node, "auction_bid", destination=node.account)


TS_MINT_TOKENS = 0x1674B0A0  # mint jettons / mint NFT (staking.py:26-30)


@opcodes(STAKE_DEPOSIT_OP)
def match_stake_deposit(node: Node, ctx: Ctx) -> dict | None:
    """Tonstakers deposit (staking.py:132-176 TONStakersDepositMatcher):
    deposit request at the pool, minting tsTON back to the user; amount =
    message value minus the 1-TON deposit fee, asset = the minter the
    internal transfer came from, serialized per
    block_tree_serializer.py:505-514."""
    if node.in_msg is None or node.in_msg.opcode != STAKE_DEPOSIT_OP:
        return None
    claimed = [node]
    mint = node.child_via(TS_MINT_TOKENS)
    tokens_minted = None
    asset = None
    internal = None
    if mint is not None:
        claimed.append(mint)
        internal = mint.child_via(JETTON_INTERNAL)
    if internal is not None:
        claimed.append(internal)
        tokens_minted = internal.in_msg.decoded_body().get("amount")
        asset = internal.in_msg.source
        for c in internal.children:
            if c.in_msg is not None and c.in_msg.opcode in (
                EXCESSES, JETTON_NOTIFY,
            ):
                claimed.append(c)
    claimed += [
        c for c in node.children
        if c.in_msg is not None and c.in_msg.opcode == EXCESSES
        and c not in claimed
    ]
    value = node.in_msg.value
    return _base(node, "stake_deposit", claimed=claimed,
                 destination=node.account,
                 amount=(value - 10**9) if value is not None else None,
                 asset=asset,
                 success=internal is not None,
                 staking_data={
                     "provider": "liquid_staking",
                     "tokens_minted": tokens_minted,
                 })


@opcodes(JETTON_TRANSFER)
def match_jetton_swap(node: Node, ctx: Ctx) -> dict | None:
    """DEX swap: a jetton-transfer chain INTO a pool account, whose notify
    triggers a second jetton-transfer chain OUT of the pool back to the
    sender — the two-leg structure of Stonfi/DeDust-style swaps
    (swaps.py:189-209 pattern family, re-derived structurally)."""
    leg_in = _jetton_chain(node, ctx)
    if leg_in is None:
        return None
    pools = ctx.get("dex_pools", set())
    if leg_in["notify"] is None or leg_in["notify"].account not in pools:
        return None

    # follow the hop chain: each pool's notification may feed the NEXT
    # pool's transfer (multi-hop peer swaps, FIXTURES.md peer_swaps[])
    legs = [leg_in]
    pool_nodes = []
    cur = leg_in
    while cur["notify"] is not None and cur["notify"].account in pools:
        pool_node = cur["notify"]
        pool_nodes.append(pool_node)
        nxt = None
        for child in pool_node.children:
            nxt = _jetton_chain(child, ctx)
            if nxt is not None:
                break
        if nxt is None:
            return None  # pool consumed the transfer but produced nothing
        legs.append(nxt)
        cur = nxt
    if len(legs) < 2:
        return None
    leg_out = legs[-1]
    pool_node = pool_nodes[0]
    peer_swaps = [
        {
            "asset_in": a["asset"],
            "amount_in": a["amount"],
            "asset_out": b["asset"],
            "amount_out": b["amount"],
        }
        for a, b in zip(legs[:-1], legs[1:])
    ]
    claimed = [n for leg in legs for n in leg["claimed"]] + pool_nodes
    claimed = list(dict.fromkeys(claimed))
    sender = node.in_msg.source
    parent = _base(
        node,
        "jetton_swap",
        claimed=claimed,
        source=sender,
        source_secondary=leg_in["sender_wallet"],
        destination=leg_out["dest_owner"],
        destination_secondary=leg_out["receiver_wallet"],
        asset=leg_in["asset"],
        asset2=leg_out["asset"],
        amount=leg_in["amount"],
        jetton_swap_data={
            "dex": ctx.get("pool_dex", {}).get(pool_node.account, "unknown"),
            "sender": sender,
            "amount_in": leg_in["amount"],
            "asset_in": leg_in["asset"],
            "amount_out": leg_out["amount"],
            "asset_out": leg_out["asset"],
            "peer_address": pool_node.account,
            "peer_swaps": peer_swaps,
            # dex_transfer_details twins (migrate.cpp:86,92): the transfer
            # INTO the first pool and the payout OUT of the last pool
            "dex_incoming_transfer": {
                "amount": leg_in["amount"],
                "asset": leg_in["asset"],
                "source": sender,
                "destination": pool_node.account,
                "source_jetton_wallet": leg_in["sender_wallet"],
                "destination_jetton_wallet": leg_in["receiver_wallet"],
            },
            "dex_outgoing_transfer": {
                "amount": leg_out["amount"],
                "asset": leg_out["asset"],
                "source": pool_nodes[-1].account,
                "destination": leg_out["dest_owner"],
                "source_jetton_wallet": leg_out["sender_wallet"],
                "destination_jetton_wallet": leg_out["receiver_wallet"],
            },
        },
    )
    # child actions: every transfer leg, ancestor-tagged so the API's
    # suppression predicate (P7, crud_actions_v2.go:437) can drop them when
    # the parent swap is already returned
    children = []
    for leg in legs:
        root_node = leg["claimed"][0]
        children.append(
            {
                **_base(root_node, "jetton_transfer", claimed=leg["claimed"]),
                "source_secondary": leg["sender_wallet"],
                "destination": leg["dest_owner"],
                "destination_secondary": leg["receiver_wallet"],
                "asset": leg["asset"],
                "amount": leg["amount"],
                "ancestor_type": ["jetton_swap"],
            }
        )
    parent["children"] = children
    return parent


@opcodes(MULTISIG_NEW_ORDER)
def match_multisig_create_order(node: Node, ctx: Ctx) -> dict | None:
    if node.in_msg is None or node.in_msg.opcode != MULTISIG_NEW_ORDER:
        return None
    if ctx.get("multisig") is not None and node.account not in ctx["multisig"]:
        return None
    claimed = [node] + node.children  # order-contract deploy leg, if any
    body = node.in_msg.decoded_body()
    return _base(
        node,
        "multisig_create_order",
        claimed=claimed,
        destination=node.account,
        multisig_create_order_data={
            "query_id": body.get("query_id"),
            "order_seqno": body.get("order_seqno"),
            "is_created_by_signer": body.get("is_created_by_signer"),
            "is_signed_by_creator": body.get("is_signed_by_creator"),
            "creator_index": body.get("creator_index"),
            "expiration_date": body.get("expiration_date"),
            "order_boc": body.get("order_boc"),
        },
    )


@opcodes(JETTON_TRANSFER)
def match_jetton_transfer(node: Node, ctx: Ctx) -> dict | None:
    """owner → sender-wallet (0x0f8a7ea5) → receiver-wallet (0x178d4519)
    [→ owner notify (0x7362d09c)] [→ excesses (0xd53276db)]

    Also covers the proxy-TON single-wallet shape: no internal-transfer
    leg, the wallet notifies the receiver directly (the reference's
    PTonTransferMatcher builds the same jetton_transfer block)."""
    if node.in_msg is None or node.in_msg.opcode != JETTON_TRANSFER:
        return None
    internal = node.child_via(JETTON_INTERNAL)
    if internal is None:
        # proxy-TON shape, gated on the known pTON masters exactly like
        # the reference (PTonTransferMatcher, jettons.py:110-164): both
        # wallet columns serialize as null
        wallets = ctx.get("jetton_wallets", {})
        jetton = wallets.get(node.account, (None, None))[1]
        if jetton not in PTON_MASTERS:
            return None
        notify = node.child_via(JETTON_NOTIFY)
        if notify is None:
            return None
        claimed = [node, notify]
        excess = node.child_via(EXCESSES)
        if excess is not None:
            claimed.append(excess)
        payload = node.in_msg.decoded_body()
        return _base(
            node,
            "jetton_transfer",
            claimed=claimed,
            source=node.in_msg.source,
            source_secondary=None,
            destination=payload.get("destination", notify.account),
            destination_secondary=None,
            asset=jetton,
            amount=payload.get("amount"),
            jetton_transfer_data={
                "query_id": payload.get("query_id"),
                "response_destination": payload.get("response_destination"),
                "forward_amount": payload.get("forward_ton_amount"),
                "custom_payload": payload.get("custom_payload"),
                "forward_payload": payload.get("forward_payload"),
                "comment": payload.get("forward_comment"),
                "is_encrypted_comment": payload.get("is_encrypted", False),
                "has_internal_transfer": False,
            },
        )
    claimed = [node, internal]
    notify = internal.child_via(JETTON_NOTIFY)
    if notify is not None:
        claimed.append(notify)
    excess = internal.child_via(EXCESSES) or node.child_via(EXCESSES)
    if excess is not None and excess not in claimed:
        claimed.append(excess)

    payload = node.in_msg.decoded_body()
    wallets = ctx.get("jetton_wallets", {})
    sender_wallet = node.account
    receiver_wallet = internal.account
    owner_jetton = wallets.get(sender_wallet, (None, None))
    dest_owner = (
        notify.account
        if notify is not None
        else wallets.get(receiver_wallet, (None, None))[0]
    )
    return _base(
        node,
        "jetton_transfer",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=sender_wallet,
        destination=payload.get("destination", dest_owner),
        destination_secondary=receiver_wallet,
        asset=owner_jetton[1],
        amount=payload.get("amount"),
        jetton_transfer_data={
            "query_id": payload.get("query_id"),
            "response_destination": payload.get("response_destination"),
            "forward_amount": payload.get("forward_ton_amount"),
            "comment": payload.get("comment"),
            "is_encrypted_comment": payload.get("is_encrypted", False),
            "has_internal_transfer": True,
        },
    )


@opcodes(JETTON_TRANSFER)
def match_jetton_transfer_fallback(node: Node, ctx: Ctx) -> dict | None:
    """Transfer request with NO internal-transfer leg (wallet rejected or
    out-of-gas before spawning 0x178d4519) — still a user-intent transfer.
    Reference: FallbackJettonTransferBlockMatcher (blocks/jettons.py:282-330),
    which serializes the same jetton_transfer action with
    has_internal_transfer=False and receiver_wallet unknown."""
    if node.in_msg is None or node.in_msg.opcode != JETTON_TRANSFER:
        return None
    wallets = ctx.get("jetton_wallets", {})
    if "jetton_wallets" in ctx.get("dims_present", ()) and (
        node.account not in wallets
    ):
        # interface gating (C6): when the jetton_wallets DIMENSION was
        # hydrated, membership is authoritative — gate unconditionally,
        # even if no wallet of this trace resolved.  (Gating on the
        # per-trace dict being non-empty would let an incomplete hydration
        # drop genuine transfers and an empty one admit collisions.)
        return None
    payload = node.in_msg.decoded_body()
    if payload.get("amount") is None or payload.get("destination") is None:
        # reference analog: JettonTransfer(body) raising aborts the match
        # (blocks/jettons.py:292) — an opcode collision with a body that
        # does not decode BOTH amount and destination is NOT a transfer;
        # without this, any 0x0f8a7ea5 message in an interface-less trace
        # would classify
        return None
    owner, jetton = wallets.get(node.account, (None, None))
    return _base(
        node,
        "jetton_transfer",
        claimed=[node],
        source=node.in_msg.source or owner,
        source_secondary=node.account,
        destination=payload.get("destination"),
        destination_secondary=None,
        asset=jetton,
        amount=payload.get("amount"),
        jetton_transfer_data={
            "query_id": payload.get("query_id"),
            "response_destination": payload.get("response_destination"),
            "forward_amount": payload.get("forward_ton_amount"),
            "comment": payload.get("comment"),
            "is_encrypted_comment": payload.get("is_encrypted", False),
            "has_internal_transfer": False,
        },
    )


@opcodes(JETTON_BURN)
def match_jetton_burn(node: Node, ctx: Ctx) -> dict | None:
    if node.in_msg is None or node.in_msg.opcode != JETTON_BURN:
        return None
    wallets_ctx = ctx.get("jetton_wallets", {})
    if (
        wallets_ctx or "jetton_wallets" in ctx.get("dims_present", ())
    ) and node.account not in wallets_ctx:
        # burn requests are only valid at jetton-wallet contracts — without
        # the interface the opcode is just a call (interface gating, C6)
        return None
    claimed = [node]
    notify = node.child_via(BURN_NOTIFY)
    if notify is not None:
        claimed.append(notify)
    payload = node.in_msg.decoded_body()
    wallets = ctx.get("jetton_wallets", {})
    owner, jetton = wallets.get(node.account, (None, None))
    return _base(
        node,
        "jetton_burn",
        claimed=claimed,
        source=node.in_msg.source or owner,
        source_secondary=node.account,
        destination=None,
        asset=jetton,
        amount=payload.get("amount"),
    )


def _num(v):
    """Captured interface numbers arrive as str/float — exact int or None."""
    if v is None:
        return None
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return None


@opcodes(NFT_TRANSFER)
def match_nft_transfer(node: Node, ctx: Ctx) -> dict | None:
    """old-owner → nft item (0x5fcc3d14) [→ new-owner (0x05138d91)],
    with the reference's purchase detection (nft.py:105-190): a transfer
    triggered by a sale/auction contract in the parent position becomes
    is_purchase=true with the listing's price and real previous owner;
    the action stays type nft_transfer unless the seller payout rides
    downstream of the transfer (the nft_purchase upgrade,
    nft.py:193-250)."""
    if node.in_msg is None or node.in_msg.opcode != NFT_TRANSFER:
        return None
    if ctx.get("nft_items") is not None and node.account not in ctx["nft_items"]:
        return None
    claimed = [node]
    assigned = node.child_via(OWNERSHIP_ASSIGNED)
    if assigned is not None:
        claimed.append(assigned)
    excess = node.child_via(EXCESSES)
    if excess is not None:
        claimed.append(excess)
    payload = node.in_msg.decoded_body()
    new_owner = payload.get(
        "new_owner", assigned.account if assigned else None
    )
    prev_owner = (
        assigned.in_msg.decoded_body().get("prev_owner")
        if assigned is not None else None
    ) or node.in_msg.source

    data = {
        "is_purchase": False,
        "price": None,
        "query_id": payload.get("query_id"),
        "nft_item_index": ctx.get("nft_index", {}).get(node.account),
        "forward_amount": payload.get("forward_amount"),
        "custom_payload": payload.get("custom_payload"),
        "forward_payload": payload.get("forward_payload"),
        "response_destination": payload.get("response_destination"),
    }
    parent = node.parent
    purchase = None
    if parent is not None:
        pm = parent.in_msg
        sinfo = ctx.get("nft_sale_info", {}).get(parent.account)
        if sinfo is None and parent.account in (ctx.get("nft_sales") or {}):
            sinfo = {"nft_address": ctx["nft_sales"][parent.account]}
        ainfo = ctx.get("nft_auction_info", {}).get(parent.account)
        if (
            sinfo is not None
            and sinfo.get("nft_address") == node.account
            and pm is not None
            and pm.opcode in (None, 0)
            and (pm.source is None or new_owner is None
                 or pm.source == new_owner)
        ):
            purchase = {
                "price": _num(sinfo.get("full_price")),
                "real_prev_owner": sinfo.get("nft_owner_address"),
                "marketplace_address": sinfo.get("marketplace_address"),
            }
        elif ainfo is not None and ainfo.get("nft_addr") == node.account:
            purchase = {
                "price": _num(ainfo.get("last_bid")),
                "real_prev_owner": ainfo.get("nft_owner"),
                "marketplace_address": ainfo.get("mp_addr"),
            }
    from_sale = False
    if purchase is not None and purchase["real_prev_owner"] != new_owner:
        from_sale = parent.account in ctx.get("nft_sale_info", {}) or (
            parent.account in (ctx.get("nft_sales") or {})
        )
        data.update(
            is_purchase=True,
            price=purchase["price"],
            marketplace="getgems",
            marketplace_address=purchase["marketplace_address"],
            real_prev_owner=purchase["real_prev_owner"],
            payout_comment=None,
        )
        # the triggering buy message joins the action unless it is the
        # finish/stop proxy (nft.py:153-157)
        pm = parent.in_msg
        comment = pm.decoded_body().get("comment") if pm.body else None
        if comment not in ("finish", "stop"):
            claimed.append(parent)
    act = _base(
        node,
        "nft_transfer",
        claimed=claimed,
        source=prev_owner,
        destination=new_owner,
        asset=ctx.get("nft_collection", {}).get(node.account),
        asset_secondary=node.account,
        # only the transfer leg's own failure fails the action — an
        # aborted zero-value ownership notice doesn't (nft.py:165)
        success=not node.aborted,
        nft_transfer_data=data,
    )
    if from_sale and purchase is not None:
        # the fix-price flow ALSO serializes an upgraded nft_purchase
        # when the seller payout is present (nft.py:193-250
        # GetgemsNftPurchaseBlockMatcher); auctions don't
        payout = next(
            (c for c in parent.children
             if c is not node and c.in_msg is not None
             and c.account == purchase["real_prev_owner"]
             and (c.in_msg.value or 0) > 0),
            None,
        )
        if payout is not None:
            pdata = dict(data)
            pdata["payout_amount"] = payout.in_msg.value
            pbody = payout.in_msg.decoded_body() if payout.in_msg.body else {}
            pdata["payout_comment"] = pbody.get("comment")
            pdata["payout_comment_encrypted"] = bool(
                pbody.get("is_encrypted")
            )
            pdata["payout_comment_encoded"] = (
                pbody.get("comment") is not None
            )
            act["children"] = [
                _base(
                    node,
                    "nft_purchase",
                    claimed=claimed + [payout],
                    source=prev_owner,
                    destination=new_owner,
                    asset=ctx.get("nft_collection", {}).get(node.account),
                    asset_secondary=node.account,
                    success=not node.aborted,
                    nft_transfer_data=pdata,
                )
            ]
    return act


@opcodes(SUBSCRIPTION_PAY_RESPONSE, SUBSCRIPTION_PAYMENT)
def match_subscription(node: Node, ctx: Ctx) -> dict | None:
    """Wallet-plugin subscription payment (subscriptions.py:28-59).

    Reference anchor: the wallet's payment-request RESPONSE (0xf06c7567)
    arriving at the subscription contract, with the 'subs' payment leg to
    the beneficiary as required child and the original 'plug' request
    (which carries the grams amount) as optional parent.  Fill
    (block_tree_serializer.py _fill_subscribe_action): source=subscriber,
    destination=beneficiary, destination_secondary=subscription.  The
    request-anchored arm below keeps the degenerate shape (no response
    round-trip recorded) classifying the same way."""
    m = node.in_msg
    if m is None:
        return None
    if m.opcode == SUBSCRIPTION_PAY_RESPONSE:
        paid = node.child_via(SUBSCRIPTION_PAY_INTERNAL)
        if paid is None:
            return None
        claimed = [node, paid]
        amount = m.value
        success = True
        request = node.parent
        if (request is not None and request.in_msg is not None
                and request.in_msg.opcode == SUBSCRIPTION_PAYMENT):
            claimed.append(request)
            grams = request.in_msg.decoded_body().get("grams")
            if grams is not None:
                amount = int(grams)
            success = not request.aborted
        return _base(
            node, "subscribe", claimed=claimed,
            source=m.source, destination=paid.account,
            destination_secondary=node.account,
            amount=amount, success=success,
        )
    if m.opcode == SUBSCRIPTION_PAYMENT:
        claimed = [node]
        grams = m.decoded_body().get("grams")
        # full round-trip present: the wallet's response returns to the
        # subscription which pays the beneficiary — walk through so the
        # action's destination is the BENEFICIARY, not the subscription
        # (the request anchor runs first in the node-major loop, so it
        # must build the same fill the response anchor would)
        resp = node.child_via(SUBSCRIPTION_PAY_RESPONSE)
        if resp is not None:
            claimed.append(resp)
            paid = resp.child_via(SUBSCRIPTION_PAY_INTERNAL)
            if paid is not None:
                claimed.append(paid)
            return _base(
                node, "subscribe", claimed=claimed,
                source=node.account,
                destination=paid.account if paid is not None else None,
                destination_secondary=m.source,
                amount=int(grams) if grams is not None else (
                    resp.in_msg.value if resp.in_msg else None
                ),
                success=not node.aborted,
            )
        paid = next(
            (c for c in node.children
             if c.in_msg is not None and (c.in_msg.value or 0) > 0),
            None,
        )
        if paid is not None:
            claimed.append(paid)
        return _base(
            node, "subscribe", claimed=claimed,
            source=node.account,
            destination=paid.account if paid is not None else None,
            destination_secondary=m.source,
            amount=int(grams) if grams is not None else (
                paid.in_msg.value if paid is not None and paid.in_msg else None
            ),
        )
    return None


def match_multisig_approve(node: Node, ctx: Ctx) -> dict | None:
    m = node.in_msg
    if m is None:
        return None
    signer_index = None
    is_approve = False
    if m.opcode == MULTISIG_APPROVE:
        is_approve = True
        signer_index = m.decoded_body().get("signer_index")
    elif (
        m.opcode in (None, 0)
        and m.body
        and m.decoded_body().get("comment") == "approve"
    ):
        # vote-by-comment arm (reference MultisigApproveBlockMatcher
        # test_self, multisig.py:167-175); no signer index available
        # through this path (multisig.py:192-200)
        is_approve = True
        signer_index = -1
    if is_approve:
        # the order contract must answer accepted or rejected — the
        # reference refuses to build the block otherwise
        # (multisig.py:178-189); success and exit_code come from which
        accepted = node.child_via(MULTISIG_APPROVE_ACCEPTED)
        rejected = (
            None if accepted is not None
            else node.child_via(MULTISIG_APPROVE_REJECTED)
        )
        resp = accepted or rejected
        if resp is None:
            return None
        exit_code = (
            0 if accepted is not None
            else rejected.in_msg.decoded_body().get("exit_code")
        )
        return _base(
            node, "multisig_approve", claimed=[node, resp],
            destination=node.account,
            success=accepted is not None and not node.aborted,
            multisig_approve_data={
                "signer_index": signer_index,
                "exit_code": exit_code,
            },
        )
    if m.opcode == MULTISIG_EXECUTE:
        body = m.decoded_body()
        return _base(
            node, "multisig_execute", destination=node.account,
            multisig_execute_data={
                "query_id": body.get("query_id"),
                "order_seqno": body.get("order_seqno"),
                "expiration_date": body.get("expiration_date"),
                "approvals_num": body.get("approvals_num"),
                "signers_hash": body.get("signers_hash"),
                "order_boc": body.get("order_boc"),
            },
        )
    return None


@opcodes(CHANGE_DNS_OP)
def match_change_dns(node: Node, ctx: Ctx) -> dict | None:
    """change_dns_record at a DNS item; an empty record payload means
    deletion (the reference's change_dns vs delete_dns distinction)."""
    if node.in_msg is None or node.in_msg.opcode != CHANGE_DNS_OP:
        return None
    payload = node.in_msg.decoded_body()
    if payload.get("value") in (None, ""):
        # no value + the all-zero key = renewal, else record deletion
        # (reference dns.py:51-69 zero_key branch)
        key = payload.get("key") or ""
        typ = "renew_dns" if set(key) <= {"0"} and key else "delete_dns"
    else:
        typ = "change_dns"
    return _base(
        node, typ, asset=node.account,
        change_dns_record_data={
            "key": payload.get("key"),
            "value_schema": payload.get("value_schema"),
            "value": payload.get("value") or None,
            "flags": payload.get("flags"),
        },
    )


@opcodes(ELECTOR_NEW_STAKE, ELECTOR_RECOVER_STAKE)
def match_election(node: Node, ctx: Ctx) -> dict | None:
    m = node.in_msg
    if m is None:
        return None
    if m.opcode == ELECTOR_NEW_STAKE:
        claimed = [node] + [
            c for c in node.children
            if c.in_msg is not None and c.in_msg.opcode is not None
        ][:1]  # confirmation leg
        return _base(node, "election_deposit", claimed=claimed,
                     destination=node.account)
    if m.opcode == ELECTOR_RECOVER_STAKE:
        return _base(node, "election_recover", destination=m.source)
    return None


@opcodes(STAKE_WITHDRAW_OP)
def match_stake_withdraw(node: Node, ctx: Ctx) -> dict | None:
    """Liquid-staking withdraw (staking.py TONStakersWithdraw family):
    a withdraw request at the pool; when the payout leg (pool_withdrawal
    op or plain value) fires in the same trace it's a completed
    `stake_withdrawal`, else a `stake_withdrawal_request`."""
    m = node.in_msg
    if m is None or m.opcode != STAKE_WITHDRAW_OP:
        return None
    payout = next(
        (c for c in node.children
         if c.in_msg is not None
         and (c.in_msg.opcode == POOL_WITHDRAWAL or (c.in_msg.value or 0) > 0)),
        None,
    )
    body = m.decoded_body()
    staking = {"provider": "tonstakers", "tokens_burnt": body.get("amount")}
    if payout is not None:
        return _base(
            node, "stake_withdrawal", claimed=[node, payout],
            source=node.account, destination=m.source,
            amount=payout.in_msg.value,
            staking_data=staking,
        )
    return _base(node, "stake_withdrawal_request", destination=node.account,
                 staking_data=staking)


@opcodes(VESTING_SEND, VESTING_ADD_WHITELIST)
def match_vesting(node: Node, ctx: Ctx) -> dict | None:
    """Vesting wallet ops (vesting.py): send_message forwards an inner
    message (left unclaimed — it classifies as its own action, as in the
    reference); add_whitelist extends the allowed-destination list.  The
    ack leg (response_opcode) is claimed with the request."""
    m = node.in_msg
    if m is None:
        return None
    if m.opcode == VESTING_SEND:
        typ, resp_op = "vesting_send_message", VESTING_SEND_RESP
    elif m.opcode == VESTING_ADD_WHITELIST:
        typ, resp_op = "vesting_add_whitelist", VESTING_ADD_WHITELIST_RESP
    else:
        return None
    claimed = [node]
    resp = node.child_via(resp_op)
    if resp is not None:
        claimed.append(resp)
    body = m.decoded_body()
    extra: dict = (
        {"vesting_send_message_data": {
            "query_id": body.get("query_id"),
            "message_boc": body.get("message_boc"),
        }}
        if typ == "vesting_send_message"
        else {"vesting_add_whitelist_data": {
            "query_id": body.get("query_id"),
            "accounts_added": body.get("accounts_added"),
        }}
    )
    if typ == "vesting_send_message":
        # destination_secondary = where the forwarded message goes; amount
        # = its value (block_tree_serializer.py:810-820)
        extra["destination_secondary"] = body.get("message_destination")
        extra["amount"] = body.get("message_value")
    return _base(node, typ, claimed=claimed, destination=node.account,
                 **extra)


@opcodes(UNSUBSCRIBE_OP)
def match_unsubscribe(node: Node, ctx: Ctx) -> dict | None:
    """Wallet plugin destruct ('dstr') = unsubscribe
    (subscriptions.py:62-80): the subscription contract forwards the
    destruct to the beneficiary when returning the remaining balance —
    that leg, when present, names the action's destination
    (_fill_unsubscribe_action: source=subscriber, destination=beneficiary,
    destination_secondary=subscription)."""
    if node.in_msg is None or node.in_msg.opcode != UNSUBSCRIBE_OP:
        return None
    return _base(node, "unsubscribe", destination=node.account)


@opcodes(NFT_DISCOVERY)
def match_nft_discovery(node: Node, ctx: Ctx) -> dict | None:
    """TEP-62 get_static_data → report_static_data round trip."""
    if node.in_msg is None or node.in_msg.opcode != NFT_DISCOVERY:
        return None
    claimed = [node]
    report = node.child_via(NFT_REPORT_STATIC)
    if report is not None:
        claimed.append(report)
    return _base(node, "nft_discovery", claimed=claimed, asset=node.account)


@opcodes(JETTON_TRANSFER)
def match_dex_deposit_liquidity(node: Node, ctx: Ctx) -> dict | None:
    """Provide-liquidity: a jetton-transfer chain INTO a pool whose
    notification makes the pool mint LP tokens straight from its own
    wallet (a bare 0x178d4519 child, not a full transfer chain — which is
    what distinguishes it from a swap's second leg)."""
    leg = _jetton_chain(node, ctx)
    if leg is None:
        return None
    pools = ctx.get("dex_pools", set())
    notify = leg["notify"]
    if notify is None or notify.account not in pools:
        return None
    lp_mint = notify.child_via(JETTON_INTERNAL)
    if lp_mint is None:
        return None
    claimed = list(leg["claimed"]) + [lp_mint]  # notify already in the leg
    lp_notify = lp_mint.child_via(JETTON_NOTIFY)
    if lp_notify is not None:
        claimed.append(lp_notify)
    lp_body = lp_mint.in_msg.decoded_body()
    return _base(
        node,
        "dex_deposit_liquidity",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=leg["sender_wallet"],
        destination=notify.account,
        destination_secondary=lp_mint.account,
        asset=leg["asset"],
        amount=leg["amount"],
        dex_deposit_liquidity_data={
            "dex": ctx.get("pool_dex", {}).get(notify.account, "unknown"),
            "amount1": leg["amount"],
            "asset1": leg["asset"],
            "user_jetton_wallet_1": leg["sender_wallet"],
            "lp_tokens_minted": lp_body.get("amount"),
        },
    )


@opcodes(JETTON_BURN)
def match_dex_withdraw_liquidity(node: Node, ctx: Ctx) -> dict | None:
    """Withdraw-liquidity: LP-token burn whose burn-notification lands at
    a pool, which pays the underlying assets back out (jetton chains
    and/or plain value legs)."""
    if node.in_msg is None or node.in_msg.opcode != JETTON_BURN:
        return None
    notify = node.child_via(BURN_NOTIFY)
    pools = ctx.get("dex_pools", set())
    if notify is None or notify.account not in pools:
        return None
    claimed = [node, notify]
    out_legs: list[dict] = []
    value_legs: list[Node] = []
    for c in notify.children:
        out_leg = _jetton_chain(c, ctx)
        if out_leg is not None:
            claimed += out_leg["claimed"]
            out_legs.append(out_leg)
        elif c.in_msg is not None and (c.in_msg.value or 0) > 0:
            claimed.append(c)
            value_legs.append(c)
    wallets = ctx.get("jetton_wallets", {})
    owner, lp_jetton = wallets.get(node.account, (None, None))
    payload = node.in_msg.decoded_body()
    amounts = [lg["amount"] for lg in out_legs] + [
        c.in_msg.value for c in value_legs
    ]
    assets_out = [lg["asset"] for lg in out_legs] + ["TON"] * len(value_legs)
    return _base(
        node,
        "dex_withdraw_liquidity",
        claimed=claimed,
        source=node.in_msg.source or owner,
        source_secondary=node.account,
        destination=notify.account,
        asset=lp_jetton,
        amount=payload.get("amount"),
        dex_withdraw_liquidity_data={
            "dex": ctx.get("pool_dex", {}).get(notify.account, "unknown"),
            "lp_tokens_burnt": payload.get("amount"),
            "amount1": amounts[0] if amounts else None,
            "amount2": amounts[1] if len(amounts) > 1 else None,
            "asset1_out": assets_out[0] if assets_out else None,
            "asset2_out": assets_out[1] if len(assets_out) > 1 else None,
        },
    )


def match_nft_sale_cancel_or_finish(node: Node, ctx: Ctx) -> dict | None:
    """Getgems sale/auction lifecycle ops are driven by text comments
    ('cancel', 'finish'/'stop' — nft.py:154,208): the contract returns the
    item (and, on auction finish, pays out the seller)."""
    m = node.in_msg
    if m is None or m.source is None:
        return None
    sales = ctx.get("nft_sales", {})
    auctions = ctx.get("auctions") or set()
    is_sale, is_auction = node.account in sales, node.account in auctions
    if not (is_sale or is_auction):
        return None
    comment = m.decoded_body().get("comment")
    if comment == "cancel":
        typ = "nft_cancel_sale" if is_sale else "nft_cancel_auction"
    elif comment in ("finish", "stop") and is_auction:
        typ = "nft_finish_auction"
    else:
        return None
    claimed = [node]
    nft_leg = node.child_via(NFT_TRANSFER)
    if nft_leg is not None:
        claimed.append(nft_leg)
        assigned = nft_leg.child_via(OWNERSHIP_ASSIGNED)
        if assigned is not None:
            claimed.append(assigned)
    claimed += [
        c for c in node.children
        if c not in claimed and c.in_msg is not None
        and (c.in_msg.value or 0) > 0
    ]
    return _base(
        node,
        typ,
        claimed=claimed,
        source=m.source,
        destination=node.account,
        asset=sales.get(node.account) or (nft_leg.account if nft_leg else None),
    )


def match_ton_transfer(node: Node, ctx: Ctx) -> dict | None:
    m = node.in_msg
    if m is None or m.source is None:  # externals are not transfers
        return None
    if (m.opcode in (None, 0)) and (m.value or 0) > 0:
        payload = m.decoded_body()
        return _base(
            node,
            "ton_transfer",
            asset="TON",
            ton_transfer_data={
                "content": payload.get("comment"),
                "encrypted": bool(payload.get("is_encrypted", False)),
            },
        )
    return None


def match_call_contract(node: Node, ctx: Ctx) -> dict | None:
    m = node.in_msg
    if m is None or m.source is None or m.opcode in (None, 0):
        return None
    return _base(node, "call_contract")


AUCTION_FILL_UP_OP = 0x370FEC51  # auction_fill_up (auction.py)


def match_nft_sale_purchase(node: Node, ctx: Ctx) -> dict | None:
    """Value into a known sale contract that triggers the NFT transfer:
    delegate to the transfer matcher anchored at the child so the buy
    message is claimed into the SAME action instead of leaking a plain
    ton_transfer first (node-major analog of the reference's
    matcher-major priority)."""
    m = node.in_msg
    if m is None or m.opcode not in (None, 0):
        return None
    if (
        node.account not in ctx.get("nft_sale_info", {})
        and node.account not in (ctx.get("nft_sales") or {})
    ):
        return None
    # lifecycle comments drive cancel/finish, not purchases (nft.py:154)
    if m.body and m.decoded_body().get("comment") in (
        "cancel", "finish", "stop",
    ):
        return None
    child = node.child_via(NFT_TRANSFER)
    if child is None or child.consumed:
        return None
    return match_nft_transfer(child, ctx)


@opcodes(OWNERSHIP_ASSIGNED)
def match_nft_ownership_notice(node: Node, ctx: Ctx) -> dict | None:
    """A bare ownership_assigned notification from a known NFT item is a
    transfer in its own right (nft.py:299-345 non-purchase arm of
    TelegramNftPurchaseBlockMatcher) — e.g. the payout-NFT handed to a
    staker next to its mint."""
    m = node.in_msg
    if m is None or m.opcode != OWNERSHIP_ASSIGNED:
        return None
    item = m.source
    if item is None or item not in (ctx.get("nft_items") or set()):
        return None
    body = m.decoded_body()
    qid = body.get("query_id")
    data = {
        "query_id": int(qid) if qid is not None else None,
        "is_purchase": False,
        "price": None,
        "nft_item_index": ctx.get("nft_index", {}).get(item),
        "forward_amount": None,
        "custom_payload": None,
        "forward_payload": body.get("forward_payload"),
        "response_destination": None,
    }
    claimed = [node]
    bid = body.get("bid")
    if bid is not None:
        # teleitem bid payload = a fragment purchase; the item's own call
        # and its auction fill-up payouts join the action
        # (nft.py:299-363 TelegramNftPurchaseBlockMatcher purchase arm)
        data.update(is_purchase=True, price=int(bid),
                    marketplace="fragment", real_prev_owner=None)
        parent = node.parent
        if parent is not None and (
            parent.in_msg is None
            or parent.in_msg.opcode in (None, 0)
            or parent.in_msg.source is None
        ):
            claimed.append(parent)
            payouts = sorted(
                (c for c in parent.children if c.in_msg is not None
                 and c.in_msg.opcode == AUCTION_FILL_UP_OP),
                key=lambda c: c.in_msg.created_lt or 0,
            )
            claimed += payouts
            if len(payouts) > 1:
                data["royalty_amount"] = payouts[0].in_msg.value
                data["payout_amount"] = payouts[1].in_msg.value
                data["royalty_address"] = payouts[0].account
                data["payout_address"] = payouts[1].account
            elif payouts:
                data["payout_amount"] = payouts[0].in_msg.value
                data["payout_address"] = payouts[0].account
    return _base(
        node,
        "nft_transfer",
        claimed=claimed,
        source=body.get("prev_owner"),
        destination=node.account,
        asset=ctx.get("nft_collection", {}).get(item),
        asset_secondary=item,
        success=True,
        nft_transfer_data=data,
    )


# priority order mirrors specificity (deploy before generic call, token
# chains before plain transfers) — reference registry event_processing.py:209+
# Protocol-specific families (protocols.py) are spliced in ahead of the
# generic TEP matchers: every protocol entry keys on a distinctive 32-bit
# opcode, so a DEX swap is claimed before the inner jetton_transfer leg
# could shadow it (reference orders the same way, event_processing.py:209+).
MATCHERS: list[tuple[str, Callable[[Node, Ctx], dict | None]]] = [
    ("tick_tock", match_tick_tock),
    ("nft_mint", match_nft_mint),             # before generic deploy
    ("nft_put_on_sale", match_nft_put_on_sale),
    ("contract_deploy", match_contract_deploy),
    *PROTOCOL_MATCHERS,                       # opcode-keyed protocol families
    ("dex_deposit_liquidity", match_dex_deposit_liquidity),  # LP mint: more specific than swap
    ("jetton_swap", match_jetton_swap),       # before plain transfer: more specific
    ("jetton_transfer", match_jetton_transfer),
    ("jetton_mint_entry", match_jetton_mint_entry),  # minter-side ops 0x15/0x642b7d07 (incl. failed)
    ("jetton_mint", match_jetton_mint),
    ("dex_withdraw_liquidity", match_dex_withdraw_liquidity),  # burn→pool: before plain burn
    ("jetton_transfer_fallback", match_jetton_transfer_fallback),  # no internal leg
    ("jetton_burn", match_jetton_burn),
    ("nft_transfer", match_nft_transfer),
    ("nft_sale_purchase", match_nft_sale_purchase),
    ("nft_ownership_notice", match_nft_ownership_notice),
    ("nft_discovery", match_nft_discovery),
    ("multisig_create_order", match_multisig_create_order),
    ("multisig_approve", match_multisig_approve),
    ("subscription", match_subscription),
    ("unsubscribe", match_unsubscribe),
    ("stake_deposit", match_stake_deposit),
    ("stake_withdraw", match_stake_withdraw),
    ("vesting", match_vesting),
    ("change_dns", match_change_dns),
    ("election", match_election),
    ("nft_sale_lifecycle", match_nft_sale_cancel_or_finish),  # before plain ton_transfer
    *TAIL_MATCHERS,                           # value shapes above plain transfer
    ("auction_bid", match_auction_bid),       # after outbid (more specific), before plain ton_transfer
    ("ton_transfer", match_ton_transfer),
    ("call_contract", match_call_contract),
]


_INDEX = OpcodeIndex(MATCHERS)


def classify_tree(
    nodes: list[Node], ctx: Ctx, use_index: bool = True
) -> list[dict]:
    """Run matchers over the trace in lt order; unmatched non-external
    nodes fall back to 'unknown' (the reference's fallback action).
    Finished action lists flow through the trace post-processors
    (postprocess.py — reference event_processing.py:304-307).

    ``use_index`` — opcode-keyed candidate dispatch (dispatch.py);
    priority order is preserved and the keys are the opcodes each
    matcher declares where it is defined (``@opcodes``), so indexed ≡
    full scan (tests/test_dispatch_parity.py replays every golden fixture
    through both).  The flag exists for that parity test."""
    from ton_indexer_spark.classifier.postprocess import run_post_processors

    if use_index:
        global _INDEX
        if _INDEX.source is not MATCHERS or _INDEX.matchers != MATCHERS:
            # registry replaced (tests monkeypatch it), grown, or
            # mutated IN PLACE (MATCHERS[i] = ...) — the snapshot copy
            # compares element-wise, so any of the three re-derives the
            # index and a changed matcher is never dispatched stale
            _INDEX = OpcodeIndex(MATCHERS)
    else:
        full_scan = [m for _, m in MATCHERS]
    actions: list[dict] = []
    for node in nodes:
        if node.consumed:
            continue
        if use_index:
            op = node.in_msg.opcode if node.in_msg is not None else None
            matcher_list = _INDEX.candidates(op)
        else:
            matcher_list = full_scan
        for matcher in matcher_list:
            act = matcher(node, ctx)
            if act is not None:
                actions.append(act)
                break
        else:
            if node.in_msg is not None and node.in_msg.source is not None:
                actions.append(_base(node, "unknown"))
            else:
                node.consumed = True  # external-rooted node with no pattern
    if not actions and len(nodes) == 1:
        n = nodes[0]
        if n.in_msg is not None and n.in_msg.source is None:
            # lone childless external: recover the user's intent from the
            # signed wallet body (postprocess.failed_external_actions).
            # The reference applies this whenever zero actions serialized
            # and the root has no children (trace_processor.py:44-46 +
            # try_process_unknown_event:340-348) — a finalized single-tx
            # external-only trace means the send never executed,
            # aborted-flag or not, so the recovered actions are
            # success=False ghosts.
            from ton_indexer_spark.classifier.postprocess import (
                failed_external_actions,
            )

            actions = failed_external_actions(n, ctx)
    return run_post_processors(nodes, actions)
