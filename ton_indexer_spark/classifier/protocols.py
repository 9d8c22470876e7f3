"""Extended protocol-matcher library (C4) — DEX, lending, staking, bridge
and marketplace families beyond the TEP-standard matchers in ``matchers.py``.

Each matcher is a fresh structural re-derivation of the flow the reference
classifies (registry: indexer/indexer/events/blocks/* — cited per family);
opcodes are the published contract constants collected in the reference's
``blocks/messages/*`` modules.  Matchers follow the same discipline as
``matchers.py``: inspect an unconsumed node (+subtree +ctx), return an
action dict claiming the involved nodes, or None.

Typed action payloads mirror the reference's Postgres composite types
(ton-index-postgres/src/migrate.cpp:83-105, 760-762) as nested dicts that
``classify.py`` serializes into StructType columns.
"""

from __future__ import annotations

from ton_indexer_spark.classifier.base import (
    BURN_NOTIFY,
    EXCESSES,
    JETTON_BURN,
    JETTON_INTERNAL,
    JETTON_NOTIFY,
    JETTON_TRANSFER,
    OWNERSHIP_ASSIGNED,
    POOL_WITHDRAWAL,
    PTON_MASTERS,
    STAKE_DEPOSIT_OP,
    STAKE_WITHDRAW_OP,
    Ctx,
    _base,
    _jetton_chain,
    _op,
)
from ton_indexer_spark.classifier.dispatch import opcodes
from ton_indexer_spark.classifier.tree import Node

# --- DeDust (messages/swaps.py:81-127, messages/liquidity.py:17-96)
DEDUST_SWAP = 0xEA06185D            # vault swap entry (TON side)
DEDUST_SWAP_EXTERNAL = 0x61EE542D   # vault → pool
DEDUST_SWAP_PEER = 0x72ACA8AA       # pool → pool (multi-hop)
DEDUST_PAYOUT_FROM_POOL = 0xAD4EB6F5
DEDUST_PAYOUT = 0x474F86CF          # vault → user
DEDUST_DEPOSIT_TON = 0xD55E4686
DEDUST_TOPUP_DEPOSIT = 0x54240FE5
DEDUST_DEPOSIT_TO_POOL = 0xB56B9598
DEDUST_ASK_FACTORY = 0xF04EC526     # vault → factory: create deposit contract
DEDUST_DEPLOY_DEPOSIT = 0x9B3AA3FA  # factory → deposit-contract deploy
DEDUST_DESTROY_DEPOSIT = 0xAAE79256  # deposit-contract destroy (liquidity.py:91)
DEDUST_RETURN_EXCESS = 0x6B0B787F    # vault excess return (liquidity.py:95)
DEDUST_REJECT_DEPOSIT = 0xE1A36CD4   # pool rejects the deposit (liquidity.py:383)

# --- Ston.fi v1/v2 (messages/swaps.py:8-64,129, messages/liquidity.py:99)
STONFI_SWAP = 0x25938561
STONFI_PAYMENT_REQUEST = 0xF93BB43F
STONFI_V2_SWAP = 0x657B54F5
STONFI_V2_PROVIDE_LIQUIDITY = 0x37C096DF
PTON_TRANSFER = 0x01F3835D

# --- Tonco v3 (messages/swaps.py:205-345, messages/liquidity.py:109-449)
TONCO_SWAP = 0xA7FB58F8
TONCO_PAY_TO = 0xA1DAA96D
TONCO_MINT = 0xB2C1B6E3
TONCO_FUND_ACCOUNT = 0x4468DE77
TONCO_START_BURN = 0x530B5F2C
TONCO_BURN = 0xD73AC09D
TONCO_CREATE_POOL = 0x2E3034EF
TONCO_POOL_INIT = 0x441C39ED
TONCO_ADD_LIQUIDITY = 0x3EBE5431   # ACCOUNTV3_ADD_LIQUIDITY (liquidity.py:465)
TONCO_POSITION_INIT = 0xD5ECCA2A   # POSITIONNFTV3_POSITION_INIT (liquidity.py:391)
TONCO_MINT_REFUND = 0x81702EF8     # POOLV3_MINT (liquidity.py:139)
TONCO_POSITION_BURN = 0x46CA335A   # POSITIONNFTV3_POSITION_BURN (liquidity.py:432)
TONCO_POOL_BURN = TONCO_BURN       # POOLV3_BURN (liquidity.py:187)

# --- swap.coffee (messages/coffee.py:331-651)
COFFEE_SWAP_NATIVE = 0xC0FFEE00
COFFEE_SWAP_JETTON = 0xC0FFEE10
COFFEE_SWAP_INTERNAL = 0xC0FFEE20
COFFEE_SWAP_OK_EVENT = 0xC0FFEE30
COFFEE_SWAP_FAIL_EVENT = 0xC0FFEE31
COFFEE_PAYOUT = 0xC0FFEE32
COFFEE_PAYOUT_INTERNAL = 0xC0FFEE21
COFFEE_DEPOSIT_NATIVE = 0xC0FFEE04
COFFEE_DEPOSIT_JETTON = 0xC0FFEE12
COFFEE_WITHDRAW_DEPOSIT = 0xC0FFEE07
COFFEE_CREATE_VAULT = 0xC0FFEE06
COFFEE_CREATE_POOL_NATIVE = 0xC0FFEE02
COFFEE_CREATE_POOL_EXTRA = 0xC0FFEE03
COFFEE_CREATE_POOL_JETTON = 0xC0FFEE11

# --- EVAA lending (messages/evaa.py:13-472)
EVAA_SUPPLY_MASTER = 0x1
EVAA_SUPPLY_USER = 0x11
EVAA_SUPPLY_SUCCESS = 0x11A
EVAA_SUPPLY_FAIL = 0x11F
EVAA_WITHDRAW_MASTER = 0x2
EVAA_WITHDRAW_USER = 0x21
EVAA_WITHDRAW_COLLATERALIZED = 0x211
EVAA_WITHDRAW_SUCCESS = 0x211A
EVAA_WITHDRAW_FAIL = 0x211F
EVAA_LIQUIDATE_MASTER = 0x3
EVAA_LIQUIDATE_USER = 0x31
EVAA_LIQUIDATE_SATISFIED = 0x311
EVAA_LIQUIDATE_UNSATISFIED = 0x31F
EVAA_LIQUIDATE_SUCCESS = 0x311A
EVAA_LIQUIDATE_FAIL = 0x311F

# --- JVault staking (messages/jvault.py:15-124)
JVAULT_RECEIVE = 0xD68A4AC1
JVAULT_UNSTAKE = 0x499A9262
JVAULT_UNSTAKE_REQUEST = 0x0168D4B7
JVAULT_CLAIM = 0x78D9F109
JVAULT_SEND_CLAIMED = 0x44BC1FE3

# --- TONStakers extras (messages/staking.py:25-57)
TS_MINT_JETTONS = 0x1674B0A0
TS_NFT_BURN = 0xF127FE4E
TS_NFT_BURN_NOTIFICATION = 0xED58B0B2
TS_DISTRIBUTED_ASSET = 0xDB3B8ABD
NOMINATOR_PROCESS_WITHDRAWS = 0x00000002  # messages/staking.py:60

# --- tgBTC bridge event logs (messages/tgbtc.py:8-82)
TGBTC_MINT_EVENT = 0x77A80EF3
TGBTC_BURN_EVENT = 0xCA444CE6
TGBTC_NEW_KEY_EVENT = 0x27756729
TGBTC_DKG_EVENT = 0x453443A6

# --- LayerZero (messages/layerzero.py:303-482)
LZ_EVENT = 0xE33B9873
LZ_CHANNEL_COMMIT_PACKET = 0x5388CD88
LZ_ENDPOINT_SEND = 0xDD4EA3B4
LZ_DVN_VERIFY = 0xA0D51A8D        # Dvn::OP::VERIFY (layerzero.py:1050)
LZ_PROXY_CALL = 0x09F047D9        # Proxy::OP::CALL_CONTRACT (:1233)
LZ_ULN_VERIFY = 0x994AAF4E        # Uln::OP::ULN_VERIFY (:791)
LZ_ULN_CONN_VERIFY = 0x4EC8F80A   # UlnConnection verify (:840)
LZ_ULN_VERIFY_CB = 0x3CB38090     # UlnConnection verify callback (:912)
LZ_CHANNEL_SEND = 0x536FEB09      # Channel::CHANNEL_SEND (:520)
LZ_MCONN_SEND = 0x4002B790        # MsglibConnection SEND (:659)
LZ_ULN_SEND = 0x5DE68393          # Uln::ULN_SEND (:784)
LZ_MSGLIB_SEND_CB = 0x421C1A25    # Channel::MSGLIB_SEND_CALLBACK (:560)
LZ_OAPP_SEND_CB = 0xA2B5FBAE      # Layerzero::CHANNEL_SEND_CALLBACK (:592)
LZ_RECEIVE_PREPARE = 0x22F3AC09   # Channel::LZ_RECEIVE_PREPARE (:549)
LZ_OAPP_RECEIVE_PREPARE = 0x97DF404C  # Layerzero::LZ_RECEIVE_PREPARE (:1108)
LZ_RECEIVE_LOCK = 0xB7680BC6      # Channel::LZ_RECEIVE_LOCK (:543)
LZ_RECEIVE_EXECUTE = 0x0C7B8418   # Layerzero::LZ_RECEIVE_EXECUTE (:1101)
LZ_OAPP_EXECUTE_CB = 0xCAAE25A1   # EXECUTE_CALLBACK (:1377)
LZ_ULN_COMMIT = 0x28B97077        # Uln::ULN_COMMIT_PACKET (:765)
LZ_ULN_CONN_COMMIT = 0xF9D37B80   # UlnConnection COMMIT_PACKET (:828)
LZ_ENDPOINT_COMMIT = 0x5DAB749A   # Endpoint::COMMIT_PACKET (:470)
LZ_MCONN_COMMIT_CB = 0x5E178F33   # MsglibConnection COMMIT_CB (:641)

# --- Cocoon payment channels (messages/cocoon.py:7-145)
COCOON_PAYOUT = 0xC59A7CD3
COCOON_WORKER_PAYOUT_REQ = 0x08E7D036
COCOON_CLIENT_TOPUP = 0x5CFC6B87
COCOON_CLIENT_REGISTER = 0xA35CB580
COCOON_GRANT_REFUND = 0xC68EBC7B
# extended client/proxy lifecycle (messages/cocoon.py:305-735)
COCOON_CHARGE = 0xBB63FF93              # ChargePayload
COCOON_REGISTER_PROXY = 0x927C7CB5
COCOON_UNREGISTER_PROXY = 0x6D49EAF2
COCOON_CHANGE_SECRET_HASH = 0xA9357034  # OwnerClientChangeSecretHash
COCOON_REQUEST_REFUND = 0xFAFA6CC1      # OwnerClientRequestRefund
COCOON_WALLET_SEND = 0x9C69F376         # OwnerWalletSendMessage wrapper
COCOON_INCREASE_STAKE = 0x6A1F6A60      # OwnerClientIncreaseStake
COCOON_CLIENT_WITHDRAW_OP = 0xDA068E78  # OwnerClientWithdraw

# --- NFT / DNS extras (messages/nft.py:104-148, messages/getgems.py:250)
TELEITEM_START_AUCTION = 0x487A8E81
AUCTION_FILL_UP = 0x370FEC51
DNS_RELEASE = 0x4ED14B65
NFT_SALE_UPDATE = 0x6C6C2080
TELEITEM_CANCEL_AUCTION = 0x371638AE  # auction.py:516
TELEITEM_OK = 0xA37A0983

# --- Ethena staking (blocks/ethena_staking.py:58-120)
ETHENA_TSUSDE_TRANSFER = 0xB2583ED5  # timelocked tsUSDe leg
JETTON_MINT_OP = 0x642B7D07          # TEP-74 mint (messages/jettons.py:143)

# --- swap.coffee staking + MEV-protect (messages/coffee.py:946-1160)
COFFEE_STAKING_DEPOSIT = 0xF9471134
COFFEE_STAKING_WITHDRAW = 0xCB03BFAF  # withdraw_1/2/3 share the opcode
COFFEE_STAKING_CLAIM = 0xB30C7310
COFFEE_MEV_HOLD_FUNDS = 0x6BC79E7E
COFFEE_MEV_FAILED_SWAP = 0xEE51CE51
COFFEE_SERVICE_FEE = 0xC0FFEEA0

# --- Ston.fi v2 withdraw (blocks/liquidity.py:789-812)
STONFI_V2_WITHDRAW = 0x297437CF  # pool withdraw_liquidity
STONFI_V2_PAYOUT = 0x657B54F5    # router payout (same op as v2 swap entry)


# ------------------------------------------------------------------ helpers


def _claim_chain(node: Node, *ops: int) -> list[Node]:
    """Follow first-child-by-opcode links: node → child(ops[0]) →
    grandchild(ops[1]) … claiming every hop found; stops at the first
    missing link."""
    claimed = [node]
    cur = node
    for op in ops:
        nxt = cur.child_via(op)
        if nxt is None:
            break
        claimed.append(nxt)
        cur = nxt
    return claimed


def _descendant_via(
    node: Node, opcode: int, max_depth: int = 8
) -> Node | None:
    """First descendant (BFS, lt-ordered siblings) whose in-message carries
    `opcode`, or None.  Depth-capped so a pathological deep trace can't
    turn a matcher probe into a full-tree walk."""
    frontier = list(node.children)
    depth = 0
    while frontier and depth < max_depth:
        nxt: list[Node] = []
        for c in frontier:
            if c.in_msg is not None and c.in_msg.opcode == opcode:
                return c
            nxt.extend(c.children)
        frontier = nxt
        depth += 1
    return None


def _path_up(node: Node, ancestor: Node) -> list[Node]:
    """Nodes from `node` (inclusive) up to but excluding `ancestor`;
    empty if `ancestor` is not actually above `node`."""
    path: list[Node] = []
    cur: Node | None = node
    while cur is not None and cur is not ancestor:
        path.append(cur)
        cur = cur.parent
    return path if cur is ancestor else []


def _value_children(node: Node, exclude: list[Node]) -> list[Node]:
    return [
        c for c in node.children
        if c not in exclude and c.in_msg is not None
        and (c.in_msg.value or 0) > 0
    ]


def _simple(opcode: int, typ: str, **static):
    """Factory for single-node opcode matchers (the reference's
    ``ContractMatcher(opcode)`` leaf shape, basic_matchers.py analog)."""

    @opcodes(opcode)
    def match(node: Node, ctx: Ctx) -> dict | None:
        if _op(node) != opcode:
            return None
        return _base(node, typ, **static)

    match.__name__ = f"match_{typ}"
    return match


# ------------------------------------------------------------------- DeDust


DEDUST_SWAP_NOTIFICATION = 0x9C610DE3  # pool success event (swaps.py:81)


@opcodes(DEDUST_SWAP, JETTON_TRANSFER)
def match_dedust_swap(node: Node, ctx: Ctx) -> dict | None:
    """DeDust swap, TON or jetton entry (swaps.py:479-686
    DedustSwapBlockMatcher): vault → swap_external at the pool [→ peer
    pools] → payout_from_pool back at a vault → user leg (TON payout or
    jetton chain).  Each pool emits a swap notification event carrying
    the per-hop asset/amount pairs — those build peer_swaps."""
    from ton_indexer_spark.functions.boc import (
        decode_message_body,
    )

    op = _op(node)
    claimed: list[Node] = []
    if op == DEDUST_SWAP:
        body = node.in_msg.decoded_body()
        in_data = {
            "asset": None,
            "amount": _int(body.get("amount", node.in_msg.value)),
            "source": node.in_msg.source,
            "source_jetton_wallet": None,
            "destination": node.account,
            "destination_jetton_wallet": None,
        }
        vault = node
        claimed.append(node)
    elif op == JETTON_TRANSFER:
        chain = _jetton_chain(node, ctx)
        if chain is None or chain["notify"] is None:
            return None
        vault = chain["notify"]
        in_data = {
            "asset": ctx.get("jetton_wallets", {}).get(
                node.account, (None, None))[1],
            "amount": _int(chain["amount"]),
            "source": node.in_msg.source,
            "source_jetton_wallet": node.account,
            "destination": chain["dest_owner"],
            "destination_jetton_wallet": chain["receiver_wallet"],
        }
        claimed += chain["claimed"]
    else:
        return None
    pool = vault.child_via(DEDUST_SWAP_EXTERNAL)
    if pool is None:
        return None
    claimed.append(pool)

    notifications: list[dict] = []

    def grab_notification(n: Node) -> None:
        for msg in n.out_msgs:
            if msg.opcode == DEDUST_SWAP_NOTIFICATION and msg.body:
                ev = decode_message_body(msg.body)
                if ev:
                    notifications.append(ev)
                return
        c = n.child_via(DEDUST_SWAP_NOTIFICATION)
        if c is not None:
            claimed.append(c)
            notifications.append(c.in_msg.decoded_body())

    grab_notification(pool)
    cur = pool
    while True:
        peer = cur.child_via(DEDUST_SWAP_PEER)
        if peer is None:
            break
        claimed.append(peer)
        grab_notification(peer)
        cur = peer
    payout_vault = cur.child_via(DEDUST_PAYOUT_FROM_POOL)
    if payout_vault is None:
        return None
    claimed.append(payout_vault)

    out_data = None
    payout_user = payout_vault.child_via(DEDUST_PAYOUT)
    if payout_user is not None:
        claimed.append(payout_user)
        pb = payout_user.in_msg.decoded_body()
        out_data = {
            "asset": None,
            "amount": _int(pb.get("amount", payout_user.in_msg.value)),
            "source": payout_vault.account,
            "source_jetton_wallet": None,
            "destination": payout_user.account,
            "destination_jetton_wallet": None,
        }
    else:
        for c in payout_vault.children:
            tc = _jetton_chain(c, ctx)
            if tc is not None:
                claimed += tc["claimed"]
                out_data = {
                    "asset": ctx.get("jetton_wallets", {}).get(
                        c.account, (None, None))[1],
                    "amount": _int(tc["amount"]),
                    "source": c.in_msg.source,
                    "source_jetton_wallet": c.account,
                    "destination": tc["dest_owner"],
                    "destination_jetton_wallet": tc["receiver_wallet"],
                }
                break
    if out_data is None:
        return None

    peer_swaps = [
        {
            "amount_in": _int(ev.get("amount_in")),
            "asset_in": _da(ev.get("asset_in")),
            "amount_out": _int(ev.get("amount_out")),
            "asset_out": _da(ev.get("asset_out")),
        }
        for ev in notifications
    ]

    return _base(
        node,
        "jetton_swap",
        claimed=claimed,
        source=in_data["source"],
        source_secondary=in_data["source_jetton_wallet"],
        destination=out_data["destination"],
        destination_secondary=out_data["destination_jetton_wallet"],
        asset=in_data["asset"],
        asset2=out_data["asset"],
        jetton_swap_data={
            "dex": "dedust",
            "sender": in_data["source"],
            "dex_incoming_transfer": in_data,
            "dex_outgoing_transfer": out_data,
            "peer_swaps": peer_swaps if len(peer_swaps) > 1 else [],
        },
    )


def _da(asset) -> str | None:
    """DeDust Asset → action column: TON renders as null (_addr(Asset))."""
    return None if asset in (None, "TON") else asset


def _dedust_entry(node: Node, ctx: Ctx) -> dict | None:
    """The user's deposit entry leg: TON straight into the vault
    (deposit#d55e4686) or a jetton transfer chain whose notify lands on
    the vault; carries the deposited amount/asset and the pool's target
    pair (liquidity.py:297-470 both arms)."""
    op = _op(node)
    if op == DEDUST_DEPOSIT_TON:
        body = node.in_msg.decoded_body()
        if "amount" not in body:
            return None
        return {
            "claimed": [node],
            "vault": node,
            "sender": node.in_msg.source,
            "amount": _int(body.get("amount")),
            "asset": None,
            "wallet": None,
            "targets": {
                "target_asset_1": _da(body.get("asset0")),
                "target_amount_1": _int(body.get("asset0_target_balance")) or 0,
                "target_asset_2": _da(body.get("asset1")),
                "target_amount_2": _int(body.get("asset1_target_balance")) or 0,
            },
        }
    if op == JETTON_TRANSFER:
        from ton_indexer_spark.functions.boc import (
            decode_dedust_deposit_payload,
        )

        chain = _jetton_chain(node, ctx)
        if chain is None or chain["notify"] is None:
            return None
        fwd_raw = node.in_msg.decoded_body().get("forward_payload")
        payload = decode_dedust_deposit_payload(fwd_raw) if fwd_raw else None
        targets = {
            "target_asset_1": None, "target_amount_1": None,
            "target_asset_2": None, "target_amount_2": None,
        }
        if payload is not None:
            targets = {
                "target_asset_1": _da(payload.get("asset0")),
                "target_amount_1": _int(payload.get("asset0_target_balance")) or 0,
                "target_asset_2": _da(payload.get("asset1")),
                "target_amount_2": _int(payload.get("asset1_target_balance")) or 0,
            }
        jetton = ctx.get("jetton_wallets", {}).get(
            node.account, (None, None)
        )[1]
        return {
            "claimed": list(chain["claimed"]),
            "vault": chain["notify"],
            "sender": node.in_msg.source,
            "amount": _int(chain["amount"]),
            "asset": jetton,
            "wallet": node.account,
            "targets": targets,
        }
    return None


def match_dedust_deposit_liquidity(node: Node, ctx: Ctx) -> dict | None:
    """DeDust two-asset deposit (liquidity.py:297-470): each asset leg is
    its own action — the COMPLETING leg drives deposit-to-pool (LP mint
    or rejection, plus deposit-contract destroy and vault excess
    returns); a first-asset leg stops at the deposit-contract top-up.
    ``_partial``/``_deposit_contract`` feed the trace post-processor that
    merges the two (postprocess.py, liquidity.py:473-566)."""
    entry = _dedust_entry(node, ctx)
    if entry is None:
        return None
    vault = entry["vault"]
    tail: list[Node] = []
    topup = vault.child_via(DEDUST_TOPUP_DEPOSIT)
    factory = vault.child_via(DEDUST_ASK_FACTORY)
    if topup is None and factory is not None:
        tail.append(factory)
        deploy = factory.child_via(DEDUST_DEPLOY_DEPOSIT)
        if deploy is not None:
            tail.append(deploy)
        topup = factory.child_via(DEDUST_TOPUP_DEPOSIT)
    if topup is None:
        return None
    tail.append(topup)
    claimed = entry["claimed"] + tail
    sender = entry["sender"]

    base_data = {
        "dex": "dedust",
        "asset1": entry["asset"],
        "amount1": entry["amount"],
        "asset2": None,
        "amount2": None,
        "user_jetton_wallet_1": entry["wallet"],
        "user_jetton_wallet_2": None,
        "lp_tokens_minted": None,
        **entry["targets"],
    }

    pool_dep = topup.child_via(DEDUST_DEPOSIT_TO_POOL)
    if pool_dep is None:
        return _base(
            node,
            "dex_deposit_liquidity",
            claimed=claimed,
            source=sender,
            destination_secondary=topup.account,
            amount=entry["amount"],
            _partial=True,
            _deposit_contract=topup.account,
            dex_deposit_liquidity_data=base_data,
        )

    claimed.append(pool_dep)
    pool_body = pool_dep.in_msg.decoded_body()
    sender = pool_body.get("owner") or sender
    if pool_body.get("asset1") is not None:
        base_data.update(
            target_asset_1=_da(pool_body.get("asset1")),
            target_amount_1=_int(pool_body.get("amount1")) or 0,
            target_asset_2=_da(pool_body.get("asset2")),
            target_amount_2=_int(pool_body.get("amount2")) or 0,
        )
    lp_tokens = None
    pool = pool_dep.account
    lp = pool_dep.child_via(JETTON_INTERNAL)
    reject = pool_dep.child_via(DEDUST_REJECT_DEPOSIT)
    if lp is not None:
        claimed.append(lp)
        lp_tokens = _int(lp.in_msg.decoded_body().get("amount"))
        for c in lp.children:
            if _op(c) in (JETTON_NOTIFY, EXCESSES):
                claimed.append(c)
    elif reject is not None:
        pool = reject.in_msg.source

    # the reference lists TON excesses first, then jetton excesses
    # (liquidity.py:182-190); keep lt order within each kind
    ton_excesses: list[tuple[int, dict]] = []
    jetton_excesses: list[tuple[int, dict]] = []

    def collect_excesses(holder: Node) -> None:
        claimed.append(holder)
        for c in holder.children:
            if _op(c) == DEDUST_RETURN_EXCESS:
                claimed.append(c)
                for cc in c.children:
                    if _op(cc) == DEDUST_PAYOUT and cc.account == sender:
                        claimed.append(cc)
                        ton_excesses.append((cc.tx_lt, {
                            "asset": None, "amount": cc.in_msg.value,
                        }))
                    else:
                        tc = _jetton_chain(cc, ctx)
                        if tc is not None and tc["dest_owner"] == sender:
                            claimed.extend(tc["claimed"])
                            jetton_excesses.append((cc.tx_lt, {
                                "asset": ctx.get("jetton_wallets", {}).get(
                                    cc.account, (None, None))[1],
                                "amount": _int(tc["amount"]),
                            }))
            elif c.in_msg is not None and c.in_msg.opcode in (None, 0) and (
                c.in_msg.value or 0
            ) > 0:
                claimed.append(c)  # plain TON refund straight from deposit

    if reject is not None:
        collect_excesses(reject)
    destroy = (
        pool_dep.child_via(DEDUST_DESTROY_DEPOSIT)
        or topup.child_via(DEDUST_DESTROY_DEPOSIT)
    )
    if destroy is not None:
        collect_excesses(destroy)

    base_data["lp_tokens_minted"] = lp_tokens
    # jetton excesses surface completing-leg-first (matcher traversal
    # order in the reference) — descending lt reproduces it
    base_data["vault_excesses"] = [
        e for _, e in sorted(ton_excesses, key=lambda t: t[0])
    ] + [e for _, e in sorted(jetton_excesses, key=lambda t: -t[0])]
    act = _base(
        node,
        "dex_deposit_liquidity",
        claimed=claimed,
        source=sender,
        destination=pool,
        destination_secondary=topup.account,
        amount=entry["amount"],
        _deposit_contract=topup.account,
        dex_deposit_liquidity_data=base_data,
    )
    if lp_tokens is None:
        act["success"] = False
    return act


@opcodes(JETTON_BURN)
def match_dedust_withdraw_liquidity(node: Node, ctx: Ctx) -> dict | None:
    """LP burn whose burn-notify pool answers with DeDust payouts
    (0x474f86cf) — distinguishes the DeDust shape from the generic
    ctx-pool-based withdraw matcher."""
    if _op(node) != JETTON_BURN:
        return None
    notify = node.child_via(BURN_NOTIFY)
    if notify is None:
        return None
    payouts = [
        c for c in notify.children
        if c.in_msg is not None and c.in_msg.opcode in (
            DEDUST_PAYOUT, DEDUST_PAYOUT_FROM_POOL
        )
    ]
    if not payouts:
        return None
    claimed = [node, notify] + payouts
    for p in list(payouts):
        user_leg = p.child_via(DEDUST_PAYOUT)
        if user_leg is not None:
            claimed.append(user_leg)
    wallets = ctx.get("jetton_wallets", {})
    owner, lp_jetton = wallets.get(node.account, (None, None))
    body = node.in_msg.decoded_body()
    return _base(
        node,
        "dex_withdraw_liquidity",
        claimed=claimed,
        source=node.in_msg.source or owner,
        source_secondary=node.account,
        destination=notify.account,
        asset=lp_jetton,
        amount=body.get("amount"),
        dex_withdraw_liquidity_data={
            "dex": "dedust",
            "lp_tokens_burnt": body.get("amount"),
            "amount1": payouts[0].in_msg.value if payouts else None,
            "amount2": payouts[1].in_msg.value if len(payouts) > 1 else None,
        },
    )


# ------------------------------------------------------------------ Ston.fi


# stonfi v1 payment-request exit codes (swaps.py:62-71)
STONFI_EXIT_OK = 0xC64370E5
STONFI_EXIT_OK_REF = 0x45078540
STONFI_EXIT_NO_LIQ = 0x5FFE1295
STONFI_EXIT_RESERVE_ERR = 0x38976E9B
_STONFI_SENDER_EXITS = (
    STONFI_EXIT_OK, STONFI_EXIT_NO_LIQ, STONFI_EXIT_RESERVE_ERR,
)


def _transfer_shape(node: Node, ctx: Ctx) -> dict | None:
    """Jetton-transfer chain rooted at a 0x0f8a7ea5 request node, covering
    BOTH the standard wallet pair (internal-transfer leg) and the stonfi
    pTON proxy wallet (no internal leg — the wallet notifies the receiver
    directly).  Superset of _jetton_chain used by the stonfi matcher."""
    full = _jetton_chain(node, ctx)
    if full is not None:
        return full | {"has_internal": True}
    if _op(node) != JETTON_TRANSFER:
        return None
    notify = node.child_via(JETTON_NOTIFY)
    if notify is None:
        return None
    claimed = [node, notify]
    excess = node.child_via(EXCESSES)
    if excess is not None:
        claimed.append(excess)
    payload = node.in_msg.decoded_body()
    wallets = ctx.get("jetton_wallets", {})
    return {
        "claimed": claimed,
        "sender_wallet": node.account,
        "receiver_wallet": None,
        "dest_owner": payload.get("destination", notify.account),
        "notify": notify,
        "amount": payload.get("amount"),
        "asset": wallets.get(node.account, (None, None))[1],
        "has_internal": False,
    }


@opcodes(JETTON_TRANSFER)
def match_stonfi_swap(node: Node, ctx: Ctx) -> dict | None:
    """Ston.fi v1 swap, anchored at the entry jetton/pTON transfer into
    the router (reference StonfiSwapBlockMatcher, swaps.py:81-209): the
    router's wallet notify triggers swap#25938561 to the pool, the pool
    answers payment_request#f93bb43f back to the router, which pays the
    user out via a second transfer chain.  A referral payout (exit
    0x45078540) is left UNCLAIMED so it classifies as its own top-level
    jetton_transfer, exactly like the reference (swaps.py:120-123)."""
    entry = _transfer_shape(node, ctx)
    if entry is None or entry["notify"] is None:
        return None
    router_node = entry["notify"]
    swap_node = router_node.child_via(STONFI_SWAP)
    if swap_node is None:
        return None
    swap = swap_node.in_msg.decoded_body()

    wallets = ctx.get("jetton_wallets", {})
    pay_nodes = [
        c for c in swap_node.children
        if c.in_msg is not None and c.in_msg.opcode == STONFI_PAYMENT_REQUEST
    ]
    out_pay = None
    out_amt = out_addr = None
    success = False
    for p in pay_nodes:
        body = p.in_msg.decoded_body()
        if body.get("amount0_out"):
            amount, addr = body["amount0_out"], body.get("token0_out")
        else:
            amount, addr = body.get("amount1_out"), body.get("token1_out")
        exit_code = body.get("exit_code")
        if exit_code in _STONFI_SENDER_EXITS:
            success = exit_code == STONFI_EXIT_OK
            if out_amt is None or (amount or 0) > out_amt:
                out_pay, out_amt, out_addr = p, amount, addr
        # exit == OK_REF: referral leg — skip, classifies separately
    if out_pay is None:
        return None

    out_chain = None
    for c in out_pay.children:
        out_chain = _transfer_shape(c, ctx)
        if out_chain is not None:
            break

    token_wallet = swap.get("token_wallet")
    in_owner, in_jetton = wallets.get(token_wallet, (None, None))
    # the INTENDED out wallet comes from the entry transfer's stonfi
    # forward body when present (swaps.py:128-130) — on a failed swap the
    # payment request points at the refund wallet, not the real target
    entry_body = node.in_msg.decoded_body()
    actual_out_jetton = wallets.get(out_addr, (None, None))[1]
    intended_addr = entry_body.get("stonfi_jetton_wallet") or out_addr
    out_jetton = wallets.get(intended_addr, (None, None))[1]
    sender = swap.get("from_real_user") or swap.get("user")
    receiver = swap.get("user")

    if out_chain is not None and out_chain["has_internal"]:
        out_dest = wallets.get(
            out_chain["receiver_wallet"], (None, None)
        )[0] or out_chain["dest_owner"]
        out_dest_wallet = out_chain["receiver_wallet"]
    else:
        out_dest = entry_body.get("stonfi_user_address") or receiver
        out_dest_wallet = None

    claimed = list(entry["claimed"]) + [swap_node, out_pay]
    if out_chain is not None:
        claimed += out_chain["claimed"]
    claimed = list(dict.fromkeys(claimed))

    incoming = {
        "amount": swap.get("amount"),
        "asset": in_jetton,
        "source": sender,
        "source_jetton_wallet": (
            entry["sender_wallet"] if entry["has_internal"] else None
        ),
        "destination": in_owner,
        "destination_jetton_wallet": token_wallet,
    }
    outgoing = {
        "amount": out_amt,
        "asset": actual_out_jetton,  # what was actually paid (refund ≠ target)
        "source": out_pay.account,
        "source_jetton_wallet": (
            out_chain["sender_wallet"]
            if out_chain is not None and out_chain["has_internal"] else None
        ),
        "destination": out_dest,
        "destination_jetton_wallet": out_dest_wallet,
    }
    return _base(
        node,
        "jetton_swap",
        claimed=claimed,
        success=success and not any(n.aborted for n in claimed),
        source=sender,
        source_secondary=incoming["source_jetton_wallet"],
        destination=out_dest,
        destination_secondary=intended_addr,  # destination_wallet override
        asset=in_jetton,
        asset2=out_jetton,  # the intended target asset
        jetton_swap_data={
            "dex": "stonfi",
            "sender": sender,
            "amount_in": swap.get("amount"),
            "asset_in": in_jetton,
            "amount_out": out_amt,
            "asset_out": out_jetton,
            "peer_address": swap_node.account,
            "min_out_amount": swap.get("min_out"),
            "peer_swaps": [],
            "dex_incoming_transfer": incoming,
            "dex_outgoing_transfer": outgoing,
        },
    )


STONFI_V2_POOL_SWAP = 0x6664DE2A   # pool swap entry (swaps.py:234)
STONFI_V2_EXIT_OK = 0xC64370E5


@opcodes(JETTON_TRANSFER, PTON_TRANSFER)
def match_stonfi_v2_swap(node: Node, ctx: Ctx) -> dict | None:
    """Ston.fi v2 swap, single- or multi-hop (swaps.py:233-477
    StonfiV2SwapBlockMatcher): anchored at the INPUT transfer (jetton
    chain or pTON) whose notify triggers swap#6664de2a at the pool and
    pay_to#657b54f5 back at the router; hops continue through the payout
    transfer's notify (jetton) or an intermediate pTON transfer."""
    op = _op(node)
    claimed: list[Node] = []
    if op == JETTON_TRANSFER:
        chain = _jetton_chain(node, ctx)
        if chain is None or chain["notify"] is None:
            return None
        notify = chain["notify"]
        in_data = {
            "asset": _wallet_asset(node.account, ctx),
            "amount": _int(chain["amount"]),
            "source": node.in_msg.source,
            "source_jetton_wallet": node.account,
            "destination": chain["dest_owner"],
            "destination_jetton_wallet": chain["receiver_wallet"],
        }
        claimed += chain["claimed"]
    elif op == PTON_TRANSFER:
        notify = node.child_via(JETTON_NOTIFY)
        if notify is None:
            return None
        body = node.in_msg.decoded_body()
        in_data = {
            "asset": None,
            "amount": _int(body.get("amount")),
            "source": node.in_msg.source,
            "source_jetton_wallet": None,
            "destination": notify.account,
            "destination_jetton_wallet": node.account,
        }
        claimed += [node, notify]
    else:
        return None
    first_swap = notify.child_via(STONFI_V2_POOL_SWAP)
    if first_swap is None:
        return None

    swaps: list[Node] = []
    payouts: list[Node] = []
    out_data = None
    ok = True
    cur = first_swap
    while cur is not None:
        pay = cur.child_via(STONFI_V2_PAYOUT)
        if pay is None:
            return None
        swaps.append(cur)
        payouts.append(pay)
        claimed += [cur, pay]
        exit_code = _int(pay.in_msg.decoded_body().get("exit_code"))
        if exit_code != STONFI_V2_EXIT_OK:
            ok = False
        next_swap = None
        for c in pay.children:
            leg = _tonco_transfer_out(c, ctx, swap_op=STONFI_V2_POOL_SWAP)
            if leg is None:
                continue
            claimed += leg["claimed"]
            if leg["next_swap"] is not None:
                next_swap = leg["next_swap"]
            else:
                out_data = leg["data"]
        cur = next_swap
    if out_data is None:
        return None

    peer_swaps = []
    if len(swaps) > 1:
        prev_in = {"amount_in": in_data["amount"], "asset_in": in_data["asset"]}
        for pay in payouts:
            pb = pay.in_msg.decoded_body()
            entries = [
                (_int(pb.get(a)) or 0, pb.get(j))
                for a, j in (("amount0_out", "token0_address"),
                             ("amount1_out", "token1_address"))
                if pb.get(j) is not None
            ]
            entries.sort(key=lambda e: e[0], reverse=True)
            if not entries:
                continue
            out_amount, out_wallet = entries[0]
            hop = prev_in | {
                "amount_out": out_amount,
                "asset_out": _wallet_asset(out_wallet, ctx),
            }
            peer_swaps.append(hop)
            prev_in = {
                "amount_in": hop["amount_out"],
                "asset_in": hop["asset_out"],
            }

    act = _base(
        node,
        "jetton_swap",
        claimed=claimed,
        source=in_data["source"],
        source_secondary=in_data["source_jetton_wallet"],
        destination=out_data["destination"],
        destination_secondary=out_data["destination_jetton_wallet"],
        asset=in_data["asset"],
        asset2=out_data["asset"],
        jetton_swap_data={
            "dex": "stonfi_v2",
            "sender": in_data["source"],
            "dex_incoming_transfer": in_data,
            "dex_outgoing_transfer": out_data,
            "peer_swaps": peer_swaps,
        },
    )
    if not ok:
        act["success"] = False
    return act


STONFI_V2_ACCOUNT_ADD = 0x50C6A654  # account add-liquidity (liquidity.py:716)
STONFI_V2_CB_ADD = 0x06ECD527       # pool cb_add_liquidity (liquidity.py:711)


@opcodes(JETTON_TRANSFER, STONFI_V2_PROVIDE_LIQUIDITY, PTON_TRANSFER)
def match_stonfi_v2_provide_liquidity(node: Node, ctx: Ctx) -> dict | None:
    """Ston.fi v2 liquidity provision (liquidity.py:687-785
    StonfiV2ProvideLiquidityMatcher): anchored at the entry transfer
    (jetton chain or pTON) whose notify raises provide_liquidity
    #37c096df at the pool; the account answers 0x50c6a654 and the pool's
    cb 0x06ecd527 either mints LP (internal transfer) or refunds —
    the refund arm fails the action.  The reference's cross-leg merge of
    a paired deposit stays per-leg here (each leg is its own action)."""
    op = _op(node)
    if op == JETTON_TRANSFER:
        chain = _jetton_chain(node, ctx)
        if chain is None or chain["notify"] is None:
            return None
        notify = chain["notify"]
        asset = _wallet_asset(node.account, ctx)
        wallet = node.account
        claimed = list(chain["claimed"])
        provide = notify.child_via(STONFI_V2_PROVIDE_LIQUIDITY)
        if provide is None:
            return None
        claimed.append(provide)
    elif op == PTON_TRANSFER:
        notify = node.child_via(JETTON_NOTIFY)
        if notify is None:
            return None
        asset, wallet = None, None
        claimed = [node, notify]
        provide = notify.child_via(STONFI_V2_PROVIDE_LIQUIDITY)
        if provide is None:
            return None
        claimed.append(provide)
    elif op == STONFI_V2_PROVIDE_LIQUIDITY:
        # bare pool anchor: the entry chain is absent (or was claimed
        # upstream) — classify the provide call on its own, the shape
        # the pre-merge matcher covered
        provide = node
        asset = node.in_msg.decoded_body().get("asset1")
        wallet = None
        claimed = [node] + _claim_chain(node, JETTON_INTERNAL,
                                        JETTON_NOTIFY)[1:]
    else:
        return None
    body = provide.in_msg.decoded_body()
    amount = _int(body.get("amount")) or _int(body.get("amount2"))
    lp_tokens = None
    failed = False
    # the reference requires the 0x50c6a654 account-add child on every
    # arm (liquidity.py:720-721, non-optional child_matcher) — without
    # it the trace stays unclassified, including the bare pool anchor
    acc = provide.child_via(STONFI_V2_ACCOUNT_ADD)
    if acc is None:
        return None
    if acc is not None:
        claimed.append(acc)
        cb = acc.child_via(STONFI_V2_CB_ADD)
        if cb is not None:
            claimed.append(cb)
            lp = cb.child_via(JETTON_INTERNAL)
            refund = cb.child_via(STONFI_V2_ACCOUNT_ADD)
            if lp is not None:
                claimed.append(lp)
                lp_tokens = _int(lp.in_msg.decoded_body().get("amount"))
                lp_notify = lp.child_via(JETTON_NOTIFY)
                if lp_notify is not None:
                    claimed.append(lp_notify)
            elif refund is not None:
                claimed.append(refund)
                failed = True
    act = _base(
        node,
        "dex_deposit_liquidity",
        claimed=claimed,
        source=body.get("from_user", node.in_msg.source),
        source_secondary=wallet,
        destination=provide.account,
        amount=amount,
        dex_deposit_liquidity_data={
            "dex": "stonfi_v2",
            "amount1": amount,
            "asset1": asset,
            "user_jetton_wallet_1": wallet,
            "lp_tokens_minted": lp_tokens,
        },
    )
    if failed:
        act["success"] = False
    return act


@opcodes(PTON_TRANSFER)
def match_pton_transfer(node: Node, ctx: Ctx) -> dict | None:
    """pTON (proxy-TON) transfer wraps plain TON movement in the jetton
    interface; the reference surfaces it as a ton_transfer
    (PTonTransferMatcher, blocks/jettons.py)."""
    if _op(node) != PTON_TRANSFER:
        return None
    body = node.in_msg.decoded_body()
    claimed = [node] + _value_children(node, [])[:1]
    return _base(
        node,
        "ton_transfer",
        claimed=claimed,
        asset="TON",
        amount=body.get("amount", node.in_msg.value),
        ton_transfer_data={"content": body.get("comment"), "encrypted": False},
    )


# -------------------------------------------------------------------- Tonco


def _tonco_transfer_out(c: Node, ctx: Ctx, swap_op: int = TONCO_SWAP) -> dict | None:
    """A router payout transfer (pay_to child) → the serializer's
    6-field transfer dict + claimed nodes + the next-hop swap node (for
    the router-pays-itself multihop shape, swaps.py:741-772; the same
    walk serves ston.fi v2, swaps.py:233-268, via ``swap_op``)."""
    if _op(c) != JETTON_TRANSFER:
        return None
    pton = c.child_via(PTON_TRANSFER)
    if pton is not None:
        pbody = pton.in_msg.decoded_body()
        hop_notify = pton.child_via(JETTON_NOTIFY)
        next_swap = (
            hop_notify.child_via(swap_op) if hop_notify is not None else None
        )
        claimed = [c, pton] + ([hop_notify] if hop_notify is not None else [])
        for holder in (c, pton):
            exc = holder.child_via(EXCESSES)
            if exc is not None:
                claimed.append(exc)
        return {
            "claimed": claimed,
            "next_swap": next_swap,
            "data": {
                "asset": None,
                "amount": _int(pbody.get("amount")),
                "source": c.in_msg.source,
                "source_jetton_wallet": None,
                "destination": pton.account if next_swap is None else None,
                "destination_jetton_wallet": None,
            },
        }
    chain = _jetton_chain(c, ctx)
    if chain is None:
        return None
    notify = chain["notify"]
    next_swap = (
        notify.child_via(swap_op) if notify is not None else None
    )
    return {
        "claimed": chain["claimed"],
        "next_swap": next_swap,
        "data": {
            "asset": _wallet_asset(c.account, ctx),
            "amount": _int(chain["amount"]),
            "source": c.in_msg.source,
            "source_jetton_wallet": c.account,
            "destination": chain["dest_owner"],
            "destination_jetton_wallet": chain["receiver_wallet"],
        },
    }


@opcodes(JETTON_TRANSFER, PTON_TRANSFER)
def match_tonco_swap(node: Node, ctx: Ctx) -> dict | None:
    """Tonco swap, single- or multi-hop (swaps.py:687-1230
    ToncoSwapBlockMatcher): anchored at the INPUT transfer (jetton chain
    or pTON transfer) whose notify triggers POOLV3_SWAP → ROUTERV3_PAY_TO;
    multihops chain by the router transferring to its own wallet and
    re-notifying itself.  Serialized via the jetton_swap fill
    (block_tree_serializer.py:357-398): asset/asset2 come from
    source/destination assets; a failed swap recovers the intended target
    from the recursive swap payload."""
    op = _op(node)
    claimed: list[Node] = []
    if op == JETTON_TRANSFER:
        chain = _jetton_chain(node, ctx)
        if chain is None or chain["notify"] is None:
            return None
        notify = chain["notify"]
        body = node.in_msg.decoded_body()
        in_data = {
            "asset": _wallet_asset(node.account, ctx),
            "amount": _int(chain["amount"]),
            "source": node.in_msg.source,
            "source_jetton_wallet": node.account,
            "destination": chain["dest_owner"],
            "destination_jetton_wallet": chain["receiver_wallet"],
        }
        claimed += chain["claimed"]
    elif op == PTON_TRANSFER:
        notify = node.child_via(JETTON_NOTIFY)
        if notify is None:
            return None
        body = node.in_msg.decoded_body()
        in_data = {
            "asset": None,
            "amount": _int(body.get("amount")),
            "source": node.in_msg.source,
            "source_jetton_wallet": None,
            "destination": notify.account,
            "destination_jetton_wallet": node.account,
        }
        claimed += [node, notify]
    else:
        return None
    # the swap payload rides to the router inside the notify regardless of
    # input kind — recover it there for the failed-swap target parse
    fwd = notify.in_msg.decoded_body().get("forward_payload")
    first_swap = notify.child_via(TONCO_SWAP)
    if first_swap is None:
        return None

    # walk the swap→payout chain; the router continues a hop by paying
    # into its own wallet and re-notifying itself
    swaps: list[Node] = []
    payouts: list[Node] = []
    out_data = None
    ok = True
    cur = first_swap
    while cur is not None:
        pay = cur.child_via(TONCO_PAY_TO)
        if pay is None:
            return None
        swaps.append(cur)
        payouts.append(pay)
        claimed += [cur, pay]
        exit_code = _int(pay.in_msg.decoded_body().get("exit_code"))
        if exit_code is not None and exit_code not in (0, 200):
            ok = False
        next_swap = None
        for c in pay.children:
            leg = _tonco_transfer_out(c, ctx)
            if leg is None:
                continue
            claimed += leg["claimed"]
            if leg["next_swap"] is not None:
                next_swap = leg["next_swap"]
            else:
                out_data = leg["data"]
        cur = next_swap
    if out_data is None:
        return None

    # peer_swaps for multihop: each payout's dominant coinsinfo entry is
    # that hop's output (swaps.py:1068-1152)
    peer_swaps = []
    if len(swaps) > 1:
        prev_in = {"amount_in": in_data["amount"], "asset_in": in_data["asset"]}
        for pay in payouts:
            pb = pay.in_msg.decoded_body()
            entries = [
                (_int(pb.get(a)), pb.get(j))
                for a, j in (("amount0", "jetton0_address"),
                             ("amount1", "jetton1_address"))
                if pb.get(a) is not None and pb.get(j) is not None
            ]
            entries.sort(key=lambda e: e[0] or 0, reverse=True)
            if not entries:
                continue
            out_amount, out_wallet = entries[0]
            hop = prev_in | {
                "amount_out": out_amount,
                "asset_out": _wallet_asset(out_wallet, ctx),
            }
            peer_swaps.append(hop)
            prev_in = {
                "amount_in": hop["amount_out"],
                "asset_in": hop["asset_out"],
            }

    destination_asset = out_data["asset"]
    min_out = out_data["amount"]
    unresolved_wallet = None
    if not ok and fwd:
        from ton_indexer_spark.functions.boc import decode_tonco_swap_payload

        targets = decode_tonco_swap_payload(fwd)
        if targets and targets[-1][0]:
            t_wallet, t_min = targets[-1]
            min_out = t_min
            if t_wallet in ctx.get("jetton_wallets", {}):
                destination_asset = _wallet_asset(t_wallet, ctx)
            else:
                # unknown target wallet: KEEP the refund-leg asset as the
                # asset2 fallback — the reference only overwrites
                # destination_asset when its interface-repository lookup
                # RESOLVES (swaps.py:1165-1190, `if target_asset:`) —
                # and defer to the post-classification point lookup; the
                # "a2|" prefix tells the resolver which field to patch
                # (it overwrites asset2 only on a resolved dim row)
                unresolved_wallet = f"a2|{t_wallet}"

    act = _base(
        node,
        "jetton_swap",
        claimed=claimed,
        source=in_data["source"],
        source_secondary=in_data["source_jetton_wallet"],
        destination=out_data["destination"],
        destination_secondary=out_data["destination_jetton_wallet"],
        asset=in_data["asset"],
        asset2=destination_asset,
        asset2_wallet_unresolved=unresolved_wallet,
        jetton_swap_data={
            "dex": "tonco",
            "sender": in_data["source"],
            "dex_incoming_transfer": in_data,
            "dex_outgoing_transfer": out_data,
            "peer_swaps": peer_swaps,
            "min_out_amount": min_out,
        },
    )
    if not ok:
        act["success"] = False
    return act


def _wallet_asset(wallet: str | None, ctx: Ctx) -> str | None:
    """Jetton WALLET address → asset column value: the wallet's jetton
    master, or None for TON — unknown wallets and pTON-family wallets both
    resolve to TON, exactly the reference's lookup discipline
    (liquidity.py:1088-1130)."""
    if wallet is None:
        return None
    jetton = ctx.get("jetton_wallets", {}).get(wallet, (None, None))[1]
    if jetton is None or jetton in PTON_MASTERS:
        return None
    return jetton


def _is_pton_wallet(wallet: str | None, ctx: Ctx) -> bool:
    if wallet is None:
        return False
    jetton = ctx.get("jetton_wallets", {}).get(wallet, (None, None))[1]
    return jetton in PTON_MASTERS


def _int(v) -> int | None:
    return None if v is None else int(v)


def _tonco_payout_leg(c: Node, ctx: Ctx) -> dict | None:
    """One router payout under ROUTERV3_PAY_TO: a jetton transfer with an
    optional pTON continuation (TON leg).  Returns
    {claimed, amount, asset, dex_wallet, dex_jetton_wallet, wallet}."""
    if _op(c) != JETTON_TRANSFER:
        return None
    pton = c.child_via(PTON_TRANSFER)
    if pton is not None:
        pbody = pton.in_msg.decoded_body()
        return {
            "claimed": [c, pton],
            "amount": _int(pbody.get("amount")),
            "asset": None,
            "dex_wallet": c.in_msg.source,
            "dex_jetton_wallet": None,
            "wallet": None,
        }
    chain = _jetton_chain(c, ctx)
    if chain is None:
        return None
    return {
        "claimed": chain["claimed"],
        "amount": _int(chain["amount"]),
        "asset": _wallet_asset(c.account, ctx),
        "dex_wallet": c.in_msg.source,
        "dex_jetton_wallet": c.account,
        "wallet": chain["receiver_wallet"],
    }


@opcodes(JETTON_TRANSFER, PTON_TRANSFER)
def match_tonco_deposit_liquidity(node: Node, ctx: Ctx) -> dict | None:
    """Tonco concentrated-liquidity deposit
    (liquidity.py:928-1185 ToncoDepositLiquidityMatcher), anchored at the
    INPUT transfer — a jetton-transfer chain or a pTON transfer — whose
    notify fans into POOLV3_FUND_ACCOUNT → ACCOUNTV3_ADD_LIQUIDITY.  One
    action per deposited leg; the COMPLETE leg additionally claims the
    POOLV3_MINT call, the position-NFT init (lp tokens / nft index), and
    the router's refund payouts (vault_excesses).  Serialized to the
    reference's dex_deposit_liquidity shape
    (block_tree_serializer.py:893-938)."""
    op = _op(node)
    claimed: list[Node] = []
    sender_wallet = None
    if op == JETTON_TRANSFER:
        chain = _jetton_chain(node, ctx)
        if chain is None:
            return None
        notify = chain["notify"]
        if notify is None:
            return None
        claimed += chain["claimed"]
        sender_wallet = node.account
    elif op == PTON_TRANSFER:
        notify = node.child_via(JETTON_NOTIFY)
        if notify is None:
            return None
        claimed += [node, notify]
    else:
        return None
    fund = notify.child_via(TONCO_FUND_ACCOUNT)
    if fund is None:
        return None
    add = fund.child_via(TONCO_ADD_LIQUIDITY)
    if add is None:
        return None
    claimed += [fund, add]

    add_body = add.in_msg.decoded_body()
    nbody = notify.in_msg.decoded_body()
    sender = nbody.get("sender") or nbody.get("from")
    sent_amount = _int(nbody.get("amount"))
    from ton_indexer_spark.functions.boc import decode_tonco_fund_payload

    payload = (
        decode_tonco_fund_payload(nbody["forward_payload"])
        if nbody.get("forward_payload")
        else None
    )
    first_asset = _wallet_asset(notify.in_msg.source, ctx)
    other_wallet = payload.get("other_jetton_wallet") if payload else None
    second_asset = _wallet_asset(other_wallet, ctx)
    # the pair's other wallet is only referenced inside the fund payload
    # and may never transact in this trace — defer its asset to the
    # post-classification point lookup (the reference awaits the
    # interface repository at liquidity.py's wallet map miss)
    unresolved_wallet = None
    if (second_asset is None and other_wallet is not None
            and other_wallet not in ctx.get("jetton_wallets", {})):
        unresolved_wallet = other_wallet

    # completion chain: account → POOLV3_MINT → {PAY_TO refunds, NFT init}
    lp_tokens = nft_index = nft_address = None
    excesses: list[dict] = []
    mint = add.child_via(TONCO_MINT_REFUND)
    if mint is not None:
        claimed.append(mint)
        nft = mint.child_via(TONCO_POSITION_INIT)
        if nft is not None:
            claimed.append(nft)
            nb = nft.in_msg.decoded_body()
            lp_tokens = _int(nb.get("liquidity"))
            nft_index = _int(nb.get("nft_index"))
            nft_address = nft.account
        refund = mint.child_via(TONCO_PAY_TO)
        if refund is not None:
            claimed.append(refund)
            for c in refund.children:
                leg = _tonco_payout_leg(c, ctx)
                if leg is not None:
                    claimed += leg["claimed"]
                    excesses.append(
                        {"asset": leg["asset"], "amount": leg["amount"]}
                    )
        exc = mint.child_via(EXCESSES)
        if exc is not None:
            claimed.append(exc)

    is_first = (_int(add_body.get("new_amount0")) or 0) > 0
    if is_first:
        amount_1, asset_1, w1 = sent_amount, first_asset, sender_wallet
        amount_2, asset_2, w2 = None, second_asset, None
    else:
        amount_1, asset_1, w1 = None, second_asset, None
        amount_2, asset_2, w2 = sent_amount, first_asset, sender_wallet
    # the serializer compacts (amount, asset) pairs: present amounts fill
    # amount1/asset1 first (block_tree_serializer.py:906-918)
    actuals = [
        (a, s) for a, s in ((amount_1, asset_1), (amount_2, asset_2))
        if a is not None
    ]
    c_amount1, c_asset1 = actuals[0] if actuals else (None, None)
    c_amount2, c_asset2 = actuals[1] if len(actuals) > 1 else (None, None)

    return _base(
        node,
        "dex_deposit_liquidity",
        claimed=claimed,
        source=sender,
        source_secondary=w1 or w2,
        destination=fund.account,
        destination_secondary=add.account,
        asset2_wallet_unresolved=(
            f"{'dep2' if is_first else 'dep1'}|{unresolved_wallet}"
            if unresolved_wallet is not None else None
        ),
        dex_deposit_liquidity_data={
            "dex": "tonco",
            "amount1": c_amount1,
            "amount2": c_amount2,
            "asset1": c_asset1,
            "asset2": c_asset2,
            "user_jetton_wallet_1": w1,
            "user_jetton_wallet_2": w2,
            "lp_tokens_minted": lp_tokens,
            "tick_lower": _int(add_body.get("tick_lower")),
            "tick_upper": _int(add_body.get("tick_upper")),
            "nft_index": nft_index,
            "nft_address": nft_address,
            "target_amount_1": _int(add_body.get("new_enough0")),
            "target_amount_2": _int(add_body.get("new_enough1")),
            "target_asset_1": asset_1,
            "target_asset_2": asset_2,
            "vault_excesses": excesses,
        },
    )


@opcodes(TONCO_START_BURN)
def match_tonco_withdraw_liquidity(node: Node, ctx: Ctx) -> dict | None:
    """Tonco position burn → two router payouts
    (liquidity.py:1218-1505 ToncoWithdrawLiquidityMatcher): anchored at
    POOLV3_START_BURN, claims the NFT position burn, the pool burn, the
    ROUTERV3_PAY_TO call and both payout transfer chains.  Payout legs are
    ordered by the router coinsinfo asset order; serialized to
    dex_withdraw_liquidity (block_tree_serializer.py:435-460)."""
    if _op(node) != TONCO_START_BURN:
        return None
    sbody = node.in_msg.decoded_body()
    pos_burn = node.child_via(TONCO_POSITION_BURN)
    if pos_burn is None:
        return None
    pool_burn = pos_burn.child_via(TONCO_POOL_BURN)
    if pool_burn is None:
        return None
    pay_to = pool_burn.child_via(TONCO_PAY_TO)
    if pay_to is None:
        return None
    claimed = [node, pos_burn, pool_burn, pay_to]

    pb_body = pos_burn.in_msg.decoded_body()
    pt_body = pay_to.in_msg.decoded_body()
    legs = []
    for c in pay_to.children:
        leg = _tonco_payout_leg(c, ctx)
        if leg is not None:
            claimed += leg["claimed"]
            legs.append(leg)
    # order legs by the router's coinsinfo: jetton0 first (pTON-family
    # wallets normalize to None, liquidity.py:1345-1348)
    j0 = pt_body.get("jetton0_address")
    if _is_pton_wallet(j0, ctx):
        j0 = None
    if len(legs) == 2 and legs[0]["dex_jetton_wallet"] != j0:
        legs.reverse()
    # a leg the transfers don't cover falls back to the router message
    # amounts (liquidity.py:1390-1412)
    while len(legs) < 2 and pt_body.get("amount0") is not None:
        i = len(legs)
        wallet_addr = pt_body.get(("jetton0_address", "jetton1_address")[i])
        legs.append({
            "amount": _int(pt_body.get(("amount0", "amount1")[i])),
            "asset": _wallet_asset(wallet_addr, ctx),
            # fallback legs carry the PAY_TO message's source (the pool)
            # as dex_wallet (liquidity.py:1405-1407)
            "dex_wallet": pay_to.in_msg.source,
            "dex_jetton_wallet": (
                None if _is_pton_wallet(wallet_addr, ctx) else wallet_addr
            ),
            "wallet": pt_body.get(("receiver0", "receiver1")[i]),
        })
        if len(legs) > 2:
            break

    l1 = legs[0] if legs else {}
    l2 = legs[1] if len(legs) > 1 else {}
    exit_code = _int(pt_body.get("exit_code"))
    act = _base(
        node,
        "dex_withdraw_liquidity",
        claimed=claimed,
        source=pb_body.get("nft_owner"),
        destination=node.account,
        asset=None,
        dex_withdraw_liquidity_data={
            "dex": "tonco",
            "amount1": l1.get("amount"),
            "amount2": l2.get("amount"),
            "asset1_out": l1.get("asset"),
            "asset2_out": l2.get("asset"),
            "user_jetton_wallet_1": l1.get("wallet"),
            "user_jetton_wallet_2": l2.get("wallet"),
            "dex_jetton_wallet_1": l1.get("dex_jetton_wallet"),
            "dex_jetton_wallet_2": l2.get("dex_jetton_wallet"),
            "dex_wallet_1": l1.get("dex_wallet"),
            "dex_wallet_2": l2.get("dex_wallet"),
            "lp_tokens_burnt": _int(sbody.get("amount")),
            "burned_nft_index": _int(
                pool_burn.in_msg.decoded_body().get("burned_index")
                or sbody.get("nft_index")
            ),
            "burned_nft_address": pos_burn.account,
            "tick_lower": _int(sbody.get("tick_lower")),
            "tick_upper": _int(sbody.get("tick_upper")),
        },
    )
    if exit_code is not None and exit_code not in (0, 201):
        act["success"] = False
    return act


@opcodes(TONCO_CREATE_POOL)
def match_tonco_deploy_pool(node: Node, ctx: Ctx) -> dict | None:
    """ROUTERV3_CREATE_POOL → POOLV3_INIT (+excesses)
    (liquidity.py:1535-1620 ToncoDeployPoolBlockMatcher): the action's
    endpoints are deployer → router with the POOL as the secondary
    destination (block_tree_serializer.py:831-849)."""
    if _op(node) != TONCO_CREATE_POOL:
        return None
    init = node.child_via(TONCO_POOL_INIT)
    if init is None:
        return None
    claimed = [node, init]
    exc = init.child_via(EXCESSES)
    if exc is not None:
        claimed.append(exc)
    body = node.in_msg.decoded_body()
    init_body = init.in_msg.decoded_body()
    return _base(
        node,
        "tonco_deploy_pool",
        claimed=claimed,
        destination=node.account,
        destination_secondary=init.account,
        success=True,  # the init message's presence IS success
        tonco_deploy_pool_data={
            "jetton0_router_wallet": body.get("jetton_wallet0"),
            "jetton1_router_wallet": body.get("jetton_wallet1"),
            "jetton0_minter": body.get("jetton0_minter"),
            "jetton1_minter": body.get("jetton1_minter"),
            "tick_spacing": _int(body.get("tick_spacing")),
            # x96 fixed-point overflows int64 — stringified at the Spark
            # serialization boundary (classify.py), exact int here
            "initial_price_x96": _int(body.get("initial_price_x96")),
            "protocol_fee": _int(body.get("protocol_fee")),
            "lp_fee_base": _int(body.get("lp_fee_base")),
            "lp_fee_current": _int(body.get("lp_fee_current")),
            "pool_active": init_body.get("pool_active"),
        },
    )


# -------------------------------------------------------------- swap.coffee


COFFEE_SWAP_EVENT = 0xC0FFEE30
COFFEE_NOTIFICATION_OP = 0xC0FFEE36


@opcodes(JETTON_TRANSFER, COFFEE_SWAP_NATIVE)
def match_coffee_swap(node: Node, ctx: Ctx) -> dict | None:
    """swap.coffee swap (swaps.py:1231-1448 CoffeeSwapBlockMatcher):
    entry jetton chain into the vault or a native swap call, then
    swap_internal hops across pools (each with its success event log),
    exiting via payout_internal to the paying vault and the user leg
    (jetton chain, native payout, or notification)."""
    from ton_indexer_spark.functions.boc import (
        decode_coffee_payout_internal,
        decode_coffee_swap_event,
    )

    op = _op(node)
    claimed: list[Node] = []
    if op == JETTON_TRANSFER:
        chain = _jetton_chain(node, ctx)
        if chain is None or chain["notify"] is None:
            return None
        vault = chain["notify"]
        in_data = {
            "asset": ctx.get("jetton_wallets", {}).get(
                node.account, (None, None))[1],
            "amount": _int(chain["amount"]),
            "source": node.in_msg.source,
            "source_jetton_wallet": node.account,
            "destination": chain["dest_owner"],
            "destination_jetton_wallet": chain["receiver_wallet"],
        }
        claimed += chain["claimed"]
    elif op == COFFEE_SWAP_NATIVE:
        body = node.in_msg.decoded_body()
        vault = node
        in_data = {
            "asset": None,
            "amount": _int(body.get("amount")),
            "source": node.in_msg.source,
            "source_jetton_wallet": None,
            "destination": node.account,
            "destination_jetton_wallet": None,
        }
        claimed.append(node)
    else:
        return None
    first_swap = vault.child_via(COFFEE_SWAP_INTERNAL)
    if first_swap is None:
        return None

    peer_swaps: list[dict] = []
    ok = True
    payout = None
    cur = first_swap
    while cur is not None:
        claimed.append(cur)
        ev = None
        for msg in cur.out_msgs:
            if msg.opcode == COFFEE_SWAP_EVENT and msg.body:
                ev = decode_coffee_swap_event(msg.body)
                break
        if ev is None:
            ok = False
        else:
            peer_swaps.append({
                "amount_in": _int(ev.get("input_amount")),
                "asset_in": _da(ev.get("input")),
                "amount_out": _int(ev.get("output_amount")),
                "asset_out": None,  # filled from the next hop / final leg
            })
        payout = cur.child_via(COFFEE_PAYOUT_INTERNAL)
        if payout is not None:
            break
        cur = cur.child_via(COFFEE_SWAP_INTERNAL)
    if payout is None:
        return None
    claimed.append(payout)
    pay_body = (
        decode_coffee_payout_internal(payout.in_msg.body)
        if payout.in_msg.body else None
    ) or payout.in_msg.decoded_body() or {}

    out_data = None
    for c in payout.children:
        tc = _jetton_chain(c, ctx)
        if tc is not None:
            claimed += tc["claimed"]
            out_data = {
                "asset": ctx.get("jetton_wallets", {}).get(
                    c.account, (None, None))[1],
                "amount": _int(tc["amount"]),
                "source": c.in_msg.source,
                "source_jetton_wallet": c.account,
                "destination": tc["dest_owner"],
                "destination_jetton_wallet": tc["receiver_wallet"],
            }
            break
        if _op(c) == COFFEE_PAYOUT:
            claimed.append(c)
            out_data = {
                "asset": None,
                "amount": _int(pay_body.get("amount")),
                "source": payout.in_msg.source,
                "source_jetton_wallet": None,
                "destination": pay_body.get("recipient"),
                "destination_jetton_wallet": None,
            }
            break
        if _op(c) == COFFEE_NOTIFICATION_OP:
            claimed.append(c)
            out_data = {
                "asset": None,
                "amount": c.in_msg.value,
                "source": c.in_msg.source,
                "source_jetton_wallet": None,
                "destination": c.account,
                "destination_jetton_wallet": None,
            }
            break
    if out_data is None:
        return None
    for i in range(len(peer_swaps) - 1):
        peer_swaps[i]["asset_out"] = peer_swaps[i + 1]["asset_in"]
    if peer_swaps:
        peer_swaps[-1]["asset_out"] = out_data["asset"]

    act = _base(
        node,
        "jetton_swap",
        claimed=claimed,
        source=in_data["source"],
        source_secondary=in_data["source_jetton_wallet"],
        destination=out_data["destination"],
        destination_secondary=out_data["destination_jetton_wallet"],
        asset=in_data["asset"],
        asset2=out_data["asset"],
        jetton_swap_data={
            "dex": "coffee",
            "sender": in_data["source"],
            "dex_incoming_transfer": in_data,
            "dex_outgoing_transfer": out_data,
            "peer_swaps": peer_swaps if len(peer_swaps) > 1 else [],
        },
    )
    if not ok:
        act["success"] = False
    return act


COFFEE_DEPOSITORY_REQUEST = 0xC0FFEE27  # messages/coffee.py:803-821
COFFEE_DEPLOY_OP = 0xC0FFEE22           # messages/coffee.py:697-710
COFFEE_DEPOSIT_INTERNAL = 0xC0FFEE29    # messages/coffee.py:846-858
COFFEE_DEPOSIT_EVENT = 0xC0FFEE33       # messages/coffee.py:520-539


@opcodes(COFFEE_DEPOSIT_NATIVE, JETTON_TRANSFER)
def match_coffee_deposit_liquidity(node: Node, ctx: Ctx) -> dict | None:
    """swap.coffee two-sided deposit (liquidity.py:1640-1816
    CoffeeDepositLiquidityMatcher): each asset leg (native vault call or
    jetton chain) raises a depository request + deploy; the COMPLETING
    leg's deposit_internal at the pool emits the success event and mints
    LP.  One dex_deposit_liquidity action per leg — the incomplete leg
    has destination (pool) null, exactly the reference serialization."""
    from ton_indexer_spark.functions.boc import (
        decode_coffee_deposit_event,
        decode_coffee_depository_request,
    )

    op = _op(node)
    claimed: list[Node] = []
    if op == COFFEE_DEPOSIT_NATIVE:
        vault = node
        in_asset = None
        in_wallet = None
        claimed.append(node)
    elif op == JETTON_TRANSFER:
        chain = _jetton_chain(node, ctx)
        if chain is None or chain["notify"] is None:
            return None
        vault = chain["notify"]
        in_asset = ctx.get("jetton_wallets", {}).get(
            node.account, (None, None))[1]
        in_wallet = node.account
        claimed += chain["claimed"]
    else:
        return None
    req = vault.child_via(COFFEE_DEPOSITORY_REQUEST)
    if req is None:
        return None
    req_body = (
        decode_coffee_depository_request(req.in_msg.body)
        if req.in_msg.body else None
    ) or req.in_msg.decoded_body()
    if not req_body:
        return None
    deploy = req.child_via(COFFEE_DEPLOY_OP)
    if deploy is None:
        return None
    claimed += [req, deploy]

    first = _da(req_body.get("first"))
    second = _da(req_body.get("second"))
    amount = _int(req_body.get("amount"))
    if in_asset == first:
        slots = {
            "asset1": in_asset, "amount1": amount,
            "user_jetton_wallet_1": in_wallet,
            "asset2": None, "amount2": None, "user_jetton_wallet_2": None,
            "target_asset_1": first, "target_asset_2": second,
        }
    elif in_asset == second:
        slots = {
            "asset1": None, "amount1": None, "user_jetton_wallet_1": None,
            "asset2": in_asset, "amount2": amount,
            "user_jetton_wallet_2": in_wallet,
            "target_asset_1": second, "target_asset_2": first,
        }
    else:
        return None

    lp_tokens = None
    pool = None
    excesses: list[dict] = []
    internal = deploy.child_via(COFFEE_DEPOSIT_INTERNAL)
    if internal is not None:
        claimed.append(internal)
        pool = internal.account
        ev = None
        for msg in internal.out_msgs:
            if msg.opcode == COFFEE_DEPOSIT_EVENT and msg.body:
                ev = decode_coffee_deposit_event(msg.body)
                break
        lp = internal.child_via(JETTON_INTERNAL)
        if ev is not None:
            lp_tokens = _int(ev.get("lp_amount"))
        if lp is not None:
            claimed.append(lp)
            if lp_tokens is None:
                lp_tokens = _int(lp.in_msg.decoded_body().get("amount"))
            exc = lp.child_via(EXCESSES)
            if exc is not None:
                claimed.append(exc)
        if ev is None and lp is None:
            pool = None
        payout = internal.child_via(COFFEE_PAYOUT_INTERNAL)
        if payout is not None:
            claimed.append(payout)
            for c in payout.children:
                tc = _jetton_chain(c, ctx)
                if tc is not None:
                    claimed += tc["claimed"]
                    excesses.append({
                        "asset": ctx.get("jetton_wallets", {}).get(
                            c.account, (None, None))[1],
                        "amount": _int(tc["amount"]),
                    })
                elif _op(c) in (COFFEE_PAYOUT, COFFEE_NOTIFICATION_OP):
                    claimed.append(c)
                    excesses.append(
                        {"asset": None, "amount": c.in_msg.value}
                    )

    act = _base(
        node,
        "dex_deposit_liquidity",
        claimed=claimed,
        source=req_body.get("recipient"),
        destination=pool,
        destination_secondary=deploy.account,
        amount=amount,
        dex_deposit_liquidity_data={
            "dex": "coffee",
            **slots,
            "target_amount_1": None,
            "target_amount_2": None,
            "lp_tokens_minted": lp_tokens,
            "vault_excesses": excesses,
        },
    )
    return act


@opcodes(COFFEE_WITHDRAW_DEPOSIT)
def match_coffee_withdraw_liquidity(node: Node, ctx: Ctx) -> dict | None:
    if _op(node) != COFFEE_WITHDRAW_DEPOSIT:
        return None
    claimed = [node] + [
        c for c in node.children
        if c.in_msg is not None and c.in_msg.opcode == COFFEE_PAYOUT
    ]
    body = node.in_msg.decoded_body()
    return _base(
        node,
        "dex_withdraw_liquidity",
        claimed=claimed,
        amount=body.get("amount"),
        dex_withdraw_liquidity_data={
            "dex": "coffee",
            "lp_tokens_burnt": body.get("amount"),
        },
    )


COFFEE_WITHDRAW_EVENT = 0xC0FFEE35


@opcodes(JETTON_BURN)
def match_coffee_lp_withdraw(node: Node, ctx: Ctx) -> dict | None:
    """swap.coffee LP burn withdrawal (liquidity.py:1838-1968
    CoffeeWithdrawLiquidityMatcher): LP jetton burn → pool burn notify
    emitting the withdrawal event, two payout_internal legs paying each
    pool asset out."""
    from ton_indexer_spark.functions.boc import decode_coffee_withdraw_event

    if _op(node) != JETTON_BURN:
        return None
    notify = node.child_via(BURN_NOTIFY)
    if notify is None:
        return None
    ev = None
    for msg in notify.out_msgs:
        if msg.opcode == COFFEE_WITHDRAW_EVENT and msg.body:
            ev = decode_coffee_withdraw_event(msg.body)
            break
    payouts = [
        c for c in notify.children if _op(c) == COFFEE_PAYOUT_INTERNAL
    ]
    if ev is None or not payouts:
        return None
    claimed = [node, notify] + payouts
    legs: list[dict] = []
    for p in payouts:
        leg = {
            "asset": None, "dex_jetton_wallet": None, "wallet": None,
            "dex_wallet": p.in_msg.source,
        }
        for c in p.children:
            tc = _jetton_chain(c, ctx)
            if tc is not None:
                claimed += tc["claimed"]
                leg.update(
                    asset=ctx.get("jetton_wallets", {}).get(
                        c.account, (None, None))[1],
                    dex_jetton_wallet=c.account,
                    wallet=tc["receiver_wallet"],
                )
                break
            if _op(c) in (COFFEE_PAYOUT, COFFEE_NOTIFICATION_OP):
                claimed.append(c)
                leg.update(wallet=c.account)
                break
        legs.append(leg)
    l1 = legs[0] if legs else {}
    l2 = legs[1] if len(legs) > 1 else {}
    lp_master = ctx.get("jetton_wallets", {}).get(
        node.account, (None, None))[1]
    return _base(
        node,
        "dex_withdraw_liquidity",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=node.account,
        destination=notify.account,
        asset=lp_master,
        dex_withdraw_liquidity_data={
            "dex": "coffee",
            "amount1": _int(ev.get("amount1")),
            "amount2": _int(ev.get("amount2")),
            "asset1_out": l1.get("asset"),
            "asset2_out": l2.get("asset"),
            "user_jetton_wallet_1": l1.get("wallet"),
            "user_jetton_wallet_2": l2.get("wallet"),
            "dex_jetton_wallet_1": l1.get("dex_jetton_wallet"),
            "dex_jetton_wallet_2": l2.get("dex_jetton_wallet"),
            "dex_wallet_1": l1.get("dex_wallet"),
            "dex_wallet_2": l2.get("dex_wallet"),
            "is_refund": False,
            "lp_tokens_burnt": _int(
                node.in_msg.decoded_body().get("amount")
            ),
        },
    )


@opcodes(COFFEE_CREATE_VAULT)
def match_coffee_create_vault(node: Node, ctx: Ctx) -> dict | None:
    """create_vault#c0ffee06 at the factory, deploying the vault
    (liquidity.py:1991-2027 CoffeeCreateVaultMatcher): the action's
    destination is the DEPLOYED vault, asset from the request body."""
    if _op(node) != COFFEE_CREATE_VAULT:
        return None
    deploy = node.child_via(COFFEE_DEPLOY_OP)
    if deploy is None:
        return None
    claimed = [node, deploy]
    # optional init ping-pong under the deploy (liquidity.py:1999-2004)
    for c in deploy.children:
        if _op(c) == 0x2C76B973:
            claimed.append(c)
            for cc in c.children:
                if _op(cc) == 0xD1735400:
                    claimed.append(cc)
    body = node.in_msg.decoded_body()
    return _base(
        node,
        "coffee_create_vault",
        claimed=claimed,
        source=node.in_msg.source,
        destination=deploy.account,
        asset=_da(body.get("asset")),
        amount=node.in_msg.value,
    )


COFFEE_POOL_CREATOR_REQUEST = 0xC0FFEE23  # messages/coffee.py:713-731
COFFEE_POOL_REQUEST = 0xC0FFEE25          # messages/coffee.py:752-775


def _coffee_pool_entry(node: Node, ctx: Ctx) -> dict | None:
    """Pool-creation entry leg: native/extra call to the vault or a
    jetton chain, reaching create_pool_creator_request → deploy.  The
    pool/creation params ride in the ENTRY payload — the request body is
    a structural anchor only (liquidity.py:2076-2112)."""
    from ton_indexer_spark.functions.boc import (
        decode_coffee_create_pool_native,
        decode_coffee_create_pool_payload,
    )

    op = _op(node)
    claimed: list[Node] = []
    if op in (COFFEE_CREATE_POOL_NATIVE, COFFEE_CREATE_POOL_EXTRA):
        params = (
            decode_coffee_create_pool_native(node.in_msg.body)
            if node.in_msg.body else None
        ) or node.in_msg.decoded_body()
        if not params:
            return None
        vault = node
        asset = None
        wallet = None
        amount = _int(params.get("amount"))
        sender = node.in_msg.source
        claimed.append(node)
    elif op == JETTON_TRANSFER:
        chain = _jetton_chain(node, ctx)
        if chain is None or chain["notify"] is None:
            return None
        fwd = node.in_msg.decoded_body().get("forward_payload")
        params = decode_coffee_create_pool_payload(fwd) if fwd else None
        if params is None:
            return None
        vault = chain["notify"]
        asset = ctx.get("jetton_wallets", {}).get(
            node.account, (None, None))[1]
        wallet = node.account
        amount = _int(chain["amount"])
        sender = node.in_msg.source
        claimed += chain["claimed"]
    else:
        return None
    req = vault.child_via(COFFEE_POOL_CREATOR_REQUEST)
    if req is None:
        return None
    deploy = req.child_via(COFFEE_DEPLOY_OP)
    if deploy is None:
        return None
    claimed += [req, deploy]
    return {
        "claimed": claimed,
        "deploy": deploy,
        "asset": asset,
        "wallet": wallet,
        "amount": amount,
        "sender": sender,
        "first": _da(params.get("first")),
        "second": _da(params.get("second")),
        "recipient": params.get("recipient"),
    }


def match_coffee_create_pool(node: Node, ctx: Ctx) -> dict | None:
    """swap.coffee pool creation, completing leg (liquidity.py:2157-2280
    CoffeeCreatePoolMatcher): the second pool-creator deploy raises
    create_pool_request → pool deploy with the LP mint and success event.
    Serialized per _fill_coffee_create_pool
    (block_tree_serializer.py:955-971)."""
    from ton_indexer_spark.functions.boc import (
        decode_coffee_deposit_event,
        decode_coffee_pool_request,
    )

    entry = _coffee_pool_entry(node, ctx)
    if entry is None:
        return None
    pool_req = entry["deploy"].child_via(COFFEE_POOL_REQUEST)
    if pool_req is None:
        return None
    pool_deploy = pool_req.child_via(COFFEE_DEPLOY_OP)
    if pool_deploy is None:
        return None
    claimed = entry["claimed"] + [pool_req, pool_deploy]
    req_body = (
        decode_coffee_pool_request(pool_req.in_msg.body)
        if pool_req.in_msg.body else None
    ) or pool_req.in_msg.decoded_body() or {}
    lp_tokens = None
    for msg in pool_deploy.out_msgs:
        if msg.opcode == COFFEE_DEPOSIT_EVENT and msg.body:
            ev = decode_coffee_deposit_event(msg.body)
            if ev:
                lp_tokens = _int(ev.get("lp_amount"))
            break
    lp = pool_deploy.child_via(JETTON_INTERNAL)
    if lp is not None:
        claimed.append(lp)
        exc = lp.child_via(EXCESSES)
        if exc is not None:
            claimed.append(exc)
        if lp_tokens is None:
            lp_tokens = _int(lp.in_msg.decoded_body().get("amount"))
    notif = pool_deploy.child_via(COFFEE_NOTIFICATION_OP)
    if notif is not None:
        claimed.append(notif)

    provided = entry["asset"]
    amount_1 = _int(req_body.get("amount1"))
    amount_2 = _int(req_body.get("amount2"))
    initiator_1 = entry["sender"]
    initiator_2 = req_body.get("tx_initiator")
    if provided == entry["first"]:
        asset_1, asset_2 = provided, entry["second"]
    elif provided == entry["second"]:
        asset_1, asset_2 = provided, entry["first"]
        amount_1, amount_2 = amount_2, amount_1
        initiator_1, initiator_2 = initiator_2, initiator_1
    else:
        asset_1, asset_2 = entry["first"], entry["second"]

    return _base(
        node,
        "coffee_create_pool",
        claimed=claimed,
        source=entry["sender"],
        source_secondary=entry["wallet"],
        destination=pool_deploy.account,
        destination_secondary=entry["deploy"].account,
        asset=asset_1,
        asset2=asset_2,
        amount=entry["amount"],
        coffee_create_pool_data={
            "amount_1": amount_1,
            "amount_2": amount_2,
            "initiator_1": initiator_1,
            "initiator_2": initiator_2,
            "provided_asset": provided,
            "lp_tokens_minted": lp_tokens,
        },
    )


def match_coffee_create_pool_creator(node: Node, ctx: Ctx) -> dict | None:
    """The first (incomplete) pool-creation leg: entry → pool-creator
    request → deploy, no pool request yet (liquidity.py:2055-2123,
    serialized per block_tree_serializer.py:945-953)."""
    entry = _coffee_pool_entry(node, ctx)
    if entry is None:
        return None
    if entry["deploy"].child_via(COFFEE_POOL_REQUEST) is not None:
        return None
    return _base(
        node,
        "coffee_create_pool_creator",
        claimed=entry["claimed"],
        source=entry["sender"],
        source_secondary=entry["wallet"],
        destination=entry["recipient"],
        destination_secondary=entry["deploy"].account,
        asset=entry["asset"],
        asset2=entry["first"],
        asset2_secondary=entry["second"],
        amount=entry["amount"],
    )


def _evaa_user_child(node: Node, op: int) -> "tuple[Node, dict] | None":
    """Child of `node` whose body is an EVAA user-contract message with the
    given post-header op (the version header garbles the raw opcode
    column, so membership must decode — blocks/evaa.py:65-92)."""
    from ton_indexer_spark.functions.boc import decode_evaa_user_body

    for c in node.children:
        if c.in_msg is None or not c.in_msg.body:
            continue
        d = decode_evaa_user_body(c.in_msg.body)
        if d is not None and d.get("opcode") == op:
            return c, d
    # synthetic fixtures carry the op headerless in the opcode column —
    # only consulted when no headered child matched, because real traces
    # can carry the SAME op headerless on a different (non-user) leg
    # (e.g. the plain 211a TON payout next to the headered 211a update)
    for c in node.children:
        if c.in_msg is not None and c.in_msg.opcode == op:
            return c, c.in_msg.decoded_body()
    return None


# user-contract failure excess ops -> reason (messages/evaa.py:228-247)
EVAA_WITHDRAW_FAIL_EXCESS = {
    0x21E6: "withdraw_locked_excess",
    0x21E7: "withdraw_not_collateralized_excess",
    0x21E8: "withdraw_missing_prices_excess",
    0x21EC: "withdraw_execution_crashed",
}
EVAA_WITHDRAW_NO_FUNDS_EXCESS = 0x211FE8
EVAA_TON_ASSET_ID = (
    "1a4219fe5e60d63af2a3cc7dce6fec69b45c6b5718497a6148e7c232ac87bd8a"
)


def _evaa_comment_child(node: Node) -> Node | None:
    """The 0x0 text-comment ("EVAA supply." etc.) the protocol appends to
    user-facing legs (evaa_action_comment_matcher)."""
    for c in node.children:
        if _op(c) == 0:
            return c
    return None


@opcodes(EVAA_SUPPLY_MASTER, JETTON_TRANSFER)
def match_evaa_supply(node: Node, ctx: Ctx) -> dict | None:
    """EVAA supply, TON and jetton arms (blocks/evaa.py:119-316
    EvaaSupplyBlockMatcher): anchored at the supply_master#1 call (TON) or
    at a jetton transfer whose forward payload is an EVAA supply (jetton);
    the master calls the user contract (version-headered supply_user#11)
    which answers supply_success#11a or supply_fail#11f.  Serialized per
    _fill_evaa_supply_action (block_tree_serializer.py:677-693)."""
    from ton_indexer_spark.functions.boc import decode_evaa_jetton_forward

    op = _op(node)
    is_ton = op == EVAA_SUPPLY_MASTER
    claimed: list[Node] = []
    asset = None
    sender_wallet = master_wallet = recipient_wallet = None
    if is_ton:
        body = node.in_msg.decoded_body()
        if "recipient_address" not in body:
            return None
        sender = node.in_msg.source
        recipient = body.get("recipient_address")
        amount = _int(body.get("amount"))
        master_node = node
        master = node.account
        claimed.append(node)
    elif op == JETTON_TRANSFER:
        chain = _jetton_chain(node, ctx)
        if chain is None or chain["notify"] is None:
            return None
        fwd_raw = node.in_msg.decoded_body().get("forward_payload")
        fwd = decode_evaa_jetton_forward(fwd_raw) if fwd_raw else None
        if fwd is None:
            return None
        sender = node.in_msg.source
        recipient = fwd.get("recipient_address")
        amount = _int(chain["amount"])
        sender_wallet = node.account
        master_wallet = chain["receiver_wallet"]
        master_node = chain["notify"]
        master = master_node.account
        asset = _wallet_asset(node.account, ctx)
        if sender == recipient:
            recipient_wallet = sender_wallet
        claimed += chain["claimed"]
    else:
        return None

    got = _evaa_user_child(master_node, EVAA_SUPPLY_USER)
    if got is None:
        return None
    user, user_body = got
    claimed.append(user)
    asset_id = user_body.get("asset_id")

    success_node = user.child_via(EVAA_SUPPLY_SUCCESS)
    fail_node = user.child_via(EVAA_SUPPLY_FAIL)
    jetton_return = None
    if success_node is None and fail_node is None:
        # failed jetton supply bounces the tokens back via a transfer
        for c in user.children:
            rc = _jetton_chain(c, ctx)
            if rc is not None:
                jetton_return = rc
                break
        if jetton_return is None:
            return None
        claimed += jetton_return["claimed"]
    is_success = success_node is not None
    if success_node is not None:
        claimed.append(success_node)
        sb = success_node.in_msg.decoded_body()
        amount = _int(sb.get("amount")) or amount
        comment = _evaa_comment_child(success_node)
        if comment is not None:
            claimed.append(comment)
    if fail_node is not None:
        claimed.append(fail_node)

    return _base(
        node,
        "evaa_supply",
        claimed=claimed,
        source=sender,
        source_secondary=sender_wallet,
        destination=recipient,
        destination_secondary=user.account,
        amount=amount,
        asset=asset,
        success=is_success,
        evaa_supply_data={
            "is_ton": is_ton,
            "asset_id": f"0x{asset_id}" if asset_id else None,
            "master": master,
            "recipient_jetton_wallet": recipient_wallet,
            "master_jetton_wallet": master_wallet,
        },
    )


@opcodes(EVAA_WITHDRAW_MASTER)
def match_evaa_withdraw(node: Node, ctx: Ctx) -> dict | None:
    """EVAA withdraw (blocks/evaa.py:340-565 EvaaWithdrawBlockMatcher):
    withdraw_master#2 -> headered withdraw_user#21 on the user contract ->
    withdraw_collateralized#211 back at the master, which on success pays
    out (TON via a 211a message, jetton via a transfer chain) and updates
    the user contract; failure paths carry a reason excess op.  Serialized
    per _fill_evaa_withdraw_action (block_tree_serializer.py:695-711)."""
    if _op(node) != EVAA_WITHDRAW_MASTER:
        return None
    body = node.in_msg.decoded_body()
    if "asset_id" not in body:
        return None
    owner = node.in_msg.source
    master = node.account
    asset_id = body.get("asset_id")
    desired = _int(body.get("amount"))
    recipient = body.get("recipient_address")
    is_ton = asset_id == EVAA_TON_ASSET_ID

    got = _evaa_user_child(node, EVAA_WITHDRAW_USER)
    if got is None:
        return None
    user, _user_body = got
    claimed = [node, user]

    amount = desired
    is_success = False
    fail_reason = None
    asset = None
    recipient_wallet = master_wallet = None

    coll = user.child_via(EVAA_WITHDRAW_COLLATERALIZED)
    if coll is not None:
        claimed.append(coll)
        cb = coll.in_msg.decoded_body()
        amount = _int(cb.get("amount")) or desired
        # master answers with the user-contract data update (headered
        # 211a) and the payout leg
        upd = _evaa_user_child(coll, EVAA_WITHDRAW_SUCCESS)
        fail_upd = _evaa_user_child(coll, EVAA_WITHDRAW_FAIL)
        if fail_upd is not None:
            # no-funds revert: data rollback + excess back to the owner
            fnode, _ = fail_upd
            claimed.append(fnode)
            for c in fnode.children:
                if _op(c) == EVAA_WITHDRAW_NO_FUNDS_EXCESS:
                    claimed.append(c)
            fail_reason = "withdraw_no_funds_excess"
            amount = desired
        else:
            if upd is not None:
                unode, _ = upd
                claimed.append(unode)
                comment = _evaa_comment_child(unode)
                if comment is not None:
                    claimed.append(comment)
            payout = None
            for c in coll.children:
                if upd is not None and c is upd[0]:
                    continue
                if is_ton and _op(c) == EVAA_WITHDRAW_SUCCESS:
                    payout = c
                    claimed.append(c)
                    comment = _evaa_comment_child(c)
                    if comment is not None:
                        claimed.append(comment)
                    break
                if not is_ton:
                    pc = _jetton_chain(c, ctx)
                    if pc is not None:
                        payout = c
                        claimed += pc["claimed"]
                        asset = _wallet_asset(c.account, ctx)
                        master_wallet = c.account
                        recipient_wallet = pc["receiver_wallet"]
                        break
            if payout is None:
                return None
            is_success = True
    else:
        # immediate failure on the user contract: one of the excess ops
        fail_node = None
        for c in user.children:
            if _op(c) in EVAA_WITHDRAW_FAIL_EXCESS:
                fail_node = c
                break
        if fail_node is None:
            return None
        claimed.append(fail_node)
        fail_reason = EVAA_WITHDRAW_FAIL_EXCESS[_op(fail_node)]

    return _base(
        node,
        "evaa_withdraw",
        claimed=claimed,
        source=owner,
        destination=recipient,
        destination_secondary=user.account,
        amount=amount,
        asset=asset,
        success=is_success,
        evaa_withdraw_data={
            "is_ton": is_ton,
            "recipient_jetton_wallet": recipient_wallet,
            "master_jetton_wallet": master_wallet,
            "fail_reason": fail_reason,
            "master": master,
            "asset_id": f"0x{asset_id}" if asset_id else None,
        },
    )


@opcodes(EVAA_LIQUIDATE_MASTER)
def match_evaa_liquidate(node: Node, ctx: Ctx) -> dict | None:
    if _op(node) != EVAA_LIQUIDATE_MASTER:
        return None
    user = node.child_via(EVAA_LIQUIDATE_USER)
    if user is None:
        return None
    claimed = [node, user]
    verdict = user.child_via(EVAA_LIQUIDATE_SATISFIED) or user.child_via(
        EVAA_LIQUIDATE_UNSATISFIED
    )
    satisfied = verdict is not None and (
        verdict.in_msg.opcode == EVAA_LIQUIDATE_SATISFIED
    )
    if verdict is not None:
        claimed.append(verdict)
        done = verdict.child_via(EVAA_LIQUIDATE_SUCCESS) or verdict.child_via(
            EVAA_LIQUIDATE_FAIL
        )
        if done is not None:
            claimed.append(done)
    body = node.in_msg.decoded_body()
    return _base(
        node,
        "evaa_liquidate",
        claimed=claimed,
        destination=node.account,
        amount=body.get("debt_amount"),
        success=satisfied,
        evaa_liquidate_data={
            "fail_reason": None if satisfied else "liquidate_unsatisfied",
            "debt_amount": body.get("debt_amount"),
            "asset_id": body.get("asset_id"),
        },
    )


# ------------------------------------------------------------------- JVault


JVAULT_REQUEST_UPDATE = 0xF5C5BAA3   # request_update_rewards (jvault.py:104)
JVAULT_UPDATE_REWARDS = 0xAE9307CE   # update_rewards (jvault.py:109)
JVAULT_REQ_REFERRER = 0x55C35B40     # request_update_referrer (jvault.py:114)
JVAULT_UPD_REFERRER = 0x076EE4E0     # update_referrer (jvault.py:118)
JVAULT_SET_DATA = 0x383411EA         # set_data (jvault.py:122)
JVAULT_CANCEL = 0x9EADA1D9           # cancellation (blocks/jvault.py:118)


def _subtree(node: Node, limit: int = 200) -> list[Node]:
    """Node + all descendants, breadth-first, bounded (used to claim a
    protocol-internal flow the reference merges wholesale)."""
    out = [node]
    i = 0
    while i < len(out) and len(out) < limit:
        out.extend(out[i].children)
        i += 1
    return out


def _jvault_assets(stake_wallet: str, ctx: Ctx):
    """(staking_pool, asset, jvault_asset) off the captured stake-wallet
    data cell (blocks/jvault.py:35-68 extract_jvault_assets): the wallet
    data leads with pool + jvault-minter addresses; the pool data names
    the lock wallet whose jetton is the underlying asset."""
    from ton_indexer_spark.functions.boc import parse_boc

    extra = ctx.get("extra", {}).get(stake_wallet, {}).get("data_boc")
    if not extra:
        return None, None, None
    pool = minter = None
    try:
        sl = parse_boc(extra["data_boc"]).begin_parse()
        pool = sl.load_address()
        minter = sl.load_address()
    except Exception:
        pool = extra.get("pool")
    if pool is None:
        pool = extra.get("pool")
    asset = None
    pool_extra = ctx.get("extra", {}).get(pool, {}).get("data_boc") if pool else None
    if pool_extra and pool_extra.get("lock_wallet_address"):
        asset = ctx.get("jetton_wallets", {}).get(
            pool_extra["lock_wallet_address"], (None, None)
        )[1]
    return pool, asset, minter


@opcodes(JETTON_TRANSFER)
def match_jvault_stake(node: Node, ctx: Ctx) -> dict | None:
    """JVault stake (blocks/jvault.py:104-183 JVaultStakeBlockMatcher):
    anchored at the entry jetton transfer whose pool notify triggers
    receive_jettons on the stake wallet, followed by either the
    rewards-update round-trip (with optional referral chain) or a
    cancellation refund."""
    if _op(node) != JETTON_TRANSFER:
        return None
    chain = _jetton_chain(node, ctx)
    if chain is None or chain["notify"] is None:
        return None
    notify = chain["notify"]
    receive = notify.child_via(JVAULT_RECEIVE)
    if receive is None:
        return None
    request = receive.child_via(JVAULT_REQUEST_UPDATE)
    cancel = receive.child_via(JVAULT_CANCEL)
    if request is None and cancel is None:
        return None
    claimed = list(chain["claimed"]) + _subtree(receive)
    setd = notify.child_via(JVAULT_SET_DATA)
    if setd is not None:
        claimed.append(setd)
    body = node.in_msg.decoded_body()
    period = None
    fwd = body.get("forward_payload")
    if fwd:
        try:
            from ton_indexer_spark.functions.boc import parse_boc

            sl = parse_boc(fwd).begin_parse()
            sl.load_uint(32)
            period = sl.load_uint(32)
        except Exception:
            pass
    act = _base(
        node,
        "jvault_stake",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=node.account,
        destination=notify.account,
        amount=_int(chain["amount"]),
        asset=chain["asset"],
        jvault_stake_data={
            "period": period,
            "stake_wallet": receive.account,
        },
    )
    if cancel is not None:
        act["success"] = False
    return act


def _jvault_unstake_like(node: Node, ctx: Ctx, typ: str, op: int,
                         with_transfer: bool) -> dict | None:
    """Shared unstake / unstake_request shape
    (blocks/jvault.py:207-296,337-475): user hits the stake wallet, which
    round-trips a rewards update through the pool; a full unstake also
    pays the jettons back.  A missing round-trip is the failed arm — the
    stake wallet's compute exit code becomes the action opcode."""
    if _op(node) != op:
        return None
    body = node.in_msg.decoded_body()
    amount = _int(body.get("amount"))
    stake_wallet = node.account
    pool, asset, jvault_asset = _jvault_assets(stake_wallet, ctx)
    request = node.child_via(JVAULT_REQUEST_UPDATE)
    claimed = [node]
    transfer_asset = None
    have_transfer = False
    if request is not None:
        pool = request.account
        claimed += _subtree(request)
        for c in request.children:
            tc = _jetton_chain(c, ctx)
            if tc is not None:
                have_transfer = True
                transfer_asset = tc["asset"]
                break
    failed = request is None or (with_transfer and not have_transfer)
    act = _base(
        node,
        typ,
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=stake_wallet,
        destination=pool,
        amount=amount,
        asset=transfer_asset or asset,
        asset2=jvault_asset,
        opcode=node.exit_code if failed else None,
    )
    if failed:
        act["success"] = False
    elif not any(n.aborted for n in (node, request)):
        # referral-leg failures do NOT fail the action (jvault.py:449-451)
        act["success"] = True
    return act


def match_jvault_unstake(node: Node, ctx: Ctx) -> dict | None:
    return _jvault_unstake_like(
        node, ctx, "jvault_unstake", JVAULT_UNSTAKE, with_transfer=True
    )


def match_jvault_unstake_request(node: Node, ctx: Ctx) -> dict | None:
    return _jvault_unstake_like(
        node, ctx, "jvault_unstake_request", JVAULT_UNSTAKE_REQUEST,
        with_transfer=False,
    )


@opcodes(JVAULT_CLAIM)
def match_jvault_claim(node: Node, ctx: Ctx) -> dict | None:
    """Claim rewards (blocks/jvault.py:317-371): stake wallet forwards
    send_claimed_rewards to the pool, which pays the reward jettons out
    and updates the stake wallet."""
    if _op(node) != JVAULT_CLAIM:
        return None
    send = node.child_via(JVAULT_SEND_CLAIMED)
    if send is None:
        return None
    amount = None
    for c in send.children:
        tc = _jetton_chain(c, ctx)
        if tc is not None:
            amount = _int(tc["amount"])
            break
    if amount is None:
        return None
    claimed = [node] + _subtree(send)
    body = node.in_msg.decoded_body()
    return _base(
        node,
        "jvault_claim",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=node.account,
        destination=send.account,
        # an aborted excess hop doesn't fail the claim — the reference
        # has no failure path here (jvault.py:347-371)
        success=not (node.aborted or send.aborted),
        jvault_claim_data={
            "claimed_jettons": body.get("jettons_to_claim") or [],
            "claimed_amounts": [amount],
        },
    )


# ------------------------------------------------------- staking (extras)


TS_WITHDRAW_REQUEST = 0x319B0CDC   # burn-notify -> pool (staking.py:21-23)
TS_MINT_TOKENS = 0x1674B0A0        # mint jettons / mint payout NFT
TS_INIT_NFT = 0x132F9A45           # payout NFT init (staking.py:33-34)
TS_ASSET_DISTRIBUTION = 0x1140A64F  # start distribution (staking.py:287)


@opcodes(JETTON_BURN)
def match_tonstakers_withdraw(node: Node, ctx: Ctx) -> dict | None:
    """Tonstakers withdraw via tsTON burn (staking.py:178-243
    TONStakersWithdrawMatcher): wallet burn -> burn notification ->
    withdraw request at the pool, then either the immediate payout
    (stake_withdrawal) or a payout-NFT mint (stake_withdrawal_request);
    the NFT mint itself stays unclaimed and classifies as its own
    nft_mint, exactly like the reference."""
    if _op(node) != JETTON_BURN:
        return None
    notify = node.child_via(BURN_NOTIFY)
    if notify is None:
        return None
    request = notify.child_via(TS_WITHDRAW_REQUEST)
    if request is None:
        return None
    claimed = [node, notify, request]
    tokens_burnt = _int(node.in_msg.decoded_body().get("amount"))
    asset = request.in_msg.source
    immediate = request.child_via(POOL_WITHDRAWAL)
    if immediate is not None:
        claimed.append(immediate)
        amount = (immediate.in_msg.value or 0) - (request.in_msg.value or 0)
        return _base(
            node,
            "stake_withdrawal",
            claimed=claimed,
            source=node.in_msg.source,
            destination=request.account,
            amount=amount,
            asset=asset,
            staking_data={
                "provider": "liquid_staking",
                "ts_nft": None,
                "tokens_burnt": tokens_burnt,
            },
        )
    mint = request.child_via(TS_MINT_TOKENS)
    if mint is None:
        return None
    claimed.append(mint)
    init = mint.child_via(TS_INIT_NFT)
    return _base(
        node,
        "stake_withdrawal_request",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=node.account,
        destination=request.account,
        amount=tokens_burnt,
        asset=asset,
        staking_data={
            "provider": "liquid_staking",
            "ts_nft": init.account if init is not None else None,
        },
    )


@opcodes(TS_NFT_BURN_NOTIFICATION)
def match_tonstakers_delayed_withdrawal(node: Node, ctx: Ctx) -> dict | None:
    """Payout-NFT burn releasing the delayed withdrawal
    (staking.py:245-300 TONStakersDelayedWithdrawalMatcher): nft burn ->
    burn notification at the pool -> asset payout to the holder; the pool
    address is recovered by climbing to the distribution-start call."""
    if _op(node) != TS_NFT_BURN_NOTIFICATION:
        return None
    payout = next(
        (c for c in node.children
         if c.in_msg is not None
         and (c.in_msg.opcode in (POOL_WITHDRAWAL, TS_DISTRIBUTED_ASSET)
              or (c.in_msg.value or 0) > 0)),
        None,
    )
    if payout is None:
        return None
    claimed = [node, payout]
    if node.parent is not None and _op(node.parent) == TS_NFT_BURN:
        claimed.append(node.parent)
    # pool discovery: walk up through the burn/notification chain to the
    # distribution-start call and take ITS source (staking.py:281-300)
    pool = None
    cur = node
    while cur is not None:
        if _op(cur) == TS_ASSET_DISTRIBUTION:
            pool = cur.in_msg.source
            break
        if _op(cur) not in (
            TS_NFT_BURN, TS_NFT_BURN_NOTIFICATION, TS_DISTRIBUTED_ASSET,
        ):
            break
        cur = cur.parent
    body = node.in_msg.decoded_body()
    return _base(
        node,
        "stake_withdrawal",
        claimed=claimed,
        source=body.get("owner"),
        destination=pool,
        amount=payout.in_msg.value,
        asset=None,
        staking_data={
            "provider": "liquid_staking",
            "ts_nft": node.in_msg.source,
            "tokens_burnt": _int(body.get("tokens_burnt")),
        },
    )


def match_nominator_pool_ops(node: Node, ctx: Ctx) -> dict | None:
    """Nominator-pool text protocol: 'd' deposits, 'w' requests withdrawal
    (NominatorPool*Matcher, blocks/staking.py); op 0x2 at the pool
    processes queued withdrawals with payout legs."""
    m = node.in_msg
    if m is None or m.source is None:
        return None
    if _op(node) == NOMINATOR_PROCESS_WITHDRAWS:
        payouts = _value_children(node, [])
        if not payouts:
            return None
        return _base(
            node, "nominator_pool_withdraw", claimed=[node] + payouts,
            source=node.account, destination=payouts[0].account,
            amount=sum(p.in_msg.value or 0 for p in payouts),
        )
    if m.opcode in (None, 0) and (m.value or 0) > 0:
        comment = m.decoded_body().get("comment")
        if comment == "d":
            return _base(node, "nominator_pool_deposit",
                         destination=node.account)
        if comment == "w":
            return _base(node, "nominator_pool_withdraw_request",
                         destination=node.account)
    return None


# ------------------------------------------------------------ tgBTC bridge

TGBTC_MINT_HEAD = 0x3F781D24    # mint chain head (tgbtc.py:91-104)
TGBTC_MINT_TAIL = 0xE42A879B    # mint chain tail (tgbtc.py:66-68)
TGBTC_BURN_NOTIFY = 0x7BDD97DE  # TEP-74 burn notification
TGBTC_BURN_NOTIFY_ALT = 0x587643A2  # teleport-side alt notify (tgbtc.py:204)
TGBTC_FEE_SPLIT = 0xBE44E7A6    # post-event fee fan-out (tgbtc.py:186-194)
TGBTC_FEE = 0x1A84C0E0
TGBTC_NEW_KEY_CALL = 0x690F357A  # coordinator -> teleport (tgbtc.py:299-301)
JETTON_MINT_OPS = (0x642B7D07, 0x15)


def _out_event(node: Node, opcode: int) -> dict | None:
    """Decoded body of the node's external-out event log with `opcode`
    (the reference's log blocks; our tree keeps them as out-messages)."""
    for m in node.out_msgs:
        if m.opcode == opcode:
            return m.decoded_body() if m.body else {}
    return None


def match_tgbtc_mint(node: Node, ctx: Ctx) -> dict | None:
    """tgBTC peg-in (tgbtc.py:54-156 TgBTCMintBlockMatcher + the
    crippled log-only fallback :335-365): the mint chain runs head
    #3f781d24 ... tail #e42a879b, which emits the mint event log and the
    jetton mint.  Anchored at the HEAD (our classify loop is node-major,
    so the highest node must claim the chain)."""
    if _op(node) == TGBTC_MINT_HEAD:
        # descend to the tail (reference climbs 20 parents, tgbtc.py:93)
        path = None
        stack = [(node, [node])]
        depth = 0
        while stack and depth < 4000:
            depth += 1
            cur, p = stack.pop()
            if _op(cur) == TGBTC_MINT_TAIL and _out_event(
                cur, TGBTC_MINT_EVENT
            ):
                path = p
                break
            for c in cur.children:
                stack.append((c, p + [c]))
        if path is None:
            return None
        tail = path[-1]
        log = _out_event(tail, TGBTC_MINT_EVENT)
        mint_node = next(
            (c for c in tail.children if _op(c) in JETTON_MINT_OPS), None
        )
        if log is None or mint_node is None:
            return None
        claimed = list(path) + [mint_node]
        internal = mint_node.child_via(JETTON_INTERNAL)
        recipient_wallet = None
        if internal is not None:
            claimed.append(internal)
            recipient_wallet = internal.account
            exc = internal.child_via(EXCESSES)
            if exc is not None:
                claimed.append(exc)
        return _base(
            node,
            "tgbtc_mint",
            claimed=claimed,
            source=node.in_msg.source,
            source_secondary=tail.account,  # teleport contract
            destination=log.get("recipient"),
            destination_secondary=recipient_wallet,
            amount=_int(log.get("amount")),
            asset=mint_node.account,
            asset_secondary=log.get("bitcoin_txid"),
            success=True,
        )
    # crippled fallback: only the success log survives (tgbtc.py:335-365)
    log = _out_event(node, TGBTC_MINT_EVENT)
    if log is None or node.consumed:
        return None
    return _base(
        node,
        "tgbtc_mint_fallback",
        claimed=[node],
        source=node.in_msg.source if node.in_msg else None,
        source_secondary=node.account,
        destination=log.get("recipient"),
        amount=_int(log.get("amount")),
        asset_secondary=log.get("bitcoin_txid"),
        success=True,
    )


def match_tgbtc_burn(node: Node, ctx: Ctx) -> dict | None:
    """tgBTC peg-out (tgbtc.py:179-246 TgBTCBurnBlockMatcher + log-only
    fallback :367-390): wallet burn -> burn notification chain -> the
    teleport emits the burn event log and fans fees out."""
    if _op(node) == JETTON_BURN:
        # walk the notify chain until the node holding the burn log
        cur = node
        chain = [node]
        log = None
        for _ in range(4):
            nxt = next(
                (c for c in cur.children
                 if _op(c) in (TGBTC_BURN_NOTIFY, TGBTC_BURN_NOTIFY_ALT)),
                None,
            )
            if nxt is None:
                break
            chain.append(nxt)
            cur = nxt
            log = _out_event(cur, TGBTC_BURN_EVENT)
            if log is not None:
                break
        if log is None:
            return None
        claimed = list(chain)
        split = cur.child_via(TGBTC_FEE_SPLIT)
        if split is not None:
            claimed.append(split)
            claimed += [
                c for c in split.children
                if _op(c) in (TGBTC_FEE, None) or (c.in_msg.value or 0) > 0
            ]
        body = node.in_msg.decoded_body()
        amount = _int(body.get("amount"))
        log_amount = _int(log.get("amount"))
        if not amount:
            amount = log_amount
        elif log_amount is not None:
            amount = min(amount, log_amount)
        return _base(
            node,
            "tgbtc_burn",
            claimed=claimed,
            source=node.in_msg.source,
            source_secondary=node.account,
            destination=log.get("pegout_address"),
            amount=amount,
            asset=_wallet_asset(node.account, ctx) or chain[1].account,
        )
    log = _out_event(node, TGBTC_BURN_EVENT)
    if log is None or node.consumed:
        return None
    return _base(
        node,
        "tgbtc_burn_fallback",
        claimed=[node],
        source=log.get("sender"),
        source_secondary=None,
        destination=log.get("pegout_address"),
        amount=_int(log.get("amount")),
        asset=None,
    )


@opcodes(TGBTC_NEW_KEY_CALL)
def match_tgbtc_new_key(node: Node, ctx: Ctx) -> dict | None:
    """tgBTC DKG new-key announcement (tgbtc.py:270-332
    TgBTCNewKeyBlockMatcher): the coordinator's dkg-completed log rides on
    the parent, the new-key log on the teleport call itself."""
    if _op(node) != TGBTC_NEW_KEY_CALL:
        return None
    log = _out_event(node, TGBTC_NEW_KEY_EVENT)
    if log is None:
        return None
    dkg = (
        _out_event(node.parent, TGBTC_DKG_EVENT)
        if node.parent is not None
        else None
    )
    if dkg is None:
        return None
    claimed = [node, node.parent]
    split = node.child_via(TGBTC_FEE_SPLIT)
    if split is not None:
        claimed.append(split)
        claimed += [
            c for c in split.children
            if _op(c) in (TGBTC_FEE, None) or (c.in_msg.value or 0) > 0
        ]
    return _base(
        node,
        "tgbtc_new_key",
        claimed=claimed,
        source=node.parent.account,       # teleport_contract (dkg source)
        source_secondary=log.get("new_internal_pubkey"),
        destination=node.account,         # coordinator (new-key source)
        destination_secondary=log.get("pegout_address"),
        amount=_int(log.get("amount")),
        value=_int(dkg.get("timestamp")),
    )


def match_tgbtc_dkg_log(node: Node, ctx: Ctx) -> dict | None:
    """Lone dkg-completed log (tgbtc.py:430-451 TgBTCDkgLogOnlyMatcher —
    always serialized with the _fallback suffix, serializer :886-890).
    Skips traces where the full new-key shape will claim it."""
    log = _out_event(node, TGBTC_DKG_EVENT)
    if log is None:
        return None
    for c in node.children:
        if _op(c) == TGBTC_NEW_KEY_CALL and _out_event(
            c, TGBTC_NEW_KEY_EVENT
        ):
            return None  # the full new-key matcher anchors on the child
    return _base(
        node,
        "tgbtc_dkg_log_fallback",
        claimed=[node],
        source=node.account,
        asset=log.get("internal_pubkey"),
        value=_int(log.get("timestamp")),
    )


# ---------------------------------------------------------------- LayerZero


def _lz_send_parts(node: Node) -> "tuple[list[Node], dict, Node] | None":
    """Endpoint-send chain walk (layerzero.py:149-272 LayerZeroSendMatcher):
    endpoint → channel send → msglib-connection send → uln send → msglib
    send callback → oapp callback (which embeds the lzSend metadata).
    Returns (claimed nodes, decoded lzSend md, channel node)."""
    from ton_indexer_spark.functions.boc import decode_lz_send_callback

    if _op(node) != LZ_ENDPOINT_SEND:
        return None
    channel = node.child_via(LZ_CHANNEL_SEND)
    mconn = channel.child_via(LZ_MCONN_SEND) if channel else None
    uln = mconn.child_via(LZ_ULN_SEND) if mconn else None
    cb = uln.child_via(LZ_MSGLIB_SEND_CB) if uln else None
    oapp_cb = cb.child_via(LZ_OAPP_SEND_CB) if cb else None
    if oapp_cb is None or not oapp_cb.in_msg.body:
        return None
    md = decode_lz_send_callback(oapp_cb.in_msg.body)
    if md is None:
        return None
    claimed = [node, channel, mconn, uln, cb, oapp_cb]
    for holder in (cb, oapp_cb):
        for c in holder.children:
            if c.in_msg is not None and (
                c.in_msg.opcode == LZ_EVENT or (c.in_msg.value or 0) > 0
            ):
                claimed.append(c)
    md["uln_address"] = uln.account
    md["channel_address"] = channel.account
    md["endpoint_address"] = node.account
    return claimed, md, channel


def _lz_send_fields(md: dict) -> dict:
    return {
        "layerzero_send_data": {
            "send_request_id": md["send_request_id"],
            "msglib_manager": md["msglib_manager"],
            "msglib": md["msglib"],
            "uln": md["uln_address"],
            "native_fee": md["native_fee"],
            "zro_fee": md["zro_fee"],
            "endpoint": md["endpoint_address"],
            "channel": md["channel_address"],
        },
        "layerzero_packet_data": md["packet"],
    }


def match_layerzero_send(node: Node, ctx: Ctx) -> dict | None:
    """LayerZero lzSend (layerzero.py:149-272): the OApp calls the
    endpoint; the packet metadata is recovered from the
    CHANNEL_SEND_CALLBACK deep in the chain.  Serialized per
    _fill_layerzero_send_action (block_tree_serializer.py:1199-1214)."""
    parts = _lz_send_parts(node)
    if parts is None:
        return None
    claimed, md, _ = parts
    return _base(
        node,
        "layerzero_send",
        claimed=claimed,
        source=node.in_msg.source,
        **_lz_send_fields(md),
    )


@opcodes(LZ_RECEIVE_PREPARE)
def match_layerzero_receive(node: Node, ctx: Ctx) -> dict | None:
    """LayerZero lzReceive (layerzero.py:338-424): receive-prepare at the
    channel → OApp prepare → receive lock → execute → OApp execute
    callback carrying the packet."""
    from ton_indexer_spark.functions.boc import decode_lz_execute_callback

    if _op(node) != LZ_RECEIVE_PREPARE:
        return None
    prep = node.child_via(LZ_OAPP_RECEIVE_PREPARE)
    lock = prep.child_via(LZ_RECEIVE_LOCK) if prep else None
    execute = lock.child_via(LZ_RECEIVE_EXECUTE) if lock else None
    if execute is None or not execute.in_msg.body:
        return None
    # the LZ_RECEIVE_EXECUTE body embeds the packet at refs[0].refs[0];
    # its destination is the receiving OApp (layerzero.py:391-409)
    packet = decode_lz_execute_callback(execute.in_msg.body)
    if packet is None:
        return None
    claimed = [node, prep, lock, execute]
    exec_cb = execute.child_via(LZ_OAPP_EXECUTE_CB)
    if exec_cb is not None:
        claimed.append(exec_cb)
    for holder in [h for h in (execute, exec_cb) if h is not None]:
        for c in holder.children:
            if c.in_msg is not None and (
                c.in_msg.opcode == LZ_EVENT or (c.in_msg.value or 0) > 0
            ):
                claimed.append(c)
    return _base(
        node,
        "layerzero_receive",
        claimed=claimed,
        source=node.in_msg.source,
        destination=execute.account,
        destination_secondary=execute.in_msg.source,
        layerzero_packet_data=packet,
    )


@opcodes(LZ_ULN_COMMIT)
def match_layerzero_commit_packet(node: Node, ctx: Ctx) -> dict | None:
    """LayerZero packet-verification commit (layerzero.py:424-506):
    uln commit → uln-connection commit → endpoint commit → channel
    commit (packet) → msglib-connection callback."""
    from ton_indexer_spark.functions.boc import decode_lz_commit_packet

    if _op(node) != LZ_ULN_COMMIT:
        return None
    uconn = node.child_via(LZ_ULN_CONN_COMMIT)
    ep = uconn.child_via(LZ_ENDPOINT_COMMIT) if uconn else None
    chan = ep.child_via(LZ_CHANNEL_COMMIT_PACKET) if ep else None
    mcb = chan.child_via(LZ_MCONN_COMMIT_CB) if chan else None
    if chan is None or mcb is None or not chan.in_msg.body:
        return None
    packet = decode_lz_commit_packet(chan.in_msg.body)
    if packet is None:
        return None
    claimed = [node, uconn, ep, chan, mcb]
    for holder in (chan, mcb):
        for c in holder.children:
            if c.in_msg is not None and (
                c.in_msg.opcode == LZ_EVENT or (c.in_msg.value or 0) > 0
            ):
                claimed.append(c)
    return _base(
        node,
        "layerzero_commit_packet",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=ep.account,
        destination=uconn.account,
        destination_secondary=uconn.account,
        asset=chan.account,
        asset_secondary=mcb.account,
        layerzero_packet_data=packet,
    )


# ------------------------------------------------------------------- Cocoon


COCOON_PAYOUT_PAYLOAD = 0xA040AD28
COCOON_LAST_PAYOUT_PAYLOAD = 0xF5F26A36
COCOON_WORKER_REQUEST = 0x4D725D2C
COCOON_RETURN_EXCESSES = 0x2565934C
COCOON_EXT_PROXY_PAYOUT = 0x7610E6EB
COCOON_CHARGE_PAYLOAD = 0xBB63FF93
COCOON_EXT_CLIENT_TOPUP = 0xF172E6C2
COCOON_OWNER_CLIENT_REGISTER = 0xC45F9F3B
COCOON_GRANT_REFUND_PAYLOAD = 0xEFD711E1
COCOON_CLIENT_REQUEST = 0x65448FF4


def _cocoon_body(node: Node) -> dict | None:
    from ton_indexer_spark.functions.boc import decode_cocoon_body

    if node.in_msg is None:
        return None
    if not node.in_msg.body:
        return {}  # structural-only synthetic fixtures
    d = decode_cocoon_body(node.in_msg.body)
    if d is None:
        # JSON fixture fallback (the synthetic seam)
        d = node.in_msg.decoded_body() or {}
    return d


def _cocoon_client_tail(node: Node) -> "tuple[list[Node], Node | None, Node | None]":
    """The client-request continuation most cocoon flows share:
    ClientProxyRequest → {Payout, ReturnExcessesBack}
    (blocks/cocoon.py — every client-side matcher).  Returns
    (claimed, client_request node, payout node)."""
    claimed: list[Node] = []
    creq = node.child_via(COCOON_CLIENT_REQUEST)
    payout = None
    if creq is not None:
        claimed.append(creq)
        for c in creq.children:
            if _op(c) in (COCOON_PAYOUT, COCOON_RETURN_EXCESSES):
                claimed.append(c)
                if _op(c) == COCOON_PAYOUT:
                    payout = c
    for c in node.children:
        if _op(c) == COCOON_RETURN_EXCESSES and c not in claimed:
            claimed.append(c)
    return claimed, creq, payout


@opcodes(COCOON_PAYOUT_PAYLOAD, COCOON_LAST_PAYOUT_PAYLOAD)
def match_cocoon_worker_payout(node: Node, ctx: Ctx) -> dict | None:
    """[Last]PayoutPayload at the worker → WorkerProxyRequest back to the
    proxy with the payout + excesses (blocks/cocoon.py:67-222)."""
    if _op(node) not in (COCOON_PAYOUT_PAYLOAD, COCOON_LAST_PAYOUT_PAYLOAD):
        return None
    body = _cocoon_body(node)
    if body is None:
        return None
    wr = node.child_via(COCOON_WORKER_REQUEST)
    if wr is None:
        return None
    wr_body = _cocoon_body(wr) or {}
    claimed = [node, wr]
    payout = None
    for c in wr.children:
        if _op(c) in (COCOON_PAYOUT, COCOON_RETURN_EXCESSES):
            claimed.append(c)
            if _op(c) == COCOON_PAYOUT:
                payout = c
    if payout is None:
        return None
    return _base(
        node,
        "cocoon_worker_payout",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=node.account,
        destination=wr_body.get("owner_address"),
        amount=payout.in_msg.value,
        success=not payout.aborted,
        cocoon_worker_payout_data={
            "payout_type": (
                "last" if _op(node) == COCOON_LAST_PAYOUT_PAYLOAD
                else "regular"
            ),
            "query_id": body.get("query_id"),
            "new_tokens": body.get("new_tokens"),
            "worker_state": wr_body.get("state"),
            "worker_tokens": wr_body.get("tokens"),
        },
    )


@opcodes(COCOON_EXT_PROXY_PAYOUT)
def match_cocoon_proxy_payout(node: Node, ctx: Ctx) -> dict | None:
    """ExtProxyPayoutRequest at the proxy → payout + excesses
    (blocks/cocoon.py:241-314)."""
    if _op(node) != COCOON_EXT_PROXY_PAYOUT:
        return None
    body = _cocoon_body(node)
    if body is None:
        return None
    claimed = [node]
    payout = None
    for c in node.children:
        if _op(c) in (COCOON_PAYOUT, COCOON_RETURN_EXCESSES):
            claimed.append(c)
            if _op(c) == COCOON_PAYOUT:
                payout = c
    if payout is None:
        return None
    return _base(
        node,
        "cocoon_proxy_payout",
        claimed=claimed,
        source=node.account,
        destination=payout.account,
        destination_secondary=body.get("send_excesses_to"),
        success=not payout.aborted,
        cocoon_proxy_payout_data={"query_id": body.get("query_id")},
    )


@opcodes(COCOON_CHARGE_PAYLOAD)
def match_cocoon_proxy_charge(node: Node, ctx: Ctx) -> dict | None:
    """ChargePayload at the proxy → excesses + (usually aborted) client
    request (blocks/cocoon.py:336-414)."""
    if _op(node) != COCOON_CHARGE_PAYLOAD:
        return None
    body = _cocoon_body(node)
    if body is None:
        return None
    tail, creq, _ = _cocoon_client_tail(node)
    if creq is None:
        return None
    return _base(
        node,
        "cocoon_proxy_charge",
        claimed=[node] + tail,
        source=node.account,
        destination=creq.account,
        amount=0,
        success=not node.aborted,
        cocoon_proxy_charge_data={
            "query_id": body.get("query_id"),
            "new_tokens_used": body.get("new_tokens_used"),
            "expected_address": body.get("expected_address"),
        },
    )


@opcodes(COCOON_EXT_CLIENT_TOPUP)
def match_cocoon_client_top_up(node: Node, ctx: Ctx) -> dict | None:
    """ExtClientTopUp at the client → proxy request + excesses
    (blocks/cocoon.py:435-508)."""
    if _op(node) != COCOON_EXT_CLIENT_TOPUP:
        return None
    body = _cocoon_body(node)
    if body is None:
        return None
    tail, creq, _ = _cocoon_client_tail(node)
    return _base(
        node,
        "cocoon_client_top_up",
        claimed=[node] + tail,
        source=body.get("send_excesses_to") or node.in_msg.source,
        destination=node.account,
        destination_secondary=creq.account if creq is not None else None,
        amount=_int(body.get("amount")),
        success=not node.aborted,
        cocoon_client_top_up_data={"query_id": body.get("query_id")},
    )


@opcodes(COCOON_REGISTER_PROXY)
def match_cocoon_register_proxy(node: Node, ctx: Ctx) -> dict | None:
    """RegisterProxy at the root (blocks/cocoon.py:527-576)."""
    if _op(node) != COCOON_REGISTER_PROXY:
        return None
    body = _cocoon_body(node)
    if body is None:
        return None
    claimed = [node] + [
        c for c in node.children if _op(c) == COCOON_RETURN_EXCESSES
    ]
    return _base(
        node,
        "cocoon_register_proxy",
        claimed=claimed,
        destination=node.account,
        success=not node.aborted,
        cocoon_register_proxy_data={"query_id": body.get("query_id")},
    )


@opcodes(COCOON_UNREGISTER_PROXY)
def match_cocoon_unregister_proxy(node: Node, ctx: Ctx) -> dict | None:
    """UnregisterProxy at the root (blocks/cocoon.py:597-648)."""
    if _op(node) != COCOON_UNREGISTER_PROXY:
        return None
    body = _cocoon_body(node)
    if body is None:
        return None
    claimed = [node] + [
        c for c in node.children if _op(c) == COCOON_RETURN_EXCESSES
    ]
    return _base(
        node,
        "cocoon_unregister_proxy",
        claimed=claimed,
        destination=node.account,
        success=not node.aborted,
        cocoon_unregister_proxy_data={
            "query_id": body.get("query_id"),
            "seqno": body.get("seqno"),
        },
    )


@opcodes(COCOON_OWNER_CLIENT_REGISTER)
def match_cocoon_client_register(node: Node, ctx: Ctx) -> dict | None:
    """OwnerClientRegister at the client (blocks/cocoon.py:670-760)."""
    if _op(node) != COCOON_OWNER_CLIENT_REGISTER:
        return None
    body = _cocoon_body(node)
    if body is None:
        return None
    tail, _, _ = _cocoon_client_tail(node)
    return _base(
        node,
        "cocoon_client_register",
        claimed=[node] + tail,
        source=body.get("send_excesses_to") or node.in_msg.source,
        destination=node.account,
        success=not node.aborted,
        cocoon_client_register_data={
            "query_id": body.get("query_id"),
            "nonce": body.get("nonce"),
        },
    )


@opcodes(COCOON_CHANGE_SECRET_HASH)
def match_cocoon_client_change_secret_hash(node: Node, ctx: Ctx) -> dict | None:
    """OwnerClientChangeSecretHash at the client (blocks/cocoon.py)."""
    if _op(node) != COCOON_CHANGE_SECRET_HASH:
        return None
    body = _cocoon_body(node)
    if body is None:
        return None
    tail, _, _ = _cocoon_client_tail(node)
    return _base(
        node,
        "cocoon_client_change_secret_hash",
        claimed=[node] + tail,
        source=body.get("send_excesses_to") or node.in_msg.source,
        destination=node.account,
        success=not node.aborted,
        cocoon_client_change_secret_hash_data={
            "query_id": body.get("query_id"),
            "new_secret_hash": body.get("new_secret_hash"),
        },
    )


@opcodes(COCOON_INCREASE_STAKE)
def match_cocoon_client_increase_stake(node: Node, ctx: Ctx) -> dict | None:
    """OwnerClientIncreaseStake at the client (blocks/cocoon.py)."""
    if _op(node) != COCOON_INCREASE_STAKE:
        return None
    body = _cocoon_body(node)
    if body is None:
        return None
    tail, _, _ = _cocoon_client_tail(node)
    return _base(
        node,
        "cocoon_client_increase_stake",
        claimed=[node] + tail,
        source=body.get("send_excesses_to") or node.in_msg.source,
        destination=node.account,
        amount=_int(body.get("new_stake")),
        success=not node.aborted,
        cocoon_client_increase_stake_data={
            "query_id": body.get("query_id"),
            "new_stake": _int(body.get("new_stake")),
        },
    )


@opcodes(COCOON_CLIENT_WITHDRAW_OP)
def match_cocoon_client_withdraw(node: Node, ctx: Ctx) -> dict | None:
    """OwnerClientWithdraw at the client; the refunded amount rides in
    the ClientProxyRequest's RefundGranted payload
    (blocks/cocoon.py:965-1100)."""
    if _op(node) != COCOON_CLIENT_WITHDRAW_OP:
        return None
    body = _cocoon_body(node)
    if body is None:
        return None
    tail, creq, _ = _cocoon_client_tail(node)
    amount = None
    if creq is not None:
        cb = _cocoon_body(creq) or {}
        amount = _int(cb.get("payload_coins"))
    return _base(
        node,
        "cocoon_client_withdraw",
        claimed=[node] + tail,
        source=body.get("send_excesses_to") or node.in_msg.source,
        destination=node.account,
        amount=amount,
        success=not node.aborted,
        cocoon_client_withdraw_data={
            "query_id": body.get("query_id"),
            "withdraw_amount": amount,
        },
    )


@opcodes(COCOON_GRANT_REFUND_PAYLOAD)
def match_cocoon_grant_refund(node: Node, ctx: Ctx) -> dict | None:
    """GrantRefundPayload proxy→client, paying the refund out through the
    client's proxy request (blocks/cocoon.py:1104-1219)."""
    if _op(node) != COCOON_GRANT_REFUND_PAYLOAD:
        return None
    body = _cocoon_body(node)
    if body is None:
        return None
    tail, creq, payout = _cocoon_client_tail(node)
    if creq is None or payout is None:
        return None
    return _base(
        node,
        "cocoon_grant_refund",
        claimed=[node] + tail,
        # proxy = the granting contract itself; client = the request hop
        source=node.account,
        source_secondary=creq.account,
        destination=payout.account,
        amount=payout.in_msg.value,
        success=not payout.aborted,
        cocoon_grant_refund_data={
            "query_id": body.get("query_id"),
            "new_tokens_used": body.get("new_tokens_used"),
            "expected_address": body.get("expected_address"),
        },
    )


# -------------------------------------------------------- NFT / DNS extras

@opcodes(TELEITEM_START_AUCTION)
def match_teleitem_start_auction(node: Node, ctx: Ctx) -> dict | None:
    """Start-auction at a teleitem: the auction config (bids, duration)
    decodes from the body ref (TeleitemStartAuction, messages/nft.py:
    104-129) into the listing payload."""
    if _op(node) != TELEITEM_START_AUCTION:
        return None
    body = node.in_msg.decoded_body()
    listing = {
        "max_bid": body.get("max_bid"),
        "min_bid": body.get("initial_min_bid"),
        "marketplace": "fragment",
    }
    # the item acts as its own auction: it is the action's asset
    # (reference NftPutOnAuctionBlockData.nft_address, auction.py:483),
    # and the optional teleitem_ok ack is part of the pattern
    # (TeleitemStartAuctionMatcher child_matcher, auction.py:463)
    ok = node.child_via(TELEITEM_OK)
    claimed = [node] + ([ok] if ok is not None else [])
    return _base(
        node, "teleitem_start_auction",
        claimed=claimed,
        asset=node.account,
        **({"nft_listing_data": listing}
           if body.get("initial_min_bid") is not None else {}),
    )
match_dns_release = _simple(DNS_RELEASE, "dns_release")
match_nft_update_sale = _simple(NFT_SALE_UPDATE, "nft_update_sale")


@opcodes(AUCTION_FILL_UP)
def match_teleitem_purchase(node: Node, ctx: Ctx) -> dict | None:
    """Fragment (telegram) auction fill-up at the item itself: the item acts
    as its own auction; ownership-assigned leg completes the purchase
    (TelegramNftPurchaseBlockMatcher / DnsPurchaseMatcher shape)."""
    if _op(node) != AUCTION_FILL_UP:
        return None
    assigned = node.child_via(OWNERSHIP_ASSIGNED)
    claimed = [node] + ([assigned] if assigned is not None else [])
    return _base(
        node,
        "nft_purchase",
        claimed=claimed,
        source=node.in_msg.source,
        destination=node.in_msg.source,
        asset=node.account,
        nft_transfer_data={
            "is_purchase": True,
            "price": node.in_msg.value,
            "marketplace": "fragment",
        },
    )


def match_auction_outbid(node: Node, ctx: Ctx) -> dict | None:
    """A bid into a known auction that bounces the PREVIOUS bid back to a
    different account = outbid (AuctionOutbidMatcher, blocks/nft.py)."""
    m = node.in_msg
    if m is None or m.source is None or (m.value or 0) <= 0:
        return None
    if m.opcode not in (None, 0):
        return None
    if node.account not in (ctx.get("auctions") or set()):
        return None
    returned = next(
        (c for c in node.children
         if c.in_msg is not None and (c.in_msg.value or 0) > 0
         and c.account != m.source),
        None,
    )
    if returned is None:
        return None
    return _base(
        node, "auction_outbid", claimed=[node, returned],
        destination=node.account,
        source_secondary=returned.account,  # the outbid bidder refunded
    )


# ------------------------------------------------------------------ Ethena


@opcodes(JETTON_TRANSFER)
def match_ethena_withdrawal_request(node: Node, ctx: Ctx) -> dict | None:
    """USDe transfer whose chain mints a timelocked tsUSDe position:
    transfer → internal → notify → mint → tsUSDe leg (0xb2583ed5)
    (EthenaWithdrawalRequestBlockMatcher, ethena_staking.py:58-106).
    Serialized as stake_withdrawal_request / provider=ethena
    (block_tree_serializer.py:1265-1276)."""
    if _op(node) != JETTON_TRANSFER:
        return None
    ts = _descendant_via(node, ETHENA_TSUSDE_TRANSFER)
    if ts is None:
        return None
    chain = _jetton_chain(node, ctx)
    if chain is None:
        return None
    claimed = list(dict.fromkeys(chain["claimed"] + _path_up(ts, node)))
    ts_body = ts.in_msg.decoded_body()
    mint = _descendant_via(node, JETTON_MINT_OP)
    return _base(
        node,
        "stake_withdrawal_request",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=node.account,
        # the pool is the account that ordered the tsUSDe mint
        # (ethena_staking.py:100 pool=mint.get_message().source)
        destination=(
            mint.in_msg.source if mint is not None else ts.in_msg.source
        ),
        asset=chain["asset"],
        amount=chain["amount"],
        staking_data={
            "provider": "ethena",
            "tokens_minted": ts_body.get("amount"),
        },
    )


@opcodes(JETTON_TRANSFER)
def match_ethena_deposit(node: Node, ctx: Ctx) -> dict | None:
    """USDe transfer answered by a tsUSDe mint (0x642b7d07) from the pool
    (EthenaDepositBlockMatcher, ethena_staking.py:109-160).  Serialized as
    stake_deposit / provider=ethena (block_tree_serializer.py:1277-1289)."""
    if _op(node) != JETTON_TRANSFER:
        return None
    mint = _descendant_via(node, JETTON_MINT_OP)
    if mint is None:
        return None
    chain = _jetton_chain(node, ctx)
    if chain is None:
        return None
    claimed = list(dict.fromkeys(chain["claimed"] + _path_up(mint, node)))
    mint_internal = mint.child_via(JETTON_INTERNAL)
    if mint_internal is not None and mint_internal not in claimed:
        claimed.append(mint_internal)
    mint_body = mint.in_msg.decoded_body()
    return _base(
        node,
        "stake_deposit",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=node.account,
        # pool = owner of the wallet receiving the USDe; minted asset is
        # the action asset, deposited asset rides as asset2
        # (ethena_staking.py:146-152, serializer :1277-1289)
        destination=chain["dest_owner"],
        asset=mint.account,
        asset2=chain["asset"],
        amount=_int(chain["amount"]),
        staking_data={
            "provider": "ethena",
            "tokens_minted": _int(mint_body.get("amount")),
        },
    )


# ------------------------------------------------- swap.coffee staking/MEV


@opcodes(JETTON_TRANSFER)
def match_coffee_staking_deposit(node: Node, ctx: Ctx) -> dict | None:
    """Jetton transfer into the staking pool → pool call (0xf9471134,
    optionally duplicated as a log) → position-NFT mint
    (CoffeeStakingDepositMatcher, blocks/staking.py:433-486)."""
    if _op(node) != JETTON_TRANSFER:
        return None
    pool_call = _descendant_via(node, COFFEE_STAKING_DEPOSIT)
    if pool_call is None:
        return None
    chain = _jetton_chain(node, ctx)
    if chain is None:
        return None
    claimed = list(dict.fromkeys(
        chain["claimed"] + _path_up(pool_call, node)
    ))
    body = pool_call.in_msg.decoded_body()
    minted = None
    for c in pool_call.children:
        if c.in_msg is not None and c.in_msg.opcode == COFFEE_STAKING_DEPOSIT:
            claimed.append(c)  # duplicated log leg
        elif c.in_msg is not None:
            minted = c  # position NFT deploy/mint leg
            claimed.append(c)
    minted_body = minted.in_msg.decoded_body() if minted is not None else {}
    minted_index = minted_body.get("index")
    if minted_index is None and minted is not None:
        minted_index = ctx.get("nft_index", {}).get(minted.account)
    return _base(
        node,
        "coffee_staking_deposit",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=node.account,
        destination=pool_call.account,
        destination_secondary=chain["receiver_wallet"],
        asset=chain["asset"],
        amount=body.get("jetton_amount", chain["amount"]),
        coffee_staking_deposit_data={
            "minted_item_address": minted.account if minted else None,
            "minted_item_index": minted_index,
        },
    )


@opcodes(COFFEE_STAKING_WITHDRAW)
def match_coffee_staking_withdraw(node: Node, ctx: Ctx) -> dict | None:
    """withdraw_1 at the position NFT → withdraw_2 (master) → withdraw_3
    (pool) → jetton transfer back to the owner; all three hops share
    opcode 0xcb03bfaf (CoffeeStakingWithdrawMatcher, staking.py:512-604)."""
    if _op(node) != COFFEE_STAKING_WITHDRAW:
        return None
    # withdraw_2/3 carry the same opcode but arrive mid-chain; requiring
    # the full 2-hop suffix roots the match at the user→NFT entry call
    w2 = node.child_via(COFFEE_STAKING_WITHDRAW)
    if w2 is None:
        return None
    w3 = w2.child_via(COFFEE_STAKING_WITHDRAW)
    if w3 is None:
        return None
    claimed = [node, w2, w3]
    transfer = w3.child_via(JETTON_TRANSFER)
    asset, user_wallet = None, None
    if transfer is not None:
        tchain = _jetton_chain(transfer, ctx)
        if tchain is not None:
            claimed += tchain["claimed"]
            asset = tchain["asset"]
            user_wallet = tchain["receiver_wallet"]
        else:
            claimed.append(transfer)
    w2_body = w2.in_msg.decoded_body()
    w3_body = w3.in_msg.decoded_body()
    return _base(
        node,
        "coffee_staking_withdraw",
        claimed=claimed,
        source=w2_body.get("owner", node.in_msg.source),
        source_secondary=user_wallet,
        # fill shape (block_tree_serializer.py:996-1008): destination is
        # the position NFT; the pool's jetton wallet rides secondary
        destination=node.account,
        destination_secondary=w3_body.get("jetton_wallet"),
        asset=asset,
        amount=_int(w3_body.get("jetton_amount")),
        coffee_staking_withdraw_data={
            "nft_address": node.account,
            "nft_index": w2_body.get("nft_id"),
            "points": w2_body.get("points"),
        },
    )


@opcodes(COFFEE_STAKING_CLAIM)
def match_coffee_staking_claim_rewards(node: Node, ctx: Ctx) -> dict | None:
    """Admin claim (0xb30c7310) at the pool paying rewards out via a
    jetton transfer (CoffeeStakingClaimRewardsMatcher, staking.py:636-700)."""
    if _op(node) != COFFEE_STAKING_CLAIM:
        return None
    body = node.in_msg.decoded_body()
    claimed = [node]
    asset, recipient_wallet = None, None
    for c in node.children:
        if c.in_msg is None:
            continue
        if c.in_msg.opcode == COFFEE_STAKING_CLAIM:
            claimed.append(c)  # log duplicate
        elif c.in_msg.opcode == JETTON_TRANSFER:
            tchain = _jetton_chain(c, ctx)
            if tchain is not None:
                claimed += tchain["claimed"]
                asset = tchain["asset"]
                recipient_wallet = tchain["receiver_wallet"]
            else:
                claimed.append(c)
    return _base(
        node,
        "coffee_staking_claim_rewards",
        claimed=claimed,
        source=node.account,
        source_secondary=body.get("jetton_wallet"),
        destination=body.get("receiver"),
        destination_secondary=recipient_wallet,
        asset=asset,
        amount=body.get("jetton_amount"),
    )


@opcodes(COFFEE_MEV_HOLD_FUNDS)
def match_coffee_mev_protect_hold_funds(node: Node, ctx: Ctx) -> dict | None:
    """TON sent into the MEV-protect escrow (0x6bc79e7e), optionally with
    a service-fee leg (CoffeeMevProtectHoldFundsMatcher,
    liquidity.py:2281-2339)."""
    if _op(node) != COFFEE_MEV_HOLD_FUNDS:
        return None
    claimed = [node]
    fee = node.child_via(COFFEE_SERVICE_FEE)
    if fee is not None:
        claimed.append(fee)
    return _base(
        node,
        "coffee_mev_protect_hold_funds",
        claimed=claimed,
        asset=None,  # TON renders null (_addr(Asset))
        amount=node.in_msg.value,
    )


@opcodes(COFFEE_MEV_FAILED_SWAP)
def match_coffee_mev_protect_failed_swap(node: Node, ctx: Ctx) -> dict | None:
    """MEV-protect refund of a failed protected swap (0xee51ce51,
    CoffeeMevProtectFailedSwapMatcher, liquidity.py:2342-2384)."""
    if _op(node) != COFFEE_MEV_FAILED_SWAP:
        return None
    body = node.in_msg.decoded_body()
    return _base(
        node,
        "coffee_mev_protect_failed_swap",
        destination=body.get("recipient", node.account),
        asset=None,
        amount=node.in_msg.value,
    )


# ------------------------------------------------------- Ston.fi v2 extras


@opcodes(JETTON_BURN)
def match_stonfi_v2_withdraw_liquidity(node: Node, ctx: Ctx) -> dict | None:
    """LP burn → pool withdraw_liquidity (0x297437cf) → router payouts
    (0x657b54f5) → jetton transfers to the user
    (StonfiV2WithdrawLiquidityMatcher, liquidity.py:789-880)."""
    if _op(node) != JETTON_BURN:
        return None
    wd = _descendant_via(node, STONFI_V2_WITHDRAW, max_depth=2)
    if wd is None:
        return None
    claimed = [node] + _path_up(wd, node)
    amounts: list[int | None] = []
    assets: list[str | None] = []
    wallets: list[str | None] = []
    for payout in wd.children:
        if payout.in_msg is None or payout.in_msg.opcode != STONFI_V2_PAYOUT:
            continue
        claimed.append(payout)
        transfer = payout.child_via(JETTON_TRANSFER)
        if transfer is None:
            continue
        tchain = _jetton_chain(transfer, ctx)
        if tchain is not None:
            claimed += tchain["claimed"]
            amounts.append(tchain["amount"])
            assets.append(tchain["asset"])
            wallets.append(tchain["receiver_wallet"])
        else:
            claimed.append(transfer)
            amounts.append(transfer.in_msg.decoded_body().get("amount"))
            assets.append(None)
            wallets.append(None)
    body = node.in_msg.decoded_body()
    lp_wallets = ctx.get("jetton_wallets", {})
    return _base(
        node,
        "dex_withdraw_liquidity",
        claimed=list(dict.fromkeys(claimed)),
        source=node.in_msg.source,
        source_secondary=node.account,
        destination=wd.account,
        asset=lp_wallets.get(node.account, (None, None))[1],
        amount=body.get("amount"),
        dex_withdraw_liquidity_data={
            "dex": "stonfi_v2",
            "lp_tokens_burnt": body.get("amount"),
            "amount1": amounts[0] if amounts else None,
            "amount2": amounts[1] if len(amounts) > 1 else None,
            "asset1_out": assets[0] if assets else None,
            "asset2_out": assets[1] if len(assets) > 1 else None,
            "user_jetton_wallet_1": wallets[0] if wallets else None,
            "user_jetton_wallet_2": wallets[1] if len(wallets) > 1 else None,
        },
    )


# ------------------------------------------------------- LayerZero extras


@opcodes(JETTON_TRANSFER)
def match_layerzero_send_tokens(node: Node, ctx: Ctx) -> dict | None:
    """Jetton transfer whose chain drives an endpoint send — surfaced as
    one layerzero_send_tokens action instead of transfer + send
    (LayerZeroSendTokensMatcher, blocks/layerzero.py:276-330)."""
    if _op(node) != JETTON_TRANSFER:
        return None
    send = _descendant_via(node, LZ_ENDPOINT_SEND)
    if send is None:
        return None
    chain = _jetton_chain(node, ctx)
    if chain is None:
        return None
    parts = _lz_send_parts(send)
    extra = {}
    send_claims: list[Node] = []
    if parts is not None:
        send_claims, md, _ = parts
        extra = _lz_send_fields(md)
    claimed = list(dict.fromkeys(
        chain["claimed"] + _path_up(send, node) + send_claims
    ))
    return _base(
        node,
        "layerzero_send_tokens",
        claimed=claimed,
        source=node.in_msg.source,
        source_secondary=node.account,
        destination=chain["dest_owner"],
        destination_secondary=chain["receiver_wallet"],
        asset=chain["asset"],
        amount=_int(chain["amount"]),
        **extra,
    )


@opcodes(LZ_DVN_VERIFY)
def match_layerzero_dvn_verify(node: Node, ctx: Ctx) -> dict | None:
    """DVN verify (0xa0d51a8d) → proxy call → ULN verify → ULN-connection
    verify (LayerZeroDvnVerifyMatcher, blocks/layerzero.py:508-560)."""
    if _op(node) != LZ_DVN_VERIFY:
        return None
    claimed = _claim_chain(
        node, LZ_PROXY_CALL, LZ_ULN_VERIFY, LZ_ULN_CONN_VERIFY
    )
    body = node.in_msg.decoded_body()
    # on real chain data the DVN entry is opcode-only — nonce/status live
    # in the ULN-connection verify CALLBACK child (reference parses
    # UlnConnectionVerifyCallbackParser, layerzero.py:555-569); the entry
    # body keys remain as the fixture seam
    cb_body: dict = {}
    if len(claimed) > 3:
        cb = claimed[3].child_via(LZ_ULN_VERIFY_CB)
        if cb is not None:
            claimed.append(cb)
            cb_body = cb.in_msg.decoded_body()
    return _base(
        node, "layerzero_dvn_verify", claimed=claimed,
        destination=node.account,
        # layerzero_dvn_verify_details (migrate.cpp:880)
        layerzero_dvn_verify_data={
            "nonce": body.get("nonce", cb_body.get("nonce")),
            "status": body.get("status", cb_body.get("status")),
            "dvn": node.account,
            "proxy": claimed[1].account if len(claimed) > 1 else None,
            "uln": claimed[2].account if len(claimed) > 2 else None,
            "uln_connection": claimed[3].account if len(claimed) > 3 else None,
        },
    )


# ------------------------------------------------------------ Cocoon extras


def match_cocoon_client_request_refund(node: Node, ctx: Ctx) -> dict | None:
    """Refund request, direct (0xfafa6cc1) or wrapped in an owner-wallet
    send (0x9c69f376 → 0xfafa6cc1)
    (CocoonClientRequestRefundMatcher, blocks/cocoon.py:834-960)."""
    op = _op(node)
    via_wallet = False
    refund = node
    claimed = [node]
    if op == COCOON_WALLET_SEND:
        refund = node.child_via(COCOON_REQUEST_REFUND)
        if refund is None:
            return None
        via_wallet = True
        claimed.append(refund)
    elif op != COCOON_REQUEST_REFUND:
        return None
    body = _cocoon_body(refund)
    if body is None:
        return None
    tail, _, _ = _cocoon_client_tail(refund)
    return _base(
        node,
        "cocoon_client_request_refund",
        claimed=claimed + tail,
        source=body.get("send_excesses_to") or node.in_msg.source,
        destination=refund.account,
        success=not refund.aborted,
        cocoon_client_request_refund_data={
            "query_id": body.get("query_id"),
            "via_wallet": via_wallet,
        },
    )


# --------------------------------------------------- NFT / DNS additions


@opcodes(AUCTION_FILL_UP)
def match_dns_purchase(node: Node, ctx: Ctx) -> dict | None:
    """Auction fill-up (0x370fec51) at a .ton DNS item — the DNS analog
    of the fragment purchase (DnsPurchaseMatcher, auction.py:545-585).
    DNS items are flagged by the dns_items dimension; must be consulted
    before the fragment matcher, which claims any fill-up at an NFT."""
    if _op(node) != AUCTION_FILL_UP:
        return None
    if node.account not in (ctx.get("dns_items") or set()):
        return None
    assigned = node.child_via(OWNERSHIP_ASSIGNED)
    claimed = [node] + ([assigned] if assigned is not None else [])
    return _base(
        node,
        "dns_purchase",
        claimed=claimed,
        destination=node.in_msg.source,
        asset=node.account,
        nft_transfer_data={
            "is_purchase": True,
            "price": node.in_msg.value,
        },
    )


@opcodes(TELEITEM_CANCEL_AUCTION)
def match_teleitem_cancel_auction(node: Node, ctx: Ctx) -> dict | None:
    """teleitem_cancel_auction (0x371638ae) at an NFT item with the
    optional teleitem_ok ack (TeleitemCancelAuctionMatcher,
    auction.py:506-535)."""
    if _op(node) != TELEITEM_CANCEL_AUCTION:
        return None
    if node.account not in (ctx.get("nft_items") or set()):
        return None
    ok = node.child_via(TELEITEM_OK)
    claimed = [node] + ([ok] if ok is not None else [])
    return _base(
        node, "teleitem_cancel_auction", claimed=claimed,
        asset=node.account,
    )


# ---------------------------------------------------------------- registry

# Opcode-specific families — safe ahead of the generic matchers because
# every entry requires a distinctive 32-bit opcode (or event log).
PROTOCOL_MATCHERS = [
    # jetton-transfer-rooted specializations — must outrank the generic
    # jetton_transfer matcher AND the swap matchers (distinct descendants)
    ("ethena_withdrawal_request", match_ethena_withdrawal_request),
    ("ethena_deposit", match_ethena_deposit),
    ("coffee_staking_deposit", match_coffee_staking_deposit),
    ("layerzero_send_tokens", match_layerzero_send_tokens),
    ("dedust_swap", match_dedust_swap),
    ("dedust_deposit_liquidity", match_dedust_deposit_liquidity),
    ("dedust_withdraw_liquidity", match_dedust_withdraw_liquidity),
    ("stonfi_swap", match_stonfi_swap),
    ("stonfi_v2_withdraw_liquidity", match_stonfi_v2_withdraw_liquidity),
    ("stonfi_v2_swap", match_stonfi_v2_swap),
    ("stonfi_v2_provide_liquidity", match_stonfi_v2_provide_liquidity),
    ("tonco_deposit_liquidity", match_tonco_deposit_liquidity),
    ("tonco_swap", match_tonco_swap),
    ("pton_transfer", match_pton_transfer),
    ("tonco_withdraw_liquidity", match_tonco_withdraw_liquidity),
    ("tonco_deploy_pool", match_tonco_deploy_pool),
    ("coffee_swap", match_coffee_swap),
    ("coffee_deposit_liquidity", match_coffee_deposit_liquidity),
    ("coffee_withdraw_liquidity", match_coffee_withdraw_liquidity),
    ("coffee_lp_withdraw", match_coffee_lp_withdraw),
    ("coffee_create_vault", match_coffee_create_vault),
    ("coffee_create_pool", match_coffee_create_pool),
    ("coffee_create_pool_creator", match_coffee_create_pool_creator),
    ("coffee_staking_withdraw", match_coffee_staking_withdraw),
    ("coffee_staking_claim_rewards", match_coffee_staking_claim_rewards),
    ("coffee_mev_protect_hold_funds", match_coffee_mev_protect_hold_funds),
    ("coffee_mev_protect_failed_swap", match_coffee_mev_protect_failed_swap),
    ("evaa_supply", match_evaa_supply),
    ("evaa_withdraw", match_evaa_withdraw),
    ("evaa_liquidate", match_evaa_liquidate),
    ("jvault_stake", match_jvault_stake),
    ("jvault_unstake", match_jvault_unstake),
    ("jvault_unstake_request", match_jvault_unstake_request),
    ("jvault_claim", match_jvault_claim),
    ("tonstakers_withdraw", match_tonstakers_withdraw),
    ("tonstakers_delayed_withdrawal", match_tonstakers_delayed_withdrawal),
    ("tgbtc_mint", match_tgbtc_mint),
    ("tgbtc_burn", match_tgbtc_burn),
    ("tgbtc_new_key", match_tgbtc_new_key),
    ("tgbtc_dkg_log", match_tgbtc_dkg_log),
    ("layerzero_send", match_layerzero_send),
    ("layerzero_commit_packet", match_layerzero_commit_packet),
    ("layerzero_dvn_verify", match_layerzero_dvn_verify),
    ("layerzero_receive", match_layerzero_receive),
    ("cocoon_worker_payout", match_cocoon_worker_payout),
    ("cocoon_proxy_payout", match_cocoon_proxy_payout),
    ("cocoon_proxy_charge", match_cocoon_proxy_charge),
    ("cocoon_client_top_up", match_cocoon_client_top_up),
    ("cocoon_client_register", match_cocoon_client_register),
    ("cocoon_register_proxy", match_cocoon_register_proxy),
    ("cocoon_unregister_proxy", match_cocoon_unregister_proxy),
    ("cocoon_client_change_secret_hash",
     match_cocoon_client_change_secret_hash),
    ("cocoon_client_request_refund", match_cocoon_client_request_refund),
    ("cocoon_client_increase_stake", match_cocoon_client_increase_stake),
    ("cocoon_client_withdraw", match_cocoon_client_withdraw),
    ("cocoon_grant_refund", match_cocoon_grant_refund),
    ("teleitem_start_auction", match_teleitem_start_auction),
    ("teleitem_cancel_auction", match_teleitem_cancel_auction),
    ("dns_purchase", match_dns_purchase),
    ("teleitem_purchase", match_teleitem_purchase),
    ("dns_release", match_dns_release),
    ("nft_update_sale", match_nft_update_sale),
]

# Value-transfer shapes that must outrank plain ton_transfer but stay after
# the structural families (comments / auction semantics).
TAIL_MATCHERS = [
    ("nominator_pool_ops", match_nominator_pool_ops),
    ("auction_outbid", match_auction_outbid),
]
