"""Pure-Python BOC (bag-of-cells) codec + TL-B message-body decoders (S2/F2).

The reference parses message bodies with native cell readers
(ton-index-worker/tondb-scanner/src/DataParser.cpp:201, and ~6,000 loc of
pytoniq-based parsers under indexer/indexer/events/blocks/messages/*).  This
module is a fresh clean-room implementation of the PUBLIC TON serialization
format (github.com/ton-blockchain/ton, crypto/tl/boc.tlb) sufficient for the
standard token opcodes:

    BOC wire layout (serialized_boc, no index / no CRC variant):
      magic 0xB5EE9C72 | flags+ref_byte_size | offset_byte_size
      | cells | roots | absent | tot_cells_size | root_list | cell_data*
    Cell layout: d1 = refs + 8*exotic + 32*level, d2 = ⌈bits/8⌉+⌊bits/8⌋,
      data (completion-tagged when bits%8 != 0), ref indices.

    TL-B shapes decoded (TEP-74 / TEP-62, public standards):
      jetton transfer   0x0f8a7ea5: query_id amount destination response
                        custom_payload forward_ton forward_payload
      internal transfer 0x178d4519: query_id amount from response fwd …
      jetton burn       0x595f07bc: query_id amount response custom_payload
      nft transfer      0x5fcc3d14: query_id new_owner response
                        custom_payload forward_amount forward_payload
      text comment      0x00000000: snake string
      encrypted comment 0x2167da4b: snake bytes

Used by the classifier's ``Msg.decoded_body`` seam: real BOC bodies decode
here; the synthetic base64-JSON fixtures keep working as a fallback.
Everything is driver/executor-side pure Python called from Arrow-batched
grouped UDFs — never row-at-a-time in a relational plan.
"""

from __future__ import annotations

import base64
from dataclasses import dataclass, field

BOC_MAGIC = 0xB5EE9C72


class BocError(ValueError):
    pass


# --------------------------------------------------------------------- cells


@dataclass
class Cell:
    """An ordinary cell: up to 1023 data bits + up to 4 references.

    ``exotic`` marks pruned-branch/merkle cells (they ride inside
    signed-price payloads and merkle proofs); they deserialize so the
    ORDINARY cells around them stay readable, but parsing into one
    raises at the Slice layer."""

    data: bytes = b""  # packed bits, MSB-first
    bits: int = 0  # number of valid bits in `data`
    refs: list["Cell"] = field(default_factory=list)
    exotic: bool = False

    def begin_parse(self) -> "Slice":
        if self.exotic:
            raise BocError("cannot parse an exotic cell")
        return Slice(self)


class Slice:
    """Bit-level reader over a Cell (the TL-B `Slice` of the standard)."""

    def __init__(self, cell: Cell):
        self._data = cell.data
        self._bits = cell.bits
        self._pos = 0
        self._refs = list(cell.refs)
        self._ref_pos = 0

    @property
    def remaining_bits(self) -> int:
        return self._bits - self._pos

    @property
    def remaining_refs(self) -> int:
        return len(self._refs) - self._ref_pos

    def load_bit(self) -> int:
        if self._pos >= self._bits:
            raise BocError("slice underflow")
        byte = self._data[self._pos >> 3]
        bit = (byte >> (7 - (self._pos & 7))) & 1
        self._pos += 1
        return bit

    def load_uint(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.load_bit()
        return v

    def load_int(self, n: int) -> int:
        v = self.load_uint(n)
        if n and v >= 1 << (n - 1):
            v -= 1 << n
        return v

    def load_bytes(self, n_bytes: int) -> bytes:
        return bytes(self.load_uint(8) for _ in range(n_bytes))

    def load_coins(self) -> int:
        """VarUInteger 16: 4-bit byte-length prefix, then that many bytes."""
        ln = self.load_uint(4)
        return self.load_uint(8 * ln) if ln else 0

    def load_var_uint(self, len_bits: int) -> int:
        """VarUInteger N where ``len_bits`` = ceil(log2(N)) prefix bits —
        e.g. gas amounts are VarUInteger 7 (3-bit length prefix)."""
        ln = self.load_uint(len_bits)
        return self.load_uint(8 * ln) if ln else 0

    def load_ref(self) -> Cell:
        if self._ref_pos >= len(self._refs):
            raise BocError("ref underflow")
        c = self._refs[self._ref_pos]
        self._ref_pos += 1
        return c

    def load_maybe_ref(self) -> Cell | None:
        return self.load_ref() if self.load_bit() else None

    def load_address(self) -> str | None:
        """MsgAddress → raw form "wc:hex64" (addr_std) or None (addr_none).

        addr_extern / addr_var are skipped and reported as None — the token
        standards only ever carry addr_std / addr_none.
        """
        tag = self.load_uint(2)
        if tag == 0:  # addr_none
            return None
        if tag == 1:  # addr_extern
            ln = self.load_uint(9)
            self.load_uint(ln)
            return None
        if tag == 2:  # addr_std
            if self.load_bit():  # anycast (Maybe Anycast) — skip rewrite pfx
                depth = self.load_uint(5)
                self.load_uint(depth)
            wc = self.load_int(8)
            h = self.load_uint(256)
            return f"{wc}:{h:064X}"
        raise BocError("addr_var unsupported")

    def load_snake_string(self) -> str:
        """Snake format: data filling the cell, continued in refs[0] chains."""
        chunks = []
        s: Slice | None = self
        while s is not None:
            n = s.remaining_bits // 8
            chunks.append(s.load_bytes(n))
            s = s.load_ref().begin_parse() if s.remaining_refs else None
        return b"".join(chunks).decode("utf-8", errors="replace")


class Builder:
    """Bit-level writer producing a Cell (mirror of Slice, for fixtures)."""

    def __init__(self) -> None:
        self._bits: list[int] = []
        self._refs: list[Cell] = []

    def store_bit(self, b: int) -> "Builder":
        if len(self._bits) >= 1023:
            raise BocError("cell overflow")
        self._bits.append(1 if b else 0)
        return self

    def store_uint(self, v: int, n: int) -> "Builder":
        if v < 0 or (n < 256 and v >= 1 << n):
            raise BocError(f"uint{n} out of range: {v}")
        for i in range(n - 1, -1, -1):
            self.store_bit((v >> i) & 1)
        return self

    def store_int(self, v: int, n: int) -> "Builder":
        return self.store_uint(v & ((1 << n) - 1), n)

    def store_bytes(self, bs: bytes) -> "Builder":
        for b in bs:
            self.store_uint(b, 8)
        return self

    def store_coins(self, v: int) -> "Builder":
        if v == 0:
            return self.store_uint(0, 4)
        ln = (v.bit_length() + 7) // 8
        return self.store_uint(ln, 4).store_uint(v, 8 * ln)

    def store_var_uint(self, v: int, len_bits: int) -> "Builder":
        if v == 0:
            return self.store_uint(0, len_bits)
        ln = (v.bit_length() + 7) // 8
        return self.store_uint(ln, len_bits).store_uint(v, 8 * ln)

    def store_ref(self, c: Cell) -> "Builder":
        if len(self._refs) >= 4:
            raise BocError("too many refs")
        self._refs.append(c)
        return self

    def store_address(self, addr: str | None) -> "Builder":
        if addr is None:
            return self.store_uint(0, 2)
        wc_s, h = addr.split(":")
        self.store_uint(2, 2).store_bit(0)  # addr_std, no anycast
        self.store_int(int(wc_s), 8)
        return self.store_uint(int(h, 16), 256)

    def store_snake_string(self, s: str, chunk_bytes: int = 120) -> "Builder":
        data = s.encode()
        head, rest = data[:chunk_bytes], data[chunk_bytes:]
        self.store_bytes(head)
        if rest:
            inner = Builder().store_snake_string(rest.decode("utf-8"))
            self.store_ref(inner.end_cell())
        return self

    def end_cell(self) -> Cell:
        nbits = len(self._bits)
        out = bytearray((nbits + 7) // 8)
        for i, b in enumerate(self._bits):
            if b:
                out[i >> 3] |= 1 << (7 - (i & 7))
        return Cell(bytes(out), nbits, self._refs)


# ----------------------------------------------------------------- BOC codec


def cell_repr(c: Cell) -> bytes:
    """Standard representation of an ordinary level-0 cell: descriptor
    bytes + completion-tagged data + per-ref (depth:uint16 then hash) —
    the public cell-hash spec (ton.org cell serialization; clean-room)."""
    full = c.bits // 8
    d1 = len(c.refs)
    d2 = full + (c.bits + 7) // 8
    body = bytearray(c.data[: (c.bits + 7) // 8])
    if c.bits % 8:
        body[-1] |= 1 << (7 - (c.bits % 8))
    out = bytes([d1, d2]) + bytes(body)
    for r in c.refs:
        out += cell_depth(r).to_bytes(2, "big")
    for r in c.refs:
        out += cell_hash(r)
    return out


def cell_depth(c: Cell) -> int:
    return 0 if not c.refs else 1 + max(cell_depth(r) for r in c.refs)


def cell_hash(c: Cell) -> bytes:
    """sha256 of the standard cell representation (the TON cell hash —
    transaction and message hashes are exactly this over their root)."""
    import hashlib

    return hashlib.sha256(cell_repr(c)).digest()


def cell_hash_b64(c: Cell) -> str:
    return base64.b64encode(cell_hash(c)).decode()


def _flatten(root: Cell) -> list[Cell]:
    """Topological order (every ref points to a LATER index), dedup'd.

    DFS pre-order is kept when already valid — it is for every tree, so
    all previously-pinned serializations stay byte-identical.  For true
    DAGs (diamond-shared subtrees, e.g. real compiled contract code
    where two branches reference one shared routine cell) pre-order can
    put a shared child BEFORE a later parent, producing a backward ref
    that parsers reject; those fall back to reverse DFS post-order,
    which is a valid topological order for any DAG."""
    order: list[Cell] = []
    seen: dict[int, int] = {}

    def visit(c: Cell) -> None:
        if id(c) in seen:
            return
        seen[id(c)] = len(order)
        order.append(c)
        for r in c.refs:
            visit(r)

    visit(root)
    if all(seen[id(r)] > i for i, c in enumerate(order) for r in c.refs):
        return order

    post: list[Cell] = []
    done: set[int] = set()

    def visit_post(c: Cell) -> None:
        if id(c) in done:
            return
        done.add(id(c))
        for r in c.refs:
            visit_post(r)
        post.append(c)

    visit_post(root)
    return post[::-1]


_CRC32C_TABLE = None


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected poly 0x82F63B78) — the checksum the
    BOC wire format appends when the has_crc32c flag is set."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        table = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            table.append(c)
        _CRC32C_TABLE = table
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def slice_to_cell(s: "Slice") -> Cell:
    """Remaining bits+refs of a slice → a fresh Cell (pytoniq
    Slice.to_cell analog, used for inline Either arms)."""
    bits = []
    probe = Slice(Cell(s._data, s._bits))
    probe._pos = s._pos
    n = s.remaining_bits
    data = bytearray((n + 7) // 8)
    for i in range(n):
        if probe.load_bit():
            data[i >> 3] |= 1 << (7 - (i & 7))
    return Cell(bytes(data), n, list(s._refs[s._ref_pos:]))


def serialize_boc(root: Cell, crc32c: bool = False) -> bytes:
    cells = _flatten(root)
    index = {id(c): i for i, c in enumerate(cells)}
    ref_size = 1 if len(cells) < 256 else 2

    blobs = []
    for c in cells:
        full = c.bits // 8
        d1 = len(c.refs)
        d2 = full + (c.bits + 7) // 8
        body = bytearray(c.data[: (c.bits + 7) // 8])
        if c.bits % 8:  # completion tag: one 1-bit then zero padding
            body[-1] |= 1 << (7 - (c.bits % 8))
        blob = bytes([d1, d2]) + bytes(body)
        for r in c.refs:
            blob += index[id(r)].to_bytes(ref_size, "big")
        blobs.append(blob)

    tot = sum(len(b) for b in blobs)
    off_size = max(1, (tot.bit_length() + 7) // 8)
    out = bytearray()
    out += BOC_MAGIC.to_bytes(4, "big")
    # low 3 bits: ref byte size; 0x40: has_crc32c (append CRC-32C tail)
    out.append(ref_size | (0x40 if crc32c else 0))
    out.append(off_size)
    out += len(cells).to_bytes(ref_size, "big")
    out += (1).to_bytes(ref_size, "big")  # roots
    out += (0).to_bytes(ref_size, "big")  # absent
    out += tot.to_bytes(off_size, "big")
    out += (0).to_bytes(ref_size, "big")  # root index
    for b in blobs:
        out += b
    if crc32c:
        out += _crc32c(bytes(out)).to_bytes(4, "little")
    return bytes(out)


def cell_to_b64_boc(c: Cell) -> str:
    """Cell → base64 BOC with CRC tail — the rendering the reference uses
    for raw payload columns (pytoniq to_boc(hash_crc32=True) + b64)."""
    return base64.b64encode(serialize_boc(c, crc32c=True)).decode()


def parse_boc(raw: bytes | str) -> Cell:
    """Deserialize a BOC (bytes or base64 str) and return its root cell."""
    if isinstance(raw, str):
        raw = base64.b64decode(raw)
    if len(raw) < 11 or int.from_bytes(raw[:4], "big") != BOC_MAGIC:
        raise BocError("bad magic")
    b1, off_size = raw[4], raw[5]
    has_idx = bool(b1 & 0x80)
    has_crc = bool(b1 & 0x40)
    ref_size = b1 & 0x07
    p = 6

    def take(n: int) -> int:
        nonlocal p
        v = int.from_bytes(raw[p : p + n], "big")
        p += n
        return v

    n_cells = take(ref_size)
    n_roots = take(ref_size)
    take(ref_size)  # absent
    take(off_size)  # tot_cells_size
    roots = [take(ref_size) for _ in range(n_roots)]
    if has_idx:
        p += n_cells * off_size
    cells_raw: list[tuple[int, bytes, list[int]]] = []
    for _ in range(n_cells):
        d1, d2 = raw[p], raw[p + 1]
        p += 2
        is_exotic = bool(d1 & 8)
        if d1 & 16:
            # with-hashes layout stores (hash, depth) per level in front
            # of the data; skip them (popcount(level_mask)+1 entries)
            level_mask = d1 >> 5
            h = bin(level_mask).count("1") + 1
            p += h * (32 + 2)
        n_refs = d1 & 0x07
        n_bytes = (d2 + 1) // 2
        data = raw[p : p + n_bytes]
        p += n_bytes
        if d2 % 2:  # completion tag present: strip it to recover bit length
            last = data[-1]
            tagpos = 0
            while tagpos < 8 and not (last >> tagpos) & 1:
                tagpos += 1
            bits = n_bytes * 8 - tagpos - 1
        else:
            bits = n_bytes * 8
        refs = [take(ref_size) for _ in range(n_refs)]
        cells_raw.append((bits, data, refs, is_exotic))
    if has_crc:
        p += 4

    built: list[Cell | None] = [None] * n_cells
    for i in range(n_cells - 1, -1, -1):  # children have larger indices
        bits, data, refs, is_exotic = cells_raw[i]
        kids = []
        for r in refs:
            if r <= i or built[r] is None:
                raise BocError("non-topological ref")
            kids.append(built[r])
        built[i] = Cell(data, bits, kids, is_exotic)
    root = built[roots[0]]
    assert root is not None
    return root


# -------------------------------------------------- TL-B message-body decode

OP_TEXT_COMMENT = 0x00000000
OP_ENCRYPTED_COMMENT = 0x2167DA4B
OP_JETTON_TRANSFER = 0x0F8A7EA5
OP_JETTON_INTERNAL = 0x178D4519
OP_JETTON_NOTIFY = 0x7362D09C
OP_JETTON_BURN = 0x595F07BC
OP_NFT_TRANSFER = 0x5FCC3D14
OP_NFT_OWNERSHIP = 0x05138D91
# protocol ops (TL-B shapes documented in the reference's
# indexer/events/blocks/messages/* modules — re-implemented, not copied)
OP_DEDUST_PAYOUT = 0x474F86CF        # messages/swaps.py:97
OP_DEDUST_PAYOUT_POOL = 0xAD4EB6F5   # messages/swaps.py:107
OP_STONFI_SWAP = 0x25938561          # messages/swaps.py:8
OP_STONFI_PAYMENT_REQ = 0xF93BB43F   # messages/swaps.py:26
OP_MULTISIG_NEW_ORDER = 0xF718510F   # messages/multisig.py:6
OP_MULTISIG_APPROVE = 0xA762230F     # messages/multisig.py:69
OP_MULTISIG_EXECUTE = 0x75097F5D     # messages/multisig.py:101
OP_MULTISIG_APPROVE_ACCEPTED = 0x82609BF6  # messages/multisig.py:85
OP_MULTISIG_APPROVE_REJECTED = 0xAFAF283E  # messages/multisig.py:91
OP_VESTING_SEND = 0xA7733ACD         # messages/vesting.py:10
OP_VESTING_ADD_WL = 0x7258A69B       # messages/vesting.py:31
OP_COFFEE_STK_DEPOSIT = 0xF9471134   # messages/coffee.py:1039
OP_COFFEE_STK_CLAIM = 0xB30C7310     # messages/coffee.py:1075
OP_AUCTION_FILL_UP = 0x370FEC51
OP_DNS_RELEASE = 0x4ED14B65
OP_NFT_SALE_UPDATE = 0x6C6C2080      # messages/getgems.py:250
OP_CHANGE_DNS = 0x4EB1F0F9           # messages/dns.py:7
OP_DEDUST_SWAP_ENTRY = 0xEA06185D    # messages/swaps.py:124 (vault swap)
OP_STONFI_V2_SWAP = 0x657B54F5       # messages/swaps.py:130
OP_TONSTAKERS_DEPOSIT = 0x47D54391   # messages/staking.py:18
OP_TONSTAKERS_WITHDRAW = 0x319B0CDC  # messages/staking.py:22
OP_ELECTOR_NEW_STAKE = 0x4E73744B    # elector new_stake ('NstK')
OP_ELECTOR_RECOVER = 0x47657424      # elector recover_stake ('Get$')
OP_DEDUST_DEPOSIT_TON = 0xD55E4686   # messages/liquidity.py:17-37
OP_DEDUST_DEPOSIT_FWD = 0x40E108D6   # messages/liquidity.py:40-57
OP_STONFI_V2_PROVIDE = 0x37C096DF    # messages/liquidity.py:99-106
OP_TONCO_MINT = 0xB2C1B6E3           # messages/liquidity.py:109-136
OP_TONCO_SWAP = 0xA7FB58F8           # messages/swaps.py:205-242
OP_SUBSCRIPTION_PAY_REQ = 0x706C7567  # messages/subscriptions.py:6-12
OP_EVAA_SUPPLY_MASTER = 0x1          # messages/evaa.py:8-26
OP_EVAA_SUPPLY_USER = 0x11           # messages/evaa.py:52-73
OP_EVAA_SUPPLY_SUCCESS = 0x11A       # messages/evaa.py:75-95
OP_EVAA_SUPPLY_FAIL = 0x11F          # messages/evaa.py:98-116
OP_EVAA_WITHDRAW_MASTER = 0x2        # messages/evaa.py:121-141
OP_EVAA_WITHDRAW_COLL = 0x211        # messages/evaa.py:169-190
OP_JVAULT_UNSTAKE = 0x499A9262       # messages/jvault.py:48-63
OP_JVAULT_UNSTAKE_REQ = 0x0168D4B7   # messages/jvault.py:65-79
OP_JVAULT_CLAIM = 0x78D9F109         # messages/jvault.py:81-97
OP_COFFEE_SWAP_NATIVE = 0xC0FFEE00   # messages/coffee.py:331-344
OP_COFFEE_POOL_NATIVE = 0xC0FFEE02   # messages/coffee.py:426-441
OP_COFFEE_DEPOSIT_NATIVE = 0xC0FFEE04  # messages/coffee.py:474-489
OP_COFFEE_WITHDRAW = 0xC0FFEE07      # messages/coffee.py:584-594
OP_JETTON_MINT_MINTER = 0x00000015   # messages/jettons.py:155-173
OP_JETTON_MINT_ALT = 0x642B7D07      # messages/jettons.py:142-153
OP_TS_NFT_BURN_NOTIF = 0xED58B0B2    # messages/staking.py:40-50
OP_COFFEE_STK_WITHDRAW = 0xCB03BFAF  # messages/coffee.py:1096-1144
OP_TGBTC_MINT_EVENT = 0x77A80EF3     # messages/tgbtc.py:9-27
OP_TGBTC_BURN_EVENT = 0xCA444CE6     # messages/tgbtc.py:29-58
OP_TGBTC_NEW_KEY_EVENT = 0x27756729  # messages/tgbtc.py:60-74
OP_TGBTC_DKG_EVENT = 0x453443A6      # messages/tgbtc.py:76-86
OP_DEDUST_SWAP_NOTIFICATION = 0x9C610DE3  # messages/swaps.py:81-94
OP_STONFI_V2_PAYOUT = 0x657B54F5     # messages/swaps.py:64-78
OP_LZ_ENDPOINT_SEND = 0xDD4EA3B4     # messages/layerzero.py:19-54
OP_TONCO_START_BURN = 0x530B5F2C     # messages/liquidity.py:165-184
OP_DEDUST_DEPOSIT_TO_POOL = 0xB56B9598  # messages/liquidity.py:73-88
OP_TELEITEM_START_AUCTION = 0x487A8E81  # messages/nft.py:104-129
OP_PTON_TRANSFER = 0x01F3835D        # messages/swaps.py:50-60
OP_EVAA_LIQUIDATE_MASTER = 0x00000003  # messages/evaa.py:258-283
OP_TONCO_FUND_ACCOUNT = 0x4468DE77   # messages/liquidity.py:227-254
OP_TONCO_CREATE_POOL = 0x2E3034EF    # messages/liquidity.py:346-388
OP_TONCO_ADD_LIQUIDITY = 0x3EBE5431  # messages/liquidity.py:465-492
OP_TONCO_POSITION_INIT = 0xD5ECCA2A  # messages/liquidity.py:391-429
OP_TONCO_MINT_REFUND = 0x81702EF8    # messages/liquidity.py:139-162
OP_TONCO_POSITION_BURN = 0x46CA335A  # messages/liquidity.py:432-462
OP_TONCO_POOL_INIT = 0x441C39ED      # messages/liquidity.py:289-344
OP_TONCO_POOL_BURN = 0xD73AC09D      # messages/liquidity.py:187-224
OP_TONCO_PAY_TO = 0xA1DAA96D         # messages/swaps.py:307-366
OP_COFFEE_MEV_FAILED_SWAP = 0xEE51CE51  # messages/coffee.py:971-983
OP_JVAULT_RECEIVE = 0xD68A4AC1       # messages/jvault.py:15-46
OP_ETHENA_TSUSDE_TRANSFER = 0xB2583ED5  # ethena_staking.py:64,92 — the
# timelocked tsUSDe leg carries the jetton internal-transfer layout
# under its own opcode (reference parses it with JettonInternalTransfer)
OP_LZ_EVENT = 0xE33B9873             # messages/layerzero.py:302-320
OP_LZ_ULN_VERIFY_CB = 0x3CB38090     # messages/layerzero.py:912-947
_LZ_STATUS_HEADER = 38421788582694199859296615363593851  # :925-930
_LZ_STATUS_HEADER_BITS = 116
_LZ_STATUS_FILLER_BITS = 234
_LZ_VERIFY_STATUS = {                # :935-947
    0x3BBC306B: "succeeded",
    0x7FCBB4AC: "nonce_out_of_range",
    0x29C53FAB: "dvn_not_configured",
}
_LZ_EVENT_HEADER = 7850279558805522911016931325  # layerzero.py:335-337
_LZ_EVENT_HEADER_BITS = 134
_LZ_EVENT_FILLER_BITS = 216
OP_COFFEE_SWAP_JETTON = 0xC0FFEE10     # messages/coffee.py:348-368
OP_COFFEE_CREATE_POOL_JETTON = 0xC0FFEE11  # messages/coffee.py:444-455
OP_COFFEE_CREATE_POOL_EXTRA = 0xC0FFEE03   # messages/coffee.py:458-471
OP_COFFEE_DEPOSIT_JETTON = 0xC0FFEE12      # messages/coffee.py:492-503

# LayerZero metadata-cell header constants (messages/layerzero.py:86-201;
# public func sources quoted there).  Every md cell is
# [header_info][all-ones filler] followed by the payload fields.
_LZ_MD_NAME = int.from_bytes(b"lzSend", "big")  # name:uint80
_LZ_SEND_HEADER = 582890735024998957421269964955452773563747974476099581
_LZ_SEND_HEADER_BITS = 180
_LZ_SEND_FILLER_BITS = 90
_LZ_PACKET_HEADER = 417359019239977417716476838698419835
_LZ_PATH_HEADER = 8903714975572488637007080065659
_LZ_CELL_HEADER_BITS = 152
_LZ_CELL_FILLER_BITS = 198

# dns value-record schema tags (messages/dns.py:20-40)
_DNS_SCHEMAS = {
    0xBA93: "DNSNextResolver",
    0xAD01: "DNSAdnlAddress",
    0x9FD3: "DNSSmcAddress",
    0x7473: "DNSStorageAddress",
}


def _load_dedust_asset(s: Slice) -> str:
    """DeDust Asset: kind:uint4 (0 = native TON, else wc:uint8 +
    account:bits256) → "TON" or raw address (liquidity.py load_asset:7-14)."""
    kind = s.load_uint(4)
    if kind == 0:
        return "TON"
    wc = s.load_uint(8)
    h = s.load_uint(256)
    return f"{wc}:{h:064X}"


def store_dedust_asset(b: "Builder", asset: str) -> "Builder":
    """Fixture-side inverse of _load_dedust_asset."""
    if asset == "TON":
        return b.store_uint(0, 4)
    wc, h = asset.split(":")
    return b.store_uint(1, 4).store_uint(int(wc), 8).store_uint(int(h, 16), 256)


def _load_coffee_asset(s: Slice) -> str:
    """swap.coffee Asset: native$00 | jetton$01 chain:uint8 hash:uint256 |
    extra$10 id:uint32 (coffee.py load_coffee_asset:10-30; the extra
    branch is decoded here instead of raising as the reference does)."""
    tag = s.load_uint(2)
    if tag == 0b00:
        return "TON"
    if tag == 0b01:
        wc = s.load_uint(8)
        h = s.load_uint(256)
        return f"{wc}:{h:064X}"
    if tag == 0b10:
        return f"extra:{s.load_uint(32)}"
    raise BocError(f"invalid coffee asset tag {tag}")


def store_coffee_asset(b: "Builder", asset: str) -> "Builder":
    """Fixture-side inverse of _load_coffee_asset."""
    if asset == "TON":
        return b.store_uint(0, 2)
    if asset.startswith("extra:"):
        return b.store_uint(0b10, 2).store_uint(int(asset[6:]), 32)
    wc, h = asset.split(":")
    return (b.store_uint(0b01, 2).store_uint(int(wc), 8)
            .store_uint(int(h, 16), 256))


def _forward_payload(s: Slice) -> dict:
    """Either Cell ^Cell tail: optional comment + the raw payload cell as
    base64 BOC (the reference keeps both — jettons.py:41-51 renders
    forward_payload via to_boc(hash_crc32=True))."""
    out: dict = {}
    if s.remaining_bits < 1:
        return out
    payload = s.load_ref().begin_parse() if s.load_bit() else s
    if payload.remaining_bits == 0 and payload.remaining_refs == 0:
        return out
    out["forward_payload"] = cell_to_b64_boc(slice_to_cell(payload))
    if payload.remaining_bits >= 32:
        tag = payload.load_uint(32)
        if tag == OP_TEXT_COMMENT:
            out["forward_comment"] = payload.load_snake_string()
        elif tag == 0x25938561:
            # stonfi v1 swap forward body (jettons.py:61-66): the intended
            # out wallet + receiver, needed when the swap fails and the
            # refund hides the real target
            try:
                out["stonfi_jetton_wallet"] = payload.load_address()
                out["stonfi_min_amount"] = payload.load_coins()
                out["stonfi_user_address"] = payload.load_address()
            except BocError:
                pass
    return out


def decode_body_cell(root: Cell) -> dict:
    """Root body cell → flat dict keyed like the classifier payload seam.

    Shapes follow the public TEP-74/TEP-62 TL-B (same fields the reference
    reads in blocks/messages/jettons.py / nft.py)."""
    s = root.begin_parse()
    if s.remaining_bits < 32:
        return {}
    op = s.load_uint(32)
    if op == OP_TEXT_COMMENT:
        return {"comment": s.load_snake_string(), "is_encrypted": False}
    if op == OP_ENCRYPTED_COMMENT:
        return {"comment": None, "is_encrypted": True}
    if op == OP_JETTON_TRANSFER:
        d: dict = {"opcode": op, "query_id": s.load_uint(64)}
        d["amount"] = s.load_coins()
        d["destination"] = s.load_address()
        d["response_destination"] = s.load_address()
        cp = s.load_maybe_ref()  # custom_payload
        if cp is not None:
            d["custom_payload"] = cell_to_b64_boc(cp)
        d["forward_ton_amount"] = s.load_coins()
        d.update(_forward_payload(s))
        return d
    if op == OP_JETTON_INTERNAL:
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["amount"] = s.load_coins()
        d["from"] = s.load_address()
        d["response_destination"] = s.load_address()
        d["forward_ton_amount"] = s.load_coins()
        d.update(_forward_payload(s))
        return d
    if op == OP_JETTON_NOTIFY:
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["amount"] = s.load_coins()
        d["sender"] = s.load_address()
        d.update(_forward_payload(s))
        return d
    if op == OP_JETTON_BURN:
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["amount"] = s.load_coins()
        d["response_destination"] = s.load_address()
        return d
    if op == OP_NFT_TRANSFER:
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["new_owner"] = s.load_address()
        d["response_destination"] = s.load_address()
        custom = s.load_maybe_ref()
        if custom is not None:
            d["custom_payload"] = cell_to_b64_boc(custom)
        d["forward_amount"] = s.load_coins()
        # the raw payload cell is kept verbatim, EMPTY cells included —
        # the reference serializes to_boc of whichever Either arm is
        # present (messages/nft.py:50-54)
        if s.remaining_bits >= 1:
            payload = s.load_ref() if s.load_bit() else slice_to_cell(s)
            d["forward_payload"] = cell_to_b64_boc(payload)
            if not payload.exotic:
                ps = payload.begin_parse()
                if ps.remaining_bits >= 32 and ps.load_uint(32) == OP_TEXT_COMMENT:
                    d["forward_comment"] = ps.load_snake_string()
        return d
    if op == OP_NFT_OWNERSHIP:
        # ownership_assigned#05138d91 query_id:uint64 prev_owner:Addr
        #   payload:(Either Cell ^Cell); the raw payload cell is kept
        #   (crc32 BOC) — the reference serializes it verbatim into
        #   nft_transfer_data (messages/nft.py:16-33 NftPayload)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["prev_owner"] = s.load_address()
        try:
            if s.remaining_bits >= 1:
                payload = (
                    s.load_ref() if s.load_bit() else slice_to_cell(s)
                )
                d["forward_payload"] = base64.b64encode(
                    serialize_boc(payload, crc32c=True)
                ).decode()
                # teleitem_bid_info#38127de1 bid:Coins bid_ts:uint32 —
                # the fragment purchase evidence (messages/nft.py:7-13)
                if not payload.exotic:
                    ps = payload.begin_parse()
                    if ps.remaining_bits >= 32 and ps.load_uint(32) == 0x38127DE1:
                        d["bid"] = ps.load_coins()
        except BocError:
            pass
        return d
    if op in (OP_DEDUST_PAYOUT, OP_DEDUST_PAYOUT_POOL):
        # payout#474f86cf query_id:uint64 proof:^Cell amount:Coins
        d = {"opcode": op, "query_id": s.load_uint(64)}
        s.load_ref()  # proof
        d["amount"] = s.load_coins()
        return d
    if op == OP_STONFI_SWAP:
        # swap#25938561 query_id from_user token_wallet amount min_out
        #               has_ref ^[from_real_user (ref_address)]
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["user"] = s.load_address()  # from_user_address = receiver
        d["token_wallet"] = s.load_address()
        d["amount"] = s.load_coins()
        d["min_out"] = s.load_coins()
        try:
            has_ref = s.load_bit()
            ref = s.load_ref().begin_parse()
            d["from_real_user"] = ref.load_address()  # actual sender
            if has_ref:
                d["ref_address"] = ref.load_address()
        except BocError:
            pass
        return d
    if op == OP_STONFI_PAYMENT_REQ:
        # payment_request#f93bb43f query_id owner exit_code
        #                ^[amount0_out token0_out amount1_out token1_out]
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["owner"] = s.load_address()
        d["exit_code"] = s.load_uint(32)
        ref = s.load_ref().begin_parse()
        d["amount0_out"] = ref.load_coins()
        d["token0_out"] = ref.load_address()
        d["amount1_out"] = ref.load_coins()
        d["token1_out"] = ref.load_address()
        return d
    if op == OP_MULTISIG_NEW_ORDER:
        # new_order#f718510f query_id:uint64 order_seqno:uint256
        #   signer:(## 1) index:uint8 expiration_date:uint48 order:^Order
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["order_seqno"] = s.load_uint(256)
        d["is_created_by_signer"] = bool(s.load_bit())
        d["creator_index"] = s.load_uint(8)
        d["expiration_date"] = s.load_uint(48)
        if s.remaining_refs:
            d["order_boc"] = base64.b64encode(
                serialize_boc(s.load_ref())
            ).decode()
        return d
    if op == OP_MULTISIG_APPROVE:
        # approve#a762230f query_id:uint64 signer_index:uint8
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["signer_index"] = s.load_uint(8)
        return d
    if op == OP_MULTISIG_APPROVE_ACCEPTED:
        # approve_accepted#82609bf6 query_id:uint64 (messages/multisig.py:85)
        return {"opcode": op, "query_id": s.load_uint(64)}
    if op == OP_MULTISIG_APPROVE_REJECTED:
        # approve_rejected#afaf283e query_id:uint64 exit_code:uint32
        # (messages/multisig.py:91-98)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["exit_code"] = s.load_uint(32)
        return d
    if op == OP_MULTISIG_EXECUTE:
        # execute#75097f5d query_id order_seqno:uint256 expiration_date:
        #   uint48 approvals_num:uint8 signers_hash:bits256 order:^Order
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["order_seqno"] = s.load_uint(256)
        d["expiration_date"] = s.load_uint(48)
        d["approvals_num"] = s.load_uint(8)
        d["signers_hash"] = s.load_bytes(32).hex()
        if s.remaining_refs:
            d["order_boc"] = base64.b64encode(
                serialize_boc(s.load_ref())
            ).decode()
        return d
    if op == OP_VESTING_SEND:
        # send_message#a7733acd query_id:uint64 send_mode:uint8 msg:^Cell
        # (messages/vesting.py:10-28 also surfaces the inner message's
        # BOC, destination and value for the action payload)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["send_mode"] = s.load_uint(8)
        try:
            inner = s.load_ref()
            d["message_boc"] = base64.b64encode(serialize_boc(inner)).decode()
            info = inner.begin_parse()
            if info.load_bit() == 0:  # int_msg_info$0
                info.load_uint(3)  # ihr_disabled/bounce/bounced
                info.load_address()  # src
                d["message_destination"] = info.load_address()
                d["message_value"] = info.load_coins()
        except BocError:
            pass
        return d
    if op == OP_VESTING_ADD_WL:
        # add_whitelist#7258a69b query_id:uint64 addr (chained ^[addr...])
        d = {"opcode": op, "query_id": s.load_uint(64)}
        addrs: list[str | None] = []
        cur = s
        while True:
            addrs.append(cur.load_address())
            if cur.remaining_refs < 1:
                break
            cur = cur.load_ref().begin_parse()
        d["accounts_added"] = [a for a in addrs if a is not None]
        return d
    if op == OP_COFFEE_STK_DEPOSIT:
        # staking_deposit#f9471134 query_id sender jetton_amount
        #                from_user period_id:uint32
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["sender"] = s.load_address()
        d["jetton_amount"] = s.load_coins()
        d["from_user"] = s.load_address()
        d["period_id"] = s.load_uint(32)
        return d
    if op == OP_COFFEE_STK_CLAIM:
        # staking_claim_rewards#b30c7310 query_id jetton_wallet
        #                jetton_amount receiver payload:(Maybe ^Cell)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["jetton_wallet"] = s.load_address()
        d["jetton_amount"] = s.load_coins()
        d["receiver"] = s.load_address()
        return d
    if op in (OP_AUCTION_FILL_UP, OP_DNS_RELEASE):
        d = {"opcode": op}
        if s.remaining_bits >= 64:
            d["query_id"] = s.load_uint(64)
        return d
    if op == OP_TS_NFT_BURN_NOTIF:
        # burn_notification#ed58b0b2 query_id:uint64 amount:Coins
        #   owner:MsgAddress (messages/staking.py:40-50) — amount is the
        #   tsTON burnt, surfaced as tokens_burnt in staking_data
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["tokens_burnt"] = s.load_coins()
        d["owner"] = s.load_address()
        return d
    if op == OP_COFFEE_STK_WITHDRAW:
        # three hops share staking_position_withdraw#cb03bfaf
        # (messages/coffee.py:1096-1144), disambiguated by shape:
        #   w1: query_id                             (no refs, no bits)
        #   w2: query_id nft_id owner points ^[wallet amount]   (1 ref)
        #   w3: query_id jetton_wallet jetton_amount owner      (no ref)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        if s.remaining_refs:
            d["nft_id"] = s.load_uint(64)
            d["owner"] = s.load_address()
            d["points"] = s.load_coins()
            ref = s.load_ref().begin_parse()
            d["jetton_wallet"] = ref.load_address()
            d["jetton_amount"] = ref.load_coins()
        elif s.remaining_bits:
            d["jetton_wallet"] = s.load_address()
            d["jetton_amount"] = s.load_coins()
            d["owner"] = s.load_address()
        return d
    if op == OP_TGBTC_MINT_EVENT:
        # mint#77a80ef3 amount:Coins recipient:MsgAddress
        #   bitcoin_txid:uint256 (messages/tgbtc.py:9-27); txid surfaced
        #   little-endian hex as the reference log matcher does
        d = {"opcode": op}
        d["amount"] = s.load_coins()
        d["recipient"] = s.load_address()
        d["bitcoin_txid"] = s.load_uint(256).to_bytes(32, "little").hex()
        return d
    if op == OP_TGBTC_BURN_EVENT:
        # burn#ca444ce6 amount:Coins sender:MsgAddress pegout:MsgAddress;
        # old/weird schemas truncate the addresses — the reference
        # tolerates that and keeps the amount (messages/tgbtc.py:44-51)
        d = {"opcode": op}
        d["amount"] = s.load_coins()
        d["sender"] = None
        d["pegout_address"] = None
        try:
            d["sender"] = s.load_address()
            d["pegout_address"] = s.load_address()
        except BocError:
            pass
        return d
    if op == OP_TGBTC_NEW_KEY_EVENT:
        # new_key#27756729 amount:Coins new_internal_pubkey:uint256
        #   pegout:MsgAddress
        d = {"opcode": op}
        d["amount"] = s.load_coins()
        # reference renders hex(pubkey)[2:] — NO zero padding
        d["new_internal_pubkey"] = f"{s.load_uint(256):x}"
        d["pegout_address"] = s.load_address()
        return d
    if op == OP_TGBTC_DKG_EVENT:
        # dkg_completed#453443a6 timestamp:uint64 internal_pubkey:uint256
        d = {"opcode": op}
        d["timestamp"] = s.load_uint(64)
        d["internal_pubkey"] = f"{s.load_uint(256):x}"  # hex()[2:] parity
        return d
    if op == OP_DEDUST_SWAP_NOTIFICATION:
        # swap#9c610de3 asset_in:Asset asset_out:Asset amount_in:Coins
        #   amount_out:Coins ^[sender ref_addr reserve0 reserve1]
        #   (messages/swaps.py:81-94)
        d = {"opcode": op}
        d["asset_in"] = _load_dedust_asset(s)
        d["asset_out"] = _load_dedust_asset(s)
        d["amount_in"] = s.load_coins()
        d["amount_out"] = s.load_coins()
        ref = s.load_ref().begin_parse()
        d["sender"] = ref.load_address()
        return d
    if op == OP_DEDUST_DEPOSIT_TO_POOL:
        # deposit_liquidity#b56b9598 query_id:uint64 proof:^Cell
        #   owner:MsgAddress min_lp_amount:Coins
        #   ^[asset0 amount0 asset1 amount1]
        #   fulfill:(Maybe ^Cell) reject:(Maybe ^Cell)
        #   (messages/liquidity.py:73-88)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        s.load_ref()  # proof
        d["owner"] = s.load_address()
        d["min_lp_amount"] = s.load_coins()
        ref = s.load_ref().begin_parse()
        d["asset1"] = _load_dedust_asset(ref)
        d["amount1"] = ref.load_coins()
        d["asset2"] = _load_dedust_asset(ref)
        d["amount2"] = ref.load_coins()
        return d
    if op == OP_TONCO_START_BURN:
        # POOLV3_START_BURN#530b5f2c query_id:uint64 burned_index:uint64
        #   liquidity_to_burn:uint128 tick_lower:int24 tick_upper:int24
        #   (messages/liquidity.py:165-184); liquidity surfaced as the
        #   matcher's lp-burnt amount, burned_index as nft_index
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["nft_index"] = s.load_uint(64)
        d["amount"] = s.load_uint(128)
        d["tick_lower"] = s.load_int(24)
        d["tick_upper"] = s.load_int(24)
        return d
    if op == OP_TELEITEM_START_AUCTION:
        # teleitem_start_auction#487a8e81 query_id:uint64
        #   ^[beneficiary:MsgAddress initial_min_bid:Coins max_bid:Coins
        #     min_bid_step:uint8 min_extend_time:uint32 duration:uint32]
        #   (messages/nft.py:104-129)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        if s.remaining_refs:
            cfg = s.load_ref().begin_parse()
            try:
                d["beneficiary_address"] = cfg.load_address()
                d["initial_min_bid"] = cfg.load_coins()
                d["max_bid"] = cfg.load_coins()
                d["min_bid_step"] = cfg.load_uint(8)
                d["min_extend_time"] = cfg.load_uint(32)
                d["duration"] = cfg.load_uint(32)
            except ValueError:
                pass  # malformed config: keep query_id (reference nulls)
        return d
    if op == OP_LZ_ENDPOINT_SEND:
        # buildLayerzeroMessageBody: query_id:uint64 donation:Coins
        #   origin:MsgAddress ^md_obj; md_obj.refs[0] = lzSend md:
        #   name:uint80 header:uint180 filler:ones90 send_request_id:uint64
        #   msglib_manager:uint256 msglib:uint256 ^packet ^extra ^fees
        #   (messages/layerzero.py:19-116); packet/path are 350-bit-header
        #   cells carrying nonce/guid and the eid/oapp route
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["donation_nanos"] = s.load_coins()
        d["origin"] = s.load_address()
        if not s.remaining_refs:
            return d
        md_obj = s.load_ref().begin_parse()
        if not md_obj.remaining_refs:
            return d
        lz = md_obj.load_ref().begin_parse()
        try:
            name = lz.load_uint(80)
            if name != _LZ_MD_NAME:
                return d
            lz.load_uint(_LZ_SEND_HEADER_BITS)
            lz.load_uint(_LZ_SEND_FILLER_BITS)
            d["send_request_id"] = lz.load_uint(64)
            d["msglib_manager"] = hex(lz.load_uint(256))
            d["msglib"] = hex(lz.load_uint(256))
            packet = lz.load_ref().begin_parse()
            lz.load_ref()  # extra_options
            fees = lz.load_ref().begin_parse()
            fees.load_uint(256)  # msglib_connection
            d["native_fee"] = fees.load_uint(128)
            d["zro_fee"] = fees.load_uint(128)
            packet.load_uint(_LZ_CELL_HEADER_BITS)
            packet.load_uint(_LZ_CELL_FILLER_BITS)
            path = packet.load_ref().begin_parse()
            packet.load_ref()  # message payload
            d["nonce"] = packet.load_uint(64)
            d["guid"] = hex(packet.load_uint(256))
            path.load_uint(_LZ_CELL_HEADER_BITS)
            path.load_uint(_LZ_CELL_FILLER_BITS)
            d["src_eid"] = path.load_uint(32)
            d["src_oapp"] = hex(path.load_uint(256))
            d["dst_eid"] = path.load_uint(32)
            d["dst_oapp"] = hex(path.load_uint(256))
        except (ValueError, IndexError):
            pass  # partial md: keep whatever decoded
        return d
    if op == OP_STONFI_V2_PAYOUT:
        # 0x657b54f5 is DUAL-USE in Ston.fi v2: router pay_to
        # (messages/swaps.py:64-78) AND the pool swap entry
        # (messages/swaps.py:129-153).  Shape-discriminate: try the
        # pay_to layout; on underflow reparse as the swap entry; if
        # neither fits, degrade to the bare opcode (never {}).
        try:
            p = root.begin_parse()
            p.load_uint(32)
            d = {"opcode": op, "query_id": p.load_uint(64)}
            d["to_address"] = p.load_address()
            d["excesses_address"] = p.load_address()
            d["original_caller"] = p.load_address()
            d["exit_code"] = p.load_uint(32)
            p.load_maybe_ref()  # custom_payload
            ref = p.load_ref().begin_parse()
            d["fwd_ton_amount"] = ref.load_coins()
            d["amount0_out"] = ref.load_coins()
            d["token0_address"] = ref.load_address()
            d["amount1_out"] = ref.load_coins()
            d["token1_address"] = ref.load_address()
            if p.remaining_bits == 0:
                return d
        except BocError:
            pass
        try:
            p = root.begin_parse()
            p.load_uint(32)
            d = {"opcode": op, "query_id": p.load_uint(64)}
            d["user"] = p.load_address()
            d["amount"] = p.load_coins()
            d["right_amount"] = p.load_coins()
            return d
        except BocError:
            return {"opcode": op}
    if op == OP_CHANGE_DNS:
        # change_dns_record#4eb1f0f9 query_id:uint64 key:uint256
        #   value:(Maybe ^Cell{schema:uint16 payload})  (messages/dns.py:6-40)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["key"] = s.load_bytes(32).hex()
        if s.remaining_refs > 0:
            v = s.load_ref().begin_parse()
            schema = v.load_uint(16)
            d["value_schema"] = _DNS_SCHEMAS.get(schema, hex(schema))
            if schema in (0xBA93, 0x9FD3):
                d["value"] = v.load_address()
                if schema == 0x9FD3 and v.remaining_bits >= 8:
                    d["flags"] = v.load_uint(8)
            elif schema in (0xAD01, 0x7473):
                d["value"] = v.load_bytes(32).hex()
                if schema == 0xAD01 and v.remaining_bits >= 8:
                    d["flags"] = v.load_uint(8)
            else:
                # unknown record schema: the record EXISTS (non-empty ref),
                # so value must be non-empty or the matcher would read the
                # set as a deletion — surface the raw tag
                d["value"] = d["value_schema"]
        else:
            d["value"] = None  # empty record = deletion
        return d
    if op == OP_DEDUST_SWAP_ENTRY:
        # swap#ea06185d query_id:uint64 amount:Coins pool:MsgAddressInt
        #   kind:uint1 limit:Coins next:(Maybe ^SwapStep) params:^SwapParams
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["amount"] = s.load_coins()
        d["pool"] = s.load_address()
        d["kind"] = s.load_bit()
        d["limit"] = s.load_coins()
        return d
    if op == OP_TONSTAKERS_WITHDRAW:
        # burn/withdraw request: query_id:uint64 [amount:Coins]
        d = {"opcode": op, "query_id": s.load_uint(64)}
        if s.remaining_bits >= 4:
            d["amount"] = s.load_coins()
        return d
    if op in (OP_TONSTAKERS_DEPOSIT, OP_ELECTOR_NEW_STAKE,
              OP_ELECTOR_RECOVER):
        d = {"opcode": op}
        if s.remaining_bits >= 64:
            d["query_id"] = s.load_uint(64)
        return d
    if op == OP_NFT_SALE_UPDATE:
        # update_sale#6c6c2080 query_id:uint64 new_full_price:Coins
        #   new_mp_fee:Coins new_royalty_amount:Coins
        #   (getgems.py SaleUpdateMessage:249-262, re-derived)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["full_price"] = s.load_coins()
        d["marketplace_fee"] = s.load_coins()
        d["royalty_amount"] = s.load_coins()
        return d
    if op == OP_DEDUST_DEPOSIT_TON:
        # dedust_deposit_liquidity#d55e4686 query_id:uint64 amount:Coins
        #   pool_params:(kind:uint1 asset0:Asset asset1:Asset)
        #   deposit_params:^[min_lp:Coins asset0_target:Coins
        #                    asset1_target:Coins]  (liquidity.py:17-37)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["amount"] = s.load_coins()
        d["pool_type"] = "stable" if s.load_bit() else "volatile"
        d["asset0"] = _load_dedust_asset(s)
        d["asset1"] = _load_dedust_asset(s)
        params = s.load_ref().begin_parse()
        d["min_lp_amount"] = params.load_coins()
        d["asset0_target_balance"] = params.load_coins()
        d["asset1_target_balance"] = params.load_coins()
        return d
    if op == OP_DEDUST_DEPOSIT_FWD:
        # deposit_liquidity#40e108d6 pool_params min_lp:Coins
        #   asset0_target:Coins asset1_target:Coins  (liquidity.py:40-57;
        #   rides inside a jetton-transfer forward payload)
        d = {"opcode": op}
        d["pool_type"] = "stable" if s.load_bit() else "volatile"
        d["asset0"] = _load_dedust_asset(s)
        d["asset1"] = _load_dedust_asset(s)
        d["min_lp_amount"] = s.load_coins()
        d["asset0_target_balance"] = s.load_coins()
        d["asset1_target_balance"] = s.load_coins()
        return d
    if op == OP_STONFI_V2_PROVIDE:
        # provide_liquidity#37c096df query_id:uint64 from_user:Addr
        #   amount1:Coins amount2:Coins  (liquidity.py:99-106)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["from_user"] = s.load_address()
        d["amount"] = s.load_coins()
        d["amount2"] = s.load_coins()
        return d
    if op == OP_TONCO_MINT:
        # POOLV3_MINT#b2c1b6e3 query_id:uint64 owner:Addr amount0:Coins
        #   amount1:Coins enough0:Coins enough1:Coins liquidity:uint128
        #   tick_lower:int24 tick_upper:int24  (liquidity.py:109-136)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["owner"] = s.load_address()
        d["amount"] = s.load_coins()
        d["amount2"] = s.load_coins()
        s.load_coins()  # enough0
        s.load_coins()  # enough1
        d["liquidity"] = s.load_uint(128)
        d["tick_lower"] = s.load_int(24)
        d["tick_upper"] = s.load_int(24)
        return d
    if op == OP_TONCO_SWAP:
        # POOLV3_SWAP#a7fb58f8 query_id:uint64 owner:Addr source_wallet:Addr
        #   ^[amount:Coins sqrt_price_limit:uint160 min_out:Coins]
        #   ^[target:Addr …]  (swaps.py:205-242, pool-side shape)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["owner"] = s.load_address()
        d["source_wallet"] = s.load_address()
        if s.remaining_refs >= 1:
            params = s.load_ref().begin_parse()
            d["amount"] = params.load_coins()
            d["sqrt_price_limit"] = params.load_uint(160)
            d["min_out"] = params.load_coins()
        if s.remaining_refs >= 1:
            payloads = s.load_ref().begin_parse()
            d["target_address"] = payloads.load_address()
        return d
    if op == OP_SUBSCRIPTION_PAY_REQ:
        # payment_request#706c7567 query_id:uint64 grams:Coins
        #   (subscriptions.py:6-12)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["grams"] = s.load_coins()
        return d
    if op == OP_EVAA_SUPPLY_MASTER:
        # supply_master#1 query_id:uint64 include_user_code:int2
        #   supply_amount:uint64 recipient:Addr  (evaa.py:8-26)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["include_user_code"] = s.load_int(2) != 0
        d["amount"] = s.load_uint(64)
        d["recipient_address"] = s.load_address()
        return d
    if op == OP_EVAA_SUPPLY_USER:
        # supply_user#11 query_id:uint64 asset_id:uint256
        #   supply_amount_current:uint64  (evaa.py:52-73)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["asset_id"] = f"{s.load_uint(256):064x}"
        d["amount"] = s.load_uint(64)
        return d
    if op in (OP_EVAA_SUPPLY_SUCCESS, OP_EVAA_SUPPLY_FAIL):
        # supply_success#11a / supply_fail#11f query_id:uint64 owner:Addr
        #   asset_id:uint256 amount:uint64  (evaa.py:75-116)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["owner_address"] = s.load_address()
        d["asset_id"] = f"{s.load_uint(256):064x}"
        d["amount"] = s.load_uint(64)
        return d
    if op == OP_EVAA_WITHDRAW_MASTER:
        # withdraw_master#2 query_id:uint64 asset_id:uint256 amount:uint64
        #   recipient:Addr  (evaa.py:121-141)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["asset_id"] = f"{s.load_uint(256):064x}"
        d["amount"] = s.load_uint(64)
        d["recipient_address"] = s.load_address()
        return d
    if op == OP_EVAA_WITHDRAW_COLL:
        # withdraw_collateralized#211 query_id:uint64 owner:Addr
        #   asset_id:uint256 withdraw_amount_current:uint64 (evaa.py:169-190)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["owner_address"] = s.load_address()
        d["asset_id"] = f"{s.load_uint(256):064x}"
        d["amount"] = s.load_uint(64)
        return d
    if op in (OP_JVAULT_UNSTAKE, OP_JVAULT_UNSTAKE_REQ):
        # unstake[_request] query_id:uint64 jettons_to_unstake:Coins
        #   [force_unstake:Bool]  (jvault.py:48-79)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["amount"] = s.load_coins()
        if op == OP_JVAULT_UNSTAKE and s.remaining_bits >= 1:
            d["force_unstake"] = bool(s.load_bit())
        return d
    if op == OP_JVAULT_CLAIM:
        # claim_rewards#78d9f109 query_id:uint64
        #   jettons_to_claim:(HashmapE 267 Bit)  (jvault.py:81-97)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        try:
            d["jettons_to_claim"] = address_hashmap_keys(s.load_maybe_ref())
        except BocError:
            d["jettons_to_claim"] = []
        return d
    if op == 0xC0FFEE06:
        # create_vault#c0ffee06 query_id:uint64 asset:Asset
        #   (messages/coffee.py:628-639)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["asset"] = _load_coffee_asset(s)
        return d
    if op in (OP_COFFEE_SWAP_NATIVE, OP_COFFEE_POOL_NATIVE,
              OP_COFFEE_DEPOSIT_NATIVE):
        # swap.coffee native entries share the query_id:uint64 amount:Coins
        # prefix (coffee.py:331-344,426-441,474-489); the param tails are
        # decoded best-effort (fixtures may carry prefix-only bodies)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["amount"] = s.load_coins()
        try:
            if op == OP_COFFEE_SWAP_NATIVE:
                # _:SwapStepParams = pool_address_hash:uint256
                #   min_output_amount:Coins next:(Maybe ^...) (coffee.py:89-101)
                d["first_pool"] = f"0:{s.load_uint(256):064X}"
                d["min_out"] = s.load_coins()
            elif op == OP_COFFEE_POOL_NATIVE:
                # params:PoolParams = first:Asset second:Asset amm:(## 3)
                #   (coffee.py:161-180); the native side provides TON
                d["asset_1"] = _load_coffee_asset(s)
                d["asset_2"] = _load_coffee_asset(s)
                d["provided_asset"] = "TON"
                d["amount_1"] = d["amount"]
            elif op == OP_COFFEE_DEPOSIT_NATIVE:
                # params:DepositLiquidityParams = recipient:Addr
                #   use_recipient_on_failure:int1 pool_params:PoolParams
                #   (coffee.py:215-235, parsed inline)
                d["recipient"] = s.load_address()
                s.load_bit()  # use_recipient_on_failure
                d["asset1"] = _load_coffee_asset(s)
                d["asset2"] = _load_coffee_asset(s)
        except BocError:
            pass
        return d
    if op == OP_LZ_EVENT:
        # LZ endpoint event#e33b9873 query_id:uint64 donation:Coins
        #   origin:Addr md:^[header(134b) filler(216 ones) topic:uint256
        #   body:^Cell initial_storage:^Cell]  (layerzero.py:302-346)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["donation_nanos"] = s.load_coins()
        d["origin"] = s.load_address()
        try:
            md = s.load_ref().begin_parse()
            if md.load_uint(_LZ_EVENT_HEADER_BITS) == _LZ_EVENT_HEADER:
                md.load_uint(_LZ_EVENT_FILLER_BITS)  # all-ones filler
                d["topic"] = f"{md.load_uint(256):064x}"
        except BocError:
            pass
        return d
    if op == OP_LZ_ULN_VERIFY_CB:
        # ULN_CONNECTION_VERIFY_CALLBACK#3cb38090 md:^MdObj with
        # ref0 = VerificationStatus[header(116b) filler(234 ones)
        # nonce:uint64 status:uint32]  (layerzero.py:912-947)
        d = {"opcode": op}
        try:
            md = s.load_ref().begin_parse()
            st = md.load_ref().begin_parse()
            if st.load_uint(_LZ_STATUS_HEADER_BITS) == _LZ_STATUS_HEADER:
                st.load_uint(_LZ_STATUS_FILLER_BITS)  # all-ones filler
                d["nonce"] = st.load_uint(64)
                code = st.load_uint(32)
                d["status_code"] = code
                d["status"] = _LZ_VERIFY_STATUS.get(code, f"0x{code:08x}")
        except BocError:
            pass
        return d
    if op == OP_COFFEE_SWAP_JETTON:
        # swap_jetton#c0ffee10 _:SwapStepParams params:^SwapParams — the
        # jetton-transfer forward payload, no query_id/amount (coffee.py:348-368)
        d = {"opcode": op}
        try:
            d["first_pool"] = f"0:{s.load_uint(256):064X}"
            d["min_out"] = s.load_coins()
        except BocError:
            pass
        return d
    if op in (OP_COFFEE_CREATE_POOL_JETTON, OP_COFFEE_CREATE_POOL_EXTRA):
        # create_pool_jetton#c0ffee11 params:PoolParams creation:... /
        # create_pool_extra#c0ffee03 query_id:uint64 params:PoolParams ...
        # (coffee.py:444-471)
        d = {"opcode": op}
        try:
            if op == OP_COFFEE_CREATE_POOL_EXTRA:
                d["query_id"] = s.load_uint(64)
            d["asset_1"] = _load_coffee_asset(s)
            d["asset_2"] = _load_coffee_asset(s)
        except BocError:
            pass
        return d
    if op == OP_COFFEE_DEPOSIT_JETTON:
        # deposit_liquidity_jetton#c0ffee12 params:DepositLiquidityParams
        # (coffee.py:492-503; params parsed inline per reference)
        d = {"opcode": op}
        try:
            d["recipient"] = s.load_address()
            s.load_bit()  # use_recipient_on_failure
            d["asset1"] = _load_coffee_asset(s)
            d["asset2"] = _load_coffee_asset(s)
        except BocError:
            pass
        return d
    if op == OP_COFFEE_WITHDRAW:
        # withdraw_deposit#c0ffee07 query_id:uint64 (coffee.py:584-594)
        return {"opcode": op, "query_id": s.load_uint(64)}
    if op == OP_PTON_TRANSFER:
        # pTON ton_transfer#01f3835d query_id:uint64 ton_amount:Coins
        #   refund_address:Addr forward_payload:(Either Cell ^Cell)
        #   (swaps.py:50-60); a text-comment forward payload surfaces as
        #   `comment` so the ton_transfer presentation matches the plain
        #   TON path
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["amount"] = s.load_coins()
        d["refund_address"] = s.load_address()
        try:
            # Either Cell ^Cell: bit 1 → payload in a ref, bit 0 → the
            # rest of this slice IS the payload (both arms carry a text
            # comment when the 32-bit op prefix is 0)
            fwd = s.load_maybe_ref()
            fs = fwd.begin_parse() if fwd is not None else s
            if fs.remaining_bits >= 32 and fs.load_uint(32) == 0:
                d["comment"] = fs.load_snake_string()
        except BocError:
            pass
        return d
    if op == OP_EVAA_LIQUIDATE_MASTER:
        # liquidate_master#3 query_id:uint64 borrower:Addr liquidator:Addr
        #   collateral_asset_id:uint256 min_collateral_amount:uint64
        #   include_user_code:int2 liquidate_incoming_amount:uint64
        #   (evaa.py:258-283); the incoming amount is the repaid debt.
        # Opcode 0x3 is generic (getgems cancel#3 and others share it), and
        # the reference only parses this shape in EVAA-account context —
        # so require the full layout to parse with plausible addresses, and
        # fall back to a bare opcode otherwise.
        try:
            d = {"opcode": op, "query_id": s.load_uint(64)}
            d["borrower_address"] = s.load_address()
            d["liquidator_address"] = s.load_address()
            d["asset_id"] = f"{s.load_uint(256):064x}"
            s.load_uint(64)  # min_collateral_amount
            s.load_int(2)  # include_user_code
            d["debt_amount"] = s.load_uint(64)
            if d["borrower_address"] is None or d["liquidator_address"] is None:
                return {"opcode": op}
            return d
        except BocError:
            return {"opcode": op}
    if op == OP_TONCO_FUND_ACCOUNT:
        # POOLV3_FUND_ACCOUNT#4468de77 query_id:uint64 owner:Addr
        #   amount0:Coins amount1:Coins enough0:Coins enough1:Coins
        #   liquidity:uint128 tick_lower:int24 tick_upper:int24
        #   (liquidity.py:227-254)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["owner_address"] = s.load_address()
        d["amount"] = s.load_coins()
        d["amount2"] = s.load_coins()
        s.load_coins()  # enough0
        s.load_coins()  # enough1
        d["liquidity"] = s.load_uint(128)
        d["tick_lower"] = s.load_int(24)
        d["tick_upper"] = s.load_int(24)
        return d
    if op == OP_TONCO_ADD_LIQUIDITY:
        # ACCOUNTV3_ADD_LIQUIDITY#3ebe5431 query_id:uint64
        #   new_amount0:Coins new_amount1:Coins new_enough0:Coins
        #   new_enough1:Coins liquidity:uint128 tick_lower:int24
        #   tick_upper:int24  (liquidity.py:465-492) — the pool→account
        #   call the reference anchors its tonco deposit matcher on
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["new_amount0"] = s.load_coins()
        d["new_amount1"] = s.load_coins()
        d["new_enough0"] = s.load_coins()
        d["new_enough1"] = s.load_coins()
        d["liquidity"] = s.load_uint(128)
        d["tick_lower"] = s.load_int(24)
        d["tick_upper"] = s.load_int(24)
        return d
    if op == OP_TONCO_POSITION_INIT:
        # POSITIONNFTV3_POSITION_INIT#d5ecca2a query_id:uint64
        #   user_address:Addr liquidity:uint128 tick_lower:int24
        #   tick_upper:int24 ^[fee0:uint256 fee1:uint256 nft_index:uint64
        #   jetton0_amount:Coins jetton1_amount:Coins tick:int24]
        #   (liquidity.py:391-429)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["user_address"] = s.load_address()
        d["liquidity"] = s.load_uint(128)
        d["tick_lower"] = s.load_int(24)
        d["tick_upper"] = s.load_int(24)
        if s.remaining_refs >= 1:
            fees = s.load_ref().begin_parse()
            fees.load_uint(256)  # fee_growth_inside_0
            fees.load_uint(256)  # fee_growth_inside_1
            d["nft_index"] = fees.load_uint(64)
            d["jetton0_amount"] = fees.load_coins()
            d["jetton1_amount"] = fees.load_coins()
        return d
    if op == OP_TONCO_POOL_INIT:
        # POOLV3_INIT#441c39ed query_id:uint64 from_admin:bool
        #   has_admin:bool admin:Addr has_controller:bool controller:Addr
        #   set_spacing:bool tick_spacing:int24 set_price:bool
        #   initial_price_x96:uint160 set_active:bool pool_active:bool
        #   protocol_fee:uint16 lp_fee_base:uint16 lp_fee_current:uint16 …
        #   (liquidity.py:289-344)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        s.load_bit()  # from_admin
        s.load_bit()  # has_admin
        s.load_address()  # admin
        s.load_bit()  # has_controller
        s.load_address()  # controller
        s.load_bit()  # set_spacing
        d["tick_spacing"] = s.load_int(24)
        s.load_bit()  # set_price
        d["initial_price_x96"] = s.load_uint(160)
        s.load_bit()  # set_active
        d["pool_active"] = bool(s.load_bit())
        d["protocol_fee"] = s.load_uint(16)
        d["lp_fee_base"] = s.load_uint(16)
        d["lp_fee_current"] = s.load_uint(16)
        return d
    if op == OP_TONCO_POSITION_BURN:
        # POSITIONNFTV3_POSITION_BURN#46ca335a query_id:uint64
        #   nft_owner:Addr liquidity_to_burn:uint128 tick_lower:int24
        #   tick_upper:int24 ^[fees]  (liquidity.py:432-462)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["nft_owner"] = s.load_address()
        d["liquidity_to_burn"] = s.load_uint(128)
        d["tick_lower"] = s.load_int(24)
        d["tick_upper"] = s.load_int(24)
        return d
    if op == OP_TONCO_POOL_BURN:
        # POOLV3_BURN#d73ac09d query_id:uint64 recipient:Addr
        #   burned_index:uint64 liquidity:uint128 tick_lower:int24
        #   tick_upper:int24 liquidity_to_burn:uint128 ^[old] ^[new]
        #   (liquidity.py:187-224)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["recipient"] = s.load_address()
        d["burned_index"] = s.load_uint(64)
        d["liquidity"] = s.load_uint(128)
        d["tick_lower"] = s.load_int(24)
        d["tick_upper"] = s.load_int(24)
        d["liquidity_to_burn"] = s.load_uint(128)
        return d
    if op == OP_TONCO_PAY_TO:
        # ROUTERV3_PAY_TO#a1daa96d query_id:uint64 receiver0:Addr
        #   receiver1:Addr exit_code:uint32 seqno:uint64
        #   coinsinfo:(Maybe ^[amount0:Coins jetton0:Addr amount1:Coins
        #   jetton1:Addr])  (messages/swaps.py:307-366); the router's
        #   payout order defines asset0/asset1 for the withdraw matcher
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["receiver0"] = s.load_address()
        d["receiver1"] = s.load_address()
        d["exit_code"] = s.load_uint(32)
        s.load_uint(64)  # seqno
        coins = s.load_maybe_ref()
        if coins is not None:
            cs = coins.begin_parse()
            d["amount0"] = cs.load_coins()
            d["jetton0_address"] = cs.load_address()
            d["amount1"] = cs.load_coins()
            d["jetton1_address"] = cs.load_address()
        return d
    if op == OP_TONCO_MINT_REFUND:
        # POOLV3_MINT#81702ef8 query_id:uint64 amount0_funded:Coins
        #   amount1_funded:Coins recipient:Addr liquidity:uint128
        #   tick_lower:int24 tick_upper:int24  (liquidity.py:139-162)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["amount0_funded"] = s.load_coins()
        d["amount1_funded"] = s.load_coins()
        d["recipient"] = s.load_address()
        d["liquidity"] = s.load_uint(128)
        d["tick_lower"] = s.load_int(24)
        d["tick_upper"] = s.load_int(24)
        return d
    if op == OP_TONCO_CREATE_POOL:
        # ROUTERV3_CREATE_POOL#2e3034ef query_id:uint64 jetton_wallet0:Addr
        #   jetton_wallet1:Addr tick_spacing:int24 initial_price_x96:uint160
        #   protocol_fee:uint16 lp_fee_base:uint16 lp_fee_current:uint16
        #   nftv3_content:^Cell nftv3item_content:^Cell
        #   minter_cell:^[jetton0_minter:Addr jetton1_minter:Addr ...]
        #   (liquidity.py:346-388)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["jetton_wallet0"] = s.load_address()
        d["jetton_wallet1"] = s.load_address()
        d["tick_spacing"] = s.load_int(24)
        d["initial_price_x96"] = s.load_uint(160)
        d["protocol_fee"] = s.load_uint(16)
        d["lp_fee_base"] = s.load_uint(16)
        d["lp_fee_current"] = s.load_uint(16)
        if s.remaining_refs >= 3:
            s.load_ref()  # nftv3_content
            s.load_ref()  # nftv3item_content
            ms = s.load_ref().begin_parse()
            d["jetton0_minter"] = ms.load_address()
            d["jetton1_minter"] = ms.load_address()
        return d
    if op == OP_COFFEE_MEV_FAILED_SWAP:
        # mev_protect_failed_swap#ee51ce51 query_id:uint64 recipient:Addr
        #   (coffee.py:971-983)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["recipient"] = s.load_address()
        return d
    if op == OP_JVAULT_RECEIVE:
        # receive_jettons#d68a4ac1 query_id:uint64 min_deposit:Coins
        #   max_deposit:Coins unstake_commission:uint16 unstake_fee:Coins
        #   whitelist:(HashmapE 267 Bit) received_jettons:Coins
        #   (jvault.py:15-46); HashmapE root = Maybe ^Cell, skipped
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["min_deposit"] = s.load_coins()
        d["max_deposit"] = s.load_coins()
        d["unstake_commission"] = s.load_uint(16)
        d["unstake_fee"] = s.load_coins()
        s.load_maybe_ref()  # whitelist dict root
        d["amount"] = s.load_coins()  # received_jettons
        return d
    if op == OP_ETHENA_TSUSDE_TRANSFER:
        # tsUSDe timelocked leg (0xb2583ed5): jetton internal-transfer
        # layout under a custom op (ethena_staking.py:92 parses it with
        # JettonInternalTransfer)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["amount"] = s.load_coins()
        d["from"] = s.load_address()
        d["response_destination"] = s.load_address()
        d["forward_ton_amount"] = s.load_coins()
        return d
    if op in (OP_JETTON_MINT_MINTER, OP_JETTON_MINT_ALT):
        # mint#15 / mint#642b7d07 query_id:uint64 to:Addr ton_amount:Coins
        #   [master_msg:^Cell{internal_transfer}]  (jettons.py:142-173)
        d = {"opcode": op, "query_id": s.load_uint(64)}
        d["to_address"] = s.load_address()
        d["ton_amount"] = s.load_coins()
        if s.remaining_refs:
            try:
                mm = s.load_ref().begin_parse()
                mm.load_uint(32)  # internal-transfer op
                mm.load_uint(64)  # query_id
                d["amount"] = mm.load_coins()
            except BocError:
                pass  # tolerate non-standard master_msg payloads
        return d
    return {"opcode": op}


# ----------------------------------------- getgems sale state-data decoders


def _hashmap_keys(cell: "Cell", n: int, prefix: int, out: list) -> None:
    """Recursive HashmapE key enumeration (TL-B hashmap: hml_short /
    hml_long / hml_same labels, fork refs).  Values are ignored — the
    jvault whitelist/claim dicts use unit values (jvault.py:6-12)."""
    s = cell.begin_parse()
    if s.load_bit() == 0:  # hml_short$0: unary length then bits
        l = 0
        while s.load_bit() == 1:
            l += 1
        bits = s.load_uint(l) if l else 0
    elif s.load_bit() == 0:  # hml_long$10
        l = s.load_uint(n.bit_length())
        bits = s.load_uint(l) if l else 0
    else:  # hml_same$11
        b = s.load_bit()
        l = s.load_uint(n.bit_length())
        bits = (1 << l) - 1 if b else 0
    prefix = (prefix << l) | bits
    m = n - l
    if m == 0:
        out.append(prefix)
        return
    left = s.load_ref()
    right = s.load_ref()
    _hashmap_keys(left, m - 1, prefix << 1, out)
    _hashmap_keys(right, m - 1, (prefix << 1) | 1, out)


def address_hashmap_keys(root: "Cell | None") -> list[str]:
    """HashmapE(267) root → the MsgAddressStd keys as raw address
    strings, in key order (jvault.py:6-12 load_address_list)."""
    if root is None:
        return []
    keys: list[int] = []
    _hashmap_keys(root, 267, 0, keys)
    out = []
    for k in keys:
        wc = (k >> 256) & 0xFF
        if wc >= 128:
            wc -= 256
        out.append(f"{wc}:{k & ((1 << 256) - 1):064X}")
    return out


def decode_evaa_user_body(raw: bytes | str) -> dict | None:
    """EVAA user-contract message: version header (user_version:Coins
    upgrade_info:Maybe ^Cell upgrade_exec:uint2) then the actual op
    (blocks/evaa.py:59-92 load_user_header + EvaaContractWithHeaderMatcher)
    — the header is why the raw 32-bit opcode column is garbage for these.
    Returns the decoded op dict or None when the body isn't this shape."""
    try:
        s = parse_boc(raw).begin_parse()
        s.load_coins()  # user_version
        s.load_maybe_ref()  # upgrade_info
        s.load_uint(2)  # upgrade_exec
        op = s.load_uint(32)
        d: dict = {"opcode": op, "query_id": s.load_uint(64)}
        if op in (0x11, 0x21, 0x211A, 0x211F):
            d["asset_id"] = f"{s.load_uint(256):064x}"
        if op in (0x11, 0x21):
            d["amount"] = s.load_uint(64)
        if op == 0x21:  # withdraw_user: recipient after s_rate/b_rate
            s.load_uint(64)
            s.load_uint(64)
            d["recipient_address"] = s.load_address()
        if op == 0x31:  # liquidate_user (evaa.py:286-320)
            pass
        return d
    except Exception:
        return None


def decode_evaa_jetton_forward(raw: bytes | str) -> dict | None:
    """EVAA supply/liquidate forward payload inside a jetton transfer:
    op#1 include_user_code:int2 recipient:Addr …
    (messages/evaa.py:27-50 EvaaSupplyJettonForwardMessage).  None when
    not an EVAA payload."""
    try:
        s = parse_boc(raw).begin_parse()
        op = s.load_uint(32)
        if op != OP_EVAA_SUPPLY_MASTER:
            return None
        d = {"opcode": op}
        d["include_user_code"] = s.load_int(2) != 0
        d["recipient_address"] = s.load_address()
        return d
    except Exception:
        return None


def decode_tonco_swap_payload(raw: bytes | str) -> list[tuple[str, int]]:
    """Tonco POOLV3_SWAP forward payload → recursive (target router
    jetton wallet, min_out_amount) list — the multicall chain the SDK
    builds (messages/swaps.py:245-299 ToncoPoolV3SwapPayload).  Used to
    recover the intended target asset of a FAILED swap.  Returns [] when
    the payload is absent or not this shape."""
    out: list[tuple[str, int]] = []
    try:
        s = parse_boc(raw).begin_parse()
        while True:
            if s.remaining_bits < 32 or s.load_uint(32) != OP_TONCO_SWAP:
                break
            wallet = s.load_address()
            s.load_uint(160)  # price_limit_sqrt
            min_out = s.load_coins() or 0
            s.load_address()  # recipient
            if wallet is not None:
                out.append((wallet, min_out))
            nxt = s.load_maybe_ref() if s.remaining_bits >= 1 else None
            if nxt is None:
                break
            s = nxt.begin_parse()
    except Exception:
        pass
    return out


def decode_tonco_fund_payload(raw: bytes | str) -> dict | None:
    """Tonco POOLV3_FUND_ACCOUNT forward payload (rides inside the jetton
    notify during liquidity provision): other_jetton_wallet:Addr
    amount0:Coins amount1:Coins …  (messages/liquidity.py:257-287).
    Returns None when the payload is missing or not this shape."""
    try:
        s = parse_boc(raw).begin_parse()
        if s.remaining_bits < 32 or s.load_uint(32) != OP_TONCO_FUND_ACCOUNT:
            return None
        return {
            "other_jetton_wallet": s.load_address(),
            "amount0": s.load_coins(),
            "amount1": s.load_coins(),
        }
    except (BocError, Exception):
        return None


# getgems contract code hash (base64) → data-cell layout version; the
# reference selects sale/auction parsers the same way
# (messages/getgems.py:12-27) and falls back to the latest layout for
# unknown hashes.  These hashes identify PUBLISHED on-chain contract code.
SALE_VERSION_MAPPING = {
    "2pufziLofEllctIDZSWVebzO+RpyA1fMvowFLvyb4I8=": "v1",
    "gnj0xSM95vvtyWmvUZNEp6m//FRIVtuphqlcC8+Fcck=": "v2",
    "MgUN+sRPZIZrzIbyzZ4TBf6dyts5WcACI3z7CQLUQyM=": "v3",
    "3rU7bFdlwebNI4v0e8XoO6WWvcwEsLhM1Qqx5HSgjzE=": "v3r2",
    "JCIfpXHlQuBVx3vt/b9SfHr0YM/cfzRMRQeHtM+h600=": "v3r3",
    "a5WmQYucnSNZBF0edVm41UmuDlBvJMqrWPowyPsf64Y=": "v4r1",
}
SALE_LATEST = "v4r1"

AUCTION_VERSION_MAPPING = {
    "/ACindAgW83MDT/7nKOMw8jBWexg2KpUMkCpLxBZLUA=": "v1",
    "ZmiHL6eXBUQ//UdSPo6eqfdquZ+aC1nSfej4GhwnudQ=": "v2",
    "G9nFo5v/t6DzQViLXdkrgTqEK/Ze8UEJOCIAzq+Pct8=": "v3r2",
    "u29ireD+stefqzuK6/CTCvmFU99gCTsgJ/Covxab/Ow=": "v3r3",
    "zlp4U06qps7tja/UhtB262CpsNbb+1Nnb2YmScBomVY=": "v4r1",
}
AUCTION_LATEST = "v3r3"


def decode_nft_sale_data(raw: bytes | str, version: str = "v3") -> dict:
    """Fix-price sale contract DATA cell → listing fields.

    The reference reads these fields off the sale account's state data to
    populate `getgems_nft_sales`, selecting the layout by code hash
    (messages/getgems.py:64-113 SALE_VERSION_MAPPING).  Supported here:

    v1:
        marketplace:Addr nft:Addr owner:Addr full_price:Coins
        ^[ marketplace_fee:Coins marketplace_fee_addr:Addr
           royalty_addr:Addr royalty_amount:Coins ]

    v2/v3/v3r2/v3r3 (default):
        is_complete:Bool created_at:uint32 marketplace:Addr nft:Addr
        owner:Addr full_price:Coins
        ^[ marketplace_fee_addr:Addr marketplace_fee:Coins
           royalty_addr:Addr royalty_amount:Coins ]

    v4r1 (the reference's "latest" fallback):
        is_complete:Bool marketplace:Addr owner:Addr full_price:Coins
        sold_at:uint32 query_id:uint64
        ^[ marketplace_fee_addr:Addr royalty_addr:Addr
           fee_percent:uint17 royalty_percent:uint17 ]

    Used by the dimension-building seam (sources/tx_ingest.py analog for
    account states); anything undecodable raises BocError for the caller
    to log-and-skip.
    """
    s = parse_boc(raw).begin_parse()
    if version == "v4r1":
        d = {"is_complete": bool(s.load_bit())}
        d["marketplace_address"] = s.load_address()
        d["nft_owner_address"] = s.load_address()
        d["full_price"] = s.load_coins()
        d["sold_at"] = s.load_uint(32)
        s.load_uint(64)  # query_id
        static = s.load_ref().begin_parse()
        d["marketplace_fee_address"] = static.load_address()
        d["royalty_address"] = static.load_address()
        d["fee_percent"] = static.load_uint(17)
        d["royalty_percent"] = static.load_uint(17)
        # the reference leaves the amount columns null for v4r1 and only
        # surfaces the raw percent fields (getgems.py SALE_VERSION_MAPPING)
        # — deriving amounts here would bake in a percent-base assumption
        d["marketplace_fee"] = None
        d["royalty_amount"] = None
        return d
    d = {}
    if version != "v1":
        d["is_complete"] = bool(s.load_bit())
        d["created_at"] = s.load_uint(32)
    d["marketplace_address"] = s.load_address()
    d["nft_address"] = s.load_address()
    d["nft_owner_address"] = s.load_address()
    d["full_price"] = s.load_coins()
    fees = s.load_ref().begin_parse()
    if version == "v1":
        # v1 fee cell leads with the fee amount (getgems.py:105-109)
        d["marketplace_fee"] = fees.load_coins()
        d["marketplace_fee_address"] = fees.load_address()
        d["royalty_address"] = fees.load_address()
        d["royalty_amount"] = fees.load_coins()
    else:
        d["marketplace_fee_address"] = fees.load_address()
        d["marketplace_fee"] = fees.load_coins()
        d["royalty_address"] = fees.load_address()
        d["royalty_amount"] = fees.load_coins()
    return d


def encode_nft_sale_data(
    *,
    is_complete: bool = False,
    created_at: int = 0,
    marketplace_address: str | None = None,
    nft_address: str | None = None,
    nft_owner_address: str | None = None,
    full_price: int = 0,
    marketplace_fee_address: str | None = None,
    marketplace_fee: int = 0,
    royalty_address: str | None = None,
    royalty_amount: int = 0,
) -> str:
    """Fixture encoder for the fix-price sale data layout (base64 BOC)."""
    fees = (
        Builder()
        .store_address(marketplace_fee_address)
        .store_coins(marketplace_fee)
        .store_address(royalty_address)
        .store_coins(royalty_amount)
        .end_cell()
    )
    b = (
        Builder()
        .store_bit(is_complete)
        .store_uint(created_at, 32)
        .store_address(marketplace_address)
        .store_address(nft_address)
        .store_address(nft_owner_address)
        .store_coins(full_price)
        .store_ref(fees)
    )
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def decode_nft_item_data(raw: bytes | str) -> dict:
    """Canonical TEP-62 NFT item DATA cell → dimension fields:
    ``index:uint64 collection:MsgAddress [owner:MsgAddress content:^Cell]``
    (owner/content present once initialized).  Reference analog executes
    ``get_nft_data`` in a TVM (smc-interfaces/Tokens.cpp); direct decode
    covers the canonical item code — gate on code_hash upstream."""
    s = parse_boc(raw).begin_parse()
    d: dict = {"index": s.load_uint(64)}
    d["collection_address"] = s.load_address()
    if s.remaining_bits >= 2:
        d["owner_address"] = s.load_address()
        d["init"] = True
    else:
        d["owner_address"] = None
        d["init"] = False
    return d


def encode_nft_item_data(
    *, index: int = 0, collection: str | None = None,
    owner: str | None = None, init: bool = True,
) -> str:
    """Fixture encoder for the canonical NFT item data layout."""
    b = Builder().store_uint(index, 64).store_address(collection)
    if init:
        b.store_address(owner).store_ref(Builder().end_cell())
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def decode_nft_collection_data(raw: bytes | str) -> dict:
    """Canonical TEP-62 collection DATA cell:
    ``owner:MsgAddress next_item_index:uint64 content:^Cell
    item_code:^Cell royalty:^Cell``.

    Mirrors BOTH collection get-methods the reference TVM-executes for
    dimension bootstrap, with no TVM:

    * ``get_collection_data`` (Tokens.cpp:497-527): next_item_index,
      collection content (= the FIRST ref of the content cell, which the
      standard collection returns and parse_token_data decodes), owner;
    * ``royalty_params`` (TEP-66; Telemint.cpp:129-133): the royalty ref
      is ``numerator:uint16 denominator:uint16 destination:MsgAddress``.

    Collections storing fewer refs than the canonical layout (or an
    undecodable content/royalty cell) surface None for those fields —
    the log-and-skip discipline of the state-dimension builders."""
    s = parse_boc(raw).begin_parse()
    d: dict = {"owner_address": s.load_address()}
    d["next_item_index"] = s.load_uint(64)
    d["collection_content"] = None
    d["royalty_numerator"] = None
    d["royalty_denominator"] = None
    d["royalty_destination"] = None
    try:
        content = s.load_ref()  # ^[ collection_content, common_content ]
        s.load_ref()  # item code — hash only matters, never decoded
        royalty = s.load_ref().begin_parse()
        cs = content.begin_parse()
        if cs.remaining_refs >= 1:
            raw_cc = serialize_boc(cs.load_ref())
            d["collection_content"] = parse_token_data(raw_cc)
            # the raw cell too — runGetMethod returns it as a "cell"
            # stack entry (Tokens.cpp stack slot 1)
            d["collection_content_boc"] = (
                base64.b64encode(raw_cc).decode("ascii")
            )
        d["royalty_numerator"] = royalty.load_uint(16)
        d["royalty_denominator"] = royalty.load_uint(16)
        d["royalty_destination"] = royalty.load_address()
    except BocError:
        pass
    return d


def encode_nft_collection_data(
    *,
    owner: str | None = None,
    next_item_index: int = 0,
    content_uri: str | None = None,
    royalty: tuple[int, int, str | None] | None = None,
) -> str:
    """Fixture encoder for the canonical collection data layout.
    ``content_uri`` builds an offchain TEP-64 collection-content ref;
    ``royalty`` is (numerator, denominator, destination)."""
    empty = Builder().end_cell()
    if content_uri is not None:
        cc = (Builder().store_uint(0x01, 8)
              .store_snake_string(content_uri).end_cell())
        content = Builder().store_ref(cc).store_ref(empty).end_cell()
    else:
        content = empty
    if royalty is not None:
        num, den, dest = royalty
        roy = (Builder().store_uint(num, 16).store_uint(den, 16)
               .store_address(dest).end_cell())
    else:
        roy = empty
    b = (
        Builder().store_address(owner).store_uint(next_item_index, 64)
        .store_ref(content).store_ref(empty).store_ref(roy)
    )
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def decode_jetton_master_data(raw: bytes | str) -> dict:
    """Canonical TEP-74 minter DATA cell:
    ``total_supply:Coins admin:MsgAddress content:^Cell wallet_code:^Cell``
    (reference executes ``get_jetton_data``; direct decode covers the
    canonical minter code)."""
    s = parse_boc(raw).begin_parse()
    d: dict = {"total_supply": s.load_coins()}
    d["admin_address"] = s.load_address()
    return d


def encode_jetton_master_data(
    *, total_supply: int = 0, admin: str | None = None
) -> str:
    """Fixture encoder for the canonical jetton-minter data layout."""
    empty = Builder().end_cell()
    b = (
        Builder().store_coins(total_supply).store_address(admin)
        .store_ref(empty).store_ref(empty)
    )
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def decode_jetton_wallet_data(raw: bytes | str) -> dict:
    """Standard jetton-wallet DATA cell → dimension fields.

    The canonical TEP-74 wallet stores
    ``balance:Coins owner:MsgAddress jetton_master:MsgAddress
    jetton_wallet_code:^Cell``; the reference obtains the same triple by
    executing ``get_wallet_data`` in a TVM (tondb-scanner
    smc-interfaces/Tokens.cpp:43-57) — direct data-cell decode is the
    no-TVM equivalent for wallets on the canonical code (callers should
    gate on code_hash; non-standard wallets raise and are logged-skipped).
    """
    s = parse_boc(raw).begin_parse()
    d: dict = {"balance": s.load_coins()}
    d["owner"] = s.load_address()
    d["jetton"] = s.load_address()
    return d


def encode_jetton_wallet_data(
    *, balance: int = 0, owner: str | None = None, jetton: str | None = None
) -> str:
    """Fixture encoder for the standard jetton-wallet data layout."""
    code = Builder().end_cell()
    b = (
        Builder()
        .store_coins(balance)
        .store_address(owner)
        .store_address(jetton)
        .store_ref(code)
    )
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def decode_message_body(b64: str) -> dict:
    """base64 BOC → payload dict; {} on anything undecodable."""
    try:
        return decode_body_cell(parse_boc(b64))
    except Exception:
        return {}


# ------------------------------------------------------------- test fixtures


def encode_comment(comment: str) -> str:
    cell = Builder().store_uint(OP_TEXT_COMMENT, 32).store_snake_string(
        comment
    ).end_cell()
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_jetton_transfer(
    query_id: int,
    amount: int,
    destination: str | None,
    response: str | None = None,
    forward_ton_amount: int = 0,
    forward_comment: str | None = None,
    forward_payload: str | None = None,
) -> str:
    b = (
        Builder()
        .store_uint(OP_JETTON_TRANSFER, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
        .store_address(destination)
        .store_address(response)
        .store_bit(0)  # no custom_payload
        .store_coins(forward_ton_amount)
    )
    if forward_comment is not None:
        inner = (
            Builder()
            .store_uint(OP_TEXT_COMMENT, 32)
            .store_snake_string(forward_comment)
            .end_cell()
        )
        b.store_bit(1).store_ref(inner)
    elif forward_payload is not None:
        # raw Either-right payload ref (b64 BOC of the payload cell) —
        # protocol entries like the JVault stake period ride here
        b.store_bit(1).store_ref(parse_boc(forward_payload))
    else:
        b.store_bit(0)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_jetton_internal(
    query_id: int, amount: int, from_owner: str | None,
    response: str | None = None, forward_ton_amount: int = 0,
) -> str:
    cell = (
        Builder()
        .store_uint(OP_JETTON_INTERNAL, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
        .store_address(from_owner)
        .store_address(response)
        .store_coins(forward_ton_amount)
        .store_bit(0)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_jetton_burn(
    query_id: int, amount: int, response: str | None = None
) -> str:
    cell = (
        Builder()
        .store_uint(OP_JETTON_BURN, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
        .store_address(response)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_change_dns(
    query_id: int, key: bytes, value_address: str | None = None,
    schema: int = 0xBA93,
) -> str:
    b = (
        Builder()
        .store_uint(OP_CHANGE_DNS, 32)
        .store_uint(query_id, 64)
        .store_bytes(key)
    )
    if value_address is not None:
        inner = (
            Builder().store_uint(schema, 16).store_address(value_address)
            .end_cell()
        )
        b.store_ref(inner)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_dedust_swap(
    query_id: int, amount: int, pool: str | None, limit: int = 0,
) -> str:
    params = Builder().end_cell()
    cell = (
        Builder()
        .store_uint(OP_DEDUST_SWAP_ENTRY, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
        .store_address(pool)
        .store_bit(0)
        .store_coins(limit)
        .store_bit(0)  # no next step
        .store_ref(params)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_dedust_swap_notification(
    asset_in: str, asset_out: str, amount_in: int, amount_out: int,
    sender: str,
) -> str:
    """Fixture-side inverse of the OP_DEDUST_SWAP_NOTIFICATION decoder:
    swap#9c610de3 asset_in:Asset asset_out:Asset amount_in:Coins
    amount_out:Coins ^[sender:MsgAddressInt ...] (messages/swaps.py:81-94).
    Assets use the "TON"/raw-address convention of store_dedust_asset."""
    ref = Builder().store_address(sender).end_cell()
    b = Builder().store_uint(OP_DEDUST_SWAP_NOTIFICATION, 32)
    store_dedust_asset(b, asset_in)
    store_dedust_asset(b, asset_out)
    cell = (
        b.store_coins(amount_in)
        .store_coins(amount_out)
        .store_ref(ref)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_dedust_payout(
    query_id: int, amount: int, op: int = OP_DEDUST_PAYOUT,
) -> str:
    """payout#474f86cf / payout_from_pool#ad4eb6f5 query_id:uint64
    proof:^Cell amount:Coins (messages/swaps.py:97-110) — the pool →
    vault and vault → user payout legs share the layout."""
    cell = (
        Builder()
        .store_uint(op, 32)
        .store_uint(query_id, 64)
        .store_ref(Builder().end_cell())
        .store_coins(amount)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tonstakers_deposit(query_id: int) -> str:
    """deposit#47d54391 query_id:uint64 (messages/staking.py:18-19)."""
    cell = (
        Builder().store_uint(OP_TONSTAKERS_DEPOSIT, 32)
        .store_uint(query_id, 64).end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tonstakers_withdraw_request(query_id: int, amount: int) -> str:
    """burn-notify → pool withdraw request: op 0x319b0cdc query_id:uint64
    amount:Coins (messages/staking.py:21-23)."""
    cell = (
        Builder().store_uint(OP_TONSTAKERS_WITHDRAW, 32)
        .store_uint(query_id, 64).store_coins(amount).end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_nft_transfer(
    query_id: int, new_owner: str | None, response: str | None = None,
    forward_amount: int = 0,
) -> str:
    cell = (
        Builder()
        .store_uint(OP_NFT_TRANSFER, 32)
        .store_uint(query_id, 64)
        .store_address(new_owner)
        .store_address(response)
        .store_bit(0)
        .store_coins(forward_amount)
        .store_bit(0)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_jetton_notify(
    query_id: int, amount: int, sender: str | None,
    forward_payload: "Cell | None" = None,
) -> str:
    """transfer_notification#7362d09c (TEP-74) — payload inline-empty
    unless given (Either arm bit 0/1, mirroring _forward_payload)."""
    b = (
        Builder()
        .store_uint(OP_JETTON_NOTIFY, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
        .store_address(sender)
    )
    if forward_payload is not None:
        b.store_bit(1).store_ref(forward_payload)
    else:
        b.store_bit(0)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_excesses(query_id: int) -> str:
    """excesses#d53276db query_id:uint64 (TEP-74)."""
    cell = (
        Builder().store_uint(0xD53276DB, 32).store_uint(query_id, 64)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_nft_ownership_assigned(
    query_id: int, prev_owner: str | None,
) -> str:
    """ownership_assigned#05138d91 (TEP-62), inline-empty payload."""
    cell = (
        Builder()
        .store_uint(OP_NFT_OWNERSHIP, 32)
        .store_uint(query_id, 64)
        .store_address(prev_owner)
        .store_bit(0)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_stonfi_swap(
    query_id: int, user: str | None, token_wallet: str | None,
    amount: int, min_out: int, from_real_user: str | None = None,
    ref_address: str | None = None,
) -> str:
    """swap#25938561 (ston.fi v1, messages/swaps.py:8-24): router → pool
    entry; the ref cell carries the actual sender (+ referral)."""
    inner = Builder().store_address(from_real_user)
    if ref_address is not None:
        inner.store_address(ref_address)
    cell = (
        Builder()
        .store_uint(OP_STONFI_SWAP, 32)
        .store_uint(query_id, 64)
        .store_address(user)
        .store_address(token_wallet)
        .store_coins(amount)
        .store_coins(min_out)
        .store_bit(1 if ref_address is not None else 0)
        .store_ref(inner.end_cell())
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_stonfi_payment_request(
    query_id: int, owner: str | None, exit_code: int,
    amount0_out: int, token0_out: str | None,
    amount1_out: int, token1_out: str | None,
) -> str:
    """payment_request#f93bb43f (messages/swaps.py:26-44): pool → router
    payout order."""
    ref = (
        Builder()
        .store_coins(amount0_out)
        .store_address(token0_out)
        .store_coins(amount1_out)
        .store_address(token1_out)
        .end_cell()
    )
    cell = (
        Builder()
        .store_uint(OP_STONFI_PAYMENT_REQ, 32)
        .store_uint(query_id, 64)
        .store_address(owner)
        .store_uint(exit_code, 32)
        .store_ref(ref)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_stonfi_v2_pay_to(
    query_id: int, to_address: str | None, excesses_address: str | None,
    original_caller: str | None, exit_code: int, fwd_ton_amount: int,
    amount0_out: int, token0_address: str | None,
    amount1_out: int, token1_address: str | None,
) -> str:
    """pay_to#657b54f5 (ston.fi v2 router payout, messages/swaps.py:64-78):
    pool → router; the ref cell carries the payout legs.  Layout mirrors
    the dual-use decoder's pay_to branch (this module, OP_STONFI_V2_PAYOUT
    above): addresses + exit_code + Maybe custom_payload in the root,
    [fwd_ton, amount0, token0, amount1, token1] in the ref."""
    ref = (
        Builder()
        .store_coins(fwd_ton_amount)
        .store_coins(amount0_out)
        .store_address(token0_address)
        .store_coins(amount1_out)
        .store_address(token1_address)
        .end_cell()
    )
    cell = (
        Builder()
        .store_uint(OP_STONFI_V2_PAYOUT, 32)
        .store_uint(query_id, 64)
        .store_address(to_address)
        .store_address(excesses_address)
        .store_address(original_caller)
        .store_uint(exit_code, 32)
        .store_bit(0)  # custom_payload: Maybe ^Cell, absent
        .store_ref(ref)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def _hashmap_cell(keys: list[int], n: int) -> Cell:
    """Unit-valued Hashmap(n) over integer keys (TL-B hml_long labels
    throughout) — the write-side mirror of ``_hashmap_keys`` above."""
    keys = sorted(set(keys))
    if len(keys) == 1:
        l, bits = n, keys[0]
    else:
        l = 0
        while l < n:
            if len({(k >> (n - l - 1)) & 1 for k in keys}) > 1:
                break
            l += 1
        bits = keys[0] >> (n - l) if l else 0
    b = Builder().store_bit(1).store_bit(0)  # hml_long$10
    b.store_uint(l, n.bit_length())
    if l:
        b.store_uint(bits, l)
    m = n - l
    if m == 0:
        return b.end_cell()  # unit value: no bits
    mask = (1 << (m - 1)) - 1
    rem = [k & ((1 << m) - 1) for k in keys]
    left = [k & mask for k in rem if not (k >> (m - 1))]
    right = [k & mask for k in rem if k >> (m - 1)]
    b.store_ref(_hashmap_cell(left, m - 1))
    b.store_ref(_hashmap_cell(right, m - 1))
    return b.end_cell()


def encode_address_hashmap(addresses: list[str]) -> Cell | None:
    """HashmapE(267, Unit) root over MsgAddressStd keys (addr_std$10
    prefix + workchain + hash), the JVault whitelist/claim-dict shape
    (messages/jvault.py:6-12).  Returns None for the empty dict."""
    if not addresses:
        return None
    keys = []
    for a in addresses:
        wc_s, h = a.split(":")
        wc = int(wc_s) & 0xFF
        keys.append((0b100 << 264) | (wc << 256) | int(h, 16))
    return _hashmap_cell(keys, 267)


def encode_jvault_receive(
    query_id: int, received_jettons: int, min_deposit: int = 1,
    max_deposit: int = 10**15, unstake_commission: int = 0,
    unstake_fee: int = 0,
) -> str:
    """receive_jettons#d68a4ac1 (messages/jvault.py:15-46): pool → stake
    wallet deposit registration; received_jettons trails the whitelist."""
    cell = (
        Builder()
        .store_uint(OP_JVAULT_RECEIVE, 32)
        .store_uint(query_id, 64)
        .store_coins(min_deposit)
        .store_coins(max_deposit)
        .store_uint(unstake_commission, 16)
        .store_coins(unstake_fee)
        .store_bit(0)  # whitelist: empty HashmapE
        .store_coins(received_jettons)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_jvault_unstake(
    query_id: int, amount: int, force_unstake: bool = False,
    request_only: bool = False,
) -> str:
    """unstake_jettons#499a9262 / unstake_request#0168d4b7
    (messages/jvault.py:48-79)."""
    b = (
        Builder()
        .store_uint(OP_JVAULT_UNSTAKE_REQ if request_only
                    else OP_JVAULT_UNSTAKE, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
    )
    if not request_only:
        b.store_bit(1 if force_unstake else 0)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_jvault_claim(query_id: int, jettons: list[str]) -> str:
    """claim_rewards#78d9f109 query_id:uint64
    jettons_to_claim:(HashmapE 267 Bit) (messages/jvault.py:81-97)."""
    b = (
        Builder()
        .store_uint(OP_JVAULT_CLAIM, 32)
        .store_uint(query_id, 64)
    )
    dict_root = encode_address_hashmap(jettons)
    if dict_root is None:
        b.store_bit(0)
    else:
        b.store_bit(1).store_ref(dict_root)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_lz_packet(
    src_eid: int, src_oapp: int, dst_eid: int, dst_oapp: int,
    nonce: int, guid: int, message: bytes = b"\xde\xad",
) -> Cell:
    """lz::Packet cell (messages/layerzero.py:149-207): header + filler
    prefix, path ref (eid/oapp route), message ref, nonce + guid — the
    write-side mirror of ``_lz_packet_fields``."""
    ones = (1 << _LZ_CELL_FILLER_BITS) - 1
    path = (
        Builder()
        .store_uint(_LZ_PATH_HEADER, _LZ_CELL_HEADER_BITS)
        .store_uint(ones, _LZ_CELL_FILLER_BITS)
        .store_uint(src_eid, 32).store_uint(src_oapp, 256)
        .store_uint(dst_eid, 32).store_uint(dst_oapp, 256)
        .end_cell()
    )
    msg = Builder().store_bytes(message).end_cell()
    return (
        Builder()
        .store_uint(_LZ_PACKET_HEADER, _LZ_CELL_HEADER_BITS)
        .store_uint(ones, _LZ_CELL_FILLER_BITS)
        .store_ref(path)
        .store_ref(msg)
        .store_uint(nonce, 64)
        .store_uint(guid, 256)
        .end_cell()
    )


def encode_lz_send_callback(
    send_request_id: int, msglib_manager: int, msglib: int,
    packet: Cell, native_fee: int, zro_fee: int,
) -> str:
    """Layerzero::CHANNEL_SEND_CALLBACK body (messages/layerzero.py:
    86-117): the lzSend metadata rides at refs[0].refs[0].refs[0] —
    name:uint80 'lzSend', header+filler, request id, msglib manager +
    address, the packet ref, extra options, and the fee cell."""
    fees = (
        Builder()
        .store_uint(1, 256)  # msglib_connection
        .store_uint(native_fee, 128).store_uint(zro_fee, 128)
        .end_cell()
    )
    lz = (
        Builder()
        .store_uint(_LZ_MD_NAME, 80)
        .store_uint(_LZ_SEND_HEADER, _LZ_SEND_HEADER_BITS)
        .store_uint((1 << _LZ_SEND_FILLER_BITS) - 1, _LZ_SEND_FILLER_BITS)
        .store_uint(send_request_id, 64)
        .store_uint(msglib_manager, 256)
        .store_uint(msglib, 256)
        .store_ref(packet)
        .store_ref(Builder().end_cell())  # extra_options
        .store_ref(fees)
        .end_cell()
    )
    md_obj = Builder().store_ref(lz).end_cell()
    body = (
        Builder()
        .store_uint(0xA2B5FBAE, 32)  # Layerzero::CHANNEL_SEND_CALLBACK
        .store_uint(0, 64)
        .store_ref(Builder().store_ref(md_obj).end_cell())
        .end_cell()
    )
    return base64.b64encode(serialize_boc(body)).decode()


def encode_lz_packet_envelope(op: int, packet: Cell) -> str:
    """Channel commit / execute body: the packet cell rides at
    refs[0].refs[0] (messages/layerzero.py:383-391, 1377-1383)."""
    body = (
        Builder()
        .store_uint(op, 32)
        .store_uint(0, 64)
        .store_ref(Builder().store_ref(packet).end_cell())
        .end_cell()
    )
    return base64.b64encode(serialize_boc(body)).decode()


def encode_tgbtc_mint_event(
    amount: int, recipient: str | None, bitcoin_txid_le_hex: str,
) -> str:
    """mint#77a80ef3 event log (messages/tgbtc.py:9-27): the txid is
    stored big-endian on chain and rendered little-endian by the
    reference — the argument here is the little-endian display hex."""
    cell = (
        Builder()
        .store_uint(OP_TGBTC_MINT_EVENT, 32)
        .store_coins(amount)
        .store_address(recipient)
        .store_uint(int.from_bytes(bytes.fromhex(bitcoin_txid_le_hex),
                                   "little"), 256)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tgbtc_burn_event(
    amount: int, sender: str | None, pegout: str | None,
) -> str:
    """burn#ca444ce6 event log (messages/tgbtc.py:29-58)."""
    cell = (
        Builder()
        .store_uint(OP_TGBTC_BURN_EVENT, 32)
        .store_coins(amount)
        .store_address(sender)
        .store_address(pegout)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tgbtc_new_key_event(
    amount: int, new_internal_pubkey: int, pegout: str | None,
) -> str:
    """new_key#27756729 event log (messages/tgbtc.py:60-74)."""
    cell = (
        Builder()
        .store_uint(OP_TGBTC_NEW_KEY_EVENT, 32)
        .store_coins(amount)
        .store_uint(new_internal_pubkey, 256)
        .store_address(pegout)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tgbtc_dkg_event(timestamp: int, internal_pubkey: int) -> str:
    """dkg_completed#453443a6 event log (messages/tgbtc.py:76-86)."""
    cell = (
        Builder()
        .store_uint(OP_TGBTC_DKG_EVENT, 32)
        .store_uint(timestamp, 64)
        .store_uint(internal_pubkey, 256)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tonco_pay_to(
    query_id: int, receiver0: str | None, receiver1: str | None,
    exit_code: int, amount0: int | None = None,
    jetton0: str | None = None, amount1: int | None = None,
    jetton1: str | None = None, seqno: int = 0,
) -> str:
    """ROUTERV3_PAY_TO#a1daa96d (messages/swaps.py:307-366): pool →
    router payout order with the Maybe coinsinfo ref."""
    b = (
        Builder()
        .store_uint(OP_TONCO_PAY_TO, 32)
        .store_uint(query_id, 64)
        .store_address(receiver0)
        .store_address(receiver1)
        .store_uint(exit_code, 32)
        .store_uint(seqno, 64)
    )
    if amount0 is None and amount1 is None:
        b.store_bit(0)
    else:
        coins = (
            Builder()
            .store_coins(amount0 or 0)
            .store_address(jetton0)
            .store_coins(amount1 or 0)
            .store_address(jetton1)
            .end_cell()
        )
        b.store_bit(1).store_ref(coins)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_tonco_swap_payload(
    steps: "list[tuple[str, int, str | None]]",
) -> Cell:
    """Tonco POOLV3_SWAP multicall payload cell — (target router jetton
    wallet, min_out, recipient) per hop, chained through Maybe refs
    (messages/swaps.py:245-299); the read-side mirror is
    ``decode_tonco_swap_payload``."""
    cell = None
    for wallet, min_out, recipient in reversed(steps):
        b = (
            Builder()
            .store_uint(OP_TONCO_SWAP, 32)
            .store_address(wallet)
            .store_uint(0, 160)  # price_limit_sqrt
            .store_coins(min_out)
            .store_address(recipient)
        )
        if cell is None:
            b.store_bit(0)
        else:
            b.store_bit(1).store_ref(cell)
        cell = b.end_cell()
    return cell


def encode_cocoon_payout_payload(
    query_id: int, new_tokens: int, expected_address: str | None,
    last: bool = False,
) -> str:
    """Cocoon [Last]PayoutPayload (messages/cocoon.py): proxy → worker
    settlement order; 0xf5f26a36 is the channel-closing variant."""
    cell = (
        Builder()
        .store_uint(0xF5F26A36 if last else 0xA040AD28, 32)
        .store_uint(query_id, 64)
        .store_uint(new_tokens, 64)
        .store_address(expected_address)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_cocoon_worker_request(
    query_id: int, owner_address: str | None, state: int, tokens: int,
) -> str:
    """Cocoon WorkerProxyRequest#4d725d2c (messages/cocoon.py)."""
    cell = (
        Builder()
        .store_uint(0x4D725D2C, 32)
        .store_uint(query_id, 64)
        .store_address(owner_address)
        .store_uint(state, 2)
        .store_uint(tokens, 64)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_cocoon_client_topup(
    query_id: int, amount: int, send_excesses_to: str | None,
) -> str:
    """Cocoon ExtClientTopUp#f172e6c2 (messages/cocoon.py)."""
    cell = (
        Builder()
        .store_uint(0xF172E6C2, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
        .store_address(send_excesses_to)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_cocoon_client_register(
    query_id: int, nonce: int, send_excesses_to: str | None,
) -> str:
    """Cocoon OwnerClientRegister#c45f9f3b (messages/cocoon.py)."""
    cell = (
        Builder()
        .store_uint(0xC45F9F3B, 32)
        .store_uint(query_id, 64)
        .store_uint(nonce, 64)
        .store_address(send_excesses_to)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_dedust_deposit_ton(
    query_id: int, amount: int, asset0: str, asset1: str,
    min_lp: int, asset0_target: int, asset1_target: int,
    stable: bool = False,
) -> str:
    """dedust_deposit_liquidity#d55e4686 (messages/liquidity.py:17-37):
    TON straight into the vault, pool params inline, deposit params in
    the ref.  Assets use the DeDust Asset coding ('TON' or 'wc:hex')."""
    params = (
        Builder()
        .store_coins(min_lp)
        .store_coins(asset0_target)
        .store_coins(asset1_target)
        .end_cell()
    )
    b = (
        Builder()
        .store_uint(OP_DEDUST_DEPOSIT_TON, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
        .store_bit(1 if stable else 0)
    )
    store_dedust_asset(b, asset0)
    store_dedust_asset(b, asset1)
    b.store_ref(params)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_dedust_deposit_to_pool(
    query_id: int, owner: str | None, min_lp: int,
    asset1: str, amount1: int, asset2: str, amount2: int,
) -> str:
    """deposit_liquidity#b56b9598 (messages/liquidity.py:73-88):
    deposit contract → pool, the asset pair in the ref cell."""
    pair = Builder()
    store_dedust_asset(pair, asset1)
    pair.store_coins(amount1)
    store_dedust_asset(pair, asset2)
    pair.store_coins(amount2)
    cell = (
        Builder()
        .store_uint(OP_DEDUST_DEPOSIT_TO_POOL, 32)
        .store_uint(query_id, 64)
        .store_ref(Builder().end_cell())  # proof
        .store_address(owner)
        .store_coins(min_lp)
        .store_ref(pair.end_cell())
        .store_bit(0)  # fulfill: Maybe ^Cell, absent
        .store_bit(0)  # reject: Maybe ^Cell, absent
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_coffee_staking_deposit(
    query_id: int, sender: str | None, jetton_amount: int,
    from_user: str | None, period_id: int,
) -> str:
    """staking_deposit#f9471134 (messages/coffee.py:1039)."""
    cell = (
        Builder()
        .store_uint(OP_COFFEE_STK_DEPOSIT, 32)
        .store_uint(query_id, 64)
        .store_address(sender)
        .store_coins(jetton_amount)
        .store_address(from_user)
        .store_uint(period_id, 32)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_coffee_staking_claim(
    query_id: int, jetton_wallet: str | None, jetton_amount: int,
    receiver: str | None,
) -> str:
    """staking_claim_rewards#b30c7310 (messages/coffee.py:1075)."""
    cell = (
        Builder()
        .store_uint(OP_COFFEE_STK_CLAIM, 32)
        .store_uint(query_id, 64)
        .store_address(jetton_wallet)
        .store_coins(jetton_amount)
        .store_address(receiver)
        .store_bit(0)  # payload: Maybe ^Cell, absent
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_coffee_staking_withdraw(
    query_id: int, *, nft_id: int | None = None, owner: str | None = None,
    points: int | None = None, jetton_wallet: str | None = None,
    jetton_amount: int | None = None,
) -> str:
    """staking_position_withdraw#cb03bfaf in its three hop shapes
    (messages/coffee.py:1096-1144): w1 bare query_id; w2 adds
    nft_id/owner/points + the ^[wallet amount] ref; w3 carries
    jetton_wallet/jetton_amount/owner inline."""
    b = (
        Builder()
        .store_uint(OP_COFFEE_STK_WITHDRAW, 32)
        .store_uint(query_id, 64)
    )
    if nft_id is not None:  # w2
        b.store_uint(nft_id, 64)
        b.store_address(owner)
        b.store_coins(points or 0)
        b.store_ref(
            Builder()
            .store_address(jetton_wallet)
            .store_coins(jetton_amount or 0)
            .end_cell()
        )
    elif jetton_wallet is not None:  # w3
        b.store_address(jetton_wallet)
        b.store_coins(jetton_amount or 0)
        b.store_address(owner)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_evaa_liquidate_master(
    query_id: int, borrower: str | None, liquidator: str | None,
    asset_id: int, min_collateral: int, debt_amount: int,
) -> str:
    """liquidate_master#3 (messages/evaa.py:258-283): the liquidator's
    entry at the master; liquidate_incoming_amount is the repaid debt."""
    cell = (
        Builder()
        .store_uint(OP_EVAA_LIQUIDATE_MASTER, 32)
        .store_uint(query_id, 64)
        .store_address(borrower)
        .store_address(liquidator)
        .store_uint(asset_id, 256)
        .store_uint(min_collateral, 64)
        .store_int(0, 2)  # include_user_code
        .store_uint(debt_amount, 64)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_ethena_tsusde_transfer(
    query_id: int, amount: int, from_owner: str | None,
) -> str:
    """Ethena timelocked tsUSDe leg (0xb2583ed5): jetton
    internal-transfer layout under the custom op
    (ethena_staking.py:64,92)."""
    cell = (
        Builder()
        .store_uint(OP_ETHENA_TSUSDE_TRANSFER, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
        .store_address(from_owner)
        .store_address(from_owner)
        .store_coins(0)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tonco_fund_payload(
    other_jetton_wallet: str | None, amount0: int, amount1: int,
) -> Cell:
    """Tonco POOLV3_FUND_ACCOUNT forward payload (messages/liquidity.py:
    257-287) — rides inside the jetton notify during provision; the
    read-side mirror is ``decode_tonco_fund_payload``."""
    return (
        Builder()
        .store_uint(OP_TONCO_FUND_ACCOUNT, 32)
        .store_address(other_jetton_wallet)
        .store_coins(amount0)
        .store_coins(amount1)
        .end_cell()
    )


def encode_tonco_add_liquidity(
    query_id: int, new_amount0: int, new_amount1: int,
    new_enough0: int, new_enough1: int, liquidity: int,
    tick_lower: int, tick_upper: int,
) -> str:
    """ACCOUNTV3_ADD_LIQUIDITY#3ebe5431 (messages/liquidity.py:465-492)."""
    cell = (
        Builder()
        .store_uint(OP_TONCO_ADD_LIQUIDITY, 32)
        .store_uint(query_id, 64)
        .store_coins(new_amount0)
        .store_coins(new_amount1)
        .store_coins(new_enough0)
        .store_coins(new_enough1)
        .store_uint(liquidity, 128)
        .store_int(tick_lower, 24)
        .store_int(tick_upper, 24)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tonco_position_init(
    query_id: int, user: str | None, liquidity: int,
    tick_lower: int, tick_upper: int, nft_index: int,
    jetton0_amount: int, jetton1_amount: int,
) -> str:
    """POSITIONNFTV3_POSITION_INIT#d5ecca2a (messages/liquidity.py:
    391-429) with the fee/index ref cell."""
    fees = (
        Builder()
        .store_uint(0, 256)
        .store_uint(0, 256)
        .store_uint(nft_index, 64)
        .store_coins(jetton0_amount)
        .store_coins(jetton1_amount)
        .store_int(0, 24)  # tick
        .end_cell()
    )
    cell = (
        Builder()
        .store_uint(OP_TONCO_POSITION_INIT, 32)
        .store_uint(query_id, 64)
        .store_address(user)
        .store_uint(liquidity, 128)
        .store_int(tick_lower, 24)
        .store_int(tick_upper, 24)
        .store_ref(fees)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tonco_start_burn(
    query_id: int, nft_index: int, liquidity: int,
    tick_lower: int, tick_upper: int,
) -> str:
    """POOLV3_START_BURN#530b5f2c (messages/liquidity.py:165-184)."""
    cell = (
        Builder()
        .store_uint(OP_TONCO_START_BURN, 32)
        .store_uint(query_id, 64)
        .store_uint(nft_index, 64)
        .store_uint(liquidity, 128)
        .store_int(tick_lower, 24)
        .store_int(tick_upper, 24)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tonco_position_burn(
    query_id: int, nft_owner: str | None, liquidity: int,
    tick_lower: int, tick_upper: int,
) -> str:
    """POSITIONNFTV3_POSITION_BURN#46ca335a (messages/liquidity.py:
    432-462)."""
    cell = (
        Builder()
        .store_uint(OP_TONCO_POSITION_BURN, 32)
        .store_uint(query_id, 64)
        .store_address(nft_owner)
        .store_uint(liquidity, 128)
        .store_int(tick_lower, 24)
        .store_int(tick_upper, 24)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tonco_pool_burn(
    query_id: int, recipient: str | None, burned_index: int,
    liquidity: int, tick_lower: int, tick_upper: int,
) -> str:
    """POOLV3_BURN#d73ac09d (messages/liquidity.py:187-224)."""
    cell = (
        Builder()
        .store_uint(OP_TONCO_POOL_BURN, 32)
        .store_uint(query_id, 64)
        .store_address(recipient)
        .store_uint(burned_index, 64)
        .store_uint(liquidity, 128)
        .store_int(tick_lower, 24)
        .store_int(tick_upper, 24)
        .store_uint(liquidity, 128)  # liquidity_to_burn
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_coffee_depository_request(
    query_id: int, amount: int, recipient: str | None,
    first: str, second: str,
) -> str:
    """swap.coffee create-liquidity-depository request#c0ffee27
    (messages/coffee.py:803-821): amount inline, recipient in the params
    ref, the pool's asset pair in the pool ref."""
    params = Builder().store_address(recipient).end_cell()
    pool = Builder()
    store_coffee_asset(pool, first)
    store_coffee_asset(pool, second)
    cell = (
        Builder()
        .store_uint(0xC0FFEE27, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
        .store_ref(params)
        .store_ref(pool.end_cell())
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_coffee_deposit_event(
    query_id: int, amount1: int, amount2: int, lp_amount: int,
) -> str:
    """deposit_liquidity_successful_event#c0ffee33
    (messages/coffee.py:520-539)."""
    cell = (
        Builder()
        .store_uint(0xC0FFEE33, 32)
        .store_uint(query_id, 64)
        .store_coins(amount1)
        .store_coins(amount2)
        .store_coins(lp_amount)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_coffee_withdraw_deposit(query_id: int) -> str:
    """withdraw_deposit#c0ffee07 (messages/coffee.py:584-594)."""
    cell = (
        Builder()
        .store_uint(OP_COFFEE_WITHDRAW, 32)
        .store_uint(query_id, 64)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_vesting_send_message(
    query_id: int, destination: str | None, value: int,
    send_mode: int = 3, src: str | None = None,
) -> str:
    """send_message#a7733acd (messages/vesting.py:10-28): the inner
    message rides as a ref whose int_msg_info header carries the
    forwarded destination and value."""
    inner = (
        Builder()
        .store_bit(0)        # int_msg_info$0
        .store_uint(0, 3)    # ihr_disabled/bounce/bounced
        .store_address(src)
        .store_address(destination)
        .store_coins(value)
        .end_cell()
    )
    cell = (
        Builder()
        .store_uint(OP_VESTING_SEND, 32)
        .store_uint(query_id, 64)
        .store_uint(send_mode, 8)
        .store_ref(inner)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_vesting_add_whitelist(
    query_id: int, addresses: list[str],
) -> str:
    """add_whitelist#7258a69b (messages/vesting.py:31-45): first address
    inline, the rest chained through refs."""
    cell = None
    for a in reversed(addresses[1:]):
        b = Builder().store_address(a)
        if cell is not None:
            b.store_ref(cell)
        cell = b.end_cell()
    b = (
        Builder()
        .store_uint(OP_VESTING_ADD_WL, 32)
        .store_uint(query_id, 64)
        .store_address(addresses[0] if addresses else None)
    )
    if cell is not None:
        b.store_ref(cell)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_pton_transfer(
    query_id: int, ton_amount: int, refund: str | None = None,
    comment: str | None = None,
) -> str:
    """pTON ton_transfer#01f3835d (messages/swaps.py:50-60): proxy-TON
    wrap of a plain value move; an optional text comment rides in the
    Either-right forward payload."""
    b = (
        Builder()
        .store_uint(OP_PTON_TRANSFER, 32)
        .store_uint(query_id, 64)
        .store_coins(ton_amount)
        .store_address(refund)
    )
    if comment is not None:
        inner = (
            Builder()
            .store_uint(OP_TEXT_COMMENT, 32)
            .store_snake_string(comment)
            .end_cell()
        )
        b.store_bit(1).store_ref(inner)
    else:
        b.store_bit(0)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_tonco_create_pool(
    query_id: int, jetton_wallet0: str | None, jetton_wallet1: str | None,
    tick_spacing: int, initial_price_x96: int, protocol_fee: int,
    lp_fee_base: int, lp_fee_current: int,
    jetton0_minter: str | None = None, jetton1_minter: str | None = None,
) -> str:
    """ROUTERV3_CREATE_POOL#2e3034ef (messages/liquidity.py:346-388)."""
    minters = (
        Builder()
        .store_address(jetton0_minter)
        .store_address(jetton1_minter)
        .end_cell()
    )
    cell = (
        Builder()
        .store_uint(OP_TONCO_CREATE_POOL, 32)
        .store_uint(query_id, 64)
        .store_address(jetton_wallet0)
        .store_address(jetton_wallet1)
        .store_int(tick_spacing, 24)
        .store_uint(initial_price_x96, 160)
        .store_uint(protocol_fee, 16)
        .store_uint(lp_fee_base, 16)
        .store_uint(lp_fee_current, 16)
        .store_ref(Builder().end_cell())  # nftv3_content
        .store_ref(Builder().end_cell())  # nftv3item_content
        .store_ref(minters)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_tonco_pool_init(
    query_id: int, tick_spacing: int, initial_price_x96: int,
    pool_active: bool = True, protocol_fee: int = 0,
    lp_fee_base: int = 0, lp_fee_current: int = 0,
) -> str:
    """POOLV3_INIT#441c39ed (messages/liquidity.py:289-344)."""
    cell = (
        Builder()
        .store_uint(OP_TONCO_POOL_INIT, 32)
        .store_uint(query_id, 64)
        .store_bit(0)   # from_admin
        .store_bit(0)   # has_admin
        .store_address(None)
        .store_bit(0)   # has_controller
        .store_address(None)
        .store_bit(1)   # set_spacing
        .store_int(tick_spacing, 24)
        .store_bit(1)   # set_price
        .store_uint(initial_price_x96, 160)
        .store_bit(1)   # set_active
        .store_bit(1 if pool_active else 0)
        .store_uint(protocol_fee, 16)
        .store_uint(lp_fee_base, 16)
        .store_uint(lp_fee_current, 16)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_lz_verify_callback(nonce: int, status_code: int) -> str:
    """ULN_CONNECTION_VERIFY_CALLBACK#3cb38090 (messages/layerzero.py:
    912-947): the VerificationStatus cell rides at md.refs[0]."""
    st = (
        Builder()
        .store_uint(_LZ_STATUS_HEADER, _LZ_STATUS_HEADER_BITS)
        .store_uint((1 << _LZ_STATUS_FILLER_BITS) - 1,
                    _LZ_STATUS_FILLER_BITS)
        .store_uint(nonce, 64)
        .store_uint(status_code, 32)
        .end_cell()
    )
    md = Builder().store_ref(st).end_cell()
    body = (
        Builder()
        .store_uint(OP_LZ_ULN_VERIFY_CB, 32)
        .store_ref(md)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(body)).decode()


def encode_cocoon_simple(op: int, query_id: int,
                         address: str | None = None,
                         tokens: int | None = None) -> str:
    """The small cocoon bodies sharing the query_id prefix
    (messages/cocoon.py): ExtProxyPayoutRequest / OwnerClientRequestRefund
    (op + qid + send_excesses_to), Charge/GrantRefund payloads
    (op + qid + new_tokens_used + expected_address), and the
    OwnerWalletSendMessage wrapper (op + qid)."""
    b = Builder().store_uint(op, 32).store_uint(query_id, 64)
    if tokens is not None:
        b.store_uint(tokens, 64)
    if address is not None or tokens is not None:
        b.store_address(address)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_coffee_create_vault(query_id: int, asset: str) -> str:
    """create_vault#c0ffee06 query_id:uint64 asset:Asset
    (messages/coffee.py:628-639)."""
    b = Builder().store_uint(0xC0FFEE06, 32).store_uint(query_id, 64)
    store_coffee_asset(b, asset)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_coffee_create_pool_native(
    query_id: int, amount: int, first: str, second: str,
    recipient: str | None,
) -> str:
    """create_pool_native#c0ffee02 (messages/coffee.py:426-441): amount +
    pool params (asset pair, amm) + public/private creation params."""
    b = (
        Builder()
        .store_uint(OP_COFFEE_POOL_NATIVE, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
    )
    store_coffee_asset(b, first)
    store_coffee_asset(b, second)
    b.store_uint(0, 3)      # amm tag
    b.store_bit(0)          # amm settings: absent
    b.store_address(recipient)
    b.store_bit(0)          # use_recipient_on_failure
    b.store_bit(0)          # notification data: absent
    b.store_bit(0)          # private is_active
    b.store_bit(0)          # private extra: absent
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_coffee_pool_request(
    query_id: int, amount1: int, amount2: int,
    tx_initiator: str | None,
) -> str:
    """create_pool_request#c0ffee25 (messages/coffee.py:752-775)."""
    cell = (
        Builder()
        .store_uint(0xC0FFEE25, 32)
        .store_uint(query_id, 64)
        .store_coins(amount1)
        .store_coins(amount2)
        .store_address(tx_initiator)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_cocoon_unregister_proxy(query_id: int, seqno: int) -> str:
    """UnregisterProxy#6d49eaf2 (messages/cocoon.py)."""
    cell = (Builder().store_uint(0x6D49EAF2, 32).store_uint(query_id, 64)
            .store_uint(seqno, 32).end_cell())
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_cocoon_change_secret_hash(
    query_id: int, new_secret_hash: int, send_excesses_to: str | None,
) -> str:
    """OwnerClientChangeSecretHash#a9357034 (messages/cocoon.py)."""
    cell = (Builder().store_uint(0xA9357034, 32).store_uint(query_id, 64)
            .store_uint(new_secret_hash, 256)
            .store_address(send_excesses_to).end_cell())
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_cocoon_increase_stake(
    query_id: int, new_stake: int, send_excesses_to: str | None,
) -> str:
    """OwnerClientIncreaseStake#6a1f6a60 (messages/cocoon.py)."""
    cell = (Builder().store_uint(0x6A1F6A60, 32).store_uint(query_id, 64)
            .store_coins(new_stake)
            .store_address(send_excesses_to).end_cell())
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_cocoon_client_request(
    query_id: int, owner: str | None,
    payload_op: int | None = None, payload_coins: int | None = None,
) -> str:
    """ClientProxyRequest#65448ff4 (messages/cocoon.py): state-data ref
    plus an optional payload ref (RefundGranted carries the coins)."""
    b = (Builder().store_uint(0x65448FF4, 32).store_uint(query_id, 64)
         .store_address(owner)
         .store_ref(Builder().end_cell()))
    if payload_op is not None:
        pl = Builder().store_uint(payload_op, 32)
        if payload_coins is not None:
            pl.store_coins(payload_coins)
        b.store_bit(1).store_ref(pl.end_cell())
    else:
        b.store_bit(0)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_coffee_withdraw_event(
    query_id: int, amount1: int, amount2: int,
) -> str:
    """liquidity_withdrawal_event#c0ffee35 (messages/coffee.py:565-580)."""
    cell = (Builder().store_uint(0xC0FFEE35, 32).store_uint(query_id, 64)
            .store_coins(amount1).store_coins(amount2).end_cell())
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_subscription_payment(query_id: int, grams: int) -> str:
    """payment_request#706c7567 query_id:uint64 grams:Coins
    (messages/subscriptions.py:6-12)."""
    cell = (Builder().store_uint(OP_SUBSCRIPTION_PAY_REQ, 32)
            .store_uint(query_id, 64).store_coins(grams).end_cell())
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_multisig_new_order(
    query_id: int, order_seqno: int, is_created_by_signer: bool,
    creator_index: int, expiration_date: int,
) -> str:
    """new_order#f718510f (messages/multisig.py:14-40) with an empty
    order ref."""
    cell = (
        Builder()
        .store_uint(0xF718510F, 32)
        .store_uint(query_id, 64)
        .store_uint(order_seqno, 256)
        .store_bit(1 if is_created_by_signer else 0)
        .store_uint(creator_index, 8)
        .store_uint(expiration_date, 48)
        .store_ref(Builder().end_cell())
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_multisig_approve(query_id: int, signer_index: int) -> str:
    """approve#a762230f query_id:uint64 signer_index:uint8
    (messages/multisig.py:69-83)."""
    cell = (
        Builder()
        .store_uint(OP_MULTISIG_APPROVE, 32)
        .store_uint(query_id, 64)
        .store_uint(signer_index, 8)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_multisig_approve_accepted(query_id: int) -> str:
    cell = (
        Builder()
        .store_uint(OP_MULTISIG_APPROVE_ACCEPTED, 32)
        .store_uint(query_id, 64)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_multisig_approve_rejected(query_id: int, exit_code: int) -> str:
    cell = (
        Builder()
        .store_uint(OP_MULTISIG_APPROVE_REJECTED, 32)
        .store_uint(query_id, 64)
        .store_uint(exit_code, 32)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_multisig_execute(
    query_id: int, order_seqno: int, expiration_date: int,
    approvals_num: int, signers_hash: bytes, order: "Cell | None" = None,
) -> str:
    """execute#75097f5d (messages/multisig.py:101-123)."""
    b = (
        Builder()
        .store_uint(OP_MULTISIG_EXECUTE, 32)
        .store_uint(query_id, 64)
        .store_uint(order_seqno, 256)
        .store_uint(expiration_date, 48)
        .store_uint(approvals_num, 8)
        .store_bytes(signers_hash)
    )
    if order is not None:
        b.store_ref(order)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def decode_nft_auction_data(raw: bytes | str, version: str = "v3r3") -> dict:
    """Getgems auction contract DATA cell → listing fields.

    Layout selected by ``version`` exactly as the reference's
    AUCTION_VERSION_MAPPING dispatch (messages/getgems.py:123-247):
    v1, v3r2, v3r3 (the "latest" default) and v4r1 are supported; v2 has
    no reference parser and raises.  v3r3:

        end?:Bool is_canceled?:Bool last_member:Addr last_bid:Coins
        last_bid_at:uint32 end_time:uint32 nft_owner:Addr
        last_query_id:uint64 mp_fee_factor:uint32 mp_fee_base:uint32
        royalty_fee_factor:uint32 royalty_fee_base:uint32
        ^[ mp_fee_addr:Addr royalty_fee_addr:Addr ]
        ^[ mp_addr:Addr min_bid:Coins max_bid:Coins min_step:Coins
           step_time:uint32 ]

    Undecodable data raises BocError for the caller to log-and-skip.
    """
    s = parse_boc(raw).begin_parse()
    d: dict = {}
    if version == "v1":
        # two refs only: fees + bids (getgems.py:144-163)
        fees = s.load_ref().begin_parse()
        bids = s.load_ref().begin_parse()
        d["marketplace_fee_address"] = fees.load_address()
        d["mp_fee_factor"] = fees.load_uint(32)
        d["mp_fee_base"] = fees.load_uint(32)
        d["royalty_address"] = fees.load_address()
        d["royalty_fee_factor"] = fees.load_uint(32)
        d["royalty_fee_base"] = fees.load_uint(32)
        d["min_bid"] = bids.load_coins()
        d["max_bid"] = bids.load_coins()
        d["min_step"] = bids.load_coins()
        d["end_time"] = bids.load_uint(32)
        d["step_time"] = bids.load_uint(32)
        bids.load_uint(32)  # try_step_time
        return d
    if version == "v3r2":
        # end?, activated?, is_canceled? (getgems.py:164-189)
        d["is_end"] = bool(s.load_bit())
        s.load_bit()  # activated?
        d["is_canceled"] = bool(s.load_bit())
        d["last_member"] = s.load_address()
        d["last_bid"] = s.load_coins()
        d["last_bid_at"] = s.load_uint(32)
        d["end_time"] = s.load_uint(32)
        fees = s.load_ref().begin_parse()
        const = s.load_ref().begin_parse()
        const.load_uint(32)  # sub_gas_price_from_bid
        d["marketplace_address"] = const.load_address()
        d["min_bid"] = const.load_coins()
        d["max_bid"] = const.load_coins()
        d["min_step"] = const.load_coins()
        d["step_time"] = const.load_uint(32)
        d["marketplace_fee_address"] = fees.load_address()
        d["mp_fee_factor"] = fees.load_uint(32)
        d["mp_fee_base"] = fees.load_uint(32)
        d["royalty_address"] = fees.load_address()
        d["royalty_fee_factor"] = fees.load_uint(32)
        d["royalty_fee_base"] = fees.load_uint(32)
        return d
    if version == "v4r1":
        # fee factors moved into the fees ref; min_step/step_time narrow
        # (getgems.py:222-247)
        d["is_end"] = bool(s.load_bit())
        d["is_canceled"] = bool(s.load_bit())
        d["last_member"] = s.load_address()
        d["last_bid"] = s.load_coins()
        d["last_bid_at"] = s.load_uint(32)
        d["end_time"] = s.load_uint(32)
        d["nft_owner_address"] = s.load_address()
        s.load_uint(64)  # last_query_id
        fees = s.load_ref().begin_parse()
        const = s.load_ref().begin_parse()
        d["marketplace_fee_address"] = fees.load_address()
        d["royalty_address"] = fees.load_address()
        d["mp_fee_factor"] = fees.load_uint(32)
        d["mp_fee_base"] = fees.load_uint(32)
        d["royalty_fee_factor"] = fees.load_uint(32)
        d["royalty_fee_base"] = fees.load_uint(32)
        d["marketplace_address"] = const.load_address()
        d["min_bid"] = const.load_coins()
        d["max_bid"] = const.load_coins()
        d["min_step"] = const.load_uint(7)
        d["step_time"] = const.load_uint(17)
        return d
    if version != "v3r3":
        raise BocError(f"unsupported auction layout {version!r}")
    d["is_end"] = bool(s.load_bit())
    d["is_canceled"] = bool(s.load_bit())
    d["last_member"] = s.load_address()
    d["last_bid"] = s.load_coins()
    d["last_bid_at"] = s.load_uint(32)
    d["end_time"] = s.load_uint(32)
    d["nft_owner_address"] = s.load_address()
    s.load_uint(64)  # last_query_id
    d["mp_fee_factor"] = s.load_uint(32)
    d["mp_fee_base"] = s.load_uint(32)
    d["royalty_fee_factor"] = s.load_uint(32)
    d["royalty_fee_base"] = s.load_uint(32)
    fees = s.load_ref().begin_parse()
    d["marketplace_fee_address"] = fees.load_address()
    d["royalty_address"] = fees.load_address()
    const = s.load_ref().begin_parse()
    d["marketplace_address"] = const.load_address()
    d["min_bid"] = const.load_coins()
    d["max_bid"] = const.load_coins()
    d["min_step"] = const.load_coins()
    d["step_time"] = const.load_uint(32)
    return d


def encode_nft_auction_data(
    *,
    is_end: bool = False,
    is_canceled: bool = False,
    last_member: str | None = None,
    last_bid: int = 0,
    last_bid_at: int = 0,
    end_time: int = 0,
    nft_owner_address: str | None = None,
    mp_fee_factor: int = 0,
    mp_fee_base: int = 100,
    royalty_fee_factor: int = 0,
    royalty_fee_base: int = 100,
    marketplace_fee_address: str | None = None,
    royalty_address: str | None = None,
    marketplace_address: str | None = None,
    min_bid: int = 0,
    max_bid: int = 0,
    min_step: int = 0,
    step_time: int = 0,
) -> str:
    """Fixture encoder for the v3r3 auction data layout (base64 BOC)."""
    fees = (
        Builder()
        .store_address(marketplace_fee_address)
        .store_address(royalty_address)
        .end_cell()
    )
    const = (
        Builder()
        .store_address(marketplace_address)
        .store_coins(min_bid)
        .store_coins(max_bid)
        .store_coins(min_step)
        .store_uint(step_time, 32)
        .end_cell()
    )
    b = (
        Builder()
        .store_bit(is_end)
        .store_bit(is_canceled)
        .store_address(last_member)
        .store_coins(last_bid)
        .store_uint(last_bid_at, 32)
        .store_uint(end_time, 32)
        .store_address(nft_owner_address)
        .store_uint(0, 64)
        .store_uint(mp_fee_factor, 32)
        .store_uint(mp_fee_base, 32)
        .store_uint(royalty_fee_factor, 32)
        .store_uint(royalty_fee_base, 32)
        .store_ref(fees)
        .store_ref(const)
    )
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


# --- LayerZero packet/metadata cell readers (messages/layerzero.py) ----------

def _lz_packet_fields(cell: "Cell") -> dict:
    """lz::Packet cell → path/message/nonce/guid fields
    (messages/layerzero.py:149-173 LayerZeroPacket + :188-207 Path).
    Hex values render unpadded with 0x like the reference's hex()."""
    s = cell.begin_parse()
    s.load_uint(152)  # header info
    s.load_uint(198)  # header filler (all ones)
    path = s.load_ref().begin_parse()
    path.load_uint(152)
    path.load_uint(198)
    src_eid = path.load_uint(32)
    src_oapp = hex(path.load_uint(256))
    dst_eid = path.load_uint(32)
    dst_oapp = hex(path.load_uint(256))
    msg_cell = s.load_ref()
    message = "0x" + msg_cell.data[: (msg_cell.bits + 7) // 8].hex()
    nonce = s.load_uint(64)
    guid = hex(s.load_uint(256))
    return {
        "src_oapp": src_oapp,
        "dst_oapp": dst_oapp,
        "src_eid": src_eid,
        "dst_eid": dst_eid,
        "nonce": nonce,
        "guid": guid,
        "message": message,
    }


def decode_lz_send_callback(raw: bytes | str) -> dict | None:
    """Layerzero CHANNEL_SEND_CALLBACK body → the embedded lzSend
    metadata (refs[0].refs[0].refs[0], messages/layerzero.py:86-117):
    request id, msglib manager/address, fees, and the packet."""
    try:
        md = parse_boc(raw).refs[0].refs[0].refs[0]
        s = md.begin_parse()
        name = s.load_uint(80)
        if name != int.from_bytes(b"lzSend", "big"):
            return None
        s.load_uint(180)  # header info
        s.load_uint(90)  # filler
        d = {"send_request_id": s.load_uint(64)}
        d["msglib_manager"] = hex(s.load_uint(256))
        d["msglib"] = hex(s.load_uint(256))
        d["packet"] = _lz_packet_fields(s.load_ref())
        s.load_ref()  # extra_options
        ref = s.load_ref().begin_parse()
        ref.load_uint(256)  # msglib_connection
        d["native_fee"] = ref.load_uint(128)
        d["zro_fee"] = ref.load_uint(128)
        return d
    except Exception:
        return None


def decode_lz_commit_packet(raw: bytes | str) -> dict | None:
    """Channel CHANNEL_COMMIT_PACKET body → packet fields
    (messages/layerzero.py:383-391: packet = body.refs[0].refs[0])."""
    try:
        return _lz_packet_fields(parse_boc(raw).refs[0].refs[0])
    except Exception:
        return None


def decode_lz_execute_callback(raw: bytes | str) -> dict | None:
    """Channel LZ_RECEIVE_EXECUTE_CALLBACK body → packet fields
    (messages/layerzero.py:1377-1383: packet = body.refs[0].refs[0])."""
    try:
        return _lz_packet_fields(parse_boc(raw).refs[0].refs[0])
    except Exception:
        return None


def decode_dedust_deposit_payload(raw: bytes | str) -> dict | None:
    """DeDust jetton-deposit forward payload
    (messages/liquidity.py:40-54): pool type, pool asset pair and the
    target balances.  None when the payload is not this shape."""
    try:
        s = parse_boc(raw).begin_parse()
        if s.load_uint(32) != 0x40E108D6:
            return None
        d = {"pool_type": "stable" if s.load_bit() else "volatile"}
        d["asset0"] = _load_dedust_asset(s)
        d["asset1"] = _load_dedust_asset(s)
        d["min_lp_amount"] = s.load_coins()
        d["asset0_target_balance"] = s.load_coins()
        d["asset1_target_balance"] = s.load_coins()
        return d
    except Exception:
        return None


OP_COFFEE_SWAP_EVENT = 0xC0FFEE30    # messages/coffee.py:387-403
OP_COFFEE_PAYOUT_INTERNAL = 0xC0FFEE21  # messages/coffee.py:673-694


def decode_coffee_swap_event(raw: bytes | str) -> dict | None:
    """swap.coffee swap-success event log: input asset + in/out amounts
    (messages/coffee.py:387-403)."""
    try:
        s = parse_boc(raw).begin_parse()
        if s.load_uint(32) != OP_COFFEE_SWAP_EVENT:
            return None
        d = {"query_id": s.load_uint(64)}
        d["input"] = _load_coffee_asset(s)
        d["input_amount"] = s.load_coins()
        d["output_amount"] = s.load_coins()
        return d
    except Exception:
        return None


def decode_coffee_payout_internal(raw: bytes | str) -> dict | None:
    """swap.coffee pool→vault payout: recipient + amount
    (messages/coffee.py:673-694)."""
    try:
        s = parse_boc(raw).begin_parse()
        if s.load_uint(32) != OP_COFFEE_PAYOUT_INTERNAL:
            return None
        d = {"query_id": s.load_uint(64)}
        d["recipient"] = s.load_address()
        d["amount"] = s.load_coins()
        return d
    except Exception:
        return None


def decode_coffee_depository_request(raw: bytes | str) -> dict | None:
    """swap.coffee create-liquidity-depository request: amount, the
    recipient (acting sender) and the pool's asset pair
    (messages/coffee.py:803-821)."""
    try:
        s = parse_boc(raw).begin_parse()
        if s.load_uint(32) != 0xC0FFEE27:
            return None
        d = {"query_id": s.load_uint(64)}
        d["amount"] = s.load_coins()
        params = s.load_ref().begin_parse()
        d["recipient"] = params.load_address()
        pool = s.load_ref().begin_parse()
        d["first"] = _load_coffee_asset(pool)
        d["second"] = _load_coffee_asset(pool)
        return d
    except Exception:
        return None


def decode_coffee_deposit_event(raw: bytes | str) -> dict | None:
    """deposit_liquidity_successful_event#c0ffee33: amounts + lp minted
    (messages/coffee.py:520-539)."""
    try:
        s = parse_boc(raw).begin_parse()
        if s.load_uint(32) != 0xC0FFEE33:
            return None
        d = {"query_id": s.load_uint(64)}
        d["amount1"] = s.load_coins()
        d["amount2"] = s.load_coins()
        d["lp_amount"] = s.load_coins()
        return d
    except Exception:
        return None


def _coffee_pool_params(s: "Slice") -> dict:
    """pool_params first:Asset second:Asset amm:uint3 amm_settings:Maybe
    (messages/coffee.py:163-182)."""
    d = {"first": _load_coffee_asset(s), "second": _load_coffee_asset(s)}
    s.load_uint(3)  # amm tag
    s.load_maybe_ref()  # amm settings
    return d


def _coffee_creation_params(s: "Slice") -> dict:
    """public (recipient, flag, maybe notification) + private (bit,
    maybe extra) creation params (messages/coffee.py:124-160)."""
    d = {"recipient": s.load_address()}
    s.load_bit()  # use_recipient_on_failure
    s.load_maybe_ref()  # notification data
    s.load_bit()  # private is_active
    s.load_maybe_ref()  # private extra settings
    return d


def decode_coffee_pool_request(raw: bytes | str) -> dict | None:
    """create_pool_request#c0ffee25: both amounts + the other leg's
    initiator (messages/coffee.py:752-775)."""
    try:
        s = parse_boc(raw).begin_parse()
        if s.load_uint(32) != 0xC0FFEE25:
            return None
        d = {"query_id": s.load_uint(64)}
        d["amount1"] = s.load_coins()
        d["amount2"] = s.load_coins()
        d["tx_initiator"] = s.load_address()
        return d
    except Exception:
        return None


def decode_coffee_create_pool_payload(raw: bytes | str) -> dict | None:
    """Jetton-entry create-pool forward payload #c0ffee11: pool params +
    creation params (messages/coffee.py:443-455)."""
    try:
        s = parse_boc(raw).begin_parse()
        if s.load_uint(32) != 0xC0FFEE11:
            return None
        d = _coffee_pool_params(s)
        d.update(_coffee_creation_params(s))
        return d
    except Exception:
        return None


def decode_coffee_create_pool_native(raw: bytes | str) -> dict | None:
    """create_pool_native#c0ffee02 / _extra#c0ffee03 entry body: amount +
    pool params + creation params (messages/coffee.py:426-471)."""
    try:
        s = parse_boc(raw).begin_parse()
        if s.load_uint(32) not in (0xC0FFEE02, 0xC0FFEE03):
            return None
        d = {"query_id": s.load_uint(64), "amount": s.load_coins()}
        d.update(_coffee_pool_params(s))
        d.update(_coffee_creation_params(s))
        return d
    except Exception:
        return None


def decode_coffee_withdraw_event(raw: bytes | str) -> dict | None:
    """liquidity_withdrawal_event#c0ffee35: both withdrawn amounts
    (messages/coffee.py:565-580)."""
    try:
        s = parse_boc(raw).begin_parse()
        if s.load_uint(32) != 0xC0FFEE35:
            return None
        d = {"query_id": s.load_uint(64)}
        d["amount1"] = s.load_coins()
        d["amount2"] = s.load_coins()
        return d
    except Exception:
        return None


def _load_address_ext(s: "Slice"):
    """MsgAddress that may be EXTERNAL: addr_std → raw string,
    addr_extern → "len;hex" exactly like the reference renders it
    (blocks/cocoon.py:131-136), addr_none → None."""
    tag = s.load_uint(2)
    if tag == 0:
        return None
    if tag == 1:
        ln = s.load_uint(9)
        v = s.load_uint(ln) if ln else 0
        return f"{ln};{v:x}"
    if tag == 2:
        if s.load_bit():
            depth = s.load_uint(5)
            s.load_uint(depth)
        wc = s.load_int(8)
        return f"{wc}:{s.load_uint(256):064X}"
    raise BocError("addr_var unsupported")


def decode_cocoon_body(raw: bytes | str) -> dict | None:
    """Cocoon payment-channel protocol bodies (messages/cocoon.py) —
    one dispatcher for the ops the matchers consume.  None when the body
    is not a known cocoon shape."""
    try:
        s = parse_boc(raw).begin_parse()
        op = s.load_uint(32)
        d = {"opcode": op}
        if op in (0xA040AD28, 0xF5F26A36):  # [last] payout payload
            d["query_id"] = s.load_uint(64)
            d["new_tokens"] = s.load_uint(64)
            d["expected_address"] = _load_address_ext(s)
        elif op == 0x4D725D2C:  # worker → proxy request
            d["query_id"] = s.load_uint(64)
            d["owner_address"] = s.load_address()
            d["state"] = s.load_uint(2)
            d["tokens"] = s.load_uint(64)
        elif op == 0x7610E6EB:  # ext proxy payout request
            d["query_id"] = s.load_uint(64)
            d["send_excesses_to"] = s.load_address()
        elif op in (0xBB63FF93, 0xEFD711E1):  # charge / grant-refund payload
            d["query_id"] = s.load_uint(64)
            d["new_tokens_used"] = s.load_uint(64)
            d["expected_address"] = _load_address_ext(s)
        elif op == 0xF172E6C2:  # ext client top up
            d["query_id"] = s.load_uint(64)
            d["amount"] = s.load_coins() or 0
            d["send_excesses_to"] = s.load_address()
        elif op == 0x927C7CB5:  # register proxy
            d["query_id"] = s.load_uint(64)
        elif op == 0x6D49EAF2:  # unregister proxy
            d["query_id"] = s.load_uint(64)
            d["seqno"] = s.load_uint(32)
        elif op == 0xC45F9F3B:  # owner client register
            d["query_id"] = s.load_uint(64)
            d["nonce"] = s.load_uint(64)
            d["send_excesses_to"] = s.load_address()
        elif op == 0xA9357034:  # owner change secret hash
            d["query_id"] = s.load_uint(64)
            d["new_secret_hash"] = f"{s.load_uint(256):x}"  # hex()[2:]
            d["send_excesses_to"] = s.load_address()
        elif op in (0xFAFA6CC1, 0xDA068E78):  # request refund / withdraw
            d["query_id"] = s.load_uint(64)
            d["send_excesses_to"] = s.load_address()
        elif op == 0x6A1F6A60:  # owner client increase stake
            d["query_id"] = s.load_uint(64)
            d["new_stake"] = s.load_coins() or 0
            d["send_excesses_to"] = s.load_address()
        elif op == 0x9C69F376:  # owner wallet send wrapper
            d["query_id"] = s.load_uint(64)
        elif op == 0x65448FF4:  # client → proxy request
            d["query_id"] = s.load_uint(64)
            d["owner_address"] = s.load_address()
            s.load_ref()  # state data
            payload = s.load_maybe_ref()
            if payload is not None and not payload.exotic:
                ps = payload.begin_parse()
                if ps.remaining_bits >= 32:
                    pop = ps.load_uint(32)
                    d["payload_opcode"] = pop
                    if pop in (0xC68EBC7B, 0xF4C354C9):  # refund granted
                        d["payload_coins"] = ps.load_coins() or 0
        else:
            return None
        return d
    except Exception:
        return None


# ------------------------------------------------ TEP-64 token content cells

TOKEN_DATA_ATTRIBUTES = (
    "uri", "name", "description", "image", "image_data", "symbol",
    "decimals", "amount_style", "render_type",
)


def _hashmap_items(
    cell: "Cell", n: int, prefix: int, out: list
) -> None:
    """HashmapE traversal keeping leaf VALUE slices: like _hashmap_keys
    but appends (key, slice-after-label) so dict values are readable."""
    s = cell.begin_parse()
    if s.load_bit() == 0:  # hml_short$0
        l = 0
        while s.load_bit() == 1:
            l += 1
        bits = s.load_uint(l) if l else 0
    elif s.load_bit() == 0:  # hml_long$10
        l = s.load_uint(n.bit_length())
        bits = s.load_uint(l) if l else 0
    else:  # hml_same$11
        b = s.load_bit()
        l = s.load_uint(n.bit_length())
        bits = (1 << l) - 1 if b else 0
    prefix = (prefix << l) | bits
    m = n - l
    if m == 0:
        out.append((prefix, s))
        return
    left = s.load_ref()
    right = s.load_ref()
    _hashmap_items(left, m - 1, prefix << 1, out)
    _hashmap_items(right, m - 1, (prefix << 1) | 1, out)


def _bits_to_bytes(acc: list[int], what: str) -> bytes:
    if len(acc) % 8:
        raise BocError(f"{what} not byte aligned")
    return bytes(
        int("".join(map(str, acc[i:i + 8])), 2)
        for i in range(0, len(acc), 8)
    )


def _snake_bits(s: "Slice") -> bytes:
    """Bit-exact snake read (parse_token_data.cpp:8-31 parse_snake_data):
    concatenate ALL remaining bits of each cell, following the first-ref
    chain; the total must end byte-aligned."""
    acc: list[int] = []
    cur: Slice | None = s
    while cur is not None:
        while cur.remaining_bits:
            acc.append(cur.load_bit())
        cur = (
            cur.load_ref().begin_parse() if cur.remaining_refs else None
        )
    return _bits_to_bytes(acc, "snake data")


def _chunked_bytes(s: "Slice") -> bytes:
    """ChunkedData (parse_token_data.cpp:33-63 parse_chunks_data): a
    HashmapE(32) of ^chunk cells, concatenated for consecutive integer
    keys 0,1,2,… until the first ABSENT key; each chunk contributes only
    its own cell's bits (no snake continuation), byte-aligned total.

    Bit-parity notes: the reference loops ``while uint_key_exists(c)``
    and appends only when ``lookup_ref`` is non-null — a present key
    whose value slice lacks a ref is SKIPPED, not a terminator
    (parse_token_data.cpp:42-54); and a chunk that would overflow the
    reference's 1024-byte buffer breaks the loop there, mirrored here so
    non-conforming oversized content decodes to identical bytes."""
    root = s.load_maybe_ref()
    chunks: dict[int, "Cell | None"] = {}
    if root is not None:
        items: list = []
        _hashmap_items(root, 32, 0, items)
        for key, vs in items:
            # key existence tracked regardless of ref presence
            chunks[key] = vs.load_ref() if vs.remaining_refs else None
    acc: list[int] = []
    c = 0
    while c in chunks:
        cell = chunks[c]
        if cell is not None:
            cs = cell.begin_parse()
            if len(acc) + cs.remaining_bits > 1024 * 8:
                break  # reference buffer-overflow guard
            while cs.remaining_bits:
                acc.append(cs.load_bit())
        c += 1
    return _bits_to_bytes(acc, "chunked data")


def _content_data(s: "Slice") -> bytes:
    """ContentData: snake#00 … | chunks#01 …
    (parse_token_data.cpp:65-84 parse_content_data)."""
    tag = s.load_uint(8)
    if tag == 0x00:
        return _snake_bits(s)
    if tag == 0x01:
        return _chunked_bytes(s)
    raise BocError(f"unknown ContentData tag {tag:#x}")


def parse_token_data(raw: "bytes | str") -> dict[str, str]:
    """TEP-64 FullContent cell → attribute map — the clean-room analog of
    the reference worker's parse_token_data
    (ton-index-worker/tondb-scanner/src/parse_token_data.cpp:87-155):

    - ``offchain#01 uri:Text`` → {"uri": <snake string>}
    - ``onchain#00 data:(HashmapE 256 ^ContentData)`` → the nine standard
      attributes looked up by sha256(name), each snake- or chunk-decoded;
      ``image_data`` base64-encodes (it is raw bytes), the rest must be
      valid UTF-8; per-attribute failures are skipped, exactly as the
      reference logs-and-continues (parse_token_data.cpp:128-131).
      Values stored inline instead of behind the standard single ref are
      accepted too (the non-conforming contracts the reference special-
      cases at parse_token_data.cpp:120-126).

    Raises BocError on a non-FullContent cell (callers record the row as
    invalid, mirroring the worker's error path)."""
    import base64 as _b64
    import hashlib as _hl

    s = parse_boc(raw).begin_parse()
    tag = s.load_uint(8)
    if tag == 0x01:  # offchain
        uri = _snake_bits(s).decode("utf-8")  # strict: invalid uri raises
        return {"uri": uri}
    if tag != 0x00:
        raise BocError(f"unknown FullContent tag {tag:#x}")
    root = s.load_maybe_ref()
    items: list = []
    if root is not None:
        _hashmap_items(root, 256, 0, items)
    by_key = {k: vs for k, vs in items}
    res: dict[str, str] = {}
    for attr in TOKEN_DATA_ATTRIBUTES:
        key = int.from_bytes(_hl.sha256(attr.encode()).digest(), "big")
        vs = by_key.get(key)
        if vs is None:
            continue
        if vs.remaining_bits == 0 and vs.remaining_refs == 1:
            vs = vs.load_ref().begin_parse()  # standard ^ContentData
        try:
            data = _content_data(vs)
        except BocError:
            continue  # reference: log and continue per attribute
        if attr == "image_data":
            res[attr] = _b64.b64encode(data).decode("ascii")
        else:
            try:
                res[attr] = data.decode("utf-8")
            except UnicodeDecodeError:
                continue
    return res


def encode_evaa_supply_master(
    query_id: int, amount: int, recipient: str,
    include_user_code: bool = False,
) -> str:
    """supply_master#1 query_id:uint64 include_user_code:int2
    amount:uint64 recipient:MsgAddressInt (messages/evaa.py:8-26)."""
    cell = (
        Builder()
        .store_uint(OP_EVAA_SUPPLY_MASTER, 32)
        .store_uint(query_id, 64)
        .store_int(-1 if include_user_code else 0, 2)
        .store_uint(amount, 64)
        .store_address(recipient)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_evaa_withdraw_master(
    query_id: int, asset_id: str, amount: int, recipient: str,
) -> str:
    """withdraw_master#2 query_id:uint64 asset_id:uint256 amount:uint64
    recipient:MsgAddressInt (messages/evaa.py:121-141)."""
    cell = (
        Builder()
        .store_uint(OP_EVAA_WITHDRAW_MASTER, 32)
        .store_uint(query_id, 64)
        .store_uint(int(asset_id, 16), 256)
        .store_uint(amount, 64)
        .store_address(recipient)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_evaa_supply_success(
    query_id: int, owner: str, asset_id: str, amount: int,
    op: int = OP_EVAA_SUPPLY_SUCCESS,
) -> str:
    """supply_success#11a / supply_fail#11f query_id:uint64
    owner:MsgAddressInt asset_id:uint256 amount:uint64
    (messages/evaa.py:75-116) — withdraw_collateralized#211 shares the
    layout (evaa.py:169-190), select via ``op``."""
    cell = (
        Builder()
        .store_uint(op, 32)
        .store_uint(query_id, 64)
        .store_address(owner)
        .store_uint(int(asset_id, 16), 256)
        .store_uint(amount, 64)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_evaa_user_headered(
    op: int, query_id: int, asset_id: str, amount: int | None = None,
    recipient: str | None = None, user_version: int = 6,
) -> str:
    """EVAA user-contract message WITH the version header that garbles
    the raw opcode column: user_version:Coins upgrade_info:(Maybe ^Cell)
    upgrade_exec:uint2 then the real op (blocks/evaa.py:59-92
    load_user_header; fixture-side inverse of decode_evaa_user_body).
    op 0x11 carries asset_id+amount; 0x21 adds s_rate/b_rate+recipient;
    0x211a/0x211f carry asset_id only."""
    b = (
        Builder()
        .store_coins(user_version)
        .store_bit(0)        # upgrade_info: nothing
        .store_uint(0, 2)    # upgrade_exec
        .store_uint(op, 32)
        .store_uint(query_id, 64)
        .store_uint(int(asset_id, 16), 256)
    )
    if op in (0x11, 0x21):
        b.store_uint(amount, 64)
    if op == 0x21:
        b.store_uint(1_000_000, 64)  # s_rate
        b.store_uint(1_000_000, 64)  # b_rate
        b.store_address(recipient)
    return base64.b64encode(serialize_boc(b.end_cell())).decode()


def encode_teleitem_start_auction(
    query_id: int, beneficiary: str, initial_min_bid: int, max_bid: int,
    min_bid_step: int = 5, min_extend_time: int = 3600,
    duration: int = 604800,
) -> str:
    """teleitem_start_auction#487a8e81 query_id:uint64
    ^[beneficiary:MsgAddress initial_min_bid:Coins max_bid:Coins
    min_bid_step:uint8 min_extend_time:uint32 duration:uint32]
    (messages/nft.py:104-129)."""
    cfg = (
        Builder()
        .store_address(beneficiary)
        .store_coins(initial_min_bid)
        .store_coins(max_bid)
        .store_uint(min_bid_step, 8)
        .store_uint(min_extend_time, 32)
        .store_uint(duration, 32)
        .end_cell()
    )
    cell = (
        Builder()
        .store_uint(OP_TELEITEM_START_AUCTION, 32)
        .store_uint(query_id, 64)
        .store_ref(cfg)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_nft_ownership_assigned_bid(
    query_id: int, prev_owner: str | None, bid: int, bid_ts: int,
) -> str:
    """ownership_assigned#05138d91 whose forward payload is the fragment
    purchase evidence teleitem_bid_info#38127de1 bid:Coins bid_ts:uint32
    (messages/nft.py:7-13) — carried as a payload ref."""
    info = (
        Builder()
        .store_uint(0x38127DE1, 32)
        .store_coins(bid)
        .store_uint(bid_ts, 32)
        .end_cell()
    )
    cell = (
        Builder()
        .store_uint(OP_NFT_OWNERSHIP, 32)
        .store_uint(query_id, 64)
        .store_address(prev_owner)
        .store_bit(1)
        .store_ref(info)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_jetton_mint(
    query_id: int, to: str, ton_amount: int, amount: int,
    op: int = OP_JETTON_MINT_ALT,
) -> str:
    """mint#642b7d07 (or minter mint#15) query_id:uint64 to:MsgAddress
    ton_amount:Coins master_msg:^Cell{internal_transfer amount:Coins}
    (messages/jettons.py:142-173)."""
    master = (
        Builder()
        .store_uint(OP_JETTON_INTERNAL, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
        .end_cell()
    )
    cell = (
        Builder()
        .store_uint(op, 32)
        .store_uint(query_id, 64)
        .store_address(to)
        .store_coins(ton_amount)
        .store_ref(master)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_coffee_swap_native(
    query_id: int, amount: int, first_pool: str, min_out: int = 0,
) -> str:
    """swap.coffee native swap entry: op 0xc0ffee00 query_id:uint64
    amount:Coins pool_address_hash:uint256 min_output_amount:Coins
    (messages/coffee.py:331-344 + SwapStepParams coffee.py:89-101)."""
    cell = (
        Builder()
        .store_uint(OP_COFFEE_SWAP_NATIVE, 32)
        .store_uint(query_id, 64)
        .store_coins(amount)
        .store_uint(int(first_pool.split(":")[1], 16), 256)
        .store_coins(min_out)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_coffee_swap_event(
    query_id: int, input_asset: str, input_amount: int,
    output_amount: int,
) -> str:
    """swap.coffee swap-success event log (op 0xc0ffee30): input:Asset
    input_amount:Coins output_amount:Coins (messages/coffee.py:387-403)."""
    b = (
        Builder()
        .store_uint(OP_COFFEE_SWAP_EVENT, 32)
        .store_uint(query_id, 64)
    )
    store_coffee_asset(b, input_asset)
    cell = b.store_coins(input_amount).store_coins(output_amount).end_cell()
    return base64.b64encode(serialize_boc(cell)).decode()


def encode_coffee_payout_internal(
    query_id: int, recipient: str, amount: int,
) -> str:
    """swap.coffee pool→vault payout (op 0xc0ffee21): recipient:Addr
    amount:Coins (messages/coffee.py:673-694)."""
    cell = (
        Builder()
        .store_uint(OP_COFFEE_PAYOUT_INTERNAL, 32)
        .store_uint(query_id, 64)
        .store_address(recipient)
        .store_coins(amount)
        .end_cell()
    )
    return base64.b64encode(serialize_boc(cell)).decode()
