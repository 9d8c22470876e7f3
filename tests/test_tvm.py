"""Tests for the in-engine TVM interpreter (ton_indexer_spark/tvm).

Three attestation layers, strongest first:

1. **Foreign-code cross-check** — execute every runnable mainnet-compiled
   contract captured in the reference's golden traces (deployment
   init_state code+data) and require the results to match the
   reference's own captured interface context, which its pipeline
   derived by running the real C++ TVM.  The interpreter has never seen
   this code; agreement on 17+ independent codebases (classic and
   globals-style codegen) is the external golden standard the r9 verdict
   set for the media codecs.
2. **Independent-decoder cross-check** — the same executions must agree
   with this repo's TL-B layout decoders (functions/boc.py), which read
   the data cells by the published schema without executing anything.
3. **Primitive unit tests** — hand-assembled code for arithmetic
   rounding, stack/tuple ops, slices, dictionaries, exceptions, loops;
   plus the publicly-documented method-id constants pinning crc16.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from ton_indexer_spark.functions.boc import (
    Builder,
    Cell,
    cell_hash,
    cell_hash_b64,
    cell_to_b64_boc,
    parse_boc,
)
from ton_indexer_spark.tvm import (
    NAN,
    VM,
    VmTuple,
    method_id,
    run_get_method,
    stack_address,
    stack_int,
)
from ton_indexer_spark.tvm.engine import slice_of_cell

TRACES = "/root/reference/indexer/tests/traces"
GOLDEN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ton_indexer_spark", "tvm", "golden", "get_methods.json")

needs_reference = pytest.mark.skipif(
    not os.path.isdir(TRACES), reason="reference fixtures not present")


# ---------------------------------------------------------------- helpers


def asm(*byte_words) -> Cell:
    """Hand-assemble: each arg is (value, bit_width) or an int (8 bits)."""
    b = Builder()
    for w in byte_words:
        if isinstance(w, tuple):
            b.store_uint(w[0], w[1])
        else:
            b.store_uint(w, 8)
    return b.end_cell()


def run_code(code: Cell, stack=None, **kw):
    vm = VM(code, stack or [], **kw)
    exit_code = vm.run()
    return exit_code, vm.stack


def state_init(b64):
    s = parse_boc(b64).begin_parse()
    if s.load_bit():
        s.load_uint(5)
    if s.load_bit():
        s.load_uint(2)
    return s.load_maybe_ref(), s.load_maybe_ref()


def fixture_contracts():
    """(code, data, account, interfaces, trace_file) per distinct
    runnable init_state contract across all reference traces."""
    from ton_indexer_spark.functions.fixture_codec import load_lz4_msgpack

    out = {}
    for f in sorted(glob.glob(os.path.join(TRACES, "*.lz4"))):
        d = load_lz4_msgpack(f)
        ifs = d.get("interfaces", {})
        for tx in d["transactions"]:
            for m in tx["messages"]:
                ist = m.get("init_state")
                if not ist or not ist.get("body"):
                    continue
                try:
                    code, data = state_init(ist["body"])
                except Exception:
                    continue
                if code is None or data is None or code.exotic \
                        or code.bits == 264:  # masterchain library stubs
                    continue
                h = cell_hash_b64(code)
                if h not in out:
                    out[h] = (code, data, m.get("destination"),
                              ifs.get(m.get("destination")) or {},
                              os.path.basename(f))
    return list(out.values())


# -------------------------------------------------------- method-id crc16


def test_method_ids_match_published_constants():
    # publicly documented TEP get-method ids ((crc16_xmodem & 0xffff) |
    # 0x10000): pins the crc16 implementation externally
    assert method_id("seqno") == 85143
    assert method_id("get_wallet_data") == 97026
    assert method_id("get_nft_data") == 102351
    assert method_id("get_collection_data") == 102491
    assert method_id("get_jetton_data") == 106029


# ------------------------------------------------------- primitive tests


def test_arith_and_comparison():
    # PUSHINT 10; PUSHINT 3; SUB; PUSHINT 2; MUL -> 14
    ec, st = run_code(asm(0x7A, 0x73, 0xA1, 0x72, 0xA8))
    assert (ec, st) == (0, [14])
    # EQINT: PUSHINT 5; EQINT 5 -> -1
    ec, st = run_code(asm(0x75, 0xC0, 0x05))
    assert (ec, st) == (0, [-1])


@pytest.mark.parametrize("word,x,y,want", [
    (0x04, 7, 2, [3]),        # DIV floor
    (0x04, -7, 2, [-4]),      # DIV floors toward -inf
    (0x05, 7, 2, [4]),        # DIVR nearest, tie toward +inf
    (0x05, -7, 2, [-3]),      # DIVR: -3.5 rounds to -3
    (0x06, 7, 2, [4]),        # DIVC ceil
    (0x08, -7, 2, [1]),       # MOD keeps divisor sign (floor)
    (0x0C, 7, 2, [3, 1]),     # DIVMOD
])
def test_division_word(word, x, y, want):
    code = asm(0xA9, word)
    ec, st = run_code(code, [x, y])
    assert (ec, st) == (0, want)


def test_muldiv():
    # MULDIV: 5 * 7 / 3 -> 11 (floor)
    ec, st = run_code(asm(0xA9, 0x84), [5, 7, 3])
    assert (ec, st) == (0, [11])
    # MULDIVMOD
    ec, st = run_code(asm(0xA9, 0x8C), [5, 7, 3])
    assert (ec, st) == (0, [11, 2])


def test_division_by_zero_is_exit_4():
    ec, st = run_code(asm(0xA9, 0x04), [1, 0])
    assert ec == 4


def test_int_overflow_guard():
    # PUSHPOW2 256 -> NaN; CHKNAN throws 4
    ec, st = run_code(asm(0x83, 0xFF, 0xC5))
    assert ec == 4


def test_stack_ops_roundtrip():
    # [1 2 3] ROT -> [2 3 1]
    ec, st = run_code(asm(0x58), [1, 2, 3])
    assert (ec, st) == (0, [2, 3, 1])
    # BLKSWAP 1,1 == SWAP
    ec, st = run_code(asm(0x55, 0x00), [1, 2])
    assert (ec, st) == (0, [2, 1])
    # PUSH s1; POP s2:  [a b] -> [a b a] -> pop to s2: [b a]... compute
    ec, st = run_code(asm(0x21, 0x32), [7, 9])
    assert ec == 0 and st == [st[0], 9] and st[0] == 7


def test_tuple_ops():
    # TUPLE 2; INDEX 1
    ec, st = run_code(asm(0x6F, 0x02, 0x6F, 0x11), [5, 6])
    assert (ec, st) == (0, [6])
    # UNTUPLE 2
    ec, st = run_code(asm(0x6F, 0x02, 0x6F, 0x22), [5, 6])
    assert (ec, st) == (0, [5, 6])
    # NULL; ISNULL
    ec, st = run_code(asm(0x6D, 0x6E))
    assert (ec, st) == (0, [-1])


def test_cell_build_parse_roundtrip():
    # NEWC; PUSHINT 513; SWAP; STU 12; ENDC; CTOS; LDU 12; DROP
    code = asm(0x81, (513, 16), 0xC8, 0xCB, 0x0B, 0xC9, 0xD0,
               0xD3, 0x0B, 0x30)
    ec, st = run_code(code)
    assert (ec, st) == (0, [513])


def test_throw_and_try():
    # THROWIFNOT 41 with 0 on stack -> exit 41
    ec, st = run_code(asm(0xF2, 0x80 | 41), [0])
    assert ec == 41
    # and with -1 -> survives
    ec, st = run_code(asm(0xF2, 0x80 | 41, 0x77), [-1])
    assert (ec, st) == (0, [7])
    # long form THROW 999 = 13-bit prefix F2C0 + 11-bit nn
    b = Builder().store_uint(0x1E58, 13).store_uint(999, 11)
    ec, st = run_code(b.end_cell())
    assert ec == 999


def test_repeat_loop():
    # PUSHINT 0; PUSHINT 5; PUSHCONT { INC }; REPEAT  -> 5
    code = asm(0x70, 0x75, 0x91, 0xA4, 0xE4)
    ec, st = run_code(code)
    assert (ec, st) == (0, [5])


def test_while_loop():
    # sum 1..4 via WHILE: x=4 acc=0; cond {DUP GTINT 0}; body
    # {SWAP OVER ADD SWAP DEC};  stack [acc x] -> ends [10 0]
    cond = asm(0x20, 0xC2, 0x00)
    body = asm(0x01, 0x21, 0xA0, 0x01, 0xA5)
    b = Builder().store_uint(0x70, 8).store_uint(0x74, 8)  # acc=0, x=4
    b.store_uint(0x47, 7).store_uint(0, 2)  # PUSHCONT long (1000111), 0 refs
    b.store_uint(cond.bits // 8, 7).store_bytes(cond.data)
    b.store_uint(0x47, 7).store_uint(0, 2)
    b.store_uint(body.bits // 8, 7).store_bytes(body.data)
    b.store_uint(0xE8, 8)  # WHILE
    ec, st = run_code(b.end_cell())
    assert ec == 0 and st == [10, 0]


def test_dict_get_through_pushconst():
    # build a dict {19-bit keys} manually via hashmap label encoding is
    # exercised by every fixture contract dispatch; here test DICTUGET
    # over a two-leaf dict built with the repo Builder
    from ton_indexer_spark.tvm.hashmap import dict_get, int_key_bits

    # root: label hml_long(n=0) then fork left/right leaves
    # leaves: hml_short$0 with unary len 0 -> bits '00'
    leaf_a = Builder().store_uint(0, 2).store_uint(111, 16).end_cell()
    leaf_b = Builder().store_uint(0, 2).store_uint(222, 16).end_cell()
    # root (m=1): hml_long$10 + n:(#<=1) in 1 bit = 0 -> bits '100'
    root = (Builder().store_uint(0b100, 3)
            .store_ref(leaf_a).store_ref(leaf_b).end_cell())
    # keys of width 1: 0 -> leaf_a, 1 -> leaf_b; leaf label hml_long n=0
    val = dict_get(root, [0])
    assert val is not None and val.load_uint(16) == 111
    val = dict_get(root, [1])
    assert val is not None and val.load_uint(16) == 222
    assert int_key_bits(3, 2, signed=False) == [1, 1]
    assert int_key_bits(-1, 3, signed=True) == [1, 1, 1]
    assert int_key_bits(9, 3, signed=False) is None


def test_getparam_now_and_myaddr():
    from ton_indexer_spark.tvm.run import smart_contract_info

    c7 = smart_contract_info(my_address="0:" + "AB" * 32,
                             unixtime=1234567)
    # NOW (F823); MYADDR (F828)
    ec, st = run_code(asm(0xF8, 0x23, 0xF8, 0x28), c7=c7)
    assert ec == 0 and st[0] == 1234567
    assert stack_address(st[1]) == "0:" + "AB" * 32


def test_dag_cell_serialization_roundtrip():
    # diamond: root -> (b, c), b -> d, c -> d (shared)
    d = Builder().store_uint(7, 8).end_cell()
    bcell = Builder().store_uint(1, 8).store_ref(d).end_cell()
    ccell = Builder().store_uint(2, 8).store_ref(d).end_cell()
    root = Builder().store_uint(0, 8).store_ref(bcell).store_ref(
        ccell).end_cell()
    rt = parse_boc(cell_to_b64_boc(root))
    assert cell_hash(rt) == cell_hash(root)


# ------------------------------------------- golden fixture cross-checks


def test_golden_file_reproduces():
    with open(GOLDEN) as fh:
        rows = json.load(fh)["rows"]
    assert len(rows) >= 8
    saw_failure = False
    for r in rows:
        res = run_get_method(r["code_boc"], r["data_boc"], r["method"],
                             my_address=r["account"])
        assert res.exit_code == r["exit_code"], r["account"]
        exp = r.get("expected") or {}
        if r["kind"] == "JettonWallet" and exp:
            assert stack_address(res.stack[-3]) == exp["owner"]
            assert stack_address(res.stack[-2]) == exp["jetton"]
        elif exp:
            assert stack_int(res.stack[-4]) == exp["index"]
            assert stack_address(res.stack[-3]) == \
                exp["collection_address"]
        else:
            saw_failure = True
            assert res.exit_code not in (0, 1)
    assert saw_failure, "quarantine row missing from goldens"


@needs_reference
def test_all_fixture_jetton_wallets_match_reference_tvm():
    """Every runnable captured jetton wallet: interpreter output ==
    the reference's real-TVM-derived interface context."""
    checked = 0
    for code, data, acct, entry, fname in fixture_contracts():
        if "JettonWallet" not in entry:
            continue
        want = entry["JettonWallet"]
        res = run_get_method(code, data, "get_wallet_data",
                             my_address=acct)
        assert res.success, (acct, fname, res.exit_code)
        assert stack_address(res.stack[-3]) == want["owner"], (acct, fname)
        assert stack_address(res.stack[-2]) == want["jetton"], (acct, fname)
        checked += 1
    assert checked >= 15, f"only {checked} wallets checked"


@needs_reference
def test_fixture_wallets_agree_with_layout_decoder():
    """Interpreter (executes real code) vs TL-B layout decoder (reads
    the published schema): balance/owner/jetton must agree on every
    CANONICAL-layout wallet.  Globals-style contracts wrap their data
    differently — the decoder raises or disagrees there, which is
    exactly why the TVM path exists; they are excluded by decode
    failure, not by result."""
    from ton_indexer_spark.functions.boc import decode_jetton_wallet_data

    agreed = 0
    for code, data, acct, entry, fname in fixture_contracts():
        if "JettonWallet" not in entry:
            continue
        res = run_get_method(code, data, "get_wallet_data",
                             my_address=acct)
        if not res.success:
            continue
        try:
            d = decode_jetton_wallet_data(cell_to_b64_boc(data))
        except Exception:
            continue
        want = entry["JettonWallet"]
        if d["owner"] != want.get("owner"):
            continue  # non-canonical layout decoded garbage — TVM wins
        assert stack_int(res.stack[-4]) == d["balance"], (acct, fname)
        assert stack_address(res.stack[-3]) == d["owner"]
        assert stack_address(res.stack[-2]) == d["jetton"]
        agreed += 1
    assert agreed >= 10, f"only {agreed} canonical wallets compared"


@needs_reference
def test_fixture_nft_items_collection_matches():
    checked = 0
    for code, data, acct, entry, fname in fixture_contracts():
        if "NftItem" not in entry:
            continue
        res = run_get_method(code, data, "get_nft_data", my_address=acct)
        if not res.success:
            # pre-initialization data: a real TVM throws too; pinned in
            # the golden file's exit-9 row
            assert res.exit_code not in (0, 1)
            continue
        want = entry["NftItem"]
        assert stack_address(res.stack[-3]) == \
            want["collection_address"], (acct, fname)
        assert stack_int(res.stack[-4]) == int(want["index"])
        checked += 1
    assert checked >= 1


# ------------------------------------------------------- spark operators


def test_run_get_method_batch_quarantines(spark):
    from ton_indexer_spark.operators.tvm_exec import run_get_method_batch

    with open(GOLDEN) as fh:
        rows = [r for r in json.load(fh)["rows"]
                if r["kind"] == "JettonWallet"]
    data = [(r["account"], r["code_boc"], r["data_boc"], 0)
            for r in rows]
    data.append(("0:BAD", "not-a-boc!!", None, 0))
    df = spark.createDataFrame(
        data, "account string, code_boc string, data_boc string, "
              "balance long")
    out = run_get_method_batch(df, "get_wallet_data")
    pdf = out.toPandas().set_index("account")
    for r in rows:
        row = pdf.loc[r["account"]]
        assert row["exit_code"] == 0
        assert row["stack_json"] is not None
        assert row["gas_used"] > 0
    bad = pdf.loc["0:BAD"]
    assert bad["stack_json"] is None
    # undecodable code surfaces as a typed failure, not a stage error
    assert bad["exec_error"] is not None or bad["exit_code"] == 9


def test_layered_executor_prefers_builtin_then_tvm():
    from ton_indexer_spark.functions.getmethod import layered_executor

    with open(GOLDEN) as fh:
        r = next(r for r in json.load(fh)["rows"]
                 if r["kind"] == "JettonWallet" and r.get("expected"))
    state = {"account": r["account"], "code_boc": r["code_boc"],
             "data_boc": r["data_boc"], "balance": 0,
             "code_hash": r["code_hash"]}
    # get_wallet_data: builtin layout path answers (no VM gas)
    res = layered_executor(state, "get_wallet_data", [])
    assert res["exit_code"] == 0
    # a method the builtin doesn't know routes to the TVM; jetton wallet
    # code has no such method -> real TVM exit 11 via dispatch miss
    res2 = layered_executor(state, "get_sale_data", [])
    assert res2["exit_code"] == 11
    # NaN/balance-style: seqno also unknown for jetton wallet code
    res3 = layered_executor(state, "seqno", [])
    assert res3["exit_code"] == 11


# ------------------------------------------- opcode-coverage completeness


def test_hashext_sha256():
    # PUSHSLICE x{AB}; PUSHINT 1; HASHEXT sha256 -> int(sha256(0xAB))
    import hashlib as _h

    b = Builder()
    b.store_uint(0x8B, 8).store_uint(1, 4)       # PUSHSLICE, x=1
    b.store_uint(0xAB, 8).store_uint(0x8, 4)     # 0xAB + completion tag
    b.store_uint(0x71, 8)                        # PUSHINT 1
    b.store_uint(0xF904, 16).store_uint(0, 8)    # HASHEXT sha256
    ec, st = run_code(b.end_cell())
    assert ec == 0
    assert st == [int.from_bytes(_h.sha256(b"\xab").digest(), "big")]


def test_dictugetnext():
    from ton_indexer_spark.tvm.hashmap import dict_get_next

    leaf = lambda v: Builder().store_uint(0, 2).store_uint(v, 16).end_cell()
    # 1-bit-key dict {0: 111, 1: 222} (same shape as the lookup test)
    root = (Builder().store_uint(0b100, 3)
            .store_ref(leaf(111)).store_ref(leaf(222)).end_cell())
    hit = dict_get_next(root, 1, -5, signed=False)
    assert hit is not None and hit[0] == 0
    hit = dict_get_next(root, 1, 0, signed=False)
    assert hit is not None and hit[0] == 1
    assert dict_get_next(root, 1, 1, signed=False) is None
    hit = dict_get_next(root, 1, 1, signed=False, allow_eq=True)
    assert hit is not None and hit[0] == 1
    hit = dict_get_next(root, 1, 5, signed=False, backward=True)
    assert hit is not None and hit[0] == 1


@needs_reference
def test_no_opcode_gaps_across_exported_method_universe():
    """Execute EVERY get-method exported by every runnable captured
    contract (the 19-bit method dictionaries of 36 independent mainnet
    codebases).  Contract-level outcomes (their own throws, missing
    args, pre-init data) are fine; what must never appear is TVM exit 6
    (invalid opcode) or 12 (fatal) — those mean the INTERPRETER, not the
    contract, gave up.  This is the decode-coverage pin: any future
    regression in the opcode table fails here against real code."""
    from ton_indexer_spark.tvm.hashmap import dict_keys

    executed = 0
    gaps = []
    for code, data, acct, entry, fname in fixture_contracts():
        s = code.begin_parse()
        if s.remaining_bits < 40 or s.load_uint(16) != 0xFF00:
            continue  # non-standard wrapper — no method dict to walk
        s.load_uint(14)
        n = s.load_uint(10)
        try:
            keys = dict_keys(s.load_ref(), n)
        except Exception:
            continue
        for bits in keys:
            k = int("".join(map(str, bits)), 2)
            kk = k if k < (1 << 18) else k - (1 << 19)
            if not (65536 <= kk < (1 << 17)):
                continue  # internal function, not a get-method
            res = run_get_method(code, data, kk, my_address=acct,
                                 gas_limit=3_000_000)
            executed += 1
            if res.exit_code in (6, 12):
                gaps.append((fname, acct, kk, res.exit_code))
    assert executed >= 70, f"only {executed} methods executed"
    assert not gaps, gaps


# ------------------------------------------- compute-phase replay checks


REPLAY_GOLDEN = os.path.join(os.path.dirname(GOLDEN),
                             "compute_replay.json")


def _replay_one(r):
    from ton_indexer_spark.tvm.run import (
        build_internal_message,
        run_compute_phase,
    )

    code, data = state_init(r["init_state_boc"])
    body = parse_boc(r["body_boc"])
    msg = build_internal_message(
        src=r["src"], dest=r["account"], value=r["value"], body=body,
        init=parse_boc(r["init_state_boc"]), bounce=r["bounce"],
        fwd_fee=r["fwd_fee"], created_lt=r["created_lt"],
        created_at=r["created_at"])
    return run_compute_phase(
        code, data, my_address=r["account"], in_msg=msg, body=body,
        msg_value=r["value"], balance=r["value"], unixtime=r["now"],
        block_lt=r["lt"])


def test_compute_replay_goldens_reproduce_chain_outcomes():
    with open(REPLAY_GOLDEN) as fh:
        rows = json.load(fh)["rows"]
    assert len(rows) >= 6
    for r in rows:
        res = _replay_one(r)
        assert res.exit_code == r["expected_exit_code"], r["tx_hash"]
        got = []
        for a in res.actions:
            if a["type"] != "send_msg":
                continue
            op = a.get("opcode")
            if op is not None and op >= (1 << 31):
                op -= 1 << 32
            got.append((str(a.get("dest")), str(op)))
        assert sorted(got) == sorted(map(tuple, r["expected_out"])), \
            r["tx_hash"]


@needs_reference
def test_compute_replay_population_agreement():
    """Replay EVERY replayable deployment transaction in the reference
    traces (in-message carries the StateInit, so the pre-state is fully
    known) and compare against the chain's captured outcome.  Exact
    agreement is pinned per-fixture by the golden test above; this test
    guards the POPULATION rate — the interpreter must keep reproducing
    at least 85% of exit codes and 80% of out-message sets (the gap is
    config-gated logic: contracts reading chain config the harness does
    not supply; each mismatch class is documented in PERF.md)."""
    from ton_indexer_spark.functions.fixture_codec import load_lz4_msgpack
    from ton_indexer_spark.tvm.run import (
        build_internal_message,
        run_compute_phase,
    )

    n = exit_ok = out_total = out_ok = 0
    for f in sorted(glob.glob(os.path.join(TRACES, "*.lz4"))):
        d = load_lz4_msgpack(f)
        for tx in d["transactions"]:
            if tx.get("descr") != "ord":
                continue
            inm = next((m for m in tx["messages"]
                        if m["direction"] == "in"), None)
            if not inm or not (inm.get("init_state") or {}).get("body"):
                continue
            if inm.get("source") is None:
                continue
            try:
                code, data = state_init(inm["init_state"]["body"])
            except Exception:
                continue
            if code is None or data is None or code.exotic \
                    or code.bits == 264:
                continue
            mc = inm.get("message_content") or {}
            if not mc.get("body"):
                continue
            try:
                body = parse_boc(mc["body"])
            except Exception:
                continue
            value = int(inm.get("value") or 0)
            acct = inm["destination"]
            msg = build_internal_message(
                src=inm.get("source"), dest=acct, value=value, body=body,
                init=parse_boc(inm["init_state"]["body"]),
                bounce=bool(inm.get("bounce")),
                fwd_fee=int(inm.get("fwd_fee") or 0),
                created_lt=int(inm.get("created_lt") or 0),
                created_at=int(inm.get("created_at") or 0))
            res = run_compute_phase(
                code, data, my_address=acct, in_msg=msg, body=body,
                msg_value=value, balance=value, unixtime=tx["now"],
                block_lt=tx["lt"])
            n += 1
            if res.exit_code == tx.get("compute_exit_code"):
                exit_ok += 1
            if res.exit_code in (0, 1):
                out_total += 1
                want = sorted(
                    (str(m["destination"]), str(m.get("opcode")))
                    for m in tx["messages"] if m["direction"] == "out")
                got = []
                for a in res.actions:
                    if a["type"] != "send_msg":
                        continue
                    op = a.get("opcode")
                    if op is not None and op >= (1 << 31):
                        op -= 1 << 32
                    got.append((str(a.get("dest")), str(op)))
                if sorted(got) == want:
                    out_ok += 1
    assert n >= 100, f"only {n} replayable txs"
    # r11: the two exit-40 divergences were an engine bug (c7
    # INCOMINGVALUE hardcoded 0) — fixed; only the two jetton-bridge
    # config throws remain (test_known_replay_residuals) -> 129/131
    assert exit_ok / n >= 0.95, f"exit agreement {exit_ok}/{n}"
    assert out_ok / out_total >= 0.80, \
        f"out-msg agreement {out_ok}/{out_total}"


def test_tvm_emulator_end_to_end(spark):
    """emulate_externals with the REAL TVM backend: the forwarded
    internal hop executes actual mainnet contract code and the emitted
    pending messages must include the TVM-derived grandchildren — the
    same (dest, opcode) set the chain produced for this transaction
    (compute_replay golden)."""
    from ton_indexer_spark.streaming.emulate import (
        emulate_externals,
        make_tvm_emulator,
    )

    with open(REPLAY_GOLDEN) as fh:
        rows = json.load(fh)["rows"]
    r = next(x for x in rows if len(x["expected_out"]) >= 2)

    code, data = state_init(r["init_state_boc"])
    states = {r["account"]: {
        "code_boc": cell_to_b64_boc(code),
        "data_boc": cell_to_b64_boc(data),
    }}
    emulator = make_tvm_emulator(
        states.get, unixtime=r["now"], wallet_hop=True)

    body_op = parse_boc(r["body_boc"]).begin_parse().load_uint(32)
    ext = spark.createDataFrame(
        [("extmsg1", r["src"], r["account"], body_op - (1 << 32)
          if body_op >= (1 << 31) else body_op,
          r["value"], r["body_boc"])],
        "msg_hash string, destination string, forward_to string, "
        "opcode long, value long, body string",
    )
    txs, msgs = emulate_externals(ext, now=r["now"], emulator=emulator)
    got = {(m["destination"], m["opcode"])
           for m in msgs.collect() if m["direction"] == "out"
           and m["source"] == r["account"]}
    want = {(d, int(o)) for d, o in r["expected_out"]}
    assert want <= got, (want, got)
    # the pending rows carry the overlay finality and a stable trace id
    finalities = {t["finality"] for t in txs.collect()}
    assert finalities == {"pending"}


def test_keccak_vectors_and_permutation():
    """keccak256('') is the universally-published Ethereum constant;
    the permutation+sponge is additionally cross-checked bit-exactly
    against the stdlib's sha3 (identical Keccak-f[1600], different
    domain byte) across block boundaries."""
    import hashlib
    import os as _os

    from ton_indexer_spark.tvm import keccak as K

    assert K.keccak256(b"").hex() == (
        "c5d2460186f7233c927e7db2dcc703c0"
        "e500b653ca82273b7bfad8045d85a470")

    def sha3_256_via_engine(data: bytes) -> bytes:
        rate = 136
        padded = bytearray(data)
        pad_len = rate - (len(padded) % rate)
        padded += (b"\x06" + b"\x00" * (pad_len - 2) + b"\x80") \
            if pad_len >= 2 else b"\x86"
        a = [[0] * 5 for _ in range(5)]
        for off in range(0, len(padded), rate):
            block = padded[off:off + rate]
            for i in range(rate // 8):
                a[i % 5][i // 5] ^= int.from_bytes(
                    block[8 * i:8 * i + 8], "little")
            K._keccak_f(a)
        out = bytearray()
        for i in range(rate // 8):
            out += a[i % 5][i // 5].to_bytes(8, "little")
            if len(out) >= 32:
                break
        return bytes(out[:32])

    for n in (0, 1, 71, 135, 136, 137, 500):
        d = _os.urandom(n)
        assert sha3_256_via_engine(d) == hashlib.sha3_256(d).digest(), n


def test_hashext_keccak_in_vm():
    # PUSHSLICE x{} (empty); PUSHINT 1; HASHEXT keccak256
    b = Builder()
    b.store_uint(0x8B, 8).store_uint(0, 4)   # PUSHSLICE, x=0
    b.store_uint(0x8, 4)                      # empty + completion tag
    b.store_uint(0x71, 8)                     # PUSHINT 1
    b.store_uint(0xF904, 16).store_uint(3, 8)
    ec, st = run_code(b.end_cell())
    assert ec == 0
    assert st == [int("c5d2460186f7233c927e7db2dcc703c0"
                      "e500b653ca82273b7bfad8045d85a470", 16)]


# ------------------------------------------- review-fix regression pins


def test_nullswap_family_positions():
    # NULLSWAPIF on [5, -1]: null directly under the flag
    ec, st = run_code(asm(0x6F, 0xA0), [5, -1])
    assert (ec, st) == (0, [5, None, -1])
    # NULLSWAPIFNOT on [5, 0]
    ec, st = run_code(asm(0x6F, 0xA1), [5, 0])
    assert (ec, st) == (0, [5, None, 0])
    # NULLROTRIF on [5, 7, -1]: null under the SECOND value
    ec, st = run_code(asm(0x6F, 0xA2), [5, 7, -1])
    assert (ec, st) == (0, [5, None, 7, -1])
    # NULLSWAPIFNOT2 on [5, 0]: two nulls under the flag
    ec, st = run_code(asm(0x6F, 0xA5), [5, 0])
    assert (ec, st) == (0, [5, None, None, 0])
    # miss path: untouched
    ec, st = run_code(asm(0x6F, 0xA0), [5, 0])
    assert (ec, st) == (0, [5, 0])


def test_slices_are_values_not_cursors():
    # CTOS; DUP; LDU 8; DROP; DROP -> the remaining duplicate must be
    # untouched by the load on its sibling: SBITS == 16
    code = asm(0x81, (0x1234, 16), 0xC8, 0xCB, 0x0F, 0xC9,  # cell 16 bits
               0xD0, 0x20,                                  # CTOS; DUP
               0xD3, 0x07, 0x30, 0x30,                      # LDU 8; 2x DROP
               0xD7, 0x49)                                  # SBITS
    ec, st = run_code(code)
    assert (ec, st) == (0, [16])


def test_quiet_division_stack_shapes():
    # QDIVMOD by zero: both results NaN
    ec, st = run_code(asm(0xB7, 0xA9, 0x0C), [99, 7, 0])
    assert ec == 0 and st[0] == 99 and st[1] is NAN and st[2] is NAN
    # QMULDIV by zero: three operands consumed, one NaN
    ec, st = run_code(asm(0xB7, 0xA9, 0x84), [99, 7, 5, 0])
    assert ec == 0 and st == [99, NAN]


def test_out_of_gas_during_throw_halts_cleanly():
    # THROW 1 with a gas limit too small to afford the exception charge:
    # must return an exit code, never escape as a Python exception
    ec, st = run_code(asm(0xF2, 0x01), gas_limit=40)
    assert ec in (1, 13)


def test_parse_message_relaxed_inline_stateinit():
    from ton_indexer_spark.tvm.run import _parse_message_relaxed

    body = Builder().store_uint(0xDEADBEEF, 32).end_cell()
    code_cell = Builder().store_uint(1, 8).end_cell()
    b = Builder()
    b.store_uint(0, 1)                     # int_msg_info$0
    b.store_bit(1).store_bit(1).store_bit(0)
    b.store_address(None)
    b.store_address("0:" + "AA" * 32)
    b.store_coins(5)
    b.store_bit(0)
    b.store_coins(0).store_coins(0)
    b.store_uint(0, 64).store_uint(0, 32)
    b.store_bit(1).store_bit(0)            # init: just (left StateInit)
    b.store_bit(0)                         # no split_depth
    b.store_bit(0)                         # no special
    b.store_bit(1).store_ref(code_cell)    # code
    b.store_bit(0)                         # no data
    b.store_bit(0)                         # no library
    b.store_bit(1).store_ref(body)         # body: right ^X
    info = _parse_message_relaxed(b.end_cell())
    assert info["opcode"] == 0xDEADBEEF
    assert info["dest"] == "0:" + "AA" * 32


def test_get_method_and_replay_share_config_default():
    # CONFIGPARAM 21 must resolve on the shared synthesized config:
    # PUSHINT8 21; CONFIGPARAM
    b = Builder().store_uint(0x80, 8).store_uint(21, 8)
    b.store_uint(0xF8, 8).store_uint(0x32, 8)
    from ton_indexer_spark.tvm.config import default_config_root
    from ton_indexer_spark.tvm.run import smart_contract_info

    c7 = smart_contract_info(config_root=default_config_root())
    ec, st = run_code(b.end_cell(), c7=c7)
    assert ec == 0 and st[-1] == -1 and isinstance(st[-2], Cell)


def test_dict_rebuild_matches_chain_hash():
    """DICTSET-built dicts must hash-match chain/compiler-built ones.

    Takes every REAL method dict (key width 19) in the golden
    contracts' code cells, extracts all (key, value) pairs, rebuilds
    the dict from scratch with dict_set, and requires the rebuilt root
    hash to equal the original — this pins the hml label tie-breaking
    (short wins cost ties; empirically 23/23 observed ties in the real
    serializer's output are hml_short)."""
    import base64 as _b64

    from ton_indexer_spark.functions.boc import cell_hash, parse_boc
    from ton_indexer_spark.tvm import hashmap as hm

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ton_indexer_spark", "tvm", "golden", "get_methods.json")
    rows = json.load(open(path))["rows"]
    checked = 0
    seen = set()
    for row in rows:
        code = parse_boc(_b64.b64decode(row["code_boc"]))
        for ref in code.refs:
            try:
                keys = hm.dict_keys(ref, 19)
            except Exception:
                continue
            if not keys:
                continue
            h0 = cell_hash(ref)
            if h0 in seen:
                continue
            seen.add(h0)
            rebuilt = None
            for k in keys:
                rebuilt = hm.dict_set(rebuilt, k, hm.dict_get(ref, k))
            assert cell_hash(rebuilt) == h0, row["account"]
            checked += 1
    assert checked >= 5  # several independent codebases


def test_quiet_slice_loads():
    # LDSLICEQ 8 (D71E cc=7) on a 16-bit slice: s'' s' -1
    code = asm(0x81, (0x1234, 16), 0xC8, 0xCB, 0x0F, 0xC9,  # 16-bit cell
               0xD0,                                       # CTOS
               0xD7, 0x1E, 0x07)                           # LDSLICEQ 8
    ec, st = run_code(code)
    assert ec == 0 and st[-1] == -1
    assert st[-2].remaining_bits == 8  # s' = remainder
    assert st[-3].remaining_bits == 8  # s'' = loaded prefix
    # LDSLICEQ 24 on a 16-bit slice: quiet underflow -> s 0
    code = asm(0x81, (0x1234, 16), 0xC8, 0xCB, 0x0F, 0xC9,
               0xD0,
               0xD7, 0x1E, 0x17,                           # LDSLICEQ 24
               0x01, 0xD7, 0x49)                           # SWAP; SBITS
    ec, st = run_code(code)
    assert (ec, st[-2:]) == (0, [0, 16])
    # PLDSLICEQ underflow: just 0 (no slice)
    code = asm(0x81, (0x1234, 16), 0xC8, 0xCB, 0x0F, 0xC9,
               0xD0, 0xD7, 0x1F, 0x17)                     # PLDSLICEQ 24
    ec, st = run_code(code)
    assert (ec, st) == (0, [0])
    # LDSLICEXQ success: (s 8 -- s'' s' -1); DROP flag, SBITS on s'
    code = asm(0x81, (0x1234, 16), 0xC8, 0xCB, 0x0F, 0xC9,
               0xD0, (0x80, 8), (8, 8),                    # PUSHINT 8
               0xD7, 0x1A,                                 # LDSLICEXQ
               0x30, 0xD7, 0x49)                           # DROP; SBITS
    ec, st = run_code(code)
    assert ec == 0 and st[-1] == 8 and st[-2].remaining_bits == 8


def test_gas_charge_is_monotonic_across_calls():
    # A CALLREF (control transfer replaces cc): per-step gas deltas must
    # never be negative and the total must be sane.
    inner = asm(0x71)  # PUSHINT 1
    b = Builder()
    b.store_uint(0xDB3C, 16)  # CALLREF? (DB3C = CALLREF)
    b.store_ref(inner)
    b.store_uint(0x72, 8)     # PUSHINT 2
    code = b.end_cell()
    vm = VM(code, [])
    gas_trail = []
    orig_step = type(vm).step

    def traced(self):
        orig_step(self)
        gas_trail.append(self.gas_used)

    type(vm).step = traced
    try:
        ec = vm.run()
    finally:
        type(vm).step = orig_step
    assert ec == 0 and vm.stack == [1, 2]
    assert all(b2 >= b1 for b1, b2 in zip(gas_trail, gas_trail[1:])), \
        gas_trail


def test_ed25519_rfc8032_vectors():
    from ton_indexer_spark.tvm.ed25519 import verify

    vecs = [  # RFC 8032 §7.1 TEST 1-3 (pub, msg, sig)
        ("d75a980182b10ab7d54bfed3c964073a0ee172f3daa62325af021a68"
         "f707511a", "",
         "e5564300c360ac729086e2cc806e828a84877f1eb8e5d974d873e0652249"
         "01555fb8821590a33bacc61e39701cf9b46bd25bf5f0595bbe2465514143"
         "8e7a100b"),
        ("3d4017c3e843895a92b70aa74d1b7ebc9c982ccf2ec4968cc0cd55f1"
         "2af4660c", "72",
         "92a009a9f0d4cab8720e820b5f642540a2b27b5416503f8fb3762223ebdb"
         "69da085ac1e43e15996e458f3613d0f11d8c387b2eaeb4302aeeb00d2916"
         "12bb0c00"),
        ("fc51cd8e6218a1a38da47ed00230f0580816ed13ba3303ac5deb9115"
         "48908025", "af82",
         "6291d657deec24024827e69c3abe01a30ce548a284743a445e3680d7db5a"
         "c3ac18ff9b538d16f290ae67f760984dc6594a7c15e9716ed28dc027bece"
         "ea1ec40a"),
    ]
    for pub, msg, sig in vecs:
        assert verify(bytes.fromhex(msg), bytes.fromhex(sig),
                      bytes.fromhex(pub))
    pub, msg, sig = vecs[2]
    bad = bytearray(bytes.fromhex(sig))
    bad[0] ^= 1
    assert not verify(bytes.fromhex(msg), bytes(bad), bytes.fromhex(pub))
    assert not verify(b"\xaf\x83", bytes.fromhex(sig), bytes.fromhex(pub))
    # non-canonical S (>= L) must be rejected
    assert not verify(bytes.fromhex(msg),
                      bytes.fromhex(sig)[:32] + b"\xff" * 32,
                      bytes.fromhex(pub))


def _signed_external_population():
    """All external-in transactions in the golden traces that carry BOTH
    a StateInit (code+data) and a signed body — the real-signature
    replay population."""
    import glob as _glob

    from ton_indexer_spark.functions.fixture_codec import load_lz4_msgpack

    rows = []
    for f in sorted(_glob.glob(
            "/root/reference/indexer/tests/traces/*.lz4")):
        if not os.path.exists(f):
            continue
        d = load_lz4_msgpack(f)
        for tx in d["transactions"]:
            inm = next((m for m in tx["messages"]
                        if m["direction"] == "in"), None)
            if not inm or inm.get("source") is not None:
                continue
            ist = inm.get("init_state")
            mc = inm.get("message_content") or {}
            if not (ist and ist.get("body") and mc.get("body")):
                continue
            rows.append((os.path.basename(f), tx, inm))
    return rows


@needs_reference
def test_signed_external_replay():
    """Replay REAL signed wallet externals end to end: recv_external
    executes CHKSIGNU over the chain-captured signature through the
    clean-room RFC 8032 verifier.  True deployments (state seqno ==
    message seqno) must accept and reproduce the captured out-message
    set exactly; the one stale-state retransmit in the population
    (message seqno 1336 against the ORIGINAL deployment data, seqno 0)
    must be rejected with the wallet's own seqno-check exit 33 —
    proving the engine answers from the state it was given, not from
    the captured outcome."""
    from ton_indexer_spark.functions.boc import Slice
    from ton_indexer_spark.tvm import (
        build_external_message,
        run_compute_phase_external,
    )
    from ton_indexer_spark.tvm.engine import clone_slice

    pop = _signed_external_population()
    assert len(pop) >= 5
    accepted = rejected_stale = 0
    for fname, tx, inm in pop:
        code, data = state_init(inm["init_state"]["body"])
        assert code is not None and data is not None
        body = parse_boc(inm["message_content"]["body"])
        acct = inm["destination"]
        msg = build_external_message(
            dest=acct, body=body,
            init=parse_boc(inm["init_state"]["body"]),
            import_fee=int(inm.get("import_fee") or 0))
        res = run_compute_phase_external(
            code, data, my_address=acct, in_msg=msg, body=body,
            balance=10**9, unixtime=tx["now"], block_lt=tx["lt"])
        # wallet v3/v4 body: sig(512) subwallet(32) valid_until(32)
        # seqno(32); v5-style bodies (sig + everything in a ref) don't
        # parse this way — they are all true deployments, expect success
        stale = False
        try:
            bs = clone_slice(Slice(body))
            bs.load_uint(512), bs.load_uint(32), bs.load_uint(32)
            msg_seqno = bs.load_uint(32)
            state_seqno = data.begin_parse().load_uint(32)
            stale = msg_seqno != state_seqno
        except Exception:
            pass
        if not stale:
            want_out = sorted(str(m["destination"])
                              for m in tx["messages"]
                              if m["direction"] == "out")
            got_out = sorted(str(a.get("dest")) for a in res.actions
                             if a["type"] == "send_msg")
            assert res.exit_code == 0, (fname, res.exit_code)
            assert got_out == want_out, fname
            accepted += 1
        else:
            assert res.exit_code == 33, (fname, res.exit_code)
            rejected_stale += 1
    assert accepted >= 4 and rejected_stale <= 1

    # tamper one bit of the signature of a true deployment: the SAME
    # execution must now fail the wallet's signature throw (35)
    fname, tx, inm = next(
        (r for r in pop
         if clone_slice(Slice(parse_boc(
             r[2]["message_content"]["body"]))) is not None), pop[0])
    code, data = state_init(inm["init_state"]["body"])
    body = parse_boc(inm["message_content"]["body"])
    raw = bytearray(body.data)
    raw[10] ^= 0x04  # inside the 512-bit signature
    tampered = Cell(bytes(raw), body.bits, list(body.refs))
    acct = inm["destination"]
    msg = build_external_message(
        dest=acct, body=tampered,
        init=parse_boc(inm["init_state"]["body"]))
    res = run_compute_phase_external(
        code, data, my_address=acct, in_msg=msg, body=tampered,
        balance=10**9, unixtime=tx["now"], block_lt=tx["lt"])
    assert res.exit_code not in (0, 1), res.exit_code


@needs_reference
def test_emulator_auto_executes_real_signed_external():
    """wallet_hop="auto": a signed external whose signature verifies is
    executed for REAL (recv_external through CHKSIGNU + RFC 8032), so
    the root node's children are the wallet's actual c5 sends; an
    unsigned what-if on the same account falls back to the modeled
    accept+forward hop."""
    from ton_indexer_spark.streaming.emulate import make_tvm_emulator

    pop = _signed_external_population()
    # pick a true deployment (the signed-external replay test proves
    # >= 4 exist); use the first whose replay accepted
    from ton_indexer_spark.tvm import (
        build_external_message,
        run_compute_phase_external,
    )

    pick = None
    for fname, tx, inm in pop:
        code, data = state_init(inm["init_state"]["body"])
        body = parse_boc(inm["message_content"]["body"])
        msg = build_external_message(dest=inm["destination"], body=body)
        res = run_compute_phase_external(
            code, data, my_address=inm["destination"], in_msg=msg,
            body=body, balance=10**9, unixtime=tx["now"])
        if res.success and res.actions:
            pick = (tx, inm, code, data)
            break
    assert pick is not None
    tx, inm, code, data = pick
    acct = inm["destination"]
    states = {acct: {"code_boc": cell_to_b64_boc(code),
                     "data_boc": cell_to_b64_boc(data)}}
    emulator = make_tvm_emulator(states.get, unixtime=tx["now"])
    trace = emulator({"destination": acct, "opcode": None,
                      "value": 0,
                      "body": inm["message_content"]["body"]})
    assert len(trace) == 1
    root = trace[0]
    # REAL path: root is the wallet itself and its children are the c5
    # sends — the captured out-message destinations
    want_out = sorted(str(m["destination"]) for m in tx["messages"]
                      if m["direction"] == "out")
    assert sorted(c["account"] for c in root["out"]) == want_out

    # unsigned what-if: zeroed signature -> contract rejects -> modeled
    # accept+forward fallback (root wraps a forwarded child)
    body = parse_boc(inm["message_content"]["body"])
    raw = bytearray(body.data)
    raw[:64] = bytes(64)
    unsigned = Cell(bytes(raw), body.bits, list(body.refs))
    trace2 = emulator({"destination": acct, "opcode": None, "value": 0,
                       "body": cell_to_b64_boc(unsigned)})
    assert trace2[0]["account"] == acct
    assert len(trace2[0]["out"]) == 1  # the modeled forward convention


@needs_reference
def test_chained_replay_population():
    """The chained-replay frontier as a spec, not a script (r10 ask #9):
    replay every deployed account's whole follow-up sequence with c4 +
    set_code + balance propagation and the published fee phases.  On
    the KNOWN-pre-state population (deployment hit a nonexist/uninit
    account) the engine currently reproduces the chain 31/31 exits and
    18/18 exact out-sets; floors pinned at >= 0.95.  Chains starting on
    already-active accounts ran on real prior state the fixtures don't
    contain — reported, never counted as engine failures."""
    from ton_indexer_spark.tvm.chain_replay import replay_all

    rows = replay_all()
    known = [r for r in rows if r["pre_state_known"]]
    assert len(known) >= 25
    e_ok = sum(r["exit_match"] for r in known)
    outy = [r for r in known if r["expected_out"] or r["out_msgs"]]
    o_ok = sum(r["out_match"] for r in outy)
    assert e_ok / len(known) >= 0.95, f"exit {e_ok}/{len(known)}"
    assert len(outy) >= 15
    assert o_ok / len(outy) >= 0.95, f"out-set {o_ok}/{len(outy)}"
    # value deltas bounded by the declared gas-schedule approximation:
    # never more than 0.05 TON off on any matched message
    deltas = [r["value_delta_max"] for r in known
              if r["value_delta_max"] is not None]
    assert deltas and max(deltas) < 50_000_000, max(deltas)


def test_chained_replay_golden():
    """The committed chained golden (6 chains / 22 follow-ups, 4 chains
    with 2+ hops) replays exactly — the driver-gate contract."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "ton_indexer_spark", "tvm", "golden", "chained_replay.json")
    from ton_indexer_spark.tvm.chain_replay import replay_chain_msgs

    chains = json.load(open(path))["rows"]
    assert len(chains) >= 4
    assert sum(len(c["followups"]) >= 2 for c in chains) >= 2
    total = 0
    for chain in chains:
        rows = replay_chain_msgs(
            chain["account"], chain["deploy"], chain["followups"])
        fus = [f for f in chain["followups"] if f.get("body_boc")]
        assert len(rows) == len(fus)
        for r, fu in zip(rows, fus):
            assert r["exit_code"] == fu["expected_exit_code"], \
                (chain["account"], r)
            want = sorted(f"{d}:{o}" for d, o in fu["expected_out"])
            assert r["out_msgs"] == want, (chain["account"], r)
            total += 1
    assert total >= 20


def test_phase_fee_primitives():
    from ton_indexer_spark.tvm.phases import (
        apply_action_phase,
        cell_stats,
        fwd_fee_total,
        gas_fee,
        storage_fee,
    )

    # gas: flat 40000 covers the first 100 gas, then 400/gas (published
    # basechain prices: flat_gas_price 40000, gas_price 26214400>>16)
    assert gas_fee(50) == 40_000
    assert gas_fee(100) == 40_000
    assert gas_fee(101) == 40_400
    assert gas_fee(10_000) == 40_000 + 9_900 * 400
    # fwd fee: empty-body message (root only) = lump price
    assert fwd_fee_total(Cell()) == 400_000
    # cell_stats dedups shared subtrees
    shared = Builder().store_uint(7, 8).end_cell()
    root = Builder().store_ref(shared).store_ref(shared).end_cell()
    assert cell_stats(root) == (2, 8)            # root + ONE shared
    assert cell_stats(root, skip_root=True) == (1, 8)
    # storage fee grows linearly in dt and rounds up
    c = Builder().store_uint(1, 100).end_cell()
    assert storage_fee(c, None, 0) == 0
    f1, f2 = storage_fee(c, None, 1 << 16), storage_fee(c, None, 2 << 16)
    assert f2 == 2 * f1 and f1 == 100 * 1 + 1 * 500

    # action phase: explicit send, sender pays fees separately (+1)
    msg = Builder().store_uint(0, 8).end_cell()
    act = [{"type": "send_msg", "mode": 1, "message": msg,
            "dest": "0:" + "11" * 32, "opcode": 5, "value": 1000,
            "body": None, "bounce": False}]
    ap = apply_action_phase(act, balance=10**9,
                            msg_balance_remaining=10**8)
    assert ap.success and ap.out_msgs[0]["value"] == 1000
    fee = fwd_fee_total(msg)
    assert ap.balance_after == 10**9 - 1000 - fee
    # without +1 the fee comes out of the message value; a value that
    # cannot cover it fails the phase with code 37
    act[0] = dict(act[0], mode=0)
    ap = apply_action_phase(act, balance=10**9,
                            msg_balance_remaining=10**8)
    assert not ap.success and ap.result_code == 37
    act[0] = dict(act[0], value=10_000_000)
    ap = apply_action_phase(act, balance=10**9,
                            msg_balance_remaining=10**8)
    assert ap.success and ap.out_msgs[0]["value"] == 10_000_000 - fee
    # mode 128 carries the whole remaining balance minus the fee
    act[0] = dict(act[0], mode=128, value=0)
    ap = apply_action_phase(act, balance=10**9,
                            msg_balance_remaining=10**8)
    assert ap.success and ap.out_msgs[0]["value"] == 10**9 - fee
    assert ap.balance_after == 0
    # RAWRESERVE exact + mode-128 send: reserve survives
    acts = [{"type": "reserve", "mode": 0, "amount": 3 * 10**8},
            dict(act[0])]
    ap = apply_action_phase(acts, balance=10**9,
                            msg_balance_remaining=10**8)
    assert ap.success and ap.out_msgs[0]["value"] == 7 * 10**8 - fee
    assert ap.balance_after == 3 * 10**8
    # insufficient funds without +2 fails with code 37; with +2 skips
    acts = [{"type": "send_msg", "mode": 0, "message": msg,
             "dest": "0:" + "11" * 32, "opcode": 5, "value": 10**12,
             "body": None, "bounce": False}]
    ap = apply_action_phase(acts, balance=10**9,
                            msg_balance_remaining=0)
    assert not ap.success and ap.result_code == 37
    acts[0]["mode"] = 2
    ap = apply_action_phase(acts, balance=10**9,
                            msg_balance_remaining=0)
    assert ap.success and not ap.out_msgs


@needs_reference
def test_action_phase_values_vs_chain():
    """Calibration floor: replaying the single-hop deployment
    population with the fee phases must reproduce the chain's CAPTURED
    out-message values — fwd_fee field exact on >= 85% of matched
    messages, and explicit-value sends (modes 0/1/17, no carry) exact
    on every true deployment."""
    from ton_indexer_spark.functions.fixture_codec import load_lz4_msgpack
    from ton_indexer_spark.tvm.phases import apply_action_phase, gas_fee
    from ton_indexer_spark.tvm.run import (
        build_internal_message,
        run_compute_phase,
    )

    n_cmp = f_exact = 0
    explicit_cmp = explicit_exact = 0
    for f in sorted(glob.glob(os.path.join(TRACES, "*.lz4"))):
        d = load_lz4_msgpack(f)
        for tx in d["transactions"]:
            if tx.get("descr") != "ord":
                continue
            inm = next((m for m in tx["messages"]
                        if m["direction"] == "in"), None)
            if (not inm or inm.get("source") is None
                    or not (inm.get("init_state") or {}).get("body")):
                continue
            try:
                code, data = state_init(inm["init_state"]["body"])
            except Exception:
                continue
            if (code is None or data is None or code.exotic
                    or code.bits == 264):
                continue
            mcc = inm.get("message_content") or {}
            if not mcc.get("body"):
                continue
            body = parse_boc(mcc["body"])
            value = int(inm.get("value") or 0)
            msg = build_internal_message(
                src=inm.get("source"), dest=inm["destination"],
                value=value, body=body,
                init=parse_boc(inm["init_state"]["body"]),
                bounce=bool(inm.get("bounce")),
                fwd_fee=int(inm.get("fwd_fee") or 0),
                created_lt=int(inm.get("created_lt") or 0),
                created_at=int(inm.get("created_at") or 0))
            res = run_compute_phase(
                code, data, my_address=inm["destination"], in_msg=msg,
                body=body, msg_value=value, balance=value,
                unixtime=tx["now"], block_lt=tx["lt"])
            if not res.success:
                continue
            gf = gas_fee(res.gas_used)
            ap = apply_action_phase(
                res.actions, balance=max(0, value - gf),
                msg_balance_remaining=max(0, value - gf),
                original_balance=0)
            if not ap.success:
                continue
            nonexist = tx.get("orig_status") in ("nonexist", "uninit")
            cap = {}
            for m in tx["messages"]:
                if m["direction"] != "out":
                    continue
                cap[(str(m["destination"]), str(m.get("opcode")))] = (
                    int(m.get("value") or 0),
                    int(m.get("fwd_fee") or 0))
            for o in ap.out_msgs:
                k = (str(o["dest"]), str(o["opcode"]))
                if k not in cap:
                    continue
                cv, cf = cap[k]
                n_cmp += 1
                f_exact += o["fwd_fee"] == cf
                if o["mode"] in (0, 1, 17) and nonexist:
                    explicit_cmp += 1
                    explicit_exact += o["value"] == cv
    assert n_cmp >= 100
    assert f_exact / n_cmp >= 0.85, f"fwd_fee exact {f_exact}/{n_cmp}"
    assert explicit_cmp >= 10
    assert explicit_exact == explicit_cmp, \
        f"explicit values {explicit_exact}/{explicit_cmp}"


@needs_reference
def test_known_replay_residuals():
    """The residual single-hop exit divergences, pinned BY NAME with
    their verified cause (r10 ask #7 — and another corrected r10
    diagnosis: these are NOT historical-price fee thresholds).

    The two ww5gZmgo transactions are bridged-jetton wallets following
    the public token-bridge pattern: read config_param(79) (mainnet
    JettonBridgeParams), fall back to config_param(-79), throw 666
    when both are null.  The synthesized config (tvm/config.py)
    supplies only the price params 18/20/21/24/25; the bridge params'
    real contents (oracle addresses, bridge fees) are chain state, not
    schema, so synthesizing them would be fabrication.  Documented
    contract: these two replay as exit 666 until a captured config
    cell is available.  The prior exit-40 residuals (c7 INCOMINGVALUE
    hardcoded to 0 — an engine bug, fixed in r11) must stay green."""
    from ton_indexer_spark.functions.fixture_codec import load_lz4_msgpack
    from ton_indexer_spark.tvm.run import (
        build_internal_message,
        run_compute_phase,
    )

    expected = {
        "AWHhhBGXarvozpiF": 666,   # bridge config param 79/-79 null
        "l8aDr7uvH+qE8oZ6": 666,
        "iSEohswSof8V+eSw": 0,     # was exit 40 before the c7 fix
        "ASxwSeYAcYl26hVs": 0,
    }
    seen = {}
    for f in sorted(glob.glob(os.path.join(TRACES, "*.lz4"))):
        d = load_lz4_msgpack(f)
        for tx in d["transactions"]:
            key = next((k for k in expected
                        if tx["hash"].startswith(k)), None)
            if key is None:
                continue
            inm = next(m for m in tx["messages"]
                       if m["direction"] == "in")
            code, data = state_init(inm["init_state"]["body"])
            body = parse_boc(inm["message_content"]["body"])
            value = int(inm.get("value") or 0)
            msg = build_internal_message(
                src=inm.get("source"), dest=inm["destination"],
                value=value, body=body,
                init=parse_boc(inm["init_state"]["body"]),
                bounce=bool(inm.get("bounce")),
                fwd_fee=int(inm.get("fwd_fee") or 0))
            res = run_compute_phase(
                code, data, my_address=inm["destination"], in_msg=msg,
                body=body, msg_value=value, balance=value,
                unixtime=tx["now"], block_lt=tx["lt"])
            seen[key] = res.exit_code
    assert seen == expected, seen


@needs_reference
def test_gas_schedule_population_envelope():
    """The gas schedule is whitepaper-base, NOT C++-table exact — but it
    must stay CLOSE: on fresh-deploy transactions the chain's own gas
    is derivable from captured total_fees minus the action-phase
    forward-fee cuts (first_frac = 1/3 of the total, and the message
    field carries the remaining 2/3, so cut = field/2).  Measured r11:
    median chain/ours 0.96, p10-p90 [0.76, 1.17] over 53 txs.  Pinned:
    median within [0.85, 1.15] and at least 80%% of the population
    within [0.6, 1.7] — a drifting schedule (or a gas-charging
    regression) fails loudly here while exact equality stays
    explicitly out of contract."""
    import statistics

    from ton_indexer_spark.functions.fixture_codec import load_lz4_msgpack
    from ton_indexer_spark.tvm.run import (
        build_internal_message,
        run_compute_phase,
    )

    ratios = []
    for f in sorted(glob.glob(os.path.join(TRACES, "*.lz4"))):
        d = load_lz4_msgpack(f)
        for tx in d["transactions"]:
            if tx.get("descr") != "ord":
                continue
            if tx.get("orig_status") not in ("nonexist", "uninit"):
                continue
            inm = next((m for m in tx["messages"]
                        if m["direction"] == "in"), None)
            if (not inm or inm.get("source") is None
                    or not (inm.get("init_state") or {}).get("body")):
                continue
            try:
                code, data = state_init(inm["init_state"]["body"])
            except Exception:
                continue
            if (code is None or data is None or code.exotic
                    or code.bits == 264):
                continue
            mcc = inm.get("message_content") or {}
            if not mcc.get("body"):
                continue
            body = parse_boc(mcc["body"])
            value = int(inm.get("value") or 0)
            msg = build_internal_message(
                src=inm.get("source"), dest=inm["destination"],
                value=value, body=body,
                init=parse_boc(inm["init_state"]["body"]),
                bounce=bool(inm.get("bounce")),
                fwd_fee=int(inm.get("fwd_fee") or 0))
            res = run_compute_phase(
                code, data, my_address=inm["destination"], in_msg=msg,
                body=body, msg_value=value, balance=value,
                unixtime=tx["now"], block_lt=tx["lt"])
            if not res.success:
                continue
            cuts = sum(int(m.get("fwd_fee") or 0)
                       for m in tx["messages"]
                       if m["direction"] == "out") // 2
            gas_fee_chain = int(tx.get("total_fees") or 0) - cuts
            g_chain = (gas_fee_chain - 40_000) / 400 + 100
            if g_chain > 0 and res.gas_used > 0:
                ratios.append(g_chain / res.gas_used)
    assert len(ratios) >= 40
    med = statistics.median(ratios)
    assert 0.85 <= med <= 1.15, med
    inside = sum(0.6 <= r <= 1.7 for r in ratios)
    assert inside / len(ratios) >= 0.8, (inside, len(ratios))


def test_bounce_phase_shape():
    """A failed compute on a bounceable inbound message emits the
    block.tlb bounce: dest = sender, opcode 0xFFFFFFFF, body =
    0xFFFFFFFF ++ first 256 bits of the original body, value = inbound
    minus gas and the bounce's forward fee — the shape of the one
    captured bounce in the traces.  A bounced or non-bounceable
    message must NOT bounce."""
    from ton_indexer_spark.tvm.chain_replay import _replay_msg_fields

    failing = asm(0xF2, 0x2A)  # THROW 42
    from ton_indexer_spark.functions.boc import (
        cell_to_b64_boc,
        serialize_boc,
    )
    import base64 as _b64

    body = Builder().store_uint(0xDEADBEEF, 32).store_uint(7, 64).end_cell()
    m = {
        "dest": "0:" + "22" * 32,
        "src": "0:" + "11" * 32,
        "value": 10**9,
        "body_boc": _b64.b64encode(serialize_boc(body)).decode(),
        "bounce": True,
        "bounced": False,
        "now": 1_700_000_000,
        "lt": 5,
    }
    res, ap, bal, _ = _replay_msg_fields(
        failing, Cell(), m, 0, None, 10_000_000)
    assert res.exit_code == 42
    assert ap is not None and ap.success and len(ap.out_msgs) == 1
    o = ap.out_msgs[0]
    assert o["dest"] == "0:" + "11" * 32
    assert o["opcode"] == -1 and o.get("bounced")
    bs = o["body"].begin_parse()
    assert bs.load_uint(32) == 0xFFFFFFFF
    assert bs.load_uint(32) == 0xDEADBEEF  # original body echoed
    assert 0 < o["value"] < 10**9
    # already-bounced inbound: no bounce-of-bounce
    m2 = dict(m, bounced=True)
    res, ap, bal, _ = _replay_msg_fields(
        failing, Cell(), m2, 0, None, 10_000_000)
    assert ap is None
    # non-bounceable: dropped
    m3 = dict(m, bounce=False)
    res, ap, bal, _ = _replay_msg_fields(
        failing, Cell(), m3, 0, None, 10_000_000)
    assert ap is None


@needs_reference
def test_fee_estimator_matches_chain_fees():
    """estimateFee's default path now EXECUTES the message on the real
    code and prices components with the published formulas: on a
    captured signed wallet deployment the estimated out fwd_fee must
    land within rounding of the chain's own (captured field * 3/2),
    and gas/in_fwd must come from real execution, not the size
    heuristic."""
    from ton_indexer_spark.functions.fixture_codec import load_lz4_msgpack
    from ton_indexer_spark.functions.getmethod import tvm_fee_estimator

    f = next(iter(sorted(glob.glob(
        os.path.join(TRACES, "013-itRDy37A*.lz4")))))
    d = load_lz4_msgpack(f)
    for tx in d["transactions"]:
        inm = next((m for m in tx["messages"]
                    if m["direction"] == "in"), None)
        if not (inm and inm.get("source") is None
                and (inm.get("init_state") or {}).get("body")):
            continue
        code, data = state_init(inm["init_state"]["body"])
        state = {
            "account": inm["destination"],
            "code_boc": cell_to_b64_boc(code),
            "data_boc": cell_to_b64_boc(data),
            "balance": 10**9,
            "now": tx["now"],
        }
        body_b64 = (inm.get("message_content") or {}).get("body")
        fees = tvm_fee_estimator(state, body_b64)
        out = next(m for m in tx["messages"] if m["direction"] == "out")
        chain_fwd_total = int(out["fwd_fee"]) * 3 // 2
        assert abs(fees["fwd_fee"] - chain_fwd_total) <= 1000, fees
        assert fees["gas_fee"] > 100_000       # real execution, not 0
        assert fees["in_fwd_fee"] > 400_000    # lump + body bits
        # unsigned what-if (ignore_chksig default) equals the signed run
        fees2 = tvm_fee_estimator(state, body_b64, ignore_chksig=False)
        assert fees2 == fees                   # real signature verifies
        return
    raise AssertionError("fixture tx not found")


def test_dict_canonical_order_invariance():
    """Canonical serialization property: building the SAME key→value
    map by dict_set in ANY insertion order — including via intermediate
    deletes — must produce hash-identical cells (the property the real
    TVM guarantees and DICTSET-built c4 comparisons rely on)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ton_indexer_spark.functions.boc import cell_hash
    from ton_indexer_spark.tvm import hashmap as hm

    def build(items, order):
        root = None
        for i in order:
            k, v = items[i]
            kb = hm.int_key_bits(k, 16, signed=False)
            val = Builder().store_uint(v, 32).end_cell().begin_parse()
            root = hm.dict_set(root, kb, val)
        return root

    @given(st.dictionaries(st.integers(0, 2**16 - 1),
                           st.integers(0, 2**32 - 1),
                           min_size=1, max_size=24),
           st.randoms(use_true_random=False))
    @settings(max_examples=60, deadline=None)
    def check(mapping, rnd):
        items = list(mapping.items())
        order_a = list(range(len(items)))
        order_b = order_a[:]
        rnd.shuffle(order_b)
        ha = cell_hash(build(items, order_a))
        hb = cell_hash(build(items, order_b))
        assert ha == hb
        # delete-then-reinsert must also converge to the same cell
        root = build(items, order_a)
        k0, v0 = items[0]
        kb = hm.int_key_bits(k0, 16, signed=False)
        root, _ = hm.dict_delete(root, kb)
        val = Builder().store_uint(v0, 32).end_cell().begin_parse()
        root = hm.dict_set(root, kb, val)
        assert cell_hash(root) == ha

    check()


def test_action_phase_conservation():
    """Money-conservation property across random action lists: the
    pre-phase balance equals balance_after + Σ(child credited values)
    + Σ(forward fees, both the first-transit cuts and the carried
    fields) whenever the phase succeeds."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ton_indexer_spark.tvm.phases import (
        apply_action_phase,
        fwd_fee_total,
    )

    msg = Builder().store_uint(0xAB, 8).end_cell()
    fee = fwd_fee_total(msg)

    action = st.one_of(
        st.builds(
            lambda mode, value: {
                "type": "send_msg", "mode": mode, "value": value,
                "message": msg, "dest": "0:" + "33" * 32,
                "opcode": 1, "body": None, "bounce": False},
            st.sampled_from([0, 1, 2, 3, 64, 65, 128, 130, 160]),
            st.integers(0, 2 * 10**9)),
        st.builds(
            lambda mode, amount: {
                "type": "reserve", "mode": mode, "amount": amount},
            st.sampled_from([0, 1, 2, 3, 4]),
            st.integers(0, 10**9)),
    )

    @given(st.lists(action, max_size=6),
           st.integers(0, 3 * 10**9), st.integers(0, 10**9))
    @settings(max_examples=120, deadline=None)
    def check(actions, balance, rem):
        rem = min(rem, balance)
        ap = apply_action_phase(
            actions, balance=balance, msg_balance_remaining=rem)
        if not ap.success:
            assert ap.result_code == 37
            return
        spent = sum(o["value"] for o in ap.out_msgs)
        fees = ap.total_fwd_fees
        assert ap.balance_after + spent + fees == balance, \
            (ap.balance_after, spent, fees, balance)
        for o in ap.out_msgs:
            assert o["value"] >= 0

    check()
