"""Endpoint plans vs DuckDB oracle over the TON-schema fixture.

Same comparison discipline as tests/test_oracle_parity.py, but against the
reference's endpoint semantics (FIXTURES.md §5) on synthetic TON data.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pytest

from ton_indexer_spark.catalog import Catalog


@pytest.fixture(scope="session")
def ton(spark, fixture_dir):
    return Catalog(spark, fixture_dir)


@pytest.fixture(scope="session")
def tduck(fixture_dir):
    con = duckdb.connect()
    for f in glob.glob(os.path.join(fixture_dir, "*.parquet")):
        name = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    yield con
    con.close()


def rows(df, cols):
    return sorted(
        tuple(str(r[c]) for c in cols) for r in df.select(cols).collect()
    )


def drows(con, sql, ncols):
    return sorted(tuple(str(v) for v in r) for r in con.execute(sql).fetchall())


def pick(con, sql):
    return con.execute(sql).fetchone()[0]


def test_transactions_by_account(ton, tduck):
    from ton_indexer_spark.plans import transactions_query

    acc = pick(tduck, "SELECT account FROM transactions GROUP BY account ORDER BY count(*) DESC, account LIMIT 1")
    lo = pick(tduck, "SELECT min(now) FROM transactions")
    hi = pick(tduck, "SELECT max(now) FROM transactions")
    mid = (lo + hi) // 2
    got = transactions_query(
        ton, accounts=[acc], start_utime=lo, end_utime=mid, sort="desc",
        limit=50, with_messages=False,
    )
    cols = ["hash", "lt", "account", "now"]
    want = drows(
        tduck,
        f"""
        SELECT hash, lt, account, now FROM transactions
        WHERE account = '{acc}' AND now >= {lo} AND now <= {mid}
        ORDER BY now DESC, lt DESC, account ASC, hash ASC LIMIT 50
        """,
        4,
    )
    assert rows(got, cols) == want


def test_transactions_by_msg_opcode(ton, tduck):
    from ton_indexer_spark.plans import transactions_query

    got = transactions_query(
        ton, msg_opcode=0x0F8A7EA5, msg_direction="in", sort="asc", limit=100,
        with_messages=False,
    )
    want = drows(
        tduck,
        f"""
        SELECT T.hash, T.lt FROM transactions T
        WHERE EXISTS (SELECT 1 FROM messages M
                      WHERE M.tx_hash = T.hash AND M.tx_lt = T.lt
                        AND M.opcode = {0x0F8A7EA5} AND M.direction = 'in')
        ORDER BY T.lt ASC, T.account ASC, T.hash ASC LIMIT 100
        """,
        2,
    )
    assert rows(got, ["hash", "lt"]) == want


def test_transactions_message_enrichment(ton, tduck):
    from ton_indexer_spark.plans import transactions_query

    tx = pick(
        tduck,
        """
        SELECT tx_hash FROM messages WHERE direction = 'out'
        GROUP BY tx_hash HAVING count(*) >= 2 ORDER BY tx_hash LIMIT 1
        """,
    )
    got = transactions_query(ton, hashes=[tx], with_messages=True).collect()
    assert len(got) == 1
    row = got[0]
    n_out = pick(
        tduck,
        f"SELECT count(*) FROM messages WHERE tx_hash='{tx}' AND direction='out'",
    )
    assert len(row["out_msgs"]) == n_out
    # out messages sorted by created_lt (crud_transactions.go:251-261)
    lts = [m["created_lt"] for m in row["out_msgs"]]
    assert lts == sorted(lts)
    assert row["in_msg"] is not None


def test_transactions_page_keeps_order_after_enrichment(ton, tduck):
    """The message enrichment joins after paging; the page must still come
    back in the route's total order (lt DESC, account, hash)."""
    from ton_indexer_spark.plans import transactions_query

    acc = pick(tduck, "SELECT account FROM transactions GROUP BY account ORDER BY count(*) DESC, account LIMIT 1")
    got = [
        (r["lt"], r["account"], r["hash"])
        for r in transactions_query(ton, accounts=[acc], limit=20).collect()
    ]
    want = tduck.execute(
        f"""
        SELECT lt, account, hash FROM transactions WHERE account = '{acc}'
        ORDER BY lt DESC, account ASC, hash ASC LIMIT 20
        """
    ).fetchall()
    assert len(want) > 1
    assert got == [tuple(r) for r in want]


def test_messages_inout_fold(ton, tduck):
    from ton_indexer_spark.plans import messages_query

    got = messages_query(ton, exclude_externals=True, sort="asc", limit=200,
                         with_body=False)
    want = drows(
        tduck,
        """
        WITH folded AS (
            SELECT msg_hash,
                   MAX(CASE WHEN direction='in' THEN tx_hash END) AS in_tx_hash,
                   MAX(CASE WHEN direction='out' THEN tx_hash END) AS out_tx_hash,
                   MIN(created_lt) AS created_lt
            FROM messages WHERE source IS NOT NULL
            GROUP BY msg_hash
        )
        SELECT msg_hash, in_tx_hash, out_tx_hash FROM folded
        ORDER BY created_lt ASC, msg_hash ASC LIMIT 200
        """,
        3,
    )
    assert rows(got, ["msg_hash", "in_tx_hash", "out_tx_hash"]) == want


def test_actions_by_account_with_suppression(ton, tduck):
    from ton_indexer_spark.plans import actions_by_account

    acc = pick(tduck, "SELECT account FROM action_accounts GROUP BY account ORDER BY count(*) DESC, account LIMIT 1")
    got = actions_by_account(
        ton, account=acc, suppress_ancestor_types=["ton_transfer", "call_contract"],
        limit=500,
    )
    want = drows(
        tduck,
        f"""
        SELECT A.action_id, A.trace_id FROM actions A
        WHERE EXISTS (SELECT 1 FROM action_accounts AA
                      WHERE AA.action_id = A.action_id
                        AND AA.trace_id = A.trace_id AND AA.account = '{acc}')
          AND NOT (A.ancestor_type && ['ton_transfer', 'call_contract'])
        ORDER BY A.trace_end_lt DESC, A.trace_id, A.end_lt DESC, A.action_id
        LIMIT 500
        """,
        2,
    )
    assert rows(got, ["action_id", "trace_id"]) == want


def test_actions_by_tx_hash_array_contains(ton, tduck):
    from ton_indexer_spark.plans import actions_by_account

    tx = pick(tduck, "SELECT tx_hashes[1] FROM actions ORDER BY action_id LIMIT 1")
    got = actions_by_account(ton, tx_hash=tx, limit=100)
    want = drows(
        tduck,
        f"""
        SELECT action_id FROM actions WHERE list_contains(tx_hashes, '{tx}')
        ORDER BY trace_end_lt DESC, trace_id, end_lt DESC, action_id LIMIT 100
        """,
        1,
    )
    assert rows(got, ["action_id"]) == want


def test_traces_by_account_semi_join(ton, tduck):
    from ton_indexer_spark.plans import traces_query

    acc = pick(tduck, "SELECT account FROM transactions GROUP BY account ORDER BY count(*) DESC, account LIMIT 1")
    got = traces_query(ton, account=acc, limit=100, hydrate=False)
    want = drows(
        tduck,
        f"""
        SELECT trace_id, state FROM traces T
        WHERE EXISTS (SELECT 1 FROM transactions TX
                      WHERE TX.trace_id = T.trace_id AND TX.account = '{acc}')
        ORDER BY end_lt DESC, trace_id LIMIT 100
        """,
        2,
    )
    assert rows(got, ["trace_id", "state"]) == want


def test_traces_hydration_ordered(ton, tduck):
    from ton_indexer_spark.plans import traces_query

    tid = pick(tduck, "SELECT trace_id FROM traces WHERE nodes_ >= 5 ORDER BY trace_id LIMIT 1")
    got = traces_query(ton, trace_ids=[tid], hydrate=True).collect()
    assert len(got) == 1
    txs = got[0]["transactions"]
    assert len(txs) == got[0]["nodes_"]
    keys = [(t["lt"], t["account"]) for t in txs]
    assert keys == sorted(keys)  # ordered by (lt, account) — crud_traces.go:389


def test_wallets_by_jetton_mintless(ton, tduck):
    from ton_indexer_spark.plans import wallets_by_jetton

    jet = pick(tduck, "SELECT jetton FROM jetton_wallets GROUP BY jetton ORDER BY count(*) DESC, jetton LIMIT 1")
    got = wallets_by_jetton(ton, jetton=jet, limit=1000)
    want = drows(
        tduck,
        f"""
        SELECT address FROM jetton_wallets
        WHERE jetton = '{jet}' AND balance + COALESCE(mintless_amount, 0) > 0
        ORDER BY balance DESC, address LIMIT 1000
        """,
        1,
    )
    assert rows(got, ["address"]) == want


def test_metadata_union(ton, tduck):
    from ton_indexer_spark.plans import metadata_union

    got = metadata_union(ton)
    want = drows(
        tduck,
        """
        SELECT x.address, x.entity_type,
               COALESCE(m.valid, FALSE) AS valid
        FROM (
            SELECT address, 'nft_items' AS entity_type FROM nft_items
            UNION ALL SELECT address, 'nft_collections' FROM nft_collections
            UNION ALL SELECT address, 'jetton_masters' FROM jetton_masters
        ) x
        LEFT JOIN address_metadata m
               ON m.address = x.address AND m.type = x.entity_type
        """,
        3,
    )
    assert rows(got, ["address", "entity_type", "valid"]) == want


def test_address_book_shortest_domain(ton, tduck):
    from ton_indexer_spark.plans import address_book

    got = address_book(ton)
    want = drows(
        tduck,
        """
        WITH doms AS (
            SELECT nft_item_owner, domain,
                   ROW_NUMBER() OVER (PARTITION BY nft_item_owner
                                      ORDER BY length(domain), domain) AS rn
            FROM dns_entries WHERE dns_wallet = nft_item_owner
        )
        SELECT s.account, s.code_hash, d.domain
        FROM latest_account_states s
        LEFT JOIN doms d ON d.nft_item_owner = s.account AND d.rn = 1
        """,
        3,
    )
    assert rows(got, ["account", "code_hash", "domain"]) == want


def test_top_accounts(ton, tduck):
    from ton_indexer_spark.plans import top_accounts_by_balance

    got = top_accounts_by_balance(ton, k=50)
    want = drows(
        tduck,
        "SELECT account, balance FROM latest_account_states "
        "ORDER BY balance DESC, account LIMIT 50",
        2,
    )
    assert rows(got, ["account", "balance"]) == want

def test_jetton_transfers_listing(ton, tduck):
    from ton_indexer_spark.plans import jetton_transfers_query

    acc = pick(tduck, "SELECT source FROM jetton_transfers GROUP BY source ORDER BY count(*) DESC, source LIMIT 1")
    got = jetton_transfers_query(ton, account=acc, sort="desc", limit=100)
    want = drows(
        tduck,
        f"""
        SELECT tx_hash, tx_lt FROM jetton_transfers
        WHERE source = '{acc}' OR destination = '{acc}'
        ORDER BY tx_now DESC, tx_lt DESC, tx_hash ASC LIMIT 100
        """,
        2,
    )
    assert rows(got, ["tx_hash", "tx_lt"]) == want


def test_nft_transfers_listing(ton, tduck):
    from ton_indexer_spark.plans import nft_transfers_query

    col = pick(tduck, "SELECT nft_collection_address FROM nft_transfers WHERE nft_collection_address IS NOT NULL GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1")
    got = nft_transfers_query(ton, collection=col, sort="asc", limit=100)
    want = drows(
        tduck,
        f"""
        SELECT tx_hash, nft_item_address FROM nft_transfers
        WHERE nft_collection_address = '{col}'
        ORDER BY tx_now ASC, tx_lt ASC, tx_hash ASC LIMIT 100
        """,
        2,
    )
    assert rows(got, ["tx_hash", "nft_item_address"]) == want


def test_multisig_by_signer(ton, tduck):
    from ton_indexer_spark.plans import multisig_query

    signer = pick(tduck, "SELECT signers[1] FROM multisig ORDER BY address LIMIT 1")
    got = multisig_query(ton, signer=signer)
    want = drows(
        tduck,
        f"""
        SELECT address FROM multisig
        WHERE list_contains(signers, '{signer}')
        ORDER BY address LIMIT 100
        """,
        1,
    )
    assert rows(got, ["address"]) == want


def test_jetton_masters_listing(ton, tduck):
    from ton_indexer_spark.plans import jetton_masters_query

    admin = pick(tduck, "SELECT admin_address FROM jetton_masters ORDER BY address LIMIT 1")
    got = jetton_masters_query(ton, admin=admin)
    want = drows(
        tduck,
        f"SELECT address FROM jetton_masters WHERE admin_address = '{admin}' "
        "ORDER BY address LIMIT 100",
        1,
    )
    assert rows(got, ["address"]) == want


def test_api_facade_routes(spark, fixture_dir):
    from ton_indexer_spark.api import TonIndexerApi

    api = TonIndexerApi(spark, fixture_dir)
    assert api.blocks(workchain=-1, limit=5).count() == 5
    assert api.transactions(limit=5, with_messages=False).count() == 5
    assert api.messages(limit=5, with_body=False).count() == 5
    assert api.actions(limit=5).count() == 5
    assert api.traces(limit=5, hydrate=False).count() == 5
    assert api.jetton_masters(limit=3).count() == 3
    assert api.jetton_wallets(limit=3).count() == 3
    assert api.jetton_transfers(limit=3).count() == 3
    assert api.nft_items(limit=3).count() == 3
    assert api.nft_transfers(limit=3).count() == 3
    assert api.multisig(limit=3).count() == 3
    assert api.address_book().count() > 0
    assert api.metadata().count() > 0
    assert api.top_accounts(5).count() == 5
    assert api.block_exists(-1, 1)
    # deprecated aliases (main.go:2359, 2371, 2373)
    ev = api.events(limit=3)
    assert "actions" in ev.columns and ev.count() == 3
    addr = api.account_states(limit=1).select("account").first()[0]
    assert api.account(addr).columns == api.address_information(addr).columns
    assert api.wallet(addr).columns == api.wallet_information(addr).columns
    # metadata-cache batch lookup (main.go:112-150)
    book_addr = api.address_book().select("account").first()[0]
    info = api.address_info([book_addr, "0:nonexistent"])
    assert set(info) == {"metadata", "address_book"}
    assert info["address_book"].count() == 1
    only_md = api.address_info([book_addr], include_address_book=False)
    assert set(only_md) == {"metadata"}


def test_listings_plans_have_no_forced_broadcast(ton):
    """Listings plans must not pin a broadcast on dimension tables whose
    real-chain cardinality (millions of sales rows, metadata for every
    address) can exceed the broadcast budget — AQE picks broadcast from
    runtime size when the dim actually is small, and degrades gracefully
    when it is not (the round-1 lesson from trace_assembler applied to
    the query surface)."""
    from ton_indexer_spark.plans.dimensions import (
        address_book,
        metadata_union,
        nft_items_listing,
    )

    for df in (nft_items_listing(ton), metadata_union(ton), address_book(ton)):
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        assert "strategy=broadcast" not in optimized, optimized[:800]


def test_adjacent_transactions(ton, tduck):
    from ton_indexer_spark.plans.transactions import adjacent_transactions

    # pick a tx with both a parent and children
    h = pick(tduck, """
        SELECT M1.tx_hash FROM messages M1
        JOIN messages M2 ON M1.msg_hash = M2.msg_hash
                         AND M1.direction != M2.direction
        GROUP BY M1.tx_hash HAVING COUNT(DISTINCT M2.tx_hash) >= 2
        ORDER BY M1.tx_hash LIMIT 1
    """)
    got = rows(adjacent_transactions(ton, h), ["hash"])
    want = drows(tduck, f"""
        SELECT DISTINCT M2.tx_hash FROM messages M1
        JOIN messages M2 ON M1.msg_hash = M2.msg_hash
                         AND M1.direction != M2.direction
        WHERE M1.tx_hash = '{h}'
    """, 1)
    assert got == want and len(got) >= 2

    # direction filter: only the in-message side (the parent)
    got_in = rows(adjacent_transactions(ton, h, direction="in"), ["hash"])
    want_in = drows(tduck, f"""
        SELECT DISTINCT M2.tx_hash FROM messages M1
        JOIN messages M2 ON M1.msg_hash = M2.msg_hash
                         AND M1.direction != M2.direction
        WHERE M1.tx_hash = '{h}' AND M1.direction = 'in'
    """, 1)
    assert got_in == want_in


def test_transactions_by_message(ton, tduck):
    from ton_indexer_spark.plans.transactions import transactions_by_message

    mh = pick(tduck, """
        SELECT msg_hash FROM messages
        GROUP BY msg_hash HAVING COUNT(DISTINCT tx_hash) = 2
        ORDER BY msg_hash LIMIT 1
    """)
    got = rows(transactions_by_message(ton, msg_hash=mh), ["hash"])
    want = drows(tduck, f"""
        SELECT DISTINCT t.hash FROM transactions t
        WHERE EXISTS (SELECT 1 FROM messages m
                      WHERE m.msg_hash = '{mh}'
                        AND m.tx_hash = t.hash AND m.tx_lt = t.lt)
    """, 1)
    assert got == want and len(got) == 2


def test_masterchain_block_shards(ton, tduck):
    from ton_indexer_spark.plans.blocks import masterchain_block_shards

    sq = pick(tduck, "SELECT mc_block_seqno FROM blocks GROUP BY 1 "
                     "ORDER BY count(*) DESC, 1 LIMIT 1")
    got = rows(masterchain_block_shards(ton, sq, include_mc_block=True),
               ["workchain", "shard", "seqno"])
    want = drows(tduck, f"SELECT workchain, shard, seqno FROM blocks "
                        f"WHERE mc_block_seqno = {sq}", 3)
    assert got == want and got


def test_state_and_dimension_listings(ton, tduck):
    from ton_indexer_spark.plans.listings import (
        account_states_query,
        address_information,
        dns_records_query,
        nft_collections_query,
        nft_sales_query,
    )

    acc = pick(tduck, "SELECT account FROM latest_account_states "
                      "ORDER BY account LIMIT 1")
    got = rows(account_states_query(ton, addresses=[acc]),
               ["account", "balance", "account_status"])
    want = drows(tduck, f"SELECT account, balance, account_status "
                        f"FROM latest_account_states WHERE account = '{acc}'", 3)
    assert got == want

    info = address_information(ton, acc)
    assert info.count() == 1 and info.first()["account"] == acc

    own = pick(tduck, "SELECT owner_address FROM nft_collections "
                      "ORDER BY address LIMIT 1")
    got = rows(nft_collections_query(ton, owner=own), ["address"])
    want = drows(tduck, f"SELECT address FROM nft_collections "
                        f"WHERE owner_address = '{own}' "
                        f"ORDER BY address LIMIT 100", 1)
    assert got == want and got

    got = rows(nft_sales_query(ton, include_complete=False),
               ["address", "nft_address"])
    want = drows(tduck, "SELECT address, nft_address FROM getgems_nft_sales "
                        "WHERE NOT is_complete ORDER BY address LIMIT 100", 2)
    assert got == want

    w = pick(tduck, "SELECT dns_wallet FROM dns_entries "
                    "WHERE dns_wallet IS NOT NULL ORDER BY domain LIMIT 1")
    got = rows(dns_records_query(ton, wallet=w), ["domain"])
    want = drows(tduck, f"SELECT domain FROM dns_entries "
                        f"WHERE dns_wallet = '{w}' ORDER BY domain LIMIT 100", 1)
    assert got == want and got


def test_jetton_burns_listing(spark, fixture_dir, tmp_path, tduck):
    from ton_indexer_spark.operators.token_events import derive_jetton_burns
    from ton_indexer_spark.plans.listings import jetton_burns_query

    txs = spark.read.parquet(f"{fixture_dir}/transactions.parquet")
    msgs = spark.read.parquet(f"{fixture_dir}/messages.parquet")
    bodies = spark.read.parquet(f"{fixture_dir}/message_contents.parquet")
    jw = spark.read.parquet(f"{fixture_dir}/jetton_wallets.parquet")
    burns = derive_jetton_burns(txs, msgs, bodies, jw)
    burns.write.parquet(str(tmp_path / "jetton_burns.parquet"))

    cat = Catalog(spark, str(tmp_path))
    own = (burns.filter(burns["owner"].isNotNull())
           .orderBy("owner").first()["owner"])
    got = rows(jetton_burns_query(cat, account=own, limit=10_000),
               ["tx_hash", "amount"])
    want = sorted(
        (str(r["tx_hash"]), str(r["amount"]))
        for r in burns.filter(burns["owner"] == own).collect()
    )
    assert got == [tuple(w) for w in want] and got


def test_masterchain_info(ton, tduck):
    from ton_indexer_spark.plans.blocks import masterchain_info

    got = {r["which"]: r["seqno"] for r in masterchain_info(ton).collect()}
    lo = pick(tduck, "SELECT min(seqno) FROM blocks WHERE workchain = -1")
    hi = pick(tduck, "SELECT max(seqno) FROM blocks WHERE workchain = -1")
    assert got == {"first": lo, "last": hi}


def test_multisig_orders_and_vesting(ton, tduck):
    from ton_indexer_spark.plans.listings import (
        multisig_orders_query,
        vesting_query,
    )

    ms = pick(tduck, "SELECT multisig_address FROM multisig_orders "
                     "GROUP BY 1 ORDER BY count(*) DESC, 1 LIMIT 1")
    got = rows(multisig_orders_query(ton, multisig_address=ms,
                                     pending_only=True),
               ["address", "order_seqno"])
    want = drows(tduck, f"""
        SELECT address, order_seqno FROM multisig_orders
        WHERE multisig_address = '{ms}' AND NOT sent_for_execution
        ORDER BY address LIMIT 100""", 2)
    assert got == want

    w = pick(tduck, "SELECT wallet_address FROM vesting_whitelist "
                    "ORDER BY vesting_contract_address LIMIT 1")
    got = rows(vesting_query(ton, whitelisted_wallet=w), ["address"])
    want = drows(tduck, f"""
        SELECT address FROM vesting_contracts v
        WHERE EXISTS (SELECT 1 FROM vesting_whitelist wl
                      WHERE wl.vesting_contract_address = v.address
                        AND wl.wallet_address = '{w}')
        ORDER BY address LIMIT 100""", 1)
    assert got == want and got


def test_wallet_states_and_information(ton, tduck):
    """/walletStates + /walletInformation: SQL-able columns hash against
    DuckDB; decoded wallet fields replay the layout from the fixture's
    generation law (seqno = last_trans_lt % 100000, wallet_id = 100+i)."""
    from ton_indexer_spark.functions.wallets import WALLET_PARSERS
    from ton_indexer_spark.plans.listings import (
        wallet_information,
        wallet_states_query,
    )

    hashes = ",".join(f"'{h}'" for h in WALLET_PARSERS)
    wal = tduck.execute(
        f"SELECT account, balance, last_trans_lt, code_hash "
        f"FROM latest_account_states WHERE code_hash IN ({hashes}) "
        f"ORDER BY account LIMIT 5"
    ).fetchall()
    assert len(wal) == 5  # fixture seeds wallets on every third account
    addrs = [r[0] for r in wal]

    got = {
        r["account"]: r.asDict()
        for r in wallet_states_query(ton, addresses=addrs).collect()
    }
    assert sorted(got) == sorted(addrs)
    for acc, bal, lt, ch in wal:
        g = got[acc]
        assert g["wallet_decode_error"] is None
        assert g["is_wallet"] is True
        assert g["wallet_type"] == WALLET_PARSERS[ch][0]
        assert g["seqno"] == lt % 100_000
        assert str(g["balance"]) == str(bal)
        if WALLET_PARSERS[ch][1] in ("v3", "v5"):
            assert g["wallet_id"] is not None
        if WALLET_PARSERS[ch][1] == "v5":
            assert g["is_signature_allowed"] is True

    # a NON-wallet account decodes to is_wallet=false with null fields
    non = tduck.execute(
        f"SELECT account FROM latest_account_states "
        f"WHERE code_hash NOT IN ({hashes}) ORDER BY account LIMIT 1"
    ).fetchone()[0]
    g = wallet_states_query(ton, addresses=[non]).collect()[0]
    assert g["is_wallet"] is False and g["wallet_type"] is None

    # single-account wallet information carries the v2 shape
    info = wallet_information(ton, addrs[0]).collect()
    assert len(info) == 1
    i0 = info[0]
    want = tduck.execute(
        "SELECT balance, account_status, last_trans_lt, last_trans_hash "
        f"FROM latest_account_states WHERE account = '{addrs[0]}'"
    ).fetchone()
    assert (str(i0["balance"]), i0["status"], i0["last_trans_lt"],
            i0["last_trans_hash"]) == (str(want[0]), want[1], want[2], want[3])
    assert i0["is_wallet"] is True and i0["seqno"] == want[2] % 100_000

    # address filter is mandatory (main.go:697-699)
    with pytest.raises(ValueError):
        wallet_states_query(ton, addresses=[])


def test_run_get_method_seam(ton, tduck):
    """/runGetMethod: the builtin executor answers standard wallet
    get-methods straight off the data cell; the contract rejects a
    malformed plugged executor; unknown methods yield TVM exit 11."""
    import pytest as _pytest

    from ton_indexer_spark.functions.getmethod import (
        GetMethodContractError,
        estimate_fee,
        run_get_method,
    )
    from ton_indexer_spark.functions.wallets import WALLET_PARSERS

    hashes = ",".join(f"'{h}'" for h in WALLET_PARSERS)
    acc, lt = tduck.execute(
        f"SELECT account, last_trans_lt FROM latest_account_states "
        f"WHERE code_hash IN ({hashes}) ORDER BY account LIMIT 1"
    ).fetchone()

    res = run_get_method(ton, acc, "seqno")
    assert res["exit_code"] == 0 and res["gas_used"] == 0
    assert res["stack"] == [["num", hex(lt % 100_000)]]

    res = run_get_method(ton, acc, "get_pool_data")
    assert res["exit_code"] == 11 and res["stack"] == []

    with _pytest.raises(KeyError):
        run_get_method(ton, "0:" + "99" * 32, "seqno")

    with _pytest.raises(GetMethodContractError):
        run_get_method(ton, acc, "seqno",
                       executor=lambda s, m, st: {"bogus": 1})

    fee = estimate_fee(ton, acc, "te6cc" * 40)
    assert set(fee) == {"in_fwd_fee", "storage_fee", "gas_fee", "fwd_fee"}
    assert fee["fwd_fee"] == len("te6cc" * 40) * 1000


def test_traces_include_actions(ton, tduck):
    from ton_indexer_spark.plans import traces_query

    tid = pick(tduck, """
        SELECT trace_id FROM actions GROUP BY trace_id
        ORDER BY count(*) DESC, trace_id LIMIT 1
    """)
    got = traces_query(ton, trace_ids=[tid], include_actions=True).first()
    want = drows(tduck, f"""
        SELECT action_id FROM actions WHERE trace_id = '{tid}'
        ORDER BY end_lt, action_id
    """, 1)
    assert [ (a["action_id"],) for a in got["actions"] ] == [
        tuple(w) for w in want ]
    # end_lt-ordered like the reference serializer
    lts = [a["end_lt"] for a in got["actions"]]
    assert lts == sorted(lts)

    # vocabulary restriction drops unknown-to-client types
    only_basic = traces_query(
        ton, trace_ids=[tid], include_actions=True,
        supported_action_types=["v1"],
    ).first()
    from ton_indexer_spark.classifier.action_versions import (
        expand_action_type_shortcuts,
    )
    allowed = expand_action_type_shortcuts(["v1"])
    acts = only_basic["actions"] or []
    assert all(a["type"] in allowed for a in acts)


def test_actions_filters_and_tx_hydration(ton, tduck):
    from ton_indexer_spark.plans import actions_by_account

    aid, tid = tduck.execute(
        "SELECT action_id, trace_id FROM actions "
        "ORDER BY len(tx_hashes) DESC, action_id LIMIT 1").fetchone()
    got = actions_by_account(
        ton, action_ids=[aid], include_transactions=True).collect()
    assert len(got) == 1 and got[0]["trace_id"] == tid
    want = drows(tduck, f"""
        SELECT t.hash FROM transactions t
        JOIN (SELECT unnest(tx_hashes) AS h FROM actions
              WHERE action_id = '{aid}') u ON u.h = t.hash
        ORDER BY t.lt, t.account, t.hash
    """, 1)
    assert sorted((t["hash"],) for t in got[0]["transactions_full"]) == [
        tuple(w) for w in want]  # drows() returns rows sorted
    lts = [t["lt"] for t in got[0]["transactions_full"]]
    assert lts == sorted(lts)  # hydration itself is (lt, account, hash)

    sq = pick(tduck, "SELECT trace_mc_seqno_end FROM actions "
                     "GROUP BY 1 ORDER BY count(*) DESC LIMIT 1")
    got2 = actions_by_account(ton, mc_seqno=sq, limit=1000)
    want2 = pick(tduck, f"SELECT count(*) FROM actions "
                        f"WHERE trace_mc_seqno_end = {sq}")
    assert got2.count() == want2

    got3 = actions_by_account(ton, trace_ids=[tid], limit=1000)
    want3 = pick(tduck, f"SELECT count(*) FROM actions "
                        f"WHERE trace_id = '{tid}'")
    assert got3.count() == want3


def test_messages_body_hash_direction_utime(ton, tduck):
    from ton_indexer_spark.plans import messages_query

    bh = pick(tduck, "SELECT body_hash FROM messages "
                     "WHERE body_hash IS NOT NULL ORDER BY body_hash LIMIT 1")
    got = messages_query(ton, body_hash=bh, with_body=False)
    want = pick(tduck, f"SELECT count(DISTINCT msg_hash) FROM messages "
                       f"WHERE body_hash = '{bh}'")
    assert got.count() == want and want >= 1

    lo = pick(tduck, "SELECT min(created_at) FROM messages")
    hi = pick(tduck, "SELECT max(created_at) FROM messages")
    mid = (lo + hi) // 2
    got2 = messages_query(ton, direction="in", end_utime=mid,
                          with_body=False, limit=10**6)
    want2 = pick(tduck, f"""
        SELECT count(DISTINCT msg_hash) FROM messages
        WHERE direction = 'in' AND created_at <= {mid}""")
    assert got2.count() == want2


def test_builtin_get_methods_token_standards(spark):
    """get_wallet_data / get_nft_data answered straight off canonical
    data cells (the methods the reference worker TVM-executes to build
    dimensions, smc-interfaces/Tokens.cpp) — no TVM, code cell = null."""
    import base64

    from ton_indexer_spark.functions.boc import (
        encode_jetton_wallet_data,
        encode_nft_item_data,
        parse_boc,
    )
    from ton_indexer_spark.functions.getmethod import builtin_executor

    owner = "0:" + "11" * 32
    master = "0:" + "22" * 32
    jw = {"data_boc": encode_jetton_wallet_data(
        balance=1234, owner=owner, jetton=master)}
    res = builtin_executor(jw, "get_wallet_data", [])
    assert res["exit_code"] == 0
    kinds = [e[0] for e in res["stack"]]
    assert kinds == ["num", "slice", "slice", "null"]
    assert res["stack"][0][1] == hex(1234)
    got_owner = parse_boc(
        base64.b64decode(res["stack"][1][1])
    ).begin_parse().load_address()
    assert got_owner == owner.upper().replace("0:", "0:", 1) or got_owner == owner

    coll = "0:" + "33" * 32
    nft = {"data_boc": encode_nft_item_data(
        index=7, collection=coll, owner=owner, init=True)}
    res = builtin_executor(nft, "get_nft_data", [])
    assert res["exit_code"] == 0
    assert res["stack"][0] == ["num", "-0x1"]
    assert res["stack"][1] == ["num", "0x7"]

    # malformed/missing data cell: the method EXISTS but fails — a real
    # TVM errors (cell underflow, exit 9), it does NOT report 'unknown
    # method' (11); callers bucketing absent-vs-failed rely on this
    assert builtin_executor(
        {"data_boc": None}, "get_wallet_data", []
    )["exit_code"] == 9
    assert builtin_executor(
        {"data_boc": None}, "get_nft_data", []
    )["exit_code"] == 9
    # a method the builtin doesn't know at all is still 11
    assert builtin_executor(
        jw, "get_mystery_method", []
    )["exit_code"] == 11
