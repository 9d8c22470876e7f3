"""Workload ``api_reads``: one closed-loop client sends a seeded mix of
``TonIndexerApi`` routes over a generated TON store.

A round sends ``PER_ROUTE`` requests to each route, in a seeded order,
with seeded parameters; the client starts the next request when the
previous response has been collected.  Point lookups and account histories are dominated by
per-request planning and scheduling overhead; ``messages`` is the one
unfiltered listing, bound by its scan and fold.  The ingest layers
(streaming, classifier, sources) do no work here.

``transactions`` by account is left out of the mix: its page comes back
out of ``lt`` order (the message-enrichment join after ``paginate`` drops
the sort), so every multi-row page would fail the check.
"""

from __future__ import annotations

import random

from perfbench import checks
from perfbench.harness import median

N_TRACES = 1000  # store size: ~5.7k transactions, ~11.5k message rows
ROUTES = ("tx_by_hash", "adjacent", "account_traces", "account_actions",
          "messages")
# Equal weights are an assumption, not measured traffic: no request counts
# per route of real /api/v3 clients are at hand.  Weight the mix from such
# counts (access logs, say) once they are.
PER_ROUTE = 5  # 25 requests a round


def _call(api, route: str, p: dict):
    """The route's public API call; returns the lazy plan."""
    if route == "tx_by_hash":
        return api.transactions(hashes=[p["hash"]])
    if route == "adjacent":
        return api.adjacent_transactions(p["hash"])
    if route == "account_traces":
        return api.traces(account=p["account"], limit=10)
    if route == "account_actions":
        return api.actions(account=p["account"], limit=20)
    return api.messages(limit=50)


def _project(route: str, rows) -> list[tuple]:
    """The fields of a response page that the check compares."""
    if route == "tx_by_hash":
        return [(r.hash, r.lt, r.account,
                 None if r.in_msg is None else
                 (r.in_msg.msg_hash, r.in_msg.source, r.in_msg.value,
                  r.in_msg.body),
                 None if r.out_msgs is None else
                 tuple((m.created_lt, m.msg_hash, m.destination, m.value,
                        m.body) for m in r.out_msgs))
                for r in rows]
    if route == "adjacent":
        return [(r.hash, r.lt, r.account) for r in rows]
    if route == "account_traces":
        return [(r.trace_id, r.end_lt, r.state,
                 tuple(t.hash for t in r.transactions or ())) for r in rows]
    if route == "account_actions":
        return [(r.action_id, r.trace_id, r.trace_end_lt, r.end_lt, r.type)
                for r in rows]
    return [(r.msg_hash, r.created_lt, r.in_tx_hash, r.out_tx_hash,
             r.source, r.destination, r.body) for r in rows]


# -- DuckDB answers, worked out apart from the engine ------------------------

def _duck(store: str):
    import duckdb

    con = duckdb.connect()
    for t in ("transactions", "messages", "message_contents", "traces",
              "actions", "action_accounts"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{store}/{t}.parquet')")
    return con


def _with_messages(con, txs: list[tuple]) -> list[tuple]:
    """Hydrate (hash, lt, account) rows with their in-message and their
    out-messages ordered by (created_lt, msg_hash)."""
    out = []
    for h, lt, acc in txs:
        msgs = con.execute(
            "SELECT m.direction, m.created_lt, m.msg_hash, m.source, "
            "m.destination, m.value, c.body FROM messages m "
            "LEFT JOIN message_contents c ON c.hash = m.body_hash "
            "WHERE m.tx_hash = ? AND m.tx_lt = ?", [h, lt]).fetchall()
        ins = sorted(m for m in msgs if m[0] == "in")
        outs = sorted((m for m in msgs if m[0] == "out"),
                      key=lambda m: (m[1], m[2]))
        in_msg = None
        if ins:
            _, _, mh, src, _, val, body = ins[-1]
            in_msg = (mh, src, val, body)
        out_msgs = (tuple((m[1], m[2], m[4], m[5], m[6]) for m in outs)
                    if msgs else None)
        out.append((h, lt, acc, in_msg, out_msgs))
    return out


def expected_page(con, route: str, p: dict) -> list[tuple]:
    if route == "tx_by_hash":
        txs = con.execute(
            "SELECT hash, lt, account FROM transactions WHERE hash = ? "
            "ORDER BY lt DESC, account, hash LIMIT 100", [p["hash"]]).fetchall()
        return _with_messages(con, txs)
    if route == "adjacent":
        return con.execute(
            "SELECT t.hash, t.lt, t.account FROM transactions t WHERE t.hash "
            "IN (SELECT m2.tx_hash FROM messages m1 JOIN messages m2 "
            "    ON m1.msg_hash = m2.msg_hash AND m1.direction <> m2.direction"
            "    WHERE m1.tx_hash = ?) ORDER BY t.lt, t.hash",
            [p["hash"]]).fetchall()
    if route == "account_traces":
        page = con.execute(
            "SELECT trace_id, end_lt, state FROM traces WHERE trace_id IN "
            "(SELECT trace_id FROM transactions WHERE account = ?) "
            "ORDER BY end_lt DESC, trace_id LIMIT 10",
            [p["account"]]).fetchall()
        out = []
        for tid, end_lt, state in page:
            members = con.execute(
                "SELECT hash FROM transactions WHERE trace_id = ? "
                "ORDER BY lt, account, hash", [tid]).fetchall()
            out.append((tid, end_lt, state, tuple(m[0] for m in members)))
        return out
    if route == "account_actions":
        return con.execute(
            "SELECT DISTINCT a.action_id, a.trace_id, a.trace_end_lt, "
            "a.end_lt, a.type FROM actions a JOIN action_accounts aa "
            "ON aa.action_id = a.action_id AND aa.trace_id = a.trace_id "
            "WHERE aa.account = ? ORDER BY a.trace_end_lt DESC, a.trace_id, "
            "a.end_lt DESC, a.action_id LIMIT 20", [p["account"]]).fetchall()
    return con.execute(
        "WITH f AS (SELECT msg_hash, "
        "  max(CASE WHEN direction = 'in' THEN tx_hash END) AS in_tx_hash, "
        "  max(CASE WHEN direction = 'out' THEN tx_hash END) AS out_tx_hash, "
        "  max(created_lt) AS created_lt, max(source) AS source, "
        "  max(destination) AS destination, max(body_hash) AS body_hash "
        "  FROM messages GROUP BY msg_hash) "
        "SELECT f.msg_hash, f.created_lt, f.in_tx_hash, f.out_tx_hash, "
        "f.source, f.destination, c.body FROM f "
        "LEFT JOIN message_contents c ON c.hash = f.body_hash "
        "ORDER BY f.created_lt DESC, f.msg_hash DESC LIMIT 50").fetchall()


# -- the workload ------------------------------------------------------------

def _params(rng: random.Random, route: str, hashes, accounts) -> dict:
    if route in ("tx_by_hash", "adjacent"):
        return {"hash": rng.choice(hashes)}
    if route == "messages":
        return {}
    return {"account": rng.choice(accounts)}


def run(ctx):
    import pyarrow.parquet as pq

    store = ctx.fixture(N_TRACES)
    txs = pq.read_table(f"{store}/transactions.parquet",
                        columns=["hash", "account"])
    hashes = sorted(txs.column("hash").to_pylist())
    accounts = sorted(set(txs.column("account").to_pylist()))
    rng = random.Random(ctx.seed)

    spark = ctx.start_spark()
    from ton_indexer_spark.api import TonIndexerApi

    api = TonIndexerApi(spark, store)
    for route in ROUTES:  # warm-up: plan shapes compiled, footers read
        _call(api, route, _params(rng, route, hashes, accounts)).collect()

    tr = ctx.tracer
    lat: list[float] = []
    by_route: dict[str, list[float]] = {r: [] for r in ROUTES}
    sent: list[tuple[str, dict, list]] = []
    counts: list[dict] = []
    failed = 0
    ctx.begin_measure()
    while True:
        order = list(ROUTES) * PER_ROUTE
        rng.shuffle(order)
        for route in order:
            p = _params(rng, route, hashes, accounts)
            i = len(sent)
            tr.op_id = f"req-{i}"
            cnt: dict = {}
            with ctx.job_group(tr.op_id, cnt), \
                    tr.span("api.request", route=route):
                t0 = ctx.clock.now()
                try:
                    with tr.span("api.build"):
                        df = _call(api, route, p)
                    with tr.span("api.exec"):
                        rows = df.collect()
                except Exception as exc:  # noqa: BLE001 — a failed
                    # request is counted, never fatal to the client
                    failed += 1
                    rows = None
                    ctx.log(f"request {i} ({route}) failed: {exc!r}")
                dt = ctx.clock.now() - t0
            sent.append((route, p, rows))
            counts.append(cnt)
            if rows is not None:
                lat.append(dt)
                by_route[route].append(dt)
        if ctx.measure_elapsed() >= ctx.seconds:
            break
    wall = ctx.end_measure()
    tr.op_id = None

    con = _duck(store)
    ok = [(r, p, rows) for r, p, rows in sent if rows is not None]
    problems = checks.check_responses(
        [(r, _project(r, rows)) for r, _, rows in ok],
        [expected_page(con, r, p) for r, p, _ in ok])
    con.close()

    e2e = {"cpu_ms_per_op": ctx.cpu_ms_per_op(len(sent))}
    layer = {"api.request_ms_p50": median(lat) * 1e3,
             "api.requests_per_s": len(lat) / wall}
    if tr.enabled:
        layer.update({
            "spark.jobs_per_request": sum(c["jobs"] for c in counts) / len(counts),
            "spark.tasks_per_request": sum(c["tasks"] for c in counts) / len(counts),
            "api.build_ms_p50": median(tr.durations("api.build")) * 1e3,
            "api.exec_ms_p50": median(tr.durations("api.exec")) * 1e3,
        })
        for r in ROUTES:
            layer[f"api.route.{r}.p50_ms"] = median(by_route[r]) * 1e3
    ctx.log(f"{len(sent)} requests in {wall:.2f}s, p50 "
            f"{median(lat) * 1e3:.1f} ms, {ctx.cpu_s:.1f} CPU s, "
            f"{len(problems)} problems")
    return problems, len(sent), failed, e2e, layer
