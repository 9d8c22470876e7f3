"""Correctness checks of the benchmark, computed apart from the program.

Every check takes plain Python values (lists, dicts, tuples) and returns a
list of problems; an empty list means the output is correct.  None of them
runs inside a timed region, and none needs Spark, so
``perfbench/test_checks.py`` can show each one rejecting a corrupted output.
"""

from __future__ import annotations

import math
from collections import Counter
from decimal import Decimal


def canon(v):
    """A hashable, engine-neutral form of one cell: NaN reads as NULL,
    integral decimals as ints, rows (tuples) and lists as tuples."""
    if isinstance(v, float):
        return None if math.isnan(v) else v
    if isinstance(v, Decimal):
        return int(v) if v == v.to_integral_value() else v
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def compare_sequences(what: str, actual: list, expected: list) -> list[str]:
    """Order-sensitive equality of two row lists (a response page)."""
    actual, expected = [canon(r) for r in actual], [canon(r) for r in expected]
    if actual == expected:
        return []
    if len(actual) != len(expected):
        return [f"{what}: {len(actual)} rows, expected {len(expected)}"]
    i = next(i for i, (a, e) in enumerate(zip(actual, expected)) if a != e)
    return [f"{what}: row {i} is {actual[i]!r}, expected {expected[i]!r}"]


def compare_multisets(what: str, actual, expected) -> list[str]:
    """Order-insensitive equality of two row collections, duplicates kept."""
    a = Counter(canon(r) for r in actual)
    e = Counter(canon(r) for r in expected)
    if a == e:
        return []
    extra, missing = a - e, e - a
    return [f"{what}: {sum(extra.values())} unexpected rows "
            f"(e.g. {next(iter(extra), None)!r}), {sum(missing.values())} "
            f"missing (e.g. {next(iter(missing), None)!r})"]


# -- api_reads ---------------------------------------------------------------

def check_responses(responses: list[tuple[str, list]],
                    expected: list[list]) -> list[str]:
    """Each response page (route, projected rows) equals the DuckDB answer
    of the same request, row order included."""
    problems: list[str] = []
    for i, ((route, rows), want) in enumerate(zip(responses, expected)):
        problems += compare_sequences(f"request {i} ({route})", rows, want)
    if len(responses) != len(expected):
        problems.append(f"{len(responses)} responses for "
                        f"{len(expected)} expected answers")
    return problems


# -- ingest ------------------------------------------------------------------

def groups(pairs) -> dict:
    """(trace_id, tx_hash) pairs → {trace_id: set of tx hashes}."""
    out: dict = {}
    for trace_id, tx_hash in pairs:
        out.setdefault(trace_id, set()).add(tx_hash)
    return out


def trace_pieces(final_members, truth_members) -> tuple[dict, list[str]]:
    """Map each ground-truth trace to the finalized traces holding its
    members; a finalized trace whose members belong to more than one
    ground-truth trace (or to none) is a problem."""
    truth_of = {h: t for t, h in truth_members}
    pieces: dict = {}
    problems: list[str] = []
    for fid, members in groups(final_members).items():
        owners = {truth_of.get(h) for h in members}
        if len(owners) != 1 or None in owners:
            problems.append(f"finalized trace {fid} holds members of "
                            f"{len(owners)} ground-truth traces")
            continue
        pieces.setdefault(owners.pop(), []).append(members)
    return pieces, problems


def drop_pieces(members, edges, drop_of) -> list[frozenset]:
    """The pieces a trace falls into when it is cut at the batch boundary:
    the connected components of its members under the message edges
    (producer tx, consumer tx) whose two ends lie in the same drop."""
    root = {h: h for h in members}

    def find(h):
        while root[h] != h:
            root[h] = root[root[h]]
            h = root[h]
        return h

    for a, b in edges:
        if a in root and b in root and drop_of[a] == drop_of[b]:
            root[find(a)] = find(b)
    out: dict = {}
    for h in members:
        out.setdefault(find(h), set()).add(h)
    return [frozenset(p) for p in out.values()]


def _as_multiset(pieces) -> list[tuple]:
    return sorted(tuple(sorted(p)) for p in pieces)


def check_trace_partition(final_members, truth_members, cut_pieces,
                          final_trace_ids) -> list[str]:
    """Finalized traces and their member transactions equal the hidden
    ground-truth partition of the non-pending traces.

    ``final_members``: (trace_id, tx_hash) of the sunk transactions;
    ``truth_members``: (trace_id, tx_hash) of ground-truth traces whose
    state is not pending; ``cut_pieces``: for each ground-truth *broken*
    trace, its pieces when cut at the drop boundaries (``drop_pieces``);
    ``final_trace_ids``: ids in the traces table.

    The streaming assembler finalizes a broken trace as soon as it sees
    its root, even while out-edges whose consumers arrive in a later batch
    are still open, so a broken trace that straddles a batch boundary comes
    out as exactly its ``drop_pieces``.  That split, and only that one,
    passes; every other trace must come out whole."""
    pieces, problems = trace_pieces(final_members, truth_members)
    for tid, members in groups(truth_members).items():
        got = _as_multiset(pieces.get(tid, []))
        if got == _as_multiset([members]):
            continue
        if tid in cut_pieces and got == _as_multiset(cut_pieces[tid]):
            continue
        problems.append(
            f"trace {tid}: finalized as {len(got)} piece(s) of sizes "
            f"{[len(p) for p in got]}, expected its {len(members)} "
            "ground-truth members whole"
            + (f" or cut at the batch boundary into sizes "
               f"{sorted(len(p) for p in cut_pieces[tid])}"
               if tid in cut_pieces else ""))
    ids_tx = {t for t, _ in final_members}
    ids_tr = list(final_trace_ids)
    if len(ids_tr) != len(set(ids_tr)):
        problems.append("traces table holds a trace_id twice")
    if set(ids_tr) != ids_tx:
        problems.append(f"traces table ids differ from the transactions' "
                        f"trace_ids: {len(set(ids_tr) ^ ids_tx)} differ")
    return problems


def check_conservation(n_in: int, n_final: int, n_open: int) -> list[str]:
    """Transactions in = transactions in finalized traces + in open state."""
    if n_in == n_final + n_open:
        return []
    return [f"conservation: {n_in} transactions in, {n_final} finalized + "
            f"{n_open} open = {n_final + n_open}"]


def check_latest_states(actual, expected) -> list[str]:
    """The latest_account_states dimension equals the arg-max by
    (lt, hash) of the input transactions per account."""
    return compare_multisets("latest_account_states", actual, expected)


def check_actions(streamed, batch) -> list[str]:
    """The actions sunk micro-batch by micro-batch equal one batch
    classification of every finalized trace: classification must not
    depend on where batch boundaries fall."""
    return compare_multisets("actions (stream vs one batch)", streamed, batch)


# -- analytics ---------------------------------------------------------------

def check_checksum(query: str, actual: tuple, expected: tuple) -> list[str]:
    """(rows, bit_xor, sum) of xxhash64 over every output column of the
    spec equals the same checksum over its DuckDB oracle's answer."""
    if tuple(actual) == tuple(expected):
        return []
    return [f"{query}: checksum {tuple(actual)!r}, oracle {tuple(expected)!r}"]
