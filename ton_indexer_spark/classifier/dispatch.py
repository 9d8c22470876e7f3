"""Opcode-indexed matcher dispatch.

Running every registered matcher on every node made dispatch the largest
classify cost once the pandas boundary was removed (matchers.py profile:
~1.4M ``_op`` calls for a 23k-node corpus), because most matchers reject
a node on its root in-message opcode alone.

Each such matcher declares the opcodes it admits where it is defined, as
the reference's ``ContractMatcher(opcode)`` does::

    @opcodes(JETTON_TRANSFER, DEDUST_SWAP)
    def match_dedust_swap(node, ctx): ...

A declaration is a promise that the matcher returns None for any node
whose root opcode lies outside the set; a matcher without one is a
wildcard and runs on every node.  ``OpcodeIndex`` reads the declarations
and hands ``classify_tree`` only the candidates for a node's opcode, in
registry priority order.  tests/test_dispatch_parity.py replays the
golden fixtures and a synthetic corpus through both the index and the
full scan, and tests/test_classifier_smoke.py checks each declaration
against every matcher body.
"""

from __future__ import annotations

from collections.abc import Callable


def opcodes(*ops: int) -> Callable[[Callable], Callable]:
    """Declare the root in-message opcodes a matcher can match on."""

    def declare(fn: Callable) -> Callable:
        fn.opcodes = frozenset(ops)
        return fn

    return declare


class OpcodeIndex:
    """Priority-preserving opcode dispatch over a (name, fn) registry."""

    def __init__(self, matchers: list[tuple[str, Callable]]):
        # keep both the source reference (identity staleness check) and a
        # snapshot copy (an in-place append to the source changes its
        # length relative to this copy, so callers detect that too)
        self.source = matchers
        self.matchers = list(matchers)
        self.keys: dict[str, frozenset[int] | None] = {}
        self._wild: list[tuple[int, Callable]] = []
        self._keyed: dict[int, list[tuple[int, Callable]]] = {}
        self._cache: dict[int | None, list[Callable]] = {}
        for pos, (name, fn) in enumerate(self.matchers):
            ops = getattr(fn, "opcodes", None)
            self.keys[name] = ops
            if ops is None:
                self._wild.append((pos, fn))
            else:
                for op in ops:
                    self._keyed.setdefault(op, []).append((pos, fn))

    def candidates(self, op: int | None) -> list[Callable]:
        """Matchers that can possibly match a node whose in-msg opcode is
        ``op``, in registry priority order.  Every opcode with no keyed
        matcher shares ONE wildcard list, so memoization is bounded by
        the number of keyed opcodes, not opcode diversity in the data."""
        if op not in self._keyed:
            wild = self._cache.get(None)
            if wild is None:
                wild = self._cache[None] = [fn for _, fn in self._wild]
            return wild
        got = self._cache.get(op)
        if got is None:
            merged = self._wild + self._keyed[op]
            merged.sort(key=lambda t: t[0])
            got = self._cache[op] = [fn for _, fn in merged]
        return got

    @property
    def n_keyed(self) -> int:
        return sum(1 for v in self.keys.values() if v is not None)
