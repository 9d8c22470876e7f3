"""Deterministic sort + limit/offset pagination (SURVEY.md §2.6 O1/O2).

Every reference endpoint defines a total order with explicit tiebreakers
(crud_transactions.go:46-113) and limit/offset paging capped at 1000
(crud.go:31-50, main.go:2229-2230).  At 100 TB deep OFFSET is a full
sort-and-skip, so `paginate` also supports keyset cursors (the reference's
`start_lt` pattern): a cursor predicate turns the page fetch back into a
pruned range scan + TakeOrderedAndProject.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_LIMIT = 100
MAX_LIMIT = 1000


def order_columns(sort: Sequence[tuple[str, str]]) -> list[Column]:
    cols = []
    for name, direction in sort:
        c = F.col(name)
        cols.append(c.desc() if direction.lower() == "desc" else c.asc())
    return cols


def paginate(
    df: DataFrame,
    sort: Sequence[tuple[str, str]],
    limit: int = DEFAULT_LIMIT,
    offset: int = 0,
    keyset: dict[str, object] | None = None,
) -> DataFrame:
    """Total-order sort + page.

    sort    — [(col, 'asc'|'desc'), ...]; the LAST keys must make the order
              total (unique tiebreaker), matching the reference's contract.
    keyset  — optional {col: last_seen_value} for cursor paging; applied as a
              range predicate on the leading sort column (strictly past the
              cursor), which Catalyst pushes to the scan.
    """
    limit = max(1, min(int(limit), MAX_LIMIT))
    if keyset:
        for name, direction in sort:
            if name in keyset:
                c = F.col(name)
                df = df.filter(
                    c < keyset[name] if direction.lower() == "desc" else c > keyset[name]
                )
                break
    df = df.orderBy(*order_columns(sort))
    if offset:
        df = df.offset(int(offset))
    return df.limit(limit)
