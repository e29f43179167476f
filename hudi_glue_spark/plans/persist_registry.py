"""Bounded lifecycle for operator-internal persists (VERDICT r15 #6).

Several dedup operators persist a slim intermediate inside ONE query
execution (the self-join sides would otherwise re-plan and recompute
the heavy subtree twice — measured 3.5 → 0.8 s on simhash at sf0.1).
The returned DataFrame is lazy, so the operator cannot unpersist before
returning — and a long-lived session calling the operator repeatedly
would otherwise accumulate MEMORY_AND_DISK blocks without bound (~24
B/doc each, but a slow leak at 100 TB session lifetimes).

:func:`register` caps that growth: each operator family keeps its
``_CAP`` most recent persisted handles; registering a new one evicts
and ``unpersist(blocking=False)``-es the oldest. Unpersisting a handle
a caller still references is SAFE in Spark — the plan silently
recomputes from source — so eviction can never change results, only
(rarely) cost a recompute if a caller interleaves >_CAP concurrent uses
of one operator family. This is a FREEING discipline, not a cache: no
results are ever reused across operator calls.
"""

from __future__ import annotations

from collections import defaultdict, deque

from pyspark.sql import DataFrame

#: most-recent persisted handles kept live per operator family
_CAP = 4

_LIVE: dict[str, deque] = defaultdict(deque)


def register(family: str, df: DataFrame) -> DataFrame:
    """Track a just-persisted DataFrame; evict (unpersist) the family's
    oldest handles beyond ``_CAP``. Returns ``df`` for chaining."""
    q = _LIVE[family]
    q.append(df)
    while len(q) > _CAP:
        old = q.popleft()
        try:
            old.unpersist(blocking=False)
        except Exception:  # noqa: BLE001 — session may be gone
            pass
    return df


def release_all() -> None:
    """Unpersist every tracked handle (test hook / session teardown)."""
    for q in _LIVE.values():
        while q:
            old = q.popleft()
            try:
                old.unpersist(blocking=False)
            except Exception:  # noqa: BLE001
                pass
