"""Named persist slots: the one lifecycle for plans returned unmaterialized.

Plan-building functions persist a relation that feeds several consumers,
but they return unmaterialized plans, so they cannot unpersist their own
cache. Instead each slot holds its most recent persist and a new persist
into the slot evicts the previous one — queries in a long-lived session
run sequentially, so by the time a new plan is built the old result has
been materialized. Worst case (two plans built before either runs) is a
recompute, never a wrong result.

A slot name is the unit of eviction: two call sites that share a name
evict each other, call sites with distinct names keep both persists live.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SLOTS: dict[str, DataFrame] = {}


def _evict(df: DataFrame) -> None:
    # best effort: a relation that stays cached costs memory, never
    # correctness, so a failed unpersist must not fail the caller
    try:
        df.unpersist()
    except Exception:
        pass


def persist(slot: str, df: DataFrame) -> DataFrame:
    """Evict ``slot``'s previous DataFrame, then persist ``df`` at the
    default storage level and hold it in the slot. A DataFrame that is
    already persisted is only tracked, never persisted twice."""
    old = _SLOTS.pop(slot, None)
    if old is not None:
        _evict(old)
    if not df.is_cached:
        df = df.persist()
    _SLOTS[slot] = df
    return df


def release_all() -> None:
    """Unpersist and forget every slot — isolates the next query from
    relations an earlier one left live in the CacheManager."""
    while _SLOTS:
        _evict(_SLOTS.popitem()[1])
