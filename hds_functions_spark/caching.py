"""Session-scoped tracking of operator-internal persisted DataFrames.

Several operators persist an intermediate that multiple plan branches
consume (MinHash signatures, hyperplane signatures, the range-partitioned
frame behind dense ID assignment). The handle is internal to the operator,
so without tracking, every call leaks one persisted table for the life of
the session — harmless in a one-query job, but a long-lived session (a
bench suite, a notebook, a driver loop) accumulates them until executor
storage memory is all dead cache.

Operators call :func:`tracked_persist` instead of ``df.persist()``; any
point that knows the downstream plans have been materialised (a bench
harness after its no-op write, a pipeline between stages) calls
:func:`release_operator_caches`. Releasing is always SAFE — an unpersisted
DataFrame recomputes on next use — it only costs recompute time if called
mid-consumption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

__all__ = ["tracked_persist", "release_operator_caches", "tracked_count"]

_TRACKED: list[DataFrame] = []


def tracked_persist(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK
) -> DataFrame:
    """``df.persist(level)`` + registration for later bulk release.

    A frame that is ALREADY persisted is returned unchanged and NOT
    tracked: its lifecycle belongs to whoever persisted it first, and
    :func:`release_operator_caches` must not unpersist it behind that
    owner's back (every later scan would silently recompute the
    upstream; see BASELINE.md, r10-r11)."""
    if df.storageLevel != StorageLevel.NONE:
        return df  # caller-managed persistence — do not adopt ownership
    df = df.persist(level)
    _TRACKED.append(df)
    return df


def tracked_count() -> int:
    """Number of currently-tracked (not yet released) persisted frames."""
    return len(_TRACKED)


def release_operator_caches() -> int:
    """Unpersist every tracked frame (non-blocking); returns how many."""
    n = 0
    for df in _TRACKED:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    _TRACKED.clear()
    return n
