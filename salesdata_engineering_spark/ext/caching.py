"""Bounded persist for operator-internal intermediate frames.

Several operators persist a narrow intermediate because their consumers
get differently-pruned subtrees Catalyst cannot share (MinHash
signatures, contamination gram streams, unigram token streams). A bare
``df.persist()`` inside a query function leaks one cached frame per
invocation for the session's lifetime — a driver or check loop running
the same query repeatedly accumulates cache entries until they evict
everything else (review round 5).

``swap_persist`` bounds that to ONE live frame per call-site key: each
new invocation unpersists the previous frame registered under the key
before persisting its own. A still-referenced old DataFrame keeps
working — it just recomputes without the cache (correctness is
unaffected; only the stale cache entry is dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: dict[str, DataFrame] = {}


def swap_persist(key: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK), releasing the frame previously
    persisted under ``key`` (non-blocking — executors clean up
    asynchronously)."""
    prev = _LIVE.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # session of the old frame may already be stopped
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE[key] = out
    return out
