"""Bounded per-application memo caches for expensive trained/derived state.

The engine memoizes three kinds of once-per-corpus state: the MinHash
signature frame (dedup family), the trained k-means quantizer
(IVF/SemDeDup), and the streaming band index.  Through round 5 these
were plain dicts keyed by (applicationId, sf_dir) and never evicted —
fine for the driver's single-corpus sessions, but a long-lived session
cycling many corpora would pin checkpointed RDDs forever, and a corpus
rewritten in place mid-application would be served stale.

This module fixes both:

- :class:`LRU` — a small ordered cache (:data:`MEMO_SLOTS` slots) with
  a per-entry eviction callback so the owner can drop the global temp
  view / unpersist when an entry ages out.  Dropping the last reference
  makes the JVM Dataset collectible and Spark's ContextCleaner reclaims
  the checkpointed blocks.
- :func:`mtime_token` — a filesystem freshness token folded into cache
  keys, so rewriting the parquet under a cached sf_dir changes the key
  and the stale entry simply stops being hit (and ages out of the LRU).
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import Any, Callable

# Cache capacity: entries are per-corpus, so this is 'how many corpora
# may stay warm at once'.
MEMO_SLOTS = 4


# Every LRU instance registers here so sweep tools can release ALL
# memoized derived state between queries (tools/oracle_check.py's
# per-query block release) — eviction callbacks drop the global temp
# views / unpersist, making the checkpointed blocks collectible.
_ALL_CACHES: "list[LRU]" = []


def clear_all_caches() -> None:
    """Evict every entry of every registered LRU (running eviction
    callbacks).  Safe at any point between queries: the next access
    misses and rebuilds — for the band-graph stack that is a parquet
    re-read of the published derived frame, not a recompute."""
    for c in _ALL_CACHES:
        c.clear()


class LRU:
    """Insertion/access-ordered bounded cache with eviction callbacks."""

    def __init__(self, maxsize: int | None = None) -> None:
        self.maxsize = maxsize if maxsize is not None else MEMO_SLOTS
        self._d: "OrderedDict[Any, tuple[Any, Callable | None]]" = OrderedDict()
        _ALL_CACHES.append(self)

    def get(self, key: Any) -> Any:
        hit = self._d.get(key)
        if hit is None:
            return None
        self._d.move_to_end(key)
        return hit[0]

    def put(
        self, key: Any, value: Any, on_evict: Callable[[Any], None] | None = None
    ) -> None:
        self._d[key] = (value, on_evict)
        self._d.move_to_end(key)
        while len(self._d) > self.maxsize:
            _, (old, cb) = self._d.popitem(last=False)
            self._run(cb, old)

    def clear(self) -> None:
        """Evict everything, running each entry's callback."""
        while self._d:
            _, (old, cb) = self._d.popitem(last=False)
            self._run(cb, old)

    @staticmethod
    def _run(cb: Callable | None, value: Any) -> None:
        if cb is not None:
            try:
                cb(value)
            except Exception:
                pass  # eviction is best-effort cleanup, never a query error

    def __len__(self) -> int:
        return len(self._d)

    def __contains__(self, key: Any) -> bool:
        return key in self._d


def mtime_token(sf_dir: str, table: str) -> int | None:
    """Microsecond mtime of ``{sf_dir}/{table}.parquet`` (newest part
    file when it is a directory); ``None`` when unreadable.  Folded into
    memo keys so a rewritten corpus misses instead of serving stale
    derived state."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        stamps = [os.path.getmtime(path)]
        if os.path.isdir(path):
            stamps += [
                os.path.getmtime(os.path.join(path, f))
                for f in os.listdir(path)
            ]
        return int(max(stamps) * 1_000_000)
    except OSError:
        return None
