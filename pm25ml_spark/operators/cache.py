"""Plan-scoped cache lifetime for operators that persist an internal frame.

Several multi-pass operators (``prefix.ordered_prefix_sum``, the exact
quantile family) persist a projection of their input because the
deterministic two-pass shape scans it twice: once for split-key sampling
(eager, fills the cache), once in the returned plan. The persisted frame
must stay cached until the RETURNED plan has run — the function cannot
unpersist before returning without re-deriving the whole upstream
subtree in the final job.

Lifetime design: a bounded LRU registry (strong references). A weakref
tied to the returned DataFrame is NOT viable — composed plans drop the
intermediate Python object immediately (``sampling.decimate_partitioned``
filters the prefix result and returns a new frame; CPython refcounting
would fire the finalizer before the caller ever executes the plan,
silently re-deriving the upstream subtree the persist exists to avoid —
observed: 0 cached RDDs after building such a composed plan under the
weakref design).
Instead the last ``MAX_CACHED`` operator caches stay alive; inserting
past the bound unpersists the oldest (non-blocking). Long-lived library
sessions are therefore bounded at MAX_CACHED spillable projections
instead of leaking per call, while plans built-then-executed-soon (the
overwhelmingly common shape) always still hold their cache.
``spark.catalog.clearCache()`` remains the big hammer (bench.py uses it
between queries); ``release_all()`` drops just this registry.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import DataFrame

# Caps executor memory/disk held by operator-internal caches: each entry
# is a narrow projection (keys + one value column), MEMORY_AND_DISK, so
# the bound is a few GB of spill at worst — raise if a workload
# genuinely interleaves more than this many multi-pass operators.
MAX_CACHED = 32

_LOCK = threading.Lock()
_LRU: "OrderedDict[int, DataFrame]" = OrderedDict()


def release_with(result: DataFrame, cached: DataFrame) -> DataFrame:
    """Register ``cached`` in the bounded LRU keeping it alive for the
    returned plan's execution; evicts (unpersists, non-blocking) the
    oldest entry past ``MAX_CACHED``. Returns ``result`` unchanged."""
    with _LOCK:
        key = id(cached._jdf)
        _LRU[key] = cached
        # a re-registered frame is a RE-USE: move it to the MRU end so
        # eviction order is true LRU, not first-insert FIFO (a frame
        # re-used by a later operator call must outlive older entries)
        _LRU.move_to_end(key)
        while len(_LRU) > MAX_CACHED:
            _, old = _LRU.popitem(last=False)
            try:
                old.unpersist(False)
            except Exception:
                pass  # session already stopped
    return result


def release_all() -> None:
    """Unpersist every registry-held operator cache (non-blocking)."""
    with _LOCK:
        while _LRU:
            _, old = _LRU.popitem(last=False)
            try:
                old.unpersist(False)
            except Exception:
                pass
