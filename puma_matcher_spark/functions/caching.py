"""The one owner of every DataFrame the library keeps cached across calls.

Two structures, one release point:

* **The ring** (``persist_rotating``) holds intermediates that a builder
  fans into several plan branches (text matching's TF-IDF word-weight
  frame, the shingle frame, the matcher app's filtered candidates).  A
  builder function has no lifecycle hook to unpersist — returning the
  frame hands the plan to the caller — so each persisted frame is
  enrolled in a small FIFO ring and enrolling past ``_CAPACITY``
  unpersists the oldest.
  Long-lived sessions converge to at most ``_CAPACITY`` cached
  intermediates, while the most recently built ones (whose plans are
  still live) stay cached.
* **The keyed memo** (``memoized``) holds the shared derived frames
  that many registered queries read: the scored entity candidates per
  family and the purchase edge list.  The reference caches stage
  outputs (Pipeline.scala:203) and memoizes sources
  (SqlDataSource.scala:48); without the memo each consuming query
  re-runs the matcher → scorer chain or the order ⋈ lineitem
  derivation.  An entry is built and persisted once per key and stays
  until ``drain()``.
* **``drain()``** unpersists every memo entry and every ring entry.
  ``sources.testdata.reset_table_cache`` calls it, so one call releases
  every cache the library holds.  The only cache outside this module is
  that table-listing memo itself (``testdata._TABLES_CACHE``).

Why a keyed memo and not the ring alone: rebuilding the candidate chain
per call and relying on the ring's plan match to find the cached entry
doubled warm latency at sf0.01 on 4 cores (entity_scores median
0.35 → 0.73 s, match_stats 1.37 → 2.10 s, match_ranks 0.83 → 1.34 s;
5 warm samples per side).  The memo returns the built frame itself, so
a warm call does no plan building at all.

Ring rules.  Identical-plan calls share ONE ring slot: Spark's
CacheManager dedupes ``persist`` by canonicalized plan, so when the same
query builder runs repeatedly every call's frame shares one cache entry;
enrolling each call separately filled the ring with aliases of the SAME
entry, and evicting an old alias unpersisted the data the newest alias
was about to reuse (measured: a 5-run picture_lsh_pairs loop recomputed
its 60 s chain on the rollover run).  A frame whose plan is already
cached is therefore NOT re-enrolled; the original enrollment keeps
owning the entry, and the match (``DataFrame.sameSemantics``) refreshes
its FIFO position so a hot frame is not evicted mid-loop.  The plan
probe, the persist and the enrollment all happen under ``_LOCK``, so two
threads persisting identical plans cannot both enroll.  A frame that
some other owner already persisted (the caller, or the memo) is
returned without enrollment: the ring never unpersists a cache it does
not own.

The memo's build lock ``_MEMO_LOCK`` is held across the build, so
concurrent first callers run the chain once instead of each leaking a
duplicate persisted frame.  It is separate from ``_LOCK`` because a
build may call ``persist_rotating``, and ``_LOCK`` is not reentrant.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_CAPACITY = 8
_RING: list[DataFrame] = []
_LOCK = threading.Lock()

_MEMO: dict[tuple, DataFrame] = {}
_MEMO_LOCK = threading.Lock()


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    try:
        return a.sameSemantics(b)
    except Exception:
        return False  # foreign session / torn-down plan — no match


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass  # session torn down — nothing to free


def drain() -> None:
    """Unpersist and drop every memo and ring entry.  Safe at any time:
    every released frame keeps its lineage, so a consumer still holding
    one recomputes, never fails."""
    with _MEMO_LOCK:
        for df in _MEMO.values():
            _unpersist(df)
        _MEMO.clear()
    with _LOCK:
        for df in _RING:
            _unpersist(df)
        _RING.clear()


def memoized(key: tuple, build: Callable[[], DataFrame]) -> DataFrame:
    """Return the frame memoized under ``key``; on the first call, run
    ``build()``, persist its frame and keep it until ``drain()``.  Put
    the session's application id in ``key``: a frame built in one
    session is not valid in another."""
    with _MEMO_LOCK:
        if key not in _MEMO:
            _MEMO[key] = build().persist(StorageLevel.MEMORY_AND_DISK)
        return _MEMO[key]


def persist_rotating(df: DataFrame) -> DataFrame:
    """Persist ``df`` and enroll it in the bounded ring; evicts (and
    unpersists) the oldest enrolled frame beyond capacity.  A frame
    whose plan is already cached (CacheManager plan-match — e.g. the
    same builder re-invoked) is returned without a second enrollment,
    and the OWNING ring entry is moved to the ring tail so rollover
    cannot unpersist an entry that is still the live cache for
    identical in-flight plans."""
    with _LOCK:
        for i, entry in enumerate(_RING):
            if _same_plan(df, entry):
                _RING.append(_RING.pop(i))  # refresh FIFO position
                # alias persist: same CacheManager entry
                df.persist(StorageLevel.MEMORY_AND_DISK)
                return df
        try:
            lvl = df.storageLevel
            already = lvl.useMemory or lvl.useDisk or lvl.useOffHeap
        except Exception:
            already = False  # storage-level probe failed — enroll normally
        df.persist(StorageLevel.MEMORY_AND_DISK)
        if already:
            return df  # outside owner (caller persist / memo) — not ours
        _RING.append(df)
        while len(_RING) > _CAPACITY:
            _unpersist(_RING.pop(0))
    return df
