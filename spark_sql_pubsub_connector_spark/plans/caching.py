"""Query-scoped persist tracking (r16, VERDICT r15 #7).

Builders persist shared frames at fan-out points (a subtree consumed
by 2+ plan references — q17's bands, q77's pairs/deg/edges, q111's
embeddings frames, ...). A builder cannot ``unpersist()`` what it
persists: the consumer's action has not run at build time, and the
CacheManager entry must stay alive until that action completes. The
r15 sweep therefore left ~29 ``persist()`` calls with no matching
release — safe under the driver (one query per comparison) and under
``bench.py`` (``clearCache()`` between queries), but a genuine leak
for any long shared session composing many queries, and a measurement
hazard: a lingering cache silently substitutes into later builds of
OTHER queries whose plans contain a matching subtree (observed r16:
a q91 build left its shingle cache behind and a later q18 build in
the same session read tokens from it).

The session contract, now explicit:

- every plan-module persist goes through :func:`persist_tracked`;
- a consumer that runs MANY queries in one session calls
  :func:`release_caches` after it is done with each query's
  DataFrame (after the action, not before);
- ``release_caches`` unpersists exactly the tracked frames — unlike
  ``spark.catalog.clearCache()`` it never touches caches the CALLER
  created for its own purposes.

``bench.py``'s per-query ``clearCache()`` and the test suite's
per-module fixture already satisfy the contract (they are supersets
of it); ``release_caches`` exists so other consumers do not have to
clobber their own caches to get hygiene.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []
_LOCK = threading.Lock()  # guards _TRACKED; never held across a Spark call


def persist_tracked(df: DataFrame, *args, **kwargs) -> DataFrame:
    """``df.persist(*args)`` + registration for :func:`release_caches`.

    Holds a strong reference until released: the CacheManager entry
    outlives the Python object anyway, and the reference is what lets
    ``release_caches`` unpersist exactly this entry later.
    """
    with _LOCK:
        _TRACKED.append(df)
    return df.persist(*args, **kwargs)


def release_caches() -> int:
    """Unpersist every tracked frame; returns how many were released.

    Blocking=False (Spark's default): block eviction is async, but the
    CacheManager entry is gone synchronously, which is what plan
    independence needs. The list is taken and emptied under a lock
    first, so a frame persisted while this runs stays tracked for the
    next release.
    """
    with _LOCK:
        taken = _TRACKED[:]
        _TRACKED.clear()
    n = 0
    for df in taken:
        try:
            df.unpersist()
            n += 1
        except Exception:
            # a stopped session or already-released entry is fine:
            # the goal is absence, and absent it is
            pass
    return n
