"""Persist hygiene (r16, VERDICT r15 #7): plan builders persist shared
frames at fan-out points and CANNOT unpersist them themselves (the
consumer's action has not run at build time). The session contract is
``plans.release_caches()`` after each query's action; this file pins
that the contract actually works:

  1. after building + running persist-heavy queries, ``release_caches``
     empties the CacheManager (no unbounded accumulation across a
     composed session);
  2. release is TARGETED: a cache the caller made for its own purposes
     survives (unlike ``spark.catalog.clearCache()``);
  3. the tracked release is idempotent and returns the release count.

The leak is not hypothetical: building q91 registers a shingle-frame
cache that a later same-session q18 build would silently substitute
into its plan (observed while capturing r16 plan evidence), flipping
plan-shape measurements without changing results.
"""

from __future__ import annotations

import pytest

from spark_sql_pubsub_connector_spark import plans


def _cache_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


# persist-heavy builders across the swept modules (dedup, similarity,
# text, pipeline): q17 bands, q91 simhash/sets/shared-shingles,
# q111 embeddings frames, q78 bigrams
_PERSISTING = [
    "q17_dedup_minhash_lsh",
    "q91_blocking_eval",
    "q111_ivf_recall",
    "q78_lm_doc_score",
]


@pytest.mark.parametrize("name", _PERSISTING)
def test_release_caches_returns_cache_to_baseline(spark, sf_dir, name):
    plans.release_caches()  # drop anything a prior test left tracked
    spark.catalog.clearCache()
    assert _cache_empty(spark)
    df = plans.all_specs()[name].build(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert not _cache_empty(spark), (
        f"{name} no longer persists anything — update _PERSISTING"
    )
    released = plans.release_caches()
    assert released >= 1
    assert _cache_empty(spark), name
    # idempotent: nothing tracked remains
    assert plans.release_caches() == 0


def test_release_caches_spares_caller_caches(spark, sf_dir):
    plans.release_caches()
    spark.catalog.clearCache()
    mine = spark.range(100).persist()
    mine.count()
    df = plans.all_specs()["q17_dedup_minhash_lsh"].build(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    plans.release_caches()
    # the plan modules' caches are gone, the caller's survives
    assert not _cache_empty(spark)
    assert mine.storageLevel.useMemory
    mine.unpersist()
    assert _cache_empty(spark)


def test_release_caches_keeps_a_frame_persisted_during_release(monkeypatch):
    """A frame persisted while ``release_caches`` runs (here by an
    ``unpersist`` that builds another query) is not dropped untracked:
    it stays tracked, still persisted, and the next release frees it."""
    from spark_sql_pubsub_connector_spark.plans import caching

    monkeypatch.setattr(caching, "_TRACKED", [])

    class Frame:
        def __init__(self, on_unpersist=None):
            self.persisted = False
            self.on_unpersist = on_unpersist

        def persist(self, *args, **kwargs):
            self.persisted = True
            return self

        def unpersist(self):
            self.persisted = False
            if self.on_unpersist:
                self.on_unpersist()

    late = Frame()
    caching.persist_tracked(Frame(lambda: caching.persist_tracked(late)))
    assert caching.release_caches() == 1
    assert caching._TRACKED == [late] and late.persisted
    assert caching.release_caches() == 1
    assert caching._TRACKED == [] and not late.persisted
