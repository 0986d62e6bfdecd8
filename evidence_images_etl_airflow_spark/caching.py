"""Cache lifecycle for intermediate persists (VERDICT r01 item 7).

Operators that persist intermediates (shingle tables in
``operators.dedup``, the revenue view in q15, the rollup cascade)
register them here so a long-lived session doesn't accumulate cached
tables until eviction pressure. Two release tiers:

- ``release_all(spark)`` — unpersist every DataFrame the engine
  tracked. Safe anytime: unpersisting a ``persist()`` cache only costs
  recomputation.
- ``release_all(spark, hard=True)`` — additionally drop ALL persistent
  RDDs in the session via the JVM, which is the only way to free
  ``localCheckpoint`` blocks (connected_components, pagerank and
  bpe_train truncate lineage with them; a checkpointed plan cannot be
  rebuilt, so this tier is for session owners at a query boundary, not
  for library callers holding live handles).

The workload registry wraps every query so each invocation hard-releases
the previous query's leftovers — the sweep-level leak the round-1
verdict flagged (workload.py:855, :1397, operators/dedup.py:34-41).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

# Weak references: tracking must not keep a query's whole plan alive
# after the caller drops it.
_TRACKED: "weakref.WeakSet[DataFrame]" = weakref.WeakSet()


def track(df: DataFrame) -> DataFrame:
    """Register an already-``persist()``-ed DataFrame for release."""
    _TRACKED.add(df)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Persist and track. LAZY: the first downstream job populates the
    cache and later branches read it. The round-5 A/B at sf0.1 (min-of-5
    per mode on a quiet machine) measured lazy persist faster than an
    eager count() on every caller — dedup_minhash_lsh 1.19s vs 1.48s,
    curation_lm_perplexity 0.86s vs 1.16s — because the count() adds one
    job per call site while Spark's cache-population locking already
    keeps concurrent branch reads from duplicating the work wholesale.
    The A/B script is ``git show 5871f8d:tools/ab_materialize.py``."""
    return track(df.persist())


def live_count() -> int:
    return len(_TRACKED)


def release_all(spark: SparkSession | None = None, hard: bool = False) -> None:
    """Unpersist tracked DataFrames; with ``hard`` also free every
    persistent RDD in the session (localCheckpoint blocks included)."""
    for df in list(_TRACKED):
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session gone / already released
    # WeakSet has .clear()
    _TRACKED.clear()
    if hard and spark is not None:
        try:
            # Drop CacheManager entries FIRST: unpersisting the backing
            # RDD blocks alone leaves the plan-keyed InMemoryRelation
            # registered, so an identical persist() in the next query
            # re-attaches to it and a "cold" rerun silently reads the
            # previous run's cache (found r12: measure_scale best-of-2
            # reported 1.9 s for a 23 s query).
            spark.catalog.clearCache()
        except Exception:
            pass
        try:
            # py4j exposes the java Map as a dict-like JavaMap
            for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                jrdd.unpersist(False)
        except Exception:
            pass
