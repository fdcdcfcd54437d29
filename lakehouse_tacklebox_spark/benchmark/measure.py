"""The one way to time a registry entry.

``time_entry`` is the timed-rep loop of ``bench.py`` and
``tools/opt_bench.py``: each rep runs ``fn(spark, sf_dir).count()``
(``count()`` forces full execution without driver-side rows) under a
Spark job group named after the entry, then clears the SQL cache. The
minimum rep is the entry's time: one rep is hostage to JVM codegen-cache
eviction. The caller warms the entry up first.

This module imports nothing from the package, so a tool can load it by
file path and time another checkout's ``REGISTRY`` with it.
"""

from __future__ import annotations

import time


def release_persisted(spark) -> None:
    """Unpersist every persisted RDD and clear the SQL cache.

    ``DataFrame.unpersist`` does not free a ``localCheckpoint``'s blocks;
    only unpersisting the RDD does. Left to the ContextCleaner, one
    entry's checkpoint debris is drained while a later entry is timed."""
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
    spark.catalog.clearCache()


def time_entry(spark, name, fn, sf_dir, reps, deadline=None) -> float:
    """Min seconds (to the ms) of ``reps`` timed ``count()`` runs of
    ``fn(spark, sf_dir)``. No rep after the first starts past
    ``deadline``, a ``time.perf_counter()`` value."""
    sc = spark.sparkContext
    sc.setJobGroup(name, f"timed: {name}")
    best = float("inf")
    try:
        for rep in range(reps):
            if rep and deadline is not None and time.perf_counter() > deadline:
                break
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            best = min(best, time.perf_counter() - t0)
            spark.catalog.clearCache()
    finally:
        sc._jsc.clearJobGroup()
        release_persisted(spark)
    return round(best, 3)
