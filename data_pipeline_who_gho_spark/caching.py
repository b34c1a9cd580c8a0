"""Bounded app-scoped persist cache, shared by plans that reference an
expensive invariant DataFrame several times in one query (the shingle
table across dedup queries, PageRank's edge⋈degree relation across
iterations).

One policy, one place: memoize per (applicationId, sf_dir)-style key,
evict + unpersist the oldest entry beyond ``limit`` so a long-lived
session sweeping many scale factors never pins storage forever.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable, MutableMapping

from pyspark.sql import DataFrame

# Explicit registry of every module-level persisted-frame cache.  Callers
# that release executor storage at a boundary (the correctness gate in
# tools/check_correctness.py, and perfbench before each timed curation
# op) iterate THIS list; scanning module vars for a ``*_CACHE`` suffix is
# kept only as an AUDIT (``unregistered_caches``) so a cache that
# forgets to register fails loudly instead of silently carrying frames
# from one query into the next.
PLAN_CACHES: list[MutableMapping] = []

# Shared eviction policy for the persisted-frame caches (VERDICT r07
# item 7): the limit is NOT sized from a registered-consumer tally —
# that number goes stale the round after it's written.  It bounds the
# number of persisted frames that can be LAZILY OUTSTANDING inside one
# composed plan before any action runs (each distinct global_rank /
# grouped_running_sum call site in a single composition holds one).
# Compositions in this engine are a handful of ranked frames deep at
# most; 16 is generous headroom for that DEPTH, independent of how many
# queries the registry carries, because lifecycle pressure is handled
# elsewhere: eviction unpersists, and the correctness gate and perfbench
# call clear_plan_caches() at their boundaries, so steady-state storage
# is bounded per plan, not per session.
PERSIST_CACHE_LIMIT = 16


def register_plan_cache(cache: MutableMapping) -> MutableMapping:
    """Register a module-level cache dict at its definition site:
    ``_FOO_CACHE = register_plan_cache({})``."""
    PLAN_CACHES.append(cache)
    return cache


def _unpersist_value(val) -> None:
    """Unpersist a cache value if it is a DataFrame."""
    if isinstance(val, DataFrame):
        try:
            val.unpersist()
        except Exception:
            pass


def clear_plan_caches() -> None:
    """Drop every registered cache entry, unpersisting held frames.
    Callers that also want Spark's CacheManager emptied follow up with
    ``spark.catalog.clearCache()``."""
    for cache in PLAN_CACHES:
        for val in list(cache.values()):
            _unpersist_value(val)
        cache.clear()


def unregistered_caches() -> list[str]:
    """Audit: module-level ``*_CACHE`` dicts in this package that are
    NOT in ``PLAN_CACHES`` (by identity). Non-empty means someone added
    a cache without registering it (tests/test_registry.py fails).

    Walks the WHOLE package with pkgutil and imports every module
    first: a cache in a module nothing has imported yet (e.g. a plans
    module written but not registered in __spark_entry__) must not
    escape the audit just because it wasn't in sys.modules."""
    import importlib
    import pkgutil
    import sys

    import data_pipeline_who_gho_spark as pkg

    for info in pkgutil.walk_packages(pkg.__path__, prefix=pkg.__name__ + "."):
        try:
            importlib.import_module(info.name)
        except Exception:  # unimportable module is a different failure
            pass

    ids = {id(c) for c in PLAN_CACHES}
    missing = []
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("data_pipeline_who_gho_spark"):
            continue
        for attr, val in vars(mod).items():
            if isinstance(val, dict) and attr.endswith("_CACHE") and id(val) not in ids:
                missing.append(f"{mod_name}.{attr}")
    return sorted(missing)


def bounded_persist_cache(
    cache: MutableMapping,
    key: Hashable,
    build: Callable[[], DataFrame],
    limit: int = 4,
) -> DataFrame:
    """Return ``cache[key]``, building + persisting it on a miss and
    evicting (with unpersist) the oldest entries beyond ``limit``."""
    df = cache.get(key)
    if df is not None:
        return df
    while len(cache) >= limit:
        cache.pop(next(iter(cache))).unpersist()
    df = build().persist()
    cache[key] = df
    return df
