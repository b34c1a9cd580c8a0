"""Registry hygiene for the query contract (``__spark_entry__``).

``queries()`` is a plain registry in registration order; every entry is
checked against its ``oracle_sql()`` twin by ``tools/check_correctness.py``
and by ``perfbench``'s curation ops."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entrymod


def test_every_query_has_an_oracle_twin():
    """A query without a DuckDB twin could only be row-counted, never
    hash-matched, so every registered name must have one."""
    qs = set(entrymod.queries())
    oracles = set(entrymod.oracle_sql())
    assert qs <= oracles, f"rows-only queries (no oracle): {sorted(qs - oracles)}"


def test_all_plan_caches_registered():
    """Every module-level *_CACHE dict must be in caching.PLAN_CACHES:
    ``clear_plan_caches`` (called by the correctness gate and by
    ``perfbench`` before each timed curation op) iterates the registry,
    so an unregistered cache would keep persisted frames across those
    boundaries and let one query's memo leak into the next timing."""
    from data_pipeline_who_gho_spark import caching

    entrymod.queries()  # force-import every plans module
    assert caching.unregistered_caches() == []
