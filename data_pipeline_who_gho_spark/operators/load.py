"""L1-L3: warehouse load — idempotent keyed UPSERT + append-only reject sink.

The reference's load is a single multi-row
``INSERT ... ON CONFLICT (key) DO UPDATE SET <non-key cols>``
(``etl/load.py:30-52``): updates win on shared keys, union otherwise, and
re-loading the same batch is a no-op.

Spark-first design: the MERGE is a **broadcast-able left-anti join +
unionByName** over parquet-at-rest. Parquet has no transactions, so a
commit writes the new data to a temp dir and then swaps it in by
directory renames (``_swap``), one unit at a time: the whole table, or
each partition an upsert touches. Neither is all-or-nothing. A crash
between the two renames of a unit leaves that unit absent, with its old
data parked in a ``.``-named dir beside it that Spark does not read; a
crash between two partition units leaves some partitions new and some
old; a crash during the temp write leaves a ``<table>.tmp-*`` dir and
the table untouched. On a Delta/Iceberg-backed catalog the same
function maps 1:1 onto ``MERGE INTO`` — the call-site contract is
identical, so swapping the table format is a one-line change here.

Scale notes: the anti-join shuffles on the upsert key unless the update
batch is small enough to broadcast — the common case for dimension upserts
(dims are tiny; Catalyst broadcasts automatically under the threshold).
Like Delta MERGE, duplicate keys *within one batch* are an error upstream;
callers dedup first (T6/T8), which the pipeline driver does.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class UpsertKeyError(ValueError):
    """Update batch contains duplicate upsert keys (reference: Postgres
    raises CardinalityViolation; Delta MERGE raises — we match)."""


def _table_path(warehouse_dir: str, table: str) -> str:
    return os.path.join(warehouse_dir, table)


def _tmp_dir(path: str) -> str:
    return path + ".tmp-" + uuid.uuid4().hex[:8]


def _swap(new: str, live: str) -> None:
    """Replace directory ``live`` with ``new`` by two renames; a missing
    ``new`` drops ``live``. The replaced dir is parked under a name that
    starts with ``.``, which Spark's partition discovery skips, and then
    deleted. A crash between the renames leaves ``live`` absent and the
    parked ``.<name>.old-*`` dir beside it (recoverable by hand)."""
    parent, name = os.path.split(live)
    old = os.path.join(parent, f".{name}.old-{uuid.uuid4().hex[:8]}")
    if os.path.exists(live):
        os.rename(live, old)
    if os.path.exists(new):
        os.makedirs(parent, exist_ok=True)
        os.rename(new, live)
    shutil.rmtree(old, ignore_errors=True)


def atomic_overwrite(path: str, write_fn) -> None:
    """Write-temp → directory-swap commit of a whole table.
    ``write_fn(tmp_path)`` materializes the new table into a fresh temp
    dir, then ``_swap`` replaces the live directory.

    Honesty note: the rename pair is not one atomic operation — there is
    a sub-millisecond window where the path is absent, and a crash inside
    it leaves only the parked old dir. This matches the engine's
    single-writer posture (the reference runs with ``max_active_runs=1``,
    dags/who_gho_etl_dag.py:35); concurrent writers/appenders need
    external coordination or a transactional table format
    (Delta/Iceberg), onto which this call-site maps 1:1.
    """
    tmp = _tmp_dir(path)
    write_fn(tmp)
    _swap(tmp, path)


def read_table(spark: SparkSession, warehouse_dir: str, table: str) -> DataFrame | None:
    path = _table_path(warehouse_dir, table)
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def merge_upsert(target: DataFrame | None, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Pure-plan MERGE: updates win on shared keys, union otherwise.

    Exposed separately from the sink so the semantics are SQL-checkable
    (oracle: anti-join + UNION ALL) and reusable in-plan without I/O.

    Broadcast decision is left to Catalyst/AQE: update batches small enough
    (the dimension-upsert common case) broadcast automatically; large fact
    batches fall back to a shuffled anti-join on the key, which AQE can
    re-plan at runtime using observed sizes.
    """
    if target is None:
        return updates
    kept = target.join(updates.select(*keys), on=list(keys), how="left_anti")
    return kept.unionByName(updates)


def merge_cdc(
    target: DataFrame | None,
    changes: DataFrame,
    keys: Sequence[str],
    delete_col: str = "is_deleted",
) -> DataFrame:
    """Pure-plan CDC MERGE with delete handling — the full three-clause
    merge the reference's INSERT..ON CONFLICT cannot express but every
    CDC feed needs:

        WHEN MATCHED AND is_deleted THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED AND NOT is_deleted THEN INSERT *

    One anti-join over ALL change keys (deleted and upserted alike)
    evicts stale target rows, then surviving non-delete changes union
    back — same single-shuffle shape as ``merge_upsert``; a delete for
    an absent key is a no-op (tombstone replay tolerance, which makes
    re-applying a CDC batch idempotent). A NULL flag means "not a
    delete" (sources often leave it unset) — it must upsert, never
    silently evict.
    """
    upserts = changes.filter(
        ~F.coalesce(F.col(delete_col), F.lit(False))
    ).drop(delete_col)
    if target is None:
        return upserts
    kept = target.join(changes.select(*keys), on=list(keys), how="left_anti")
    return kept.unionByName(upserts)


# Characters Spark escapes in hive-style partition directory names
# (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils).
_HIVE_UNSAFE = set('"#%\'*/:=?\\\x7f{[]^')


def _hive_escape(val: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_UNSAFE or ord(ch) < 32 else ch
        for ch in val
    )


def _hive_part_dir(pcols: Sequence[str], values: Sequence) -> str:
    """Relative hive directory for one partition tuple, Spark-compatible."""
    segs = []
    for col, val in zip(pcols, values):
        sval = "__HIVE_DEFAULT_PARTITION__" if val is None else _hive_escape(str(val))
        segs.append(f"{_hive_escape(col)}={sval}")
    return os.path.join(*segs)


def _is_hive_partitioned(path: str, first_pcol: str) -> bool:
    try:
        return any(
            entry.startswith(f"{first_pcol}=") for entry in os.listdir(path)
        )
    except OSError:
        return False


def upsert(
    spark: SparkSession,
    updates: DataFrame,
    warehouse_dir: str,
    table: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
) -> None:
    """L2: idempotent keyed upsert into a parquet warehouse table.

    Protocol: (1) assert batch keys unique, (2) plan merge vs current
    table, (3) write to a fresh temp dir, (4) swap each unit in.
    Re-running the same batch yields a byte-identical table (idempotency —
    the reference's core guarantee, etl/load.py:45-48).

    A unit is the whole table when there is no target, no
    ``partition_by``, or the table on disk is flat (a flat table becomes
    partitioned). Otherwise ``partition_by`` scopes the rewrite: only
    partitions touched by the update batch are merged and swapped, one at
    a time; every other partition's files stay byte-identical on disk —
    the parquet-at-rest equivalent of Delta's partition-pruned
    ``MERGE INTO``.

    Affected set = partitions the update rows land in ∪ partitions that
    currently hold an updated key (a key whose partition value changes
    must be deleted from its old partition; a partition left with no rows
    is dropped). The second leg is a key-semi-join scan of the target,
    column-pruned to key+partition columns.
    """
    dup = (
        updates.groupBy(*[F.col(k) for k in keys])
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise UpsertKeyError(f"duplicate keys in update batch for {table} on {list(keys)}")

    target = read_table(spark, warehouse_dir, table)
    path = _table_path(warehouse_dir, table)
    pcols = list(partition_by or [])
    tmp = _tmp_dir(path)

    units = [(tmp, path)]  # (new, live): the whole table
    if target is not None and pcols and _is_hive_partitioned(path, pcols[0]):
        landing = updates.select(*pcols)
        moved = target.join(updates.select(*keys), on=list(keys), how="left_semi").select(*pcols)
        affected = [tuple(r) for r in landing.union(moved).distinct().collect()]
        if not affected:
            return  # empty batch: nothing to rewrite

        def _in_partition(values):
            eqs = [F.col(c).eqNullSafe(F.lit(v)) for c, v in zip(pcols, values)]
            return reduce(lambda a, b: a & b, eqs)

        target = target.filter(reduce(lambda a, b: a | b, map(_in_partition, affected)))
        rels = [_hive_part_dir(pcols, t) for t in affected]
        units = [(os.path.join(tmp, rel), os.path.join(path, rel)) for rel in rels]

    writer = merge_upsert(target, updates, keys).write.mode("overwrite")
    if pcols:
        writer = writer.partitionBy(*pcols)
    try:
        writer.parquet(tmp)
        for new, live in units:
            _swap(new, live)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def append_rejects(rejected: DataFrame, warehouse_dir: str, table: str = "rejected_record") -> None:
    """L3: append-only reject sink (etl/load.py:55-71). No-op on empty input."""
    if rejected.isEmpty():
        return
    rejected.write.mode("append").parquet(_table_path(warehouse_dir, table))
