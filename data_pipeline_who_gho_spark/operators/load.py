"""L1-L3: warehouse load — idempotent keyed UPSERT + append-only reject sink.

The reference's load is a single multi-row
``INSERT ... ON CONFLICT (key) DO UPDATE SET <non-key cols>``
(``etl/load.py:30-52``): updates win on shared keys, union otherwise, and
re-loading the same batch is a no-op.

Spark-first design: the MERGE is a **broadcast-able left-anti join +
unionByName** over parquet-at-rest. Parquet has no transactions, so every
write (an upsert, the state table, a migration) commits one unit per
table through ``atomic_overwrite``: the whole new table is written to a
``<table>.tmp-*`` dir beside it, then swapped in by one system call, and
the temp name, which then holds the old table, is deleted. A reader
finds either the old table or the new one, never no table. What a crash
leaves:

- during the temp write: the old table, plus the temp dir (removed on
  the way out unless the process dies);
- after the swap: the new table, plus the temp dir holding the old one
  until its delete finishes.

Spark never lists a temp dir: it sits beside the table, not inside it.
The swap is Linux ``renameat2(..., RENAME_EXCHANGE)`` (tested on ext4),
or one ``os.rename`` when the table is new. Where the exchange is not
supported the commit raises, and the old table stays as it was. On a
Delta/Iceberg-backed catalog the same function maps 1:1 onto
``MERGE INTO`` — the call-site contract is identical, so swapping the
table format is a one-line change here.

Scale notes: the anti-join shuffles on the upsert key unless the update
batch is small enough to broadcast — the common case for dimension upserts
(dims are tiny; Catalyst broadcasts automatically under the threshold).
Like Delta MERGE, duplicate keys *within one batch* are an error upstream;
callers dedup first (T6/T8), which the pipeline driver does.
"""

from __future__ import annotations

import ctypes
import functools
import os
import shutil
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import WAREHOUSE_SCHEMAS


class UpsertKeyError(ValueError):
    """Update batch contains duplicate upsert keys (reference: Postgres
    raises CardinalityViolation; Delta MERGE raises — we match)."""


def _table_path(warehouse_dir: str, table: str) -> str:
    return os.path.join(warehouse_dir, table)


_AT_FDCWD, _RENAME_EXCHANGE = -100, 2  # <fcntl.h>, <linux/fs.h>


@functools.cache
def _renameat2():
    """libc's ``renameat2``, looked up at first use: importing this module
    works without it, and a commit over an existing table then raises."""
    fn = ctypes.CDLL(None, use_errno=True).renameat2
    fn.argtypes = (ctypes.c_int, ctypes.c_char_p, ctypes.c_int, ctypes.c_char_p, ctypes.c_uint)
    fn.restype = ctypes.c_int
    return fn


def _install(tmp: str, path: str) -> None:
    """Put the table written at ``tmp`` in at ``path`` in one step: a
    rename for a new table, else an exchange of the two dirs, after which
    ``tmp`` holds the old table."""
    if not os.path.exists(path):
        os.rename(tmp, path)
    elif _renameat2()(_AT_FDCWD, os.fsencode(tmp), _AT_FDCWD, os.fsencode(path), _RENAME_EXCHANGE):
        err = ctypes.get_errno()
        raise OSError(err, os.strerror(err), tmp, None, path)


def atomic_overwrite(path: str, write_fn) -> None:
    """The warehouse's one commit routine: ``write_fn(tmp)`` writes the
    whole new table to a temp dir, ``_install`` swaps it in, and the temp
    dir goes, holding the old table after a commit or the unused new one
    after a failure (module docstring: what a crash leaves).

    Two writers of one table are not coordinated: the engine is single
    writer, as the reference runs with ``max_active_runs=1``
    (dags/who_gho_etl_dag.py:35).
    """
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    try:
        write_fn(tmp)
        _install(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def read_table(spark: SparkSession, warehouse_dir: str, table: str) -> DataFrame | None:
    """The table at rest, or None when it is absent. A warehouse table
    (``schemas.WAREHOUSE_SCHEMAS``) is read with its declared schema, so
    opening it reads no parquet footer."""
    path = _table_path(warehouse_dir, table)
    if not os.path.exists(path):
        return None
    schema = WAREHOUSE_SCHEMAS.get(table)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


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


def upsert(
    spark: SparkSession,
    updates: DataFrame,
    warehouse_dir: str,
    table: str,
    keys: Sequence[str],
    partition_by: Sequence[str] | None = None,
    observe: Callable[[DataFrame], tuple[DataFrame, Callable]] | None = None,
) -> Callable | None:
    """L2: idempotent keyed upsert into a parquet warehouse table.

    Protocol: (1) one aggregate gives the batch's distinct keys and its
    largest key group, (2) a duplicate key raises, (3) an empty batch into
    an existing table writes nothing, (4) otherwise ``atomic_overwrite``
    replaces the whole table with the merge, hive-partitioned by
    ``partition_by`` when given: one swap unit per table. Re-running the
    same batch yields the same rows (idempotency — the reference's core
    guarantee, etl/load.py:45-48).

    ``observe(merged)`` returns the frame to write and a ``finish``
    callable, as ``quality.observed_dq`` does, so metrics of the whole
    new table come from the write itself. The upsert returns that
    ``finish``, to call after the commit, or None when nothing was written.
    """
    n_keys, max_rows = (
        updates.groupBy(*[F.col(k) for k in keys])
        .count()
        .agg(F.count(F.lit(1)), F.max("count"))
        .first()
    )
    if n_keys and max_rows > 1:
        raise UpsertKeyError(f"duplicate keys in update batch for {table} on {list(keys)}")

    target = read_table(spark, warehouse_dir, table)
    if target is not None and not n_keys:
        return None  # empty batch: nothing to merge
    merged, finish = merge_upsert(target, updates, keys), None
    if observe is not None:
        merged, finish = observe(merged)
    writer = merged.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    atomic_overwrite(_table_path(warehouse_dir, table), writer.parquet)
    return finish


def append_rejects(rejected: DataFrame, warehouse_dir: str, table: str = "rejected_record") -> None:
    """L3: append-only reject sink (etl/load.py:55-71). No-op on empty input."""
    if rejected.isEmpty():
        return
    rejected.write.mode("append").parquet(_table_path(warehouse_dir, table))
