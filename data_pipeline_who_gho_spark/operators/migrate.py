"""L1 migration: reconcile an at-rest table with the current schema.

The reference inspects ``fact_observation`` at startup and, when the
table predates the ``observation_id`` key column, drops and recreates it
(``etl/load.py:17-27``) — the subsequent full re-ingest repopulates.

Parquet-at-rest gives us a gentler ladder, applied in order:

1. **ok** — every required column already present: no-op.
2. **rebuilt** — the missing column exists under a legacy name
   (``renames``) or can be added as a typed NULL: one column-projection
   rewrite (narrow map, no shuffle) under the atomic-swap protocol.
   Unlike the reference, data survives.
3. **dropped** — a column in ``strict`` is missing and not derivable:
   the table directory is removed (the reference's DROP TABLE); the
   next upsert bootstraps the new schema and a full re-ingest refills.

Idempotent: re-running the migration on an already-migrated table is
case 1.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Mapping, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .load import _table_path, atomic_overwrite


def migrate_table(
    spark: SparkSession,
    warehouse_dir: str,
    table: str,
    required_columns: Mapping[str, str],
    renames: Mapping[str, str] | None = None,
    strict: Sequence[str] = (),
) -> str:
    """Bring ``table`` up to ``required_columns`` ({name: spark dtype}).

    ``renames`` maps legacy column name → required name. Returns the
    action taken: ``"absent"``, ``"ok"``, ``"rebuilt"`` or ``"dropped"``.
    """
    path = _table_path(warehouse_dir, table)
    if not os.path.exists(path):
        return "absent"

    df = spark.read.parquet(path)
    have = set(df.columns)
    missing = [c for c in required_columns if c not in have]
    if not missing:
        return "ok"

    renames = dict(renames or {})
    derivable = {new: old for old, new in renames.items() if old in have}
    hard_missing = [c for c in missing if c not in derivable and c in set(strict)]
    if hard_missing:
        # reference parity: outdated schema, not derivable -> drop;
        # the next upsert recreates and a re-ingest repopulates
        shutil.rmtree(path)
        return "dropped"

    for col in missing:
        if col in derivable:
            df = df.withColumnRenamed(derivable[col], col)
        else:
            df = df.withColumn(col, F.lit(None).cast(required_columns[col]))

    atomic_overwrite(path, lambda tmp: df.write.mode("overwrite").parquet(tmp))
    return "rebuilt"
