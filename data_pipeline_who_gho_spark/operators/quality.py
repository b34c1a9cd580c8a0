"""Q1/Q2: post-load data-quality gate.

Mirrors the DAG's two inline SQL assertions
(``dags/who_gho_etl_dag.py:194-206``): table non-empty, and zero nulls in
the declared key columns. Raising fails the run — same observable contract
as the reference's task failure + alert email.

One path: both checks are one aggregation (``_dq_metrics``), run either
as an ``Observation`` on a write (``observed_dq``) or eagerly
(``run_dq_checks``); Spark plans it as partial+final count with no data
movement beyond one scalar pair per partition. The pipeline observes the
fact upsert's write, which is the whole new table, and scans the table
with ``run_dq_checks`` only when a load writes nothing.
"""

from __future__ import annotations

import operator
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class DataQualityError(AssertionError):
    """A DQ constraint was violated (reference: raise → task fail → email)."""


def _dq_metrics(keys: Sequence[str]) -> list[Column]:
    """Q1 + Q2 as two aggregate expressions over one scan: the row count,
    and the count of rows with a null in any key column."""
    if not keys:
        raise ValueError("a DQ check requires at least one key column")
    null_key = reduce(operator.or_, [F.col(k).isNull() for k in keys])
    return [
        F.count(F.lit(1)).alias("row_count"),
        F.count(F.when(null_key, F.lit(1))).alias("null_key_rows"),
    ]


def _enforce(metrics, keys: Sequence[str], name: str) -> dict:
    """Raise on a Q1/Q2 violation; otherwise return the metric dict."""
    if metrics["row_count"] == 0:
        raise DataQualityError(f"DQ failed: {name} is empty")
    if metrics["null_key_rows"]:
        raise DataQualityError(
            f"DQ failed: {name} has {metrics['null_key_rows']} rows with null keys {list(keys)}"
        )
    return {
        "row_count": int(metrics["row_count"]),
        "null_key_rows": int(metrics["null_key_rows"]),
    }


def run_dq_checks(df: DataFrame, keys: Sequence[str], name: str = "fact_observation") -> dict:
    """The reference's full DQ task (Q1 + Q2), fused into ONE scan: both
    metrics come from a single aggregation instead of the reference's two
    SQL statements — same fail-fast contract, half the table reads."""
    return _enforce(df.select(*_dq_metrics(keys)).first(), keys, name)


def observed_dq(df: DataFrame, keys: Sequence[str], name: str = "fact_observation"):
    """Zero-extra-pass DQ: attach both Q1/Q2 metrics as a Spark
    ``Observation`` so they are collected as a by-product of whatever
    action consumes ``df`` (typically the load write) — at 100 TB this
    saves the post-load scan the reference's DQ task performs (the
    pipeline passes it to ``upsert`` as ``observe``).

    Returns ``(observed_df, finish)``: run an action on ``observed_df``,
    then call ``finish()`` to validate (raising :class:`DataQualityError`
    on violation, like the eager checks) and get the metric dict.
    """
    from pyspark.sql import Observation

    obs = Observation(f"dq_{name}")
    observed = df.observe(obs, *_dq_metrics(keys))
    return observed, lambda: _enforce(obs.get, keys, name)
