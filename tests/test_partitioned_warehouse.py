"""Partitioned warehouse layout: upsert with partition_by produces a
hive-partitioned table whose year-filtered scans prune partitions."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipeline_who_gho_spark.operators.load import read_table, upsert


def test_partitioned_upsert_and_pruning(spark, tmp_path):
    wh = str(tmp_path)
    b1 = spark.createDataFrame(
        [("1", 2018, 1.0), ("2", 2019, 2.0), ("3", 2019, 3.0)],
        "id STRING, time_dim INT, v DOUBLE",
    )
    upsert(spark, b1, wh, "fact", ["id"], partition_by=["time_dim"])

    # hive layout on disk
    assert os.path.isdir(os.path.join(wh, "fact", "time_dim=2019"))

    # partition pruning in the plan
    df = read_table(spark, wh, "fact").filter(F.col("time_dim") == 2019)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(time_dim" in plan
    assert df.count() == 2

    # upsert across partitions stays correct + idempotent
    b2 = spark.createDataFrame([("2", 2020, 20.0)], "id STRING, time_dim INT, v DOUBLE")
    upsert(spark, b2, wh, "fact", ["id"], partition_by=["time_dim"])
    rows = {(r["id"], r["time_dim"], r["v"]) for r in read_table(spark, wh, "fact").collect()}
    assert rows == {("1", 2018, 1.0), ("2", 2020, 20.0), ("3", 2019, 3.0)}


def test_upsert_drops_emptied_partition_on_key_move(spark, tmp_path):
    """A key whose partition value changes must vanish from its old
    partition; if it was the last row there the directory is dropped."""
    wh = str(tmp_path)
    b1 = spark.createDataFrame(
        [("1", 2018, 1.0), ("2", 2019, 2.0)], "id STRING, time_dim INT, v DOUBLE"
    )
    upsert(spark, b1, wh, "fact", ["id"], partition_by=["time_dim"])
    b2 = spark.createDataFrame([("2", 2021, 20.0)], "id STRING, time_dim INT, v DOUBLE")
    upsert(spark, b2, wh, "fact", ["id"], partition_by=["time_dim"])

    table = os.path.join(wh, "fact")
    assert not os.path.exists(os.path.join(table, "time_dim=2019"))
    rows = {(r["id"], r["time_dim"], r["v"]) for r in read_table(spark, wh, "fact").collect()}
    assert rows == {("1", 2018, 1.0), ("2", 2021, 20.0)}


def test_upsert_flat_table_to_partitioned(spark, tmp_path):
    """A table written flat and then upserted with ``partition_by`` is
    rewritten whole, hive-partitioned, with the batch's rows winning."""
    wh = str(tmp_path)
    b1 = spark.createDataFrame(
        [("1", 2018, 1.0), ("2", 2019, 2.0)], "id STRING, time_dim INT, v DOUBLE"
    )
    upsert(spark, b1, wh, "fact", ["id"])
    table = os.path.join(wh, "fact")
    assert not any(e.startswith("time_dim=") for e in os.listdir(table))

    b2 = spark.createDataFrame(
        [("2", 2019, 20.0), ("3", 2020, 3.0)], "id STRING, time_dim INT, v DOUBLE"
    )
    upsert(spark, b2, wh, "fact", ["id"], partition_by=["time_dim"])

    entries = os.listdir(table)
    assert {e for e in entries if e.startswith("time_dim=")} == {
        "time_dim=2018", "time_dim=2019", "time_dim=2020"
    }
    assert not any(e.endswith(".parquet") for e in entries)
    rows = {(r["id"], r["time_dim"], r["v"]) for r in read_table(spark, wh, "fact").collect()}
    assert rows == {("1", 2018, 1.0), ("2", 2019, 20.0), ("3", 2020, 3.0)}


def test_cut_install_keeps_the_old_partitioned_table(spark, tmp_path, crash_mid_swap):
    """A crash at the install step of a partitioned upsert leaves the old
    table in place: a plain read lists only its year dirs, so the rows are
    the old ones and ``time_dim`` stays INT (a listed temp dir would
    turn it STRING)."""
    wh = str(tmp_path)
    b1 = spark.createDataFrame(
        [("1", 2018, 1.0), ("2", 2019, 2.0)], "id STRING, time_dim INT, v DOUBLE"
    )
    upsert(spark, b1, wh, "fact", ["id"], partition_by=["time_dim"])
    b2 = spark.createDataFrame([("2", 2019, 20.0)], "id STRING, time_dim INT, v DOUBLE")
    with crash_mid_swap():
        upsert(spark, b2, wh, "fact", ["id"], partition_by=["time_dim"])

    fact = spark.read.parquet(os.path.join(wh, "fact"))
    assert isinstance(fact.schema["time_dim"].dataType, T.IntegerType)
    rows = {(r["id"], r["time_dim"], r["v"]) for r in fact.collect()}
    assert rows == {("1", 2018, 1.0), ("2", 2019, 2.0)}
