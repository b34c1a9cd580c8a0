"""Upsert semantics: B2 wins on shared keys, union otherwise; idempotent.

Mirrors the FIXTURES.md §4 contract (reference: etl/load.py:30-52), tested
against a real parquet warehouse instead of the reference's mocks.
"""

from __future__ import annotations

import os

import pytest

from data_pipeline_who_gho_spark.operators.load import (
    UpsertKeyError,
    merge_upsert,
    read_table,
    upsert,
    append_rejects,
)


def rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_merge_updates_win(spark):
    target = spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v INT")
    updates = spark.createDataFrame([("b", 20), ("c", 30)], "k STRING, v INT")
    out = merge_upsert(target, updates, ["k"])
    assert rows(out) == [("a", 1), ("b", 20), ("c", 30)]


def test_merge_no_target(spark):
    updates = spark.createDataFrame([("a", 1)], "k STRING, v INT")
    assert rows(merge_upsert(None, updates, ["k"])) == [("a", 1)]


def test_upsert_idempotent(spark, tmp_path):
    wh = str(tmp_path)
    b1 = spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v INT")
    upsert(spark, b1, wh, "t", ["k"])
    upsert(spark, b1, wh, "t", ["k"])  # same batch twice -> no-op
    assert rows(read_table(spark, wh, "t")) == [("a", 1), ("b", 2)]

    b2 = spark.createDataFrame([("b", 20), ("c", 30)], "k STRING, v INT")
    upsert(spark, b2, wh, "t", ["k"])
    assert rows(read_table(spark, wh, "t")) == [("a", 1), ("b", 20), ("c", 30)]


def test_upsert_duplicate_batch_keys_raises(spark, tmp_path):
    bad = spark.createDataFrame([("a", 1), ("a", 2)], "k STRING, v INT")
    with pytest.raises(UpsertKeyError):
        upsert(spark, bad, str(tmp_path), "t", ["k"])


def test_crashed_upsert_keeps_old_rows(spark, tmp_path, crash_mid_swap):
    """A crash between the two renames of a swap must not lose the table:
    the next load restores the parked old rows and merges onto them. A
    parked dir that an earlier finished swap failed to delete is not
    mistaken for the old state."""
    wh = str(tmp_path)
    upsert(spark, spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v INT"), wh, "t", ["k"])
    os.makedirs(os.path.join(wh, ".t.old-leftover"))  # a delete cut short
    with crash_mid_swap():
        upsert(spark, spark.createDataFrame([("b", 20)], "k STRING, v INT"), wh, "t", ["k"])
    assert not os.path.exists(os.path.join(wh, "t"))

    upsert(spark, spark.createDataFrame([("c", 3)], "k STRING, v INT"), wh, "t", ["k"])
    assert rows(read_table(spark, wh, "t")) == [("a", 1), ("b", 2), ("c", 3)]
    assert os.listdir(wh) == ["t"]  # no parked or temp dir left behind


@pytest.mark.parametrize("partition_by", [None, ["y"]])
def test_empty_batch_writes_nothing(spark, tmp_path, tree_bytes, partition_by):
    """Upserting an empty batch into an existing table is a no-op on disk:
    every file name and its bytes stay as they were."""
    wh = str(tmp_path)
    schema = "k STRING, y INT, v INT"
    b1 = spark.createDataFrame([("a", 2018, 1), ("b", 2019, 2)], schema)
    upsert(spark, b1, wh, "t", ["k"], partition_by=partition_by)
    before = tree_bytes(os.path.join(wh, "t"))
    assert any(name.endswith(".parquet") for name in before)

    upsert(spark, spark.createDataFrame([], schema), wh, "t", ["k"], partition_by=partition_by)
    assert tree_bytes(os.path.join(wh, "t")) == before


def test_append_rejects(spark, tmp_path):
    wh = str(tmp_path)
    rej = spark.createDataFrame([("{}", "err")], "record_data STRING, error_details STRING")
    append_rejects(rej, wh)
    append_rejects(spark.createDataFrame([], "record_data STRING, error_details STRING"), wh)
    append_rejects(rej, wh)
    assert read_table(spark, wh, "rejected_record").count() == 2


def test_merge_cdc_three_clauses(spark):
    from data_pipeline_who_gho_spark.operators.load import merge_cdc

    target = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k STRING, v INT")
    changes = spark.createDataFrame(
        [("b", 20, False),   # WHEN MATCHED -> UPDATE
         ("c", 0, True),     # WHEN MATCHED AND deleted -> DELETE
         ("d", 40, False),   # WHEN NOT MATCHED -> INSERT
         ("e", 0, True)],    # tombstone for absent key -> no-op
        "k STRING, v INT, is_deleted BOOLEAN",
    )
    out = merge_cdc(target, changes, ["k"])
    assert rows(out) == [("a", 1), ("b", 20), ("d", 40)]


def test_merge_cdc_replay_idempotent(spark):
    from data_pipeline_who_gho_spark.operators.load import merge_cdc

    target = spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v INT")
    changes = spark.createDataFrame(
        [("a", 10, False), ("b", 0, True)], "k STRING, v INT, is_deleted BOOLEAN"
    )
    once = merge_cdc(target, changes, ["k"])
    twice = merge_cdc(once, changes, ["k"])
    assert rows(once) == rows(twice) == [("a", 10)]


def test_merge_cdc_no_target(spark):
    from data_pipeline_who_gho_spark.operators.load import merge_cdc

    changes = spark.createDataFrame(
        [("a", 1, False), ("b", 0, True)], "k STRING, v INT, is_deleted BOOLEAN"
    )
    assert rows(merge_cdc(None, changes, ["k"])) == [("a", 1)]


def test_merge_cdc_null_flag_means_upsert(spark):
    from data_pipeline_who_gho_spark.operators.load import merge_cdc

    target = spark.createDataFrame([("a", 1)], "k STRING, v INT")
    changes = spark.createDataFrame(
        [("a", 10, None), ("b", 20, None)], "k STRING, v INT, is_deleted BOOLEAN"
    )
    # unset flag = not a delete: must update/insert, never silently evict
    out = merge_cdc(target, changes, ["k"])
    assert rows(out) == [("a", 10), ("b", 20)]
