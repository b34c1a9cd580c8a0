"""Upsert semantics: B2 wins on shared keys, union otherwise; idempotent.

Mirrors the FIXTURES.md §4 contract (reference: etl/load.py:30-52), tested
against a real parquet warehouse instead of the reference's mocks.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime, timezone

import pytest

from data_pipeline_who_gho_spark.operators import load
from data_pipeline_who_gho_spark.operators.load import (
    UpsertKeyError,
    merge_upsert,
    read_table,
    upsert,
    append_rejects,
)
from data_pipeline_who_gho_spark.sources import state
from data_pipeline_who_gho_spark.sources.state import EtlStateRepository


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
    """A crash at the install step must not lose the table: a plain read
    still finds the old rows, and the next load merges onto them."""
    wh = str(tmp_path)
    upsert(spark, spark.createDataFrame([("a", 1), ("b", 2)], "k STRING, v INT"), wh, "t", ["k"])
    with crash_mid_swap():
        upsert(spark, spark.createDataFrame([("b", 20)], "k STRING, v INT"), wh, "t", ["k"])
    assert rows(spark.read.parquet(os.path.join(wh, "t"))) == [("a", 1), ("b", 2)]

    upsert(spark, spark.createDataFrame([("c", 3)], "k STRING, v INT"), wh, "t", ["k"])
    assert rows(read_table(spark, wh, "t")) == [("a", 1), ("b", 2), ("c", 3)]
    assert os.listdir(wh) == ["t"]  # no temp dir left behind


def _cut_at(monkeypatch, step):
    """Make one step of every commit raise: the temp write (after it has
    written), the install, or the delete of the temp dir, which then
    holds the old table."""
    def cut(*_):
        raise OSError(f"cut at {step}")

    if step == "write":
        real_overwrite = load.atomic_overwrite

        def overwrite(path, write_fn):
            real_overwrite(path, lambda tmp: (write_fn(tmp), cut()))

        for mod in (load, state):
            monkeypatch.setattr(mod, "atomic_overwrite", overwrite)
    elif step == "install":
        monkeypatch.setattr(load, "_install", cut)
    else:
        real_rmtree = shutil.rmtree

        def rmtree(path, *args, **kwargs):
            if ".tmp-" in path:
                cut()
            real_rmtree(path, *args, **kwargs)

        monkeypatch.setattr(shutil, "rmtree", rmtree)


_FACT = "id STRING, time_dim INT, v DOUBLE"
_OLD = [("1", 2018, 1.0), ("2", 2019, 2.0)]
_BATCH = [("2", 2019, 20.0), ("3", 2020, 3.0)]
_NEW = [("1", 2018, 1.0), ("2", 2019, 20.0), ("3", 2020, 3.0)]


def _fact_target(partition_by):
    def target(spark, wh, old):
        def write(rows):
            upsert(spark, spark.createDataFrame(rows, _FACT), wh, "t", ["id"],
                   partition_by=partition_by)

        if old:
            write(_OLD)
        return os.path.join(wh, "t"), lambda: write(_BATCH)

    return target


def _state_target(spark, wh, old):
    repo = EtlStateRepository(spark, wh)
    repo.set_last_successful_run_at("p1", datetime(2024, 1, 15, tzinfo=timezone.utc))
    return repo.path, lambda: repo.set_checkpoint_state("p1", {"next_batch": 3})


_TARGETS = {
    "new_table": (_fact_target(None), False),
    "flat_table": (_fact_target(None), True),
    "partitioned_fact": (_fact_target(["time_dim"]), True),
    "state_table": (_state_target, True),
}


@pytest.mark.parametrize("target", list(_TARGETS))
@pytest.mark.parametrize("step", ["write", "install", "delete"])
def test_cut_commit_leaves_old_or_new_and_a_rerun_converges(
        spark, tmp_path, monkeypatch, step, target):
    """Whichever step of a commit raises, a plain read of the table finds
    exactly the old table or the new one, never no table once one
    existed, and running the write once more gives the new table."""
    make, existed = _TARGETS[target]
    wh = str(tmp_path)
    path, write = make(spark, wh, existed)

    def read():
        if not os.path.exists(path):
            return None
        df = spark.read.parquet(path)
        return sorted(map(tuple, df.select(*sorted(df.columns)).collect()), key=repr)

    old = read()
    assert (old is not None) == existed
    with monkeypatch.context() as m:
        _cut_at(m, step)
        with pytest.raises(OSError, match=f"cut at {step}"):
            write()
    cut = read()

    write()
    new = read()
    assert new is not None and new != old
    if target != "state_table":
        assert new == sorted(_NEW if existed else _BATCH, key=repr)
    assert cut == (new if step == "delete" else old)
    write()  # one more run of the same write is a no-op
    assert read() == new


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
