"""Paged-source semantics, ported from /root/reference/tests/test_extract.py:
pagination yields all records, checkpoint advances per batch and clears at
end, resume skips completed work, retry survives transient errors."""

from __future__ import annotations

import pytest

from data_pipeline_who_gho_spark.plans.etl_seams import etl_retry_fetch
from data_pipeline_who_gho_spark.sources import paged
from data_pipeline_who_gho_spark.sources.paged import (
    fetch_all_pages,
    fetch_paged,
    fetch_with_checkpoint,
)
from data_pipeline_who_gho_spark.sources.state import EtlStateRepository
from data_pipeline_who_gho_spark.sources.testing import (
    flaky_fetcher as _flaky_fetcher,
    pages_fetcher as _pages_fetcher,
)

SCHEMA = "key STRING, idx INT"


def test_pagination_yields_all():
    # pages of 2 over 5 records -> [2,2,1] like the reference's 2+2+0 test
    out = list(fetch_all_pages(_pages_fetcher, "k1", page_size=2))
    assert [r["idx"] for r in out] == [0, 1, 2, 3, 4]


def test_pagination_exact_multiple():
    # 5 records, page_size 5 -> one full page, then an empty page stops it
    out = list(fetch_all_pages(_pages_fetcher, "k1", page_size=5))
    assert len(out) == 5


def test_retry_transient():
    out = list(fetch_all_pages(_flaky_fetcher(), "k2", page_size=2, backoff_s=0.001))
    assert len(out) == 5


def test_every_retry_fetch_sees_its_injected_failures(spark, monkeypatch):
    """Two ``etl_retry_fetch`` calls in one process: each must take the
    retry path at every (key, page), 4 keys x 3 pages. A fail-once memory
    shared by the process leaves the second call with no failure."""
    failures = []
    real = paged.fetch_all_pages

    def counting(fetcher, key, page_size):
        def fetch(k, page, size):
            try:
                return fetcher(k, page, size)
            except ConnectionError:
                failures.append((k, page))
                raise

        return real(fetch, key, page_size, backoff_s=0.0)

    monkeypatch.setattr(paged, "fetch_all_pages", counting)
    for _ in range(2):
        failures.clear()
        assert etl_retry_fetch(spark, "").count() == 20
        assert len(failures) == 12


def test_retry_exhausted():
    def always_fail(key, page, page_size):
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        list(fetch_all_pages(always_fail, "k", 2, max_retries=2, backoff_s=0.001))


def test_fetch_paged_distributed(spark):
    keys = spark.createDataFrame([("a",), ("b",), ("c",)], "key STRING")
    df = fetch_paged(spark, keys, _pages_fetcher, SCHEMA, page_size=2)
    assert df.count() == 15
    assert df.filter("key = 'b'").count() == 5


def test_fetch_paged_limit(spark):
    keys = spark.createDataFrame([("a",), ("b",)], "key STRING")
    df = fetch_paged(spark, keys, _pages_fetcher, SCHEMA, page_size=2, limit=3)
    assert df.count() == 3


def test_fetch_paged_plan_has_no_python_operator(spark):
    """The fetch runs on the driver: the returned frame's executed plan
    holds the records, with no Python worker operator behind it."""
    keys = spark.createDataFrame([("a",), ("b",)], "key STRING")
    df = fetch_paged(spark, keys, _pages_fetcher, SCHEMA, page_size=2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "Python" not in plan
    assert df.count() == 10


def test_fetch_paged_raises_exhausted_retries_from_the_call(spark):
    """A key whose retries run out fails the fetch_paged call itself with
    the fetcher's own exception, not a later action."""

    def always_fail(key, page, page_size):
        raise ConnectionError("down")

    keys = spark.createDataFrame([("a",), ("b",)], "key STRING")
    with pytest.raises(ConnectionError, match="down"):
        fetch_paged(spark, keys, always_fail, SCHEMA, page_size=2)


def test_fetch_paged_keeps_key_order_across_threads(spark):
    """More fetch threads than cores, switching often: every record
    arrives once, in key order, then page order within a key."""
    import sys

    keys = [f"k{i:03d}" for i in range(64)]
    kdf = spark.createDataFrame([(k,) for k in keys], "key STRING")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        df = fetch_paged(spark, kdf, _pages_fetcher, SCHEMA, page_size=2, num_partitions=16)
    finally:
        sys.setswitchinterval(interval)
    assert [(r["key"], r["idx"]) for r in df.collect()] == [(k, i) for k in keys for i in range(5)]


def test_checkpoint_resume(spark, tmp_path):
    state = EtlStateRepository(spark, str(tmp_path))
    seen: list[int] = []

    def sink(df, batch_idx):
        seen.append(batch_idx)
        if batch_idx == 1:
            raise RuntimeError("crash mid-run")
        df.count()

    keys = [f"k{i}" for i in range(6)]
    with pytest.raises(RuntimeError):
        fetch_with_checkpoint(
            spark, keys, _pages_fetcher, SCHEMA, state, "proc", batch_size=2, sink=sink
        )
    # batch 0 completed and was checkpointed; crash happened in batch 1
    st = state.get_state("proc")
    assert st["checkpoint_state"] == {"next_batch": 1}

    seen.clear()
    ok_sink = lambda df, bi: (seen.append(bi), df.count())
    n = fetch_with_checkpoint(
        spark, keys, _pages_fetcher, SCHEMA, state, "proc", batch_size=2, sink=ok_sink
    )
    assert seen == [1, 2]  # batch 0 skipped on resume
    assert n == 2
    st = state.get_state("proc")
    assert st["checkpoint_state"] is None  # cleared on success
    assert st["last_successful_run_at"] is not None  # watermark recorded


def test_state_roundtrip(spark, tmp_path):
    state = EtlStateRepository(spark, str(tmp_path))
    assert state.get_state("nope") is None
    state.set_checkpoint_state("p1", {"next_link": "http://x?page=3"})
    assert state.get_state("p1")["checkpoint_state"]["next_link"] == "http://x?page=3"
    state.set_last_successful_run_at("p1")
    assert state.get_watermark("p1") is not None
    state.clear_checkpoint("p1")
    assert state.get_state("p1")["checkpoint_state"] is None


def test_watermark_survives_crashed_state_write(spark, tmp_path, crash_mid_swap):
    """A state write cut at its install step must leave the previous
    watermark readable: a lost watermark makes the next run load replays
    from below it."""
    from datetime import datetime, timezone

    state = EtlStateRepository(spark, str(tmp_path))
    state.set_last_successful_run_at("p1", datetime(2024, 1, 15, tzinfo=timezone.utc))
    wm = state.get_watermark("p1")
    with crash_mid_swap():
        state.set_checkpoint_state("p1", {"next_link": "http://x?page=3"})

    assert state.get_watermark("p1") == wm
    assert state.get_state("p1")["checkpoint_state"] is None


def test_naive_watermark_on_disk_reads_as_utc(spark, tmp_path, monkeypatch):
    """Older state files store the watermark as a NAIVE UTC instant;
    reading one on a non-UTC host must not relabel it as local time."""
    import os
    import time
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        path = os.path.join(str(tmp_path), "etl_state")
        os.makedirs(path)
        table = pa.table(
            {
                "process_name": ["p1"],
                "last_successful_run_at": pa.array(
                    [datetime(2024, 1, 15, 12, 0)], pa.timestamp("us")
                ),
                "checkpoint_state": pa.array([None], pa.string()),
            }
        )
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))
        wm = EtlStateRepository(spark, str(tmp_path)).get_watermark("p1")
        assert wm.astimezone(timezone.utc) == datetime(2024, 1, 15, 12, 0, tzinfo=timezone.utc)
        assert wm == datetime(2024, 1, 15, 7, 0)  # naive OS-local (EST)
    finally:
        monkeypatch.undo()
        time.tzset()
