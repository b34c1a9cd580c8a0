"""End-to-end pipeline: extract→transform→validate→load→DQ on fixture
parquet; re-run idempotency; reject side-channel populated."""

from __future__ import annotations

import os
import threading
import time
import uuid
from dataclasses import replace
from datetime import datetime, timezone

import pytest
from pyspark.sql.readwriter import DataFrameReader

from data_pipeline_who_gho_spark import pipeline as P
from data_pipeline_who_gho_spark.operators import load
from data_pipeline_who_gho_spark.operators.quality import DataQualityError
from data_pipeline_who_gho_spark.pipeline import PipelineConfig, run_pipeline
from data_pipeline_who_gho_spark.schemas import (
    OBSERVATION_SOURCE,
    RAW_COUNTRY,
    RAW_INDICATOR,
    RAW_OBSERVATION,
)
from data_pipeline_who_gho_spark.sources.state import EtlStateRepository


@pytest.fixture()
def sources(spark, tmp_path, raw_observations, raw_indicators, raw_countries):
    src = tmp_path / "src"
    spark.createDataFrame(raw_observations, RAW_OBSERVATION).write.parquet(str(src / "obs"))
    spark.createDataFrame(raw_indicators).write.parquet(str(src / "ind"))
    spark.createDataFrame(raw_countries).write.parquet(str(src / "cty"))
    return src


def _cfg(tmp_path, src, **kw):
    return PipelineConfig(
        warehouse_dir=str(tmp_path / "wh"),
        source_observations=str(src / "obs") + "/",
        source_indicators=str(src / "ind"),
        source_countries=str(src / "cty"),
        **kw,
    )


def test_pipeline_end_to_end(spark, tmp_path, sources):
    cfg = _cfg(tmp_path, sources)
    cfg.source_observations = str(sources / "obs")
    metrics = run_pipeline(spark, cfg)
    # 6 raw obs: 1 dup dropped, 1 null-key dropped -> 4 in the fact table
    assert metrics["row_count"] == 4
    assert metrics["null_key_rows"] == 0

    fact = spark.read.parquet(str(tmp_path / "wh" / "fact_observation"))
    assert fact.filter("observation_id = '3'").first()["time_dim"] == 2020
    dim_i = spark.read.parquet(str(tmp_path / "wh" / "dim_indicator"))
    assert dim_i.count() == 2
    dim_c = spark.read.parquet(str(tmp_path / "wh" / "dim_country"))
    assert dim_c.count() == 3


def test_pipeline_idempotent(spark, tmp_path, sources):
    cfg = _cfg(tmp_path, sources)
    cfg.source_observations = str(sources / "obs")
    cfg.full_reingest = True
    m1 = run_pipeline(spark, cfg)
    m2 = run_pipeline(spark, cfg)
    assert m1 == m2  # re-run is a no-op on the fact table


def test_pipeline_all_null_ids_get_surrogate_keys(spark, tmp_path, raw_observations):
    # A feed with no Ids is keyed like any other: every row gets the
    # ck:<indicator>:<spatial>:<year> surrogate, so a NULL observation_id
    # can neither crash the dup guard nor duplicate on re-run
    recs = [{**r, "Id": None} for r in raw_observations]
    src = tmp_path / "src_nullid"
    spark.createDataFrame(recs, RAW_OBSERVATION).write.parquet(str(src))
    cfg = PipelineConfig(
        warehouse_dir=str(tmp_path / "wh_nullid"),
        source_observations=str(src),
        full_reingest=True,
    )
    m1 = run_pipeline(spark, cfg)
    m2 = run_pipeline(spark, cfg)  # idempotent on the surrogate key
    assert m1 == m2 == {"row_count": 4, "null_key_rows": 0}
    assert _fact_ids(spark, cfg.warehouse_dir) == [
        "ck:WHOSIS_000001:FRA:2019",
        "ck:WHOSIS_000001:GBR:2020",
        "ck:WHOSIS_000001:USA:2019",
        "ck:WHOSIS_000002:JPN:2019",
    ]


def _reject_files(wh):
    rej = os.path.join(wh, "rejected_record")
    return sorted(f for f in os.listdir(rej) if f.endswith(".parquet"))


def test_pipeline_writes_rejects_once_per_run(spark, tmp_path, raw_observations,
                                              raw_indicators, raw_countries):
    """Indicator, country and observation rejects land in one new
    ``rejected_record`` file per run."""
    src = tmp_path / "src"
    obs = raw_observations + [
        {"Id": "6", "IndicatorCode": "WHOSIS_000001", "SpatialDim": "ITA",
         "SpatialDimType": None, "TimeDim": "2019", "TimeDimType": "YEAR",
         "NumericValue": "83.0", "Value": "83.0"},  # rejected: no SpatialDimType
    ]
    ind = raw_indicators + [{"IndicatorCode": None, "IndicatorName": "x", "Language": "EN"}]
    cty = raw_countries + [{"Code": "ITA", "Title": None}]
    spark.createDataFrame(obs, RAW_OBSERVATION).write.parquet(str(src / "obs"))
    spark.createDataFrame(ind, RAW_INDICATOR).write.parquet(str(src / "ind"))
    spark.createDataFrame(cty, RAW_COUNTRY).write.parquet(str(src / "cty"))
    cfg = _cfg(tmp_path, src, full_reingest=True)
    wh = cfg.warehouse_dir

    seen: list[str] = []
    for _ in range(2):
        run_pipeline(spark, cfg)
        files = _reject_files(wh)
        new = [f for f in files if f not in seen]
        assert len(new) == 1
        rejects = spark.read.parquet(os.path.join(wh, "rejected_record", new[0]))
        assert rejects.count() == 3
        seen = files


def test_country_dedup_keeps_the_valid_row_and_rejects_every_null_code(spark, tmp_path):
    """Within a country code the row with a Title is kept, and rows without
    a Code are not merged into one: each is rejected for its missing Code.
    (Sorting a NULL Title first kept the invalid USA row, and one NULL-Code
    group lost a row without a reject.)"""
    src = tmp_path / "src"
    cty = [("USA", "United States"), ("USA", None), (None, "A"), (None, "B")]
    spark.createDataFrame(cty, RAW_COUNTRY).write.parquet(str(src / "cty"))
    _stamped_source(spark, src / "obs", [("1", "USA", 5)])
    wh = str(tmp_path / "wh")
    run_pipeline(spark, PipelineConfig(warehouse_dir=wh, source_observations=str(src / "obs"),
                                       source_countries=str(src / "cty")))

    dim = spark.read.parquet(os.path.join(wh, "dim_country")).collect()
    assert [tuple(r) for r in dim] == [("USA", "United States")]
    rejects = spark.read.parquet(os.path.join(wh, "rejected_record"))
    assert sorted(map(tuple, rejects.collect())) == [
        ('{"Title":"A"}', "Code is required"),
        ('{"Title":"B"}', "Code is required"),
    ]


def test_pipeline_limit(spark, tmp_path, sources):
    cfg = _cfg(tmp_path, sources)
    cfg.source_observations = str(sources / "obs")
    cfg.limit = 1
    metrics = run_pipeline(spark, cfg)
    assert metrics["row_count"] == 1


def _stamped_source(spark, path, rows):
    """One parquet file of ``(Id, SpatialDim, ingested_at day in Jan 2024)``
    observations, in the given order; day None leaves the row unstamped."""
    base = {"IndicatorCode": "WHOSIS_000001", "SpatialDimType": "COUNTRY",
            "TimeDim": "2019", "TimeDimType": "YEAR",
            "NumericValue": "1.0", "Value": "1.0"}
    recs = [
        {**base, "Id": i, "SpatialDim": c,
         "ingested_at": datetime(2024, 1, day, tzinfo=timezone.utc) if day else None}
        for i, c, day in rows
    ]
    spark.createDataFrame(recs, OBSERVATION_SOURCE).coalesce(1).write.parquet(str(path))


def _fact_ids(spark, wh):
    fact = spark.read.parquet(f"{wh}/fact_observation")
    return sorted(r["observation_id"] for r in fact.collect())


def test_limited_run_keeps_watermark(spark, tmp_path):
    """A limited run loads only part of the new rows, so it must leave the
    watermark where it was: moving it to the loaded rows' max
    ``ingested_at`` would make the next run skip the rows left behind."""
    src, wh = tmp_path / "obs", str(tmp_path / "wh")
    _stamped_source(spark, src, [("1", "USA", 5), ("2", "FRA", 3)])
    cfg = PipelineConfig(warehouse_dir=wh, source_observations=str(src), limit=1)
    run_pipeline(spark, cfg)
    assert EtlStateRepository(spark, wh).get_watermark(P.PROCESS_NAME) is None
    cfg.limit = None
    run_pipeline(spark, cfg)
    assert _fact_ids(spark, wh) == ["1", "2"]


def test_rerun_of_watermarked_batch_writes_no_fact_file(spark, tmp_path, tree_bytes):
    """Re-running a batch the watermark already covers loads an empty batch:
    no file under ``fact_observation`` is added, removed or changed."""
    src, wh = tmp_path / "obs", str(tmp_path / "wh")
    _stamped_source(spark, src, [("1", "USA", 5), ("2", "FRA", 3)])
    cfg = PipelineConfig(warehouse_dir=wh, source_observations=str(src))
    run_pipeline(spark, cfg)
    before = tree_bytes(os.path.join(wh, "fact_observation"))
    assert any(name.endswith(".parquet") for name in before)

    run_pipeline(spark, cfg)
    assert tree_bytes(os.path.join(wh, "fact_observation")) == before
    assert _fact_ids(spark, wh) == ["1", "2"]


def test_limit_applies_after_watermark_filter(spark, tmp_path):
    """``limit`` caps the NEW rows: taking the first N source rows before
    the watermark cut could pick only already-loaded ones."""
    src, wh = tmp_path / "obs", str(tmp_path / "wh")
    _stamped_source(spark, src, [("2", "FRA", 3), ("1", "USA", 5)])
    state = EtlStateRepository(spark, wh)
    state.set_last_successful_run_at("who_gho_etl", datetime(2024, 1, 4, tzinfo=timezone.utc))
    wm = state.get_watermark("who_gho_etl")
    run_pipeline(spark, PipelineConfig(warehouse_dir=wh, source_observations=str(src), limit=1))
    assert _fact_ids(spark, wh) == ["1"]
    assert EtlStateRepository(spark, wh).get_watermark("who_gho_etl") == wm


def test_pipeline_mixed_null_ids_rerun_idempotent(spark, tmp_path):
    """A batch mixing non-null and NULL Id rows must stay idempotent:
    NULL-Id rows get a deterministic composite surrogate key, so
    re-running the batch cannot append duplicates (a NULL key never
    matches the merge anti-join)."""
    rows = [
        {"Id": "1", "IndicatorCode": "WHOSIS_000001", "SpatialDim": "USA",
         "SpatialDimType": "COUNTRY", "TimeDim": "2019", "TimeDimType": "YEAR",
         "NumericValue": "78.5", "Value": "78.5"},
        {"Id": None, "IndicatorCode": "WHOSIS_000001", "SpatialDim": "FRA",
         "SpatialDimType": "COUNTRY", "TimeDim": "2019", "TimeDimType": "YEAR",
         "NumericValue": "82.1", "Value": "82.1"},
    ]
    src = tmp_path / "src"
    spark.createDataFrame(rows, RAW_OBSERVATION).write.parquet(str(src / "obs"))
    cfg = PipelineConfig(
        warehouse_dir=str(tmp_path / "wh"),
        source_observations=str(src / "obs"),
        full_reingest=True,
    )
    m1 = run_pipeline(spark, cfg)
    m2 = run_pipeline(spark, cfg)
    assert m1["row_count"] == 2 and m2["row_count"] == 2
    fact = spark.read.parquet(str(tmp_path / "wh" / "fact_observation"))
    ids = sorted(r["observation_id"] for r in fact.collect())
    assert ids == ["1", "ck:WHOSIS_000001:FRA:2019"]


def test_pipeline_mixed_batch_keeps_every_null_id_row(spark, tmp_path):
    """NULL-Id rows with distinct natural keys are distinct facts, also in
    a batch where other rows carry an Id: none may vanish in the dedup."""
    base = {"IndicatorCode": "WHOSIS_000001", "SpatialDimType": "COUNTRY",
            "TimeDimType": "YEAR", "NumericValue": "1.0", "Value": "1.0"}
    rows = [{**base, "Id": "1", "SpatialDim": "USA", "TimeDim": "2019"}] + [
        {**base, "Id": None, "SpatialDim": c, "TimeDim": y}
        for c, y in (("FRA", "2019"), ("FRA", "2020"), ("JPN", "2019"))
    ]
    src, wh = tmp_path / "obs", str(tmp_path / "wh")
    spark.createDataFrame(rows, RAW_OBSERVATION).write.parquet(str(src))
    run_pipeline(spark, PipelineConfig(warehouse_dir=wh, source_observations=str(src)))
    assert _fact_ids(spark, wh) == [
        "1", "ck:WHOSIS_000001:FRA:2019", "ck:WHOSIS_000001:FRA:2020",
        "ck:WHOSIS_000001:JPN:2019",
    ]
    assert not os.path.exists(os.path.join(wh, "rejected_record"))


def test_null_stamped_row_is_loaded_once_a_watermark_exists(spark, tmp_path):
    """A row without ``ingested_at`` cannot be placed before the watermark,
    so it is new data, as in a source without the column. A filter of
    ``ingested_at > wm`` alone drops it silently: the fact ends as
    ['1', '2'] with no reject."""
    wh = str(tmp_path / "wh")
    _stamped_source(spark, tmp_path / "b1", [("1", "USA", 5)])
    _stamped_source(spark, tmp_path / "b2", [("2", "FRA", 6), ("3", "JPN", None)])
    for batch in ("b1", "b2"):
        run_pipeline(spark, PipelineConfig(warehouse_dir=wh,
                                           source_observations=str(tmp_path / batch)))
    assert _fact_ids(spark, wh) == ["1", "2", "3"]
    # get_watermark returns naive OS-local time
    day6 = datetime(2024, 1, 6, tzinfo=timezone.utc).astimezone().replace(tzinfo=None)
    assert EtlStateRepository(spark, wh).get_watermark("who_gho_etl") == day6


def _installs(monkeypatch, before_install):
    """Patch ``load._install`` so that ``before_install(table)`` runs just
    before a commit swaps a freshly written table into place."""
    real_install = load._install

    def install(tmp, path):
        before_install(os.path.basename(path))
        real_install(tmp, path)

    monkeypatch.setattr(load, "_install", install)


def test_dims_commit_before_the_fact(spark, tmp_path, monkeypatch, sources):
    """The tables commit in the reference's order, dims first, fact last,
    although the fact branch runs alongside the dims. Each dim install is
    held back 2 s, so a fact upsert that did not wait would swap first.
    (A sequential run passes this too.)"""
    order = []

    def hold_dims(table):
        if table.startswith("dim_"):
            time.sleep(2)
        order.append(table)

    _installs(monkeypatch, hold_dims)
    run_pipeline(spark, _cfg(tmp_path, sources, full_reingest=True))
    tables = [t for t in order if t != "etl_state"]
    assert sorted(tables[:2]) == ["dim_country", "dim_indicator"]
    assert tables[2:] == ["fact_observation"]


def _warehouse(spark, wh):
    """Every table's rows, and the watermark."""
    out = {}
    for t in ("dim_indicator", "dim_country", "fact_observation", "rejected_record"):
        path = os.path.join(wh, t)
        rows = spark.read.parquet(path).collect() if os.path.exists(path) else []
        out[t] = sorted(map(tuple, rows), key=repr)
    out["watermark"] = EtlStateRepository(spark, wh).get_watermark("who_gho_etl")
    return out


def _branch_threads():
    return [t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")]


def test_failed_dim_write_fails_the_run_and_a_rerun_converges(
        spark, tmp_path, monkeypatch, raw_indicators, raw_countries):
    """A raise in the ``dim_country`` write fails the run with that error,
    after every branch has stopped: no branch thread or Spark job is left,
    the fact is not written and the watermark stays. One re-run then
    reaches the state of a clean run. (A sequential run passes this
    too.)"""
    src = tmp_path / "src"
    spark.createDataFrame(raw_indicators, RAW_INDICATOR).write.parquet(str(src / "ind"))
    spark.createDataFrame(raw_countries, RAW_COUNTRY).write.parquet(str(src / "cty"))
    _stamped_source(spark, src / "b1", [("1", "USA", 5)])
    _stamped_source(spark, src / "b2", [("2", "FRA", 6), ("3", "JPN", 7)])

    def cfg(wh, batch):
        return PipelineConfig(warehouse_dir=str(tmp_path / wh),
                              source_observations=str(src / batch),
                              source_indicators=str(src / "ind"),
                              source_countries=str(src / "cty"))

    for batch in ("b1", "b2"):
        run_pipeline(spark, cfg("clean", batch))
    run_pipeline(spark, cfg("cut", "b1"))
    before = _warehouse(spark, str(tmp_path / "cut"))
    threads = _branch_threads()

    def fail_country(table):
        if table == "dim_country":
            raise OSError("dim_country write failed")

    with monkeypatch.context() as m:
        _installs(m, fail_country)
        with pytest.raises(OSError, match="dim_country write failed"):
            run_pipeline(spark, cfg("cut", "b2"))
    assert _branch_threads() == threads
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    after = _warehouse(spark, str(tmp_path / "cut"))
    assert after["fact_observation"] == before["fact_observation"]
    assert after["watermark"] == before["watermark"]

    run_pipeline(spark, cfg("cut", "b2"))
    assert _warehouse(spark, str(tmp_path / "cut")) == _warehouse(spark, str(tmp_path / "clean"))


def test_json_source_runs_no_schema_inference_job(spark, tmp_path, monkeypatch,
                                                  raw_observations):
    """The observation source is read with its declared schema: opening it
    runs no Spark job. (A JSON read that infers the schema fails this: the
    inference is a job of its own.)"""
    src, wh = tmp_path / "obs", str(tmp_path / "wh")
    spark.createDataFrame(raw_observations, RAW_OBSERVATION).write.json(str(src))
    sc, group = spark.sparkContext, f"load-{uuid.uuid4().hex}"
    real_load = DataFrameReader.load

    def load(self, *args, **kwargs):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return real_load(self, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)

    monkeypatch.setattr(DataFrameReader, "load", load)
    metrics = run_pipeline(spark, PipelineConfig(
        warehouse_dir=wh, source_observations=str(src), source_format="json"))
    assert metrics == {"row_count": 4, "null_key_rows": 0}
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_branch_jobs_run_under_the_callers_job_group(spark, tmp_path, sources):
    """Every job of a run, also those of the branch threads, carries the
    job group of the thread that called ``run_pipeline``. (A sequential
    run passes this too; a branch not started through
    ``inheritable_thread_target`` runs its jobs with no group.)"""
    sc, group = spark.sparkContext, f"caller-{uuid.uuid4().hex}"
    st = sc.statusTracker()
    ungrouped = set(st.getJobIdsForGroup(None))
    sc.setJobGroup(group, "run_pipeline")
    try:
        run_pipeline(spark, _cfg(tmp_path, sources, full_reingest=True))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert st.getJobIdsForGroup(group)
    assert set(st.getJobIdsForGroup(None)) <= ungrouped


def _within(seconds, fn):
    """``fn()``'s result or raised error, failing the test if it takes more
    than ``seconds`` (an ``Observation`` whose action never ran blocks
    forever)."""
    out = {}

    def run():
        try:
            out["result"] = fn()
        except Exception as e:  # re-raised in the test's thread
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"run did not return within {seconds} s"
    if "error" in out:
        raise out["error"]
    return out["result"]


def test_limit_zero_and_empty_source_return(spark, tmp_path, sources):
    """``limit=0`` and a source without rows each end the run promptly: on
    a loaded warehouse with the table's DQ metrics, on a fresh one with
    the empty-table DQ failure. (A run that takes no observed metrics
    passes this too.)"""
    empty = tmp_path / "empty"
    spark.createDataFrame([], OBSERVATION_SOURCE).write.parquet(str(empty))
    loaded = _cfg(tmp_path, sources)
    assert run_pipeline(spark, loaded)["row_count"] == 4
    for kw in ({"limit": 0}, {"source_observations": str(empty)}):
        cfg = replace(loaded, **kw)
        assert _within(180, lambda: run_pipeline(spark, cfg)) == {
            "row_count": 4, "null_key_rows": 0}
        fresh = replace(cfg, warehouse_dir=str(tmp_path / f"fresh-{uuid.uuid4().hex}"))
        with pytest.raises(DataQualityError, match="is empty"):
            _within(180, lambda: run_pipeline(spark, fresh))


def test_pipeline_names_the_benchmark_traces_exist(spark, tmp_path, sources, monkeypatch):
    """The benchmark's ``--trace 1`` wraps these names in the pipeline
    module's namespace (``perfbench/workloads.py:install_pipeline_spans``);
    a missing one crashes it, and one the run does not look up at call
    time goes untraced."""
    traced = ["clean_observations", "clean_indicators", "clean_countries",
              "validate_split", "upsert", "append_rejects", "run_dq_checks",
              "EtlStateRepository"]
    assert [n for n in traced if not hasattr(P, n)] == []
    for m in ("get_state", "set_checkpoint_state", "clear_checkpoint",
              "set_last_successful_run_at", "get_watermark"):
        assert callable(getattr(P.EtlStateRepository, m))

    calls = []
    for name in traced[:-2]:
        real = getattr(P, name)

        def counted(*a, _name=name, _real=real, **k):
            calls.append(_name)
            return _real(*a, **k)

        monkeypatch.setattr(P, name, counted)
    run_pipeline(spark, _cfg(tmp_path, sources))
    assert set(calls) == set(traced[:-2])
