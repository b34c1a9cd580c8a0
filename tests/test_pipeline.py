"""End-to-end pipeline: extract→transform→validate→load→DQ on fixture
parquet; re-run idempotency; reject side-channel populated."""

from __future__ import annotations

import os
from datetime import datetime, timezone

import pytest
from pyspark.sql import types as T

from data_pipeline_who_gho_spark.pipeline import PipelineConfig, run_pipeline
from data_pipeline_who_gho_spark.schemas import RAW_COUNTRY, RAW_INDICATOR, RAW_OBSERVATION
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


def test_pipeline_limit(spark, tmp_path, sources):
    cfg = _cfg(tmp_path, sources)
    cfg.source_observations = str(sources / "obs")
    cfg.limit = 1
    metrics = run_pipeline(spark, cfg)
    assert metrics["row_count"] == 1


def _stamped_source(spark, path, rows):
    """One parquet file of ``(Id, SpatialDim, ingested_at day in Jan 2024)``
    observations, in the given order."""
    base = {"IndicatorCode": "WHOSIS_000001", "SpatialDimType": "COUNTRY",
            "TimeDim": "2019", "TimeDimType": "YEAR",
            "NumericValue": "1.0", "Value": "1.0"}
    schema = T.StructType(
        RAW_OBSERVATION.fields + [T.StructField("ingested_at", T.TimestampType())]
    )
    recs = [
        {**base, "Id": i, "SpatialDim": c,
         "ingested_at": datetime(2024, 1, day, tzinfo=timezone.utc)}
        for i, c, day in rows
    ]
    spark.createDataFrame(recs, schema).coalesce(1).write.parquet(str(path))


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
    assert EtlStateRepository(spark, wh).get_watermark(cfg.process_name) is None
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
