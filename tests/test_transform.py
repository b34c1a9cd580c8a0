"""Ports of /root/reference/tests/test_transform.py invariants to Spark."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_who_gho_spark.operators import (
    clean_countries,
    clean_indicators,
    clean_observations,
    dedup_keep_first,
    ensure_columns,
    normalize_year,
    records_to_df,
    safe_double,
)
from data_pipeline_who_gho_spark.schemas import RAW_OBSERVATION


def test_clean_observations_invariants(spark, raw_observations):
    # reference: 6 rows -> 5 after Id-dedup... minus the null-key row = 4 kept
    # (tests/test_transform.py:4-18 counts 5 because its fixture keeps the
    # null-key drop and dedup overlapping differently; our fixture has one
    # dup AND one null-key row: 6 - 1 dup - 1 null-key = 4)
    df = records_to_df(spark, raw_observations, RAW_OBSERVATION)
    out = clean_observations(df)
    rows = {r["Id"]: r for r in out.collect()}

    assert len(rows) == 4
    assert "5" not in rows  # null IndicatorCode dropped (T5)
    dtypes = dict(out.dtypes)
    assert dtypes["NumericValue"] == "double"  # T3
    assert dtypes["TimeDim"] == "int"  # T4
    assert rows["3"]["TimeDim"] == 2020  # "2020-2020" -> 2020
    assert rows["4"]["NumericValue"] is None  # "abc" coerced to null
    assert rows["2"]["NumericValue"] is None and rows["2"]["Value"] == "No data"
    for c in RAW_OBSERVATION.fieldNames():
        assert c in out.columns


def test_clean_observations_missing_column(spark, raw_observations):
    # batch lacking 'Value' entirely -> injected as null (T2)
    recs = [{k: v for k, v in r.items() if k != "Value"} for r in raw_observations]
    schema = "Id STRING, IndicatorCode STRING, SpatialDim STRING, SpatialDimType STRING, TimeDim STRING, TimeDimType STRING, NumericValue STRING"
    out = clean_observations(spark.createDataFrame(recs, schema))
    assert "Value" in out.columns
    assert out.filter(F.col("Value").isNotNull()).count() == 0


def test_clean_observations_id_fallback(spark, raw_observations):
    # all-null Id -> composite-key dedup (etl/transform.py:47-48)
    recs = [{**r, "Id": None} for r in raw_observations]
    df = records_to_df(spark, recs, RAW_OBSERVATION)
    out = clean_observations(df)
    # 6 rows: dup pair collapses on composite key, null-key row dropped -> 4
    assert out.count() == 4


def test_clean_observations_mixed_ids_keep_null_id_rows(spark, raw_observations):
    # Id "1" rows dedup on Id; each NULL-Id row is keyed by its natural key
    # (ck:<indicator>:<spatial>:<year>), so distinct ones all survive
    recs = [r for r in raw_observations if r["Id"] == "1"] + [
        {**r, "Id": None} for r in raw_observations if r["Id"] in ("2", "3", "4")
    ]
    out = clean_observations(records_to_df(spark, recs, RAW_OBSERVATION))
    assert [r["Id"] for r in out.orderBy("Id").collect()] == [
        "1", "ck:WHOSIS_000001:FRA:2019", "ck:WHOSIS_000001:GBR:2020",
        "ck:WHOSIS_000002:JPN:2019",
    ]


def test_clean_observations_empty(spark):
    out = clean_observations(records_to_df(spark, [], RAW_OBSERVATION))
    assert out.count() == 0
    assert dict(out.dtypes)["NumericValue"] == "double"


def test_clean_indicators(spark, raw_indicators):
    out = clean_indicators(spark.createDataFrame(raw_indicators))
    assert out.count() == 2  # 3 -> 2 (tests/test_transform.py:20-25)
    assert out.columns == ["IndicatorCode", "IndicatorName", "Language"]


def test_clean_indicators_projects_extras(spark, raw_indicators):
    recs = [{**r, "Unexpected": "x"} for r in raw_indicators]
    out = clean_indicators(spark.createDataFrame(recs))
    assert out.columns == ["IndicatorCode", "IndicatorName", "Language"]


def test_clean_countries(spark, raw_countries):
    out = clean_countries(spark.createDataFrame(raw_countries))
    assert out.count() == 3  # 4 -> 3 (tests/test_transform.py:27-32)


def test_normalize_year_forms(spark):
    df = spark.createDataFrame(
        [("2019",), ("2020-2020",), ("2019-2021",), ("junk",), (None,)], "y STRING"
    ).select(normalize_year("y").alias("year"))
    assert [r["year"] for r in df.collect()] == [2019, 2020, 2019, None, None]


def test_safe_double(spark):
    df = spark.createDataFrame([("1.5",), ("abc",), (None,)], "v STRING")
    out = [r["d"] for r in df.select(safe_double("v").alias("d")).collect()]
    assert out == [1.5, None, None]


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [("k1", 2, "b"), ("k1", 1, "a"), ("k2", 5, "c")], "k STRING, o INT, v STRING"
    )
    out = dedup_keep_first(df, ["k"], order_by=["o"]).orderBy("k").collect()
    assert [(r["k"], r["v"]) for r in out] == [("k1", "a"), ("k2", "c")]


def test_dedup_keeps_the_duplicate_that_validates(spark):
    """A duplicate Id whose required types are set wins over one whose
    SpatialDimType or TimeDimType is NULL."""
    base = {"Id": "1", "IndicatorCode": "I", "SpatialDim": "USA", "SpatialDimType": "COUNTRY",
            "TimeDim": "2019", "TimeDimType": "YEAR", "NumericValue": "1", "Value": "1"}
    for field in ("SpatialDimType", "TimeDimType"):
        recs = [{**base, field: None}, base]
        out = clean_observations(spark.createDataFrame(recs, RAW_OBSERVATION)).collect()
        assert [r[field] for r in out] == [base[field]]


def test_ensure_columns_typed_null(spark):
    df = spark.createDataFrame([(1,)], "a INT")
    out = ensure_columns(df, ["a", "b"], dtype="double")
    assert dict(out.dtypes)["b"] == "double"
