"""Explicit schemas for the engine.

The reference declares its schemas three times (SQLAlchemy DDL
``etl/models.py:9-50``, Pydantic validation ``etl/validate.py:6-37``, and
implicit pandas dtypes in ``etl/transform.py``). Here each schema exists
once as a StructType; renames/coercions are expressed in operators.

API-shaped inputs arrive stringly-typed (OData JSON): every field is a
nullable string until the transform layer casts it (schema-on-read with
permissive defaulting, mirroring ``etl/transform.py:30-32``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# API entity schemas (raw, as fetched — cf. etl/validate.py:19-29 aliases)
# ---------------------------------------------------------------------------

RAW_OBSERVATION = T.StructType(
    [
        T.StructField("Id", T.StringType(), True),
        T.StructField("IndicatorCode", T.StringType(), True),
        T.StructField("SpatialDim", T.StringType(), True),
        T.StructField("SpatialDimType", T.StringType(), True),
        T.StructField("TimeDim", T.StringType(), True),
        T.StructField("TimeDimType", T.StringType(), True),
        T.StructField("NumericValue", T.StringType(), True),
        T.StructField("Value", T.StringType(), True),
    ]
)

# The observation source as the pipeline reads it: the API fields plus the
# load stamp the watermark filters on. A source without the stamp reads it
# as NULL, and a NULL stamp counts as new data.
OBSERVATION_SOURCE = T.StructType(
    RAW_OBSERVATION.fields + [T.StructField("ingested_at", T.TimestampType(), True)]
)

RAW_INDICATOR = T.StructType(
    [
        T.StructField("IndicatorCode", T.StringType(), True),
        T.StructField("IndicatorName", T.StringType(), True),
        T.StructField("Language", T.StringType(), True),
    ]
)

RAW_COUNTRY = T.StructType(
    [
        T.StructField("Code", T.StringType(), True),
        T.StructField("Title", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Warehouse star schema (cf. etl/models.py:9-50)
# ---------------------------------------------------------------------------

DIM_INDICATOR = T.StructType(
    [
        T.StructField("indicator_code", T.StringType(), False),
        T.StructField("indicator_name", T.StringType(), True),
        T.StructField("language", T.StringType(), True),
    ]
)

DIM_COUNTRY = T.StructType(
    [
        T.StructField("country_code", T.StringType(), False),
        T.StructField("country_name", T.StringType(), True),
    ]
)

# observation_id is STRING: the API's Id arrives stringly-typed and the
# validation layer keeps Pydantic's coerce_numbers_to_str semantics
# (etl/validate.py:8) — the reference's Integer PK (etl/models.py:26) is a
# DB-side re-typing we intentionally do not replicate. The pipeline
# gives a row without an Id the ``ck:<indicator>:<spatial>:<year>``
# surrogate; nullable because a warehouse loaded by older code from a
# feed without Ids holds NULL ids.
FACT_OBSERVATION = T.StructType(
    [
        T.StructField("observation_id", T.StringType(), True),
        T.StructField("indicator_code", T.StringType(), False),
        T.StructField("spatial_dim", T.StringType(), False),
        T.StructField("spatial_dim_type", T.StringType(), False),
        T.StructField("time_dim", T.IntegerType(), False),
        T.StructField("time_dim_type", T.StringType(), False),
        T.StructField("numeric_value", T.DoubleType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)

REJECTED_RECORD = T.StructType(
    [
        T.StructField("record_data", T.StringType(), True),
        T.StructField("error_details", T.StringType(), True),
    ]
)

# The warehouse's tables in attach order, each with its declared schema, so
# a reader needs no footer inference (see Engine.attach_warehouse).
WAREHOUSE_SCHEMAS = {
    "dim_indicator": DIM_INDICATOR,
    "dim_country": DIM_COUNTRY,
    "fact_observation": FACT_OBSERVATION,
    "rejected_record": REJECTED_RECORD,
}

# Required (NOT NULL) key columns of the fact table — drives the null-drop
# transform (etl/transform.py:42) and the DQ key-scan (who_gho_etl_dag.py:200-206).
OBSERVATION_KEY_COLUMNS = ["IndicatorCode", "SpatialDim", "TimeDim"]

# Column rename maps: API name -> warehouse name (etl/validate.py:6-29 aliases).
OBSERVATION_RENAMES = {
    "Id": "observation_id",
    "IndicatorCode": "indicator_code",
    "SpatialDim": "spatial_dim",
    "SpatialDimType": "spatial_dim_type",
    "TimeDim": "time_dim",
    "TimeDimType": "time_dim_type",
    "NumericValue": "numeric_value",
    "Value": "value",
}
INDICATOR_RENAMES = {
    "IndicatorCode": "indicator_code",
    "IndicatorName": "indicator_name",
    "Language": "language",
}
COUNTRY_RENAMES = {"Code": "country_code", "Title": "country_name"}
