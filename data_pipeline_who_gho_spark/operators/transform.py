"""Transform core: T1-T8 from SURVEY §2a, as pure DataFrame → DataFrame ops.

Reference semantics (pandas, ``/root/reference/etl/transform.py``)
re-expressed with Catalyst-native expressions — no Python row loops, no
driver-side materialization, so every op here scales to arbitrary input by
partitioned execution:

- T1 records→table          : spark.createDataFrame (see ``records_to_df``)
- T2 null-default projection: ``ensure_columns``  (etl/transform.py:30-32)
- T3 safe numeric cast      : ``safe_double``     (etl/transform.py:35)
- T4 year normalization     : ``normalize_year``  (etl/transform.py:38-39)
- T5 key-null drop          : inside ``clean_observations`` (etl/transform.py:42)
- T6/T8 keyed dedup         : ``dedup_keep_first`` (etl/transform.py:45-48,67,78)
- T7 projection             : inside ``clean_indicators`` (etl/transform.py:62-65)

Scale notes: ``dedup_keep_first`` is the only shuffling op (hash partition
on the dedup key). Catalyst plans it as a single exchange + local sort per
partition group; with AQE on, skewed keys are split at runtime. Everything
else is a narrow map stage fused into one WholeStageCodegen span.
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import OBSERVATION_KEY_COLUMNS, RAW_OBSERVATION


def records_to_df(spark: SparkSession, records: list[dict], schema) -> DataFrame:
    """T1: list-of-dicts → DataFrame; empty input → empty frame with schema.

    Mirrors ``transform_observations`` accepting ``[]`` (etl/transform.py:10-15).
    Only for tests / tiny driver-side batches — bulk data comes from sources.
    """
    return spark.createDataFrame(records or [], schema)


def ensure_columns(df: DataFrame, columns: Iterable[str], dtype: str = "string") -> DataFrame:
    """T2: inject any missing column as a typed null (etl/transform.py:30-32).

    Schema-on-read with permissive defaulting — a pure projection, fused by
    Catalyst into the scan stage (zero extra cost at any scale).
    """
    missing = [c for c in columns if c not in df.columns]
    if not missing:
        return df
    return df.withColumns({c: F.lit(None).cast(dtype) for c in missing})


def safe_double(col: Column | str) -> Column:
    """T3: numeric cast, unparseable → null (pd.to_numeric errors='coerce',
    etl/transform.py:35). ``try_cast`` keeps the coerce-to-null semantics
    even under ANSI mode."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast("double")


def normalize_year(col: Column | str) -> Column:
    """T4: '2019-2019' → 2019; plain '2019' → 2019; junk → null.

    Mirrors etl/transform.py:38-39 and the validator etl/validate.py:31-37:
    take the segment before the first '-', cast to int (null on failure).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c.cast("string"), "-").getItem(0).try_cast("int")


def dedup_keep_first(
    df: DataFrame, keys: Sequence[str], order_by: Sequence[Column | str]
) -> DataFrame:
    """T6/T8: deterministic keyed dedup.

    pandas ``drop_duplicates`` keeps the *first row in input order*
    (etl/transform.py:45-48); input order is unobservable across a
    shuffle, so we use the row_number idiom: partition by the key, order
    by an explicit tiebreaker, keep rank 1. A row with a NULL key column
    is kept as it is: it has no key to be a duplicate of, and the
    validation step rejects it with its reason instead.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    keyless = reduce(Column.__or__, [F.col(k).isNull() for k in keys])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) | keyless)
        .drop("__rn")
    )


def clean_observations(df: DataFrame) -> DataFrame:
    """T2+T3+T4+T5+T6 composed, mirroring ``transform_observations``
    (etl/transform.py:18-59), with the one fact key decided here.

    Output invariants (tests/test_transform.py:4-18): required columns all
    present; NumericValue double; TimeDim nullable int; rows with null key
    columns dropped; ``Id`` never null; duplicates removed on ``Id``.

    A row without an Id is keyed by the composite natural key as
    ``ck:<indicator>:<spatial>:<year>`` (the reference's dedup fallback,
    etl/transform.py:45-48), whether some or none of the batch's rows carry
    an Id: NULL Ids would otherwise fall into one dedup group, and a NULL
    key never matches the merge anti-join. The surrogate is the same on
    every re-run, so re-loading a batch stays a no-op.
    """
    df = (
        ensure_columns(df, RAW_OBSERVATION.fieldNames())
        .withColumn("NumericValue", safe_double("NumericValue"))
        .withColumn("TimeDim", normalize_year("TimeDim"))
        .na.drop(subset=OBSERVATION_KEY_COLUMNS)
    )
    surrogate = F.concat_ws(
        ":", F.lit("ck"), "IndicatorCode", "SpatialDim", F.col("TimeDim").cast("string")
    )
    df = df.withColumn("Id", F.coalesce(F.col("Id").cast("string"), surrogate))
    # a deterministic tiebreaker on the full key set; then the row whose
    # required types are set, so a duplicate that validates is the one kept
    required = [F.col(c).asc_nulls_last() for c in ("SpatialDimType", "TimeDimType")]
    return dedup_keep_first(df, ["Id"], order_by=OBSERVATION_KEY_COLUMNS + required)


def clean_indicators(df: DataFrame) -> DataFrame:
    """T7+T8: project to exactly the 3 indicator columns (injecting nulls if
    absent) and dedup on IndicatorCode (etl/transform.py:62-67)."""
    cols = ["IndicatorCode", "IndicatorName", "Language"]
    df = ensure_columns(df, cols).select(*cols)
    return dedup_keep_first(df, ["IndicatorCode"], order_by=["IndicatorName", "Language"])


def clean_countries(df: DataFrame) -> DataFrame:
    """T8 for countries: dedup on Code (etl/transform.py:70-79), keeping a
    row with a Title (it is required) over one without."""
    cols = ["Code", "Title"]
    df = ensure_columns(df, cols).select(*cols)
    return dedup_keep_first(df, ["Code"], order_by=[F.col("Title").asc_nulls_last()])
