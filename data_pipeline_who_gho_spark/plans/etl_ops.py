"""ETL-operator queries: SURVEY §2a semantics (T1-T8, V1-V2, L2, Q1-Q2)
exercised end-to-end over the fixture tables, each with a DuckDB oracle.

The reference's ETL operates on WHO API records; here we derive an
API-shaped ``raw_observations`` stream deterministically from ``orders``
(same edge cases as the reference's test corpus: duplicate Ids, null key
columns, unparseable numerics, range years — FIXTURES.md §1) and run the
*library* operators over it, so the correctness gate covers the real
implementation, not a re-typed query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import register_plan_cache
from ..operators.load import merge_cdc, merge_upsert
from ..operators.transform import clean_observations, dedup_keep_first, ensure_columns
from ..operators.validate import observation_rules, validate_split
from ..sources.catalog import load_table

# Lower-cased warehouse-style output names (V1 renames, etl/validate.py:6-29).
_OBS_RENAMES = {
    "Id": "observation_id",
    "IndicatorCode": "indicator_code",
    "SpatialDim": "spatial_dim",
    "SpatialDimType": "spatial_dim_type",
    "TimeDim": "time_dim",
    "TimeDimType": "time_dim_type",
    "NumericValue": "numeric_value",
    "Value": "value",
}


def _raw_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive an API-shaped observation feed from orders, with the
    reference fixture's edge cases injected deterministically:
    - every orderkey % 50 == 0 row appears twice (duplicate Id)
    - every orderkey % 89 == 0 row has a null key column
    - every orderkey % 97 == 0 row has an unparseable NumericValue
    - TimeDim arrives as a '1996-1996' range-year string
    """
    o = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").cast("string")
    base = o.select(
        F.col("o_orderkey").cast("string").alias("Id"),
        F.when(F.col("o_orderkey") % 89 == 0, F.lit(None)).otherwise(F.col("o_orderpriority")).alias("IndicatorCode"),
        F.col("o_orderstatus").alias("SpatialDim"),
        F.lit("COUNTRY").alias("SpatialDimType"),
        F.concat(yr, F.lit("-"), yr).alias("TimeDim"),
        F.lit("YEAR").alias("TimeDimType"),
        F.when(F.col("o_orderkey") % 97 == 0, F.lit("abc"))
        .otherwise(F.col("o_totalprice").cast("decimal(12,2)").cast("string"))
        .alias("NumericValue"),
        F.col("o_totalprice").cast("decimal(12,2)").cast("string").alias("Value"),
        F.col("o_orderkey").alias("__k"),
    )
    raw = base.unionByName(base.filter(F.col("__k") % 50 == 0))
    return raw.drop("__k")


_RAW_SQL = """
  SELECT * FROM (
    SELECT CAST(o_orderkey AS VARCHAR) AS Id,
           CASE WHEN o_orderkey % 89 = 0 THEN NULL ELSE o_orderpriority END AS IndicatorCode,
           o_orderstatus AS SpatialDim,
           'COUNTRY' AS SpatialDimType,
           concat(CAST(year(o_orderdate) AS VARCHAR), '-', CAST(year(o_orderdate) AS VARCHAR)) AS TimeDim,
           'YEAR' AS TimeDimType,
           CASE WHEN o_orderkey % 97 = 0 THEN 'abc'
                ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) END AS NumericValue,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS Value,
           o_orderkey AS __k
    FROM orders
  ) b
  UNION ALL
  SELECT * FROM (
    SELECT CAST(o_orderkey AS VARCHAR) AS Id,
           CASE WHEN o_orderkey % 89 = 0 THEN NULL ELSE o_orderpriority END AS IndicatorCode,
           o_orderstatus AS SpatialDim,
           'COUNTRY' AS SpatialDimType,
           concat(CAST(year(o_orderdate) AS VARCHAR), '-', CAST(year(o_orderdate) AS VARCHAR)) AS TimeDim,
           'YEAR' AS TimeDimType,
           CASE WHEN o_orderkey % 97 = 0 THEN 'abc'
                ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) END AS NumericValue,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS Value,
           o_orderkey AS __k
    FROM orders
  ) d WHERE __k % 50 = 0
"""


def etl_clean_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1-T6 composed: the reference's full observation transform
    (etl/transform.py:18-59) over the derived raw feed, renamed to
    warehouse columns (V1)."""
    out = clean_observations(_raw_observations(spark, sf_dir))
    return out.select(*[F.col(a).alias(b) for a, b in _OBS_RENAMES.items()])


ETL_CLEAN_SQL = f"""
WITH raw AS ({_RAW_SQL}),
cast_ AS (
  SELECT Id, IndicatorCode, SpatialDim, SpatialDimType,
         CAST(split_part(TimeDim, '-', 1) AS INT) AS TimeDim,
         TimeDimType,
         TRY_CAST(NumericValue AS DOUBLE) AS NumericValue, Value
  FROM raw
  WHERE IndicatorCode IS NOT NULL AND SpatialDim IS NOT NULL AND TimeDim IS NOT NULL
),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY Id ORDER BY IndicatorCode, SpatialDim, TimeDim) AS rn
  FROM cast_
)
SELECT Id AS observation_id, IndicatorCode AS indicator_code, SpatialDim AS spatial_dim,
       SpatialDimType AS spatial_dim_type, TimeDim AS time_dim, TimeDimType AS time_dim_type,
       NumericValue AS numeric_value, Value AS value
FROM dedup WHERE rn = 1
"""


def etl_validate_good(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 validated stream: rows passing all Pydantic-parity rules."""
    res = validate_split(_raw_observations(spark, sf_dir), observation_rules())
    return res.validated.select(*[F.col(a).alias(b) for a, b in _OBS_RENAMES.items()])


ETL_VALIDATE_GOOD_SQL = f"""
WITH raw AS ({_RAW_SQL})
SELECT Id AS observation_id, IndicatorCode AS indicator_code, SpatialDim AS spatial_dim,
       SpatialDimType AS spatial_dim_type, TimeDim AS time_dim, TimeDimType AS time_dim_type,
       NumericValue AS numeric_value, Value AS value
FROM raw
WHERE IndicatorCode IS NOT NULL AND SpatialDim IS NOT NULL AND SpatialDimType IS NOT NULL
  AND TimeDim IS NOT NULL AND TimeDimType IS NOT NULL
  AND (NumericValue IS NULL OR TRY_CAST(NumericValue AS DOUBLE) IS NOT NULL)
  AND (TimeDim IS NULL OR TRY_CAST(split_part(TimeDim, '-', 1) AS INT) IS NOT NULL)
"""


def etl_validate_rejected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 rejected stream: failed rows with concatenated error details
    (the rejected_record side channel, etl/load.py:55-71)."""
    raw = _raw_observations(spark, sf_dir)
    res = validate_split(raw, observation_rules())
    # record_data JSON layout is engine-specific; the oracle-checked surface
    # is the error description + the failing row's identity.
    rej = res.rejected.withColumn(
        "observation_id", F.get_json_object("record_data", "$.Id")
    )
    return rej.select("observation_id", "error_details")


ETL_VALIDATE_REJECTED_SQL = f"""
WITH raw AS ({_RAW_SQL})
SELECT Id AS observation_id,
       concat_ws('; ',
         CASE WHEN IndicatorCode IS NULL THEN 'IndicatorCode is required' END,
         CASE WHEN SpatialDim IS NULL THEN 'SpatialDim is required' END,
         CASE WHEN SpatialDimType IS NULL THEN 'SpatialDimType is required' END,
         CASE WHEN TimeDim IS NULL THEN 'TimeDim is required' END,
         CASE WHEN TimeDimType IS NULL THEN 'TimeDimType is required' END,
         CASE WHEN NOT (NumericValue IS NULL OR TRY_CAST(NumericValue AS DOUBLE) IS NOT NULL)
              THEN 'NumericValue must be double' END,
         CASE WHEN NOT (TimeDim IS NULL OR TRY_CAST(split_part(TimeDim, '-', 1) AS INT) IS NOT NULL)
              THEN 'TimeDim must be a year' END
       ) AS error_details
FROM raw
WHERE NOT (IndicatorCode IS NOT NULL AND SpatialDim IS NOT NULL AND SpatialDimType IS NOT NULL
  AND TimeDim IS NOT NULL AND TimeDimType IS NOT NULL
  AND (NumericValue IS NULL OR TRY_CAST(NumericValue AS DOUBLE) IS NOT NULL)
  AND (TimeDim IS NULL OR TRY_CAST(split_part(TimeDim, '-', 1) AS INT) IS NOT NULL))
"""


def etl_dedup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6/T8 focused: deterministic keep-first dedup of lineitem onto one
    row per orderkey (order by linenumber — pandas keep-first parity)."""
    li = load_table(spark, sf_dir, "lineitem")
    # (orderkey, linenumber) is NOT unique in the fixture data — the full
    # (linenumber, partkey, suppkey) tiebreak makes keep-first total.
    out = dedup_keep_first(
        li, ["l_orderkey"], order_by=["l_linenumber", "l_partkey", "l_suppkey"]
    )
    return out.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("linenumber"),
        F.col("l_partkey").alias("partkey"),
    )


ETL_DEDUP_SQL = """
SELECT l_orderkey AS orderkey, l_linenumber AS linenumber, l_partkey AS partkey
FROM (
  SELECT *, row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
  FROM lineitem
) WHERE rn = 1
"""


def etl_null_default_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 focused: missing columns injected as typed nulls
    (etl/transform.py:30-32)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = ensure_columns(docs, ["doc_id", "lang", "category", "rating"], dtype="string")
    return out.select(
        "doc_id", "lang", "category", F.col("rating").cast("double").alias("rating")
    )


ETL_NULL_DEFAULT_SQL = """
SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS category, CAST(NULL AS DOUBLE) AS rating
FROM documents
"""


def etl_safe_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 focused: coerce-to-null casting (pd.to_numeric errors='coerce')."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.substring("source", 4, 100).try_cast("int").alias("source_num"),
        F.col("lang").try_cast("double").alias("lang_as_num"),
    )


ETL_SAFE_CAST_SQL = """
SELECT doc_id, TRY_CAST(substr(source, 4, 100) AS INT) AS source_num,
       TRY_CAST(lang AS DOUBLE) AS lang_as_num
FROM documents
"""


def etl_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 semantics as a pure plan: target = pre-1997 orders, updates =
    1996+ orders repriced ×1.1 (decimal-exact); updates win on shared
    keys, union otherwise (etl/load.py:30-52 / Delta MERGE parity)."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    target = o.filter(F.year("o_orderdate") <= 1996).select(
        F.col("o_orderkey").alias("orderkey"),
        price.alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    updates = o.filter(F.year("o_orderdate") >= 1996).select(
        F.col("o_orderkey").alias("orderkey"),
        (price * F.lit(1.1).cast("decimal(2,1)")).cast("decimal(14,3)").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    merged = merge_upsert(target, updates, ["orderkey"])
    return merged.select("orderkey", F.col("totalprice").cast("double").alias("totalprice"), "status")


ETL_UPSERT_SQL = """
WITH target AS (
  SELECT o_orderkey AS orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice, o_orderstatus AS status
  FROM orders WHERE year(o_orderdate) <= 1996
), updates AS (
  SELECT o_orderkey AS orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(14,3)) AS totalprice,
         o_orderstatus AS status
  FROM orders WHERE year(o_orderdate) >= 1996
)
SELECT orderkey, CAST(CAST(totalprice AS VARCHAR) AS DOUBLE) AS totalprice, status FROM (
  SELECT * FROM target WHERE orderkey NOT IN (SELECT orderkey FROM updates)
  UNION ALL
  SELECT * FROM updates
)
"""


def etl_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-clause CDC MERGE semantics as a pure plan: target = pre-1997
    orders; the change feed is 1996+ orders where finished ('F') rows are
    tombstones (DELETE) and the rest are repriced upserts. One anti-join
    over all change keys + union of surviving upserts (operators/load.py
    merge_cdc — the DELETE clause the reference's ON CONFLICT lacks)."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(12,2)")
    target = o.filter(F.year("o_orderdate") <= 1996).select(
        F.col("o_orderkey").alias("orderkey"),
        price.alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
    )
    changes = o.filter(F.year("o_orderdate") >= 1996).select(
        F.col("o_orderkey").alias("orderkey"),
        (price * F.lit(1.1).cast("decimal(2,1)")).cast("decimal(14,3)").alias("totalprice"),
        F.col("o_orderstatus").alias("status"),
        (F.col("o_orderstatus") == "F").alias("is_deleted"),
    )
    merged = merge_cdc(target, changes, ["orderkey"])
    return merged.select(
        "orderkey", F.col("totalprice").cast("double").alias("totalprice"), "status"
    )


ETL_UPSERT_CDC_SQL = """
WITH target AS (
  SELECT o_orderkey AS orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice, o_orderstatus AS status
  FROM orders WHERE year(o_orderdate) <= 1996
), changes AS (
  SELECT o_orderkey AS orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DECIMAL(14,3)) AS totalprice,
         o_orderstatus AS status,
         o_orderstatus = 'F' AS is_deleted
  FROM orders WHERE year(o_orderdate) >= 1996
)
SELECT orderkey, CAST(CAST(totalprice AS VARCHAR) AS DOUBLE) AS totalprice, status FROM (
  SELECT orderkey, totalprice, status FROM target
  WHERE orderkey NOT IN (SELECT orderkey FROM changes)
  UNION ALL
  SELECT orderkey, totalprice, status FROM changes WHERE NOT is_deleted
)
"""


def etl_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-side SCD2 versioning as a pure plan (operators/scd2.py):
    the customer dimension starts as open versions effective 1995-01-01;
    a change batch re-segments negative-balance customers to 'DEBT'
    effective 1996-01-01. Superseded versions close at the effective
    time, fresh versions open, everything else passes through."""
    from ..operators.scd2 import scd2_merge

    cust = load_table(spark, sf_dir, "customer")
    target = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("1995-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit("9999-12-31 00:00:00").cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changes = cust.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("custkey"),
        F.lit("DEBT").alias("segment"),
        F.lit("1996-01-01 00:00:00").cast("timestamp").alias("effective_ts"),
    )
    merged = scd2_merge(target, changes, ["custkey"], ["segment"])
    # Registered result casts valid_to to STRING: the open-version sentinel
    # 9999-12-31 overflows pandas datetime64[ns] (max 2262-04-11) in the
    # driver's canonicalizer. The timestamp encoding stays internal to
    # scd2_merge; only the query surface is stringly.
    return merged.select(
        "custkey",
        "segment",
        "valid_from",
        F.col("valid_to").cast("string").alias("valid_to"),
        "is_current",
    ).orderBy("custkey", "valid_from")


ETL_SCD2_SQL = """
WITH target AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment,
         TIMESTAMP '1995-01-01' AS valid_from,
         TIMESTAMP '9999-12-31' AS valid_to, TRUE AS is_current
  FROM customer
), changes AS (
  SELECT c_custkey AS custkey, 'DEBT' AS segment,
         TIMESTAMP '1996-01-01' AS effective_ts
  FROM customer WHERE c_acctbal < 0
), joined AS (
  SELECT t.custkey, t.segment AS t_seg, t.valid_from, t.valid_to, t.is_current,
         c.segment AS c_seg, c.effective_ts,
         c.custkey IS NOT NULL AND c.effective_ts > t.valid_from
           AND t.segment IS DISTINCT FROM c.segment AS changed
  FROM target t LEFT JOIN changes c ON t.custkey = c.custkey
)
SELECT custkey, t_seg AS segment, valid_from,
       strftime(CASE WHEN changed THEN effective_ts ELSE valid_to END,
                '%Y-%m-%d %H:%M:%S') AS valid_to,
       CASE WHEN changed THEN FALSE ELSE is_current END AS is_current
FROM joined
UNION ALL
SELECT custkey, c_seg AS segment, effective_ts AS valid_from,
       '9999-12-31 00:00:00' AS valid_to, TRUE AS is_current
FROM joined WHERE changed
ORDER BY custkey, valid_from
"""


def etl_dq_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1+Q2 as one metrics row over the derived raw feed: total rows and
    rows violating the key-null constraint (who_gho_etl_dag.py:189-206)."""
    raw = _raw_observations(spark, sf_dir)
    keys = ["IndicatorCode", "SpatialDim", "TimeDim"]
    cond = F.col(keys[0]).isNull()
    for k in keys[1:]:
        cond = cond | F.col(k).isNull()
    return raw.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.count(F.when(cond, F.lit(1))).alias("null_key_rows"),
    )


ETL_DQ_SQL = f"""
WITH raw AS ({_RAW_SQL})
SELECT COUNT(*) AS row_count,
       COUNT(CASE WHEN IndicatorCode IS NULL OR SpatialDim IS NULL OR TimeDim IS NULL THEN 1 END) AS null_key_rows
FROM raw
"""


def etl_paged_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S3+S6 under the correctness gate: the fetch plan is built by
    crossJoin fan-out (the reference's indicator × country nested loop),
    then executed as the driver-side paged fetch (pages of 2 per key,
    a thread pool over the collected keys). S7 (global limit) is
    covered by unit tests only — a limited fetch is order-nondeterministic
    by design, so it cannot be hash-pinned by an oracle."""
    from ..sources.paged import fetch_paged
    from ..sources.testing import pages_fetcher

    # Build the fan-out from JVM-native relations (spark.range), NOT
    # python createDataFrame rows: a CartesianProduct over
    # python-pickled ExistingRDDs re-evaluates each side per partition
    # pairing through fresh Python workers — measured ~14 s for this
    # 1 x 10 crossJoin vs 0.3 s range-backed (found by the sf1 scaling
    # probe). Same rule at 100 TB: fetch plans come from tables/native
    # relations; driver-pickled frames don't belong under a join.
    left = spark.range(1).select(F.lit("k").alias("prefix"))
    right = spark.range(10).select(F.col("id").cast("string").alias("n"))
    keys = left.crossJoin(right).select(F.concat("prefix", "n").alias("key"))
    return fetch_paged(
        spark, keys, pages_fetcher, "key STRING, idx INT", page_size=2
    )


ETL_PAGED_SQL = """
SELECT concat('k', CAST(i AS VARCHAR)) AS key, CAST(j AS INT) AS idx
FROM range(10) t(i) CROSS JOIN range(5) u(j)
"""


# the interrupt/resume choreography runs ~10 eager state-parquet jobs;
# census/bench/gate loops re-request the query, so build it once per app
_RESUME_CACHE: dict[str, DataFrame] = register_plan_cache({})


def etl_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 under the correctness gate: a checkpointed paged fetch is
    interrupted between key-batches, then RESUMED from the persisted
    state (reference: the hand-rolled resume loop, etl/extract.py:80-87).
    Run 1 lands batch 0 (5 keys), checkpoints it, and "crashes" entering
    batch 1; run 2 must start exactly at the stored next_batch and
    process ONLY the remaining batch (enforced — a wrong resume point
    raises). The union of rows sunk across both runs must equal the
    uninterrupted fetch: no loss, no dupes, at batch granularity.
    """
    import shutil
    import tempfile

    from ..sources.paged import fetch_with_checkpoint
    from ..sources.state import EtlStateRepository
    from ..sources.testing import pages_fetcher

    app = spark.sparkContext.applicationId
    if app in _RESUME_CACHE:
        return _RESUME_CACHE[app]

    keys = [f"k{i}" for i in range(10)]
    schema = "key STRING, idx INT"
    state_dir = tempfile.mkdtemp(prefix="gate-resume-")
    sunk: list[DataFrame] = []

    class _Interrupt(Exception):
        pass

    def crashing_sink(df: DataFrame, bi: int) -> None:
        if bi == 1:
            raise _Interrupt()  # crash AFTER batch 0 checkpointed
        sunk.append(df)

    try:
        state = EtlStateRepository(spark, state_dir)
        try:
            fetch_with_checkpoint(
                spark, keys, pages_fetcher, schema, state, "gate_resume",
                page_size=2, batch_size=5, sink=crashing_sink,
            )
        except _Interrupt:
            pass
        resumed = fetch_with_checkpoint(
            spark, keys, pages_fetcher, schema, state, "gate_resume",
            page_size=2, batch_size=5, sink=lambda df, bi: sunk.append(df),
        )
        if resumed != 1:
            raise RuntimeError(
                f"resume processed {resumed} batches, expected exactly the "
                "one unfinished batch — checkpoint state was not honored"
            )
        out = sunk[0]
        for df in sunk[1:]:
            out = out.unionByName(df)
        out = out.orderBy("key", "idx")
        if len(_RESUME_CACHE) > 8:
            _RESUME_CACHE.clear()
        _RESUME_CACHE[app] = out
        return out
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


# the interrupted+resumed fetch must equal the uninterrupted one
ETL_CHECKPOINT_RESUME_SQL = ETL_PAGED_SQL


def etl_datasource_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource V2 form of the paged source (S1/S3/S5/S6 as
    a registered `format("paged")` reader): per-key input partitions,
    short-page stop, and an In-filter consumed by pushFilters so the
    dropped key is never fetched. Same observable records as
    etl_paged_fetch's plan-built path — the two source architectures are
    interchangeable to a reader."""
    from ..sources.paged_datasource import register_paged_source

    register_paged_source(spark)
    return (
        spark.read.format("paged")
        .option("keys", "alpha,beta,gamma")
        .option("page_size", "2")
        .load()
        .filter(F.col("key").isin("alpha", "beta"))
    )


ETL_DATASOURCE_SQL = """
SELECT k AS key, CAST(i AS INT) AS idx
FROM (VALUES ('alpha'), ('beta')) t(k) CROSS JOIN range(5) r(i)
"""


ETL_QUERIES = {
    "etl_paged_fetch": etl_paged_fetch,
    "etl_checkpoint_resume": etl_checkpoint_resume,
    "etl_datasource_read": etl_datasource_read,
    "etl_clean_observations": etl_clean_observations,
    "etl_validate_good": etl_validate_good,
    "etl_validate_rejected": etl_validate_rejected,
    "etl_dedup_keyed": etl_dedup_keyed,
    "etl_null_default_projection": etl_null_default_projection,
    "etl_safe_cast": etl_safe_cast,
    "etl_upsert_merge": etl_upsert_merge,
    "etl_upsert_cdc": etl_upsert_cdc,
    "etl_scd2_merge": etl_scd2_merge,
    "etl_dq_summary": etl_dq_summary,
}

ETL_ORACLE_SQL = {
    "etl_paged_fetch": ETL_PAGED_SQL,
    "etl_checkpoint_resume": ETL_CHECKPOINT_RESUME_SQL,
    "etl_datasource_read": ETL_DATASOURCE_SQL,
    "etl_clean_observations": ETL_CLEAN_SQL,
    "etl_validate_good": ETL_VALIDATE_GOOD_SQL,
    "etl_validate_rejected": ETL_VALIDATE_REJECTED_SQL,
    "etl_dedup_keyed": ETL_DEDUP_SQL,
    "etl_null_default_projection": ETL_NULL_DEFAULT_SQL,
    "etl_safe_cast": ETL_SAFE_CAST_SQL,
    "etl_upsert_merge": ETL_UPSERT_SQL,
    "etl_upsert_cdc": ETL_UPSERT_CDC_SQL,
    "etl_scd2_merge": ETL_SCD2_SQL,
    "etl_dq_summary": ETL_DQ_SQL,
}
