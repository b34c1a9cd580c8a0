"""Driver-registerable queries for the SURVEY §2a library seams that
previously had only pytest coverage: S2 retry, S7 global limit, L1
migration, L3 reject sink, ST2 state bootstrap, T1 records→table, T7
projection, T9 JSON interchange, and O1/O2 (the orchestrated pipeline +
config hydration) — each as a deterministic fixture query with a DuckDB
oracle, so the external correctness gate exercises the *library*
implementation end to end.

Queries with side effects (warehouse writes, state files) are cached
per (application, sf): the gate / plan census / bench loops re-request
the same query many times per session, and the choreography (e.g. the
idempotency double-run in ``etl_pipeline_e2e``) must not re-execute on
every plan inspection. Scratch directories live for the application and
are removed at interpreter exit.

Reference parity notes live on each query: the retry loop is
``etl/extract.py:30`` (tenacity), the migration ladder ``etl/load.py:
17-27``, the reject sink ``etl/load.py:55-71``, the state bootstrap
``etl/state.py:13-55``, and the orchestrated run ``etl/local_run.py``.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.load import append_rejects
from ..operators.migrate import migrate_table
from ..operators.transform import clean_indicators, records_to_df
from ..operators.validate import observation_rules, validate_split
from ..pipeline import PipelineConfig, run_pipeline
from ..schemas import RAW_OBSERVATION
from ..sources.catalog import load_table
from ..sources.paged import fetch_paged
from ..sources.state import EtlStateRepository
from ..sources.testing import flaky_fetcher, pages_fetcher
from .etl_ops import _raw_observations

# ---------------------------------------------------------------------------
# app-scoped scratch space + per-(app, sf, query) result memo
# ---------------------------------------------------------------------------

_SCRATCH: dict[str, str] = {}
_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def _scratch(spark: SparkSession) -> str:
    app = spark.sparkContext.applicationId
    if app not in _SCRATCH:
        d = tempfile.mkdtemp(prefix="gate-seams-")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _SCRATCH[app] = d
    return _SCRATCH[app]


def _memo(spark: SparkSession, sf_dir: str, name: str, build) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _MEMO:
        while len(_MEMO) > 64:
            # evict oldest-inserted entries one at a time — a wholesale
            # clear() would re-run every warehouse-writing choreography
            # at once on the next sweep
            _MEMO.pop(next(iter(_MEMO)))
        _MEMO[key] = build()
    return _MEMO[key]


# ---------------------------------------------------------------------------
# S2: retry/backoff under the gate
# ---------------------------------------------------------------------------


def etl_retry_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 under the correctness gate: the paged fetch against a fetcher
    whose FIRST attempt at every (key, page) raises ``ConnectionError``
    (a fresh ``sources/testing.flaky_fetcher()`` per call). ``fetch_all_pages`` retries
    each page with exponential backoff inside its fetch (tenacity parity,
    reference ``etl/extract.py:30``), so the observable records must be
    byte-identical to an un-flaky fetch — retries are invisible to the
    reader. A retry budget < 2 would return nothing: the oracle pins the
    full record set."""
    keys = spark.createDataFrame(
        [(f"retry{i}",) for i in range(4)], "key STRING"
    )
    return fetch_paged(
        spark, keys, flaky_fetcher(), "key STRING, idx INT", page_size=2
    )


# Oracle derives the expected records from the FETCH CONTRACT (4 keys ×
# the fetcher's 5 records/key, sources/testing.pages_fetcher), not from
# pinned literals — a drift in either constant moves only one side.
ETL_RETRY_FETCH_SQL = """
SELECT concat('retry', CAST(i AS VARCHAR)) AS key, CAST(j AS INT) AS idx
FROM range(4) t(i) CROSS JOIN range(5) u(j)
"""


# ---------------------------------------------------------------------------
# S7: global row limit
# ---------------------------------------------------------------------------


def etl_fetch_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 under the correctness gate: the global row limit on a paged
    fetch. WHICH rows survive a limit is order-nondeterministic by
    design, so the hash-pinnable contract is cardinality: a limit below
    the total yields exactly the limit, a limit above it is a no-op
    (reference: ``dev_run_limit``, etl/config.py). Both cases in one
    deterministic row."""

    def build() -> DataFrame:
        keys = spark.createDataFrame(
            [(f"k{i}",) for i in range(10)], "key STRING"
        )
        schema = "key STRING, idx INT"
        limited = fetch_paged(
            spark, keys, pages_fetcher, schema, page_size=2, limit=17
        ).count()
        unlimited = fetch_paged(
            spark, keys, pages_fetcher, schema, page_size=2, limit=999
        ).count()
        return spark.createDataFrame(
            [(limited, unlimited)], "n_limited BIGINT, n_unlimited BIGINT"
        )

    return _memo(spark, sf_dir, "fetch_limit", build)


# 10 keys × the fetcher's 5 records/key; the oracle DERIVES both
# cardinalities from that population instead of pinning 17/50 as bare
# literals: limit-below-total truncates to the limit, limit-above-total
# is a no-op. If pages_fetcher's per-key total ever drifts, only the
# population CTE moves and the gate catches the divergence.
ETL_FETCH_LIMIT_SQL = """
WITH population AS (
  SELECT COUNT(*) AS total
  FROM range(10) k(i) CROSS JOIN range(5) r(j)
)
SELECT CAST(LEAST(17, total) AS BIGINT) AS n_limited,
       CAST(LEAST(999, total) AS BIGINT) AS n_unlimited
FROM population
"""


# ---------------------------------------------------------------------------
# L1: schema migration ladder
# ---------------------------------------------------------------------------


def etl_migration_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 under the correctness gate: a warehouse table at rest with a
    legacy column name (``code``) and a missing nullable column is
    migrated to the current schema — the rename is applied, the missing
    column lands as a typed NULL, and the DATA SURVIVES (the gentler
    rung of the reference's drop-and-recreate, ``etl/load.py:17-27``).
    A second migration run must be the idempotent no-op. Both observed
    actions ride along as pinned literal columns."""

    def build() -> DataFrame:
        wh = os.path.join(_scratch(spark), f"migrate-{os.path.basename(sf_dir)}")
        legacy = load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("code"), F.col("n_name").alias("name")
        )
        legacy.write.mode("overwrite").parquet(os.path.join(wh, "dim_nation"))
        required = {"nation_code": "int", "name": "string", "region_ref": "bigint"}
        first = migrate_table(
            spark, wh, "dim_nation", required, renames={"code": "nation_code"}
        )
        second = migrate_table(
            spark, wh, "dim_nation", required, renames={"code": "nation_code"}
        )
        migrated = spark.read.parquet(os.path.join(wh, "dim_nation"))
        return migrated.select(
            "nation_code",
            "name",
            "region_ref",
            F.lit(first).alias("first_action"),
            F.lit(second).alias("second_action"),
        ).orderBy("nation_code")

    return _memo(spark, sf_dir, "migration_rebuild", build)


ETL_MIGRATION_REBUILD_SQL = """
SELECT n_nationkey AS nation_code, n_name AS name,
       CAST(NULL AS BIGINT) AS region_ref,
       'rebuilt' AS first_action, 'ok' AS second_action
FROM nation ORDER BY nation_code
"""


# ---------------------------------------------------------------------------
# L3: append-only reject sink
# ---------------------------------------------------------------------------


def etl_reject_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 under the correctness gate: the rejected stream lands in the
    append-only quarantine table (``append_rejects``); a second run of
    the same batch APPENDS (the reference's side channel keeps history,
    ``etl/load.py:55-71`` — no dedup by design). The registered result
    reads the sink back and counts copies per rejected row: exactly 2
    everywhere proves append (not overwrite) and exactly-once per run
    (no partial double-writes)."""

    def build() -> DataFrame:
        # fresh dir PER BUILD: the append-twice choreography is not
        # idempotent, so a memo eviction re-running it against an
        # existing sink would quadruple the copy counts
        wh = tempfile.mkdtemp(
            prefix=f"rejects-{os.path.basename(sf_dir)}-", dir=_scratch(spark)
        )
        res = validate_split(
            _raw_observations(spark, sf_dir), observation_rules()
        )
        rejected = res.rejected.withColumn(
            "observation_id", F.get_json_object("record_data", "$.Id")
        ).select("observation_id", "error_details")
        append_rejects(rejected, wh)
        append_rejects(rejected, wh)
        sunk = spark.read.parquet(os.path.join(wh, "rejected_record"))
        return (
            sunk.groupBy("observation_id", "error_details")
            .agg(F.count(F.lit(1)).alias("n_copies"))
            .orderBy("observation_id")
        )

    return _memo(spark, sf_dir, "reject_sink", build)


def _reject_sink_sql() -> str:
    from .etl_ops import ETL_VALIDATE_REJECTED_SQL

    return f"""
WITH rej AS ({ETL_VALIDATE_REJECTED_SQL})
SELECT observation_id, error_details,
       CAST(2 * COUNT(*) AS BIGINT) AS n_copies
FROM rej GROUP BY observation_id, error_details
ORDER BY observation_id
"""


# ---------------------------------------------------------------------------
# ST2: state bootstrap
# ---------------------------------------------------------------------------


def etl_state_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 under the correctness gate: a FRESH state repository
    bootstraps on first write (the reference's IntegrityError-tolerant
    insert, ``etl/state.py:13-55``). Choreography: get_state on the
    empty store must be None (enforced — a phantom row raises);
    checkpoint + explicit watermark land for one process, a second
    process bootstraps independently; the registered result is the
    state table itself (watermark projected to tz-independent epoch
    seconds)."""

    def build() -> DataFrame:
        sd = tempfile.mkdtemp(prefix="state-", dir=_scratch(spark))
        repo = EtlStateRepository(spark, sd)
        if repo.get_state("ingest") is not None:
            raise RuntimeError("fresh state store returned a phantom row")
        repo.set_checkpoint_state("ingest", {"next_batch": 3})
        repo.set_last_successful_run_at(
            "ingest", datetime(2024, 1, 1, tzinfo=timezone.utc)
        )
        repo.set_checkpoint_state("reingest", {"cursor": "abc"})
        # get_watermark collects a session-tz-naive datetime; the exact
        # instant is hash-pinned below as epoch seconds, so here only
        # presence is asserted (a tz-aware equality would be tz-fragile)
        if repo.get_watermark("ingest") is None:
            raise RuntimeError("watermark did not round-trip")
        state = spark.read.parquet(os.path.join(sd, "etl_state"))
        return state.select(
            "process_name",
            "checkpoint_state",
            F.col("last_successful_run_at").cast("long").alias("watermark_epoch"),
        ).orderBy("process_name")

    return _memo(spark, sf_dir, "state_bootstrap", build)


_STATE_ROWS_SQL = " UNION ALL ".join(
    f"SELECT '{p}' AS process_name, '{json.dumps(c)}' AS checkpoint_state, "
    f"CAST({e if e is not None else 'NULL'} AS BIGINT) AS watermark_epoch"
    for p, c, e in [
        ("ingest", {"next_batch": 3}, 1704067200),
        ("reingest", {"cursor": "abc"}, None),
    ]
)
ETL_STATE_BOOTSTRAP_SQL = f"SELECT * FROM ({_STATE_ROWS_SQL}) ORDER BY process_name"


# ---------------------------------------------------------------------------
# T1: records -> table
# ---------------------------------------------------------------------------

_T1_RECORDS = [
    {"Id": "1", "IndicatorCode": "A", "NumericValue": "1.5"},
    {"Id": "2", "IndicatorCode": None, "NumericValue": "x"},
    {"Id": "3"},
]


def etl_records_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 under the correctness gate: list-of-dicts → typed table under
    the declared schema (``records_to_df``; reference
    ``transform_observations`` accepting raw API dicts,
    etl/transform.py:10-15). Absent keys land as NULLs; an EMPTY record
    list yields an empty frame with the same schema — unioned in, so a
    wrong empty-input schema breaks the query, not just a unit test."""
    filled = records_to_df(spark, _T1_RECORDS, RAW_OBSERVATION)
    empty = records_to_df(spark, [], RAW_OBSERVATION)
    return filled.unionByName(empty).select(
        "Id", "IndicatorCode", "NumericValue", "Value"
    )


ETL_RECORDS_TO_TABLE_SQL = """
SELECT * FROM (
  SELECT '1' AS Id, 'A' AS IndicatorCode, '1.5' AS NumericValue, CAST(NULL AS VARCHAR) AS Value
  UNION ALL
  SELECT '2', NULL, 'x', NULL
  UNION ALL
  SELECT '3', NULL, NULL, NULL
)
"""


# ---------------------------------------------------------------------------
# T7: fixed projection (clean_indicators)
# ---------------------------------------------------------------------------


def etl_indicator_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7+T8 under the correctness gate: the indicator cleaner projects
    an arbitrary feed down to exactly the three indicator columns
    (injecting nulls when absent — here ``Language`` is missing and the
    extra ``p_size`` must be projected away) and dedups on
    IndicatorCode keeping the (IndicatorName, Language)-first row
    (reference ``etl/transform.py:62-67``)."""
    feed = load_table(spark, sf_dir, "part").select(
        F.col("p_brand").alias("IndicatorCode"),
        F.col("p_type").alias("IndicatorName"),
        "p_size",
    )
    return clean_indicators(feed).orderBy("IndicatorCode")


ETL_INDICATOR_PROJECTION_SQL = """
SELECT IndicatorCode, IndicatorName, CAST(NULL AS VARCHAR) AS Language
FROM (
  SELECT p_brand AS IndicatorCode, p_type AS IndicatorName,
         row_number() OVER (PARTITION BY p_brand ORDER BY p_type) AS rn
  FROM part
) WHERE rn = 1 ORDER BY IndicatorCode
"""


# ---------------------------------------------------------------------------
# T9 + O1 + O2: JSON interchange and the orchestrated pipeline
# ---------------------------------------------------------------------------


def _json_obs_source(spark: SparkSession, sf_dir: str) -> str:
    """Write the (subset) API-shaped feed to JSON once per (app, sf) —
    the reference's inter-task interchange format (EP1 file hand-offs).
    The subset (orderkey % 7 == 0) keeps the e2e fixture fast while
    preserving every injected edge case class."""
    path = os.path.join(_scratch(spark), f"obs-json-{os.path.basename(sf_dir)}")
    if not os.path.exists(path):
        raw = _raw_observations(spark, sf_dir).filter(
            F.col("Id").cast("long") % 7 == 0
        )
        raw.write.mode("overwrite").json(path + ".tmp")
        os.rename(path + ".tmp", path)
    return path


# the oracle twin of the % 7 == 0 subset of the derived raw feed
_RAW7_SQL = """
  SELECT CAST(o_orderkey AS VARCHAR) AS Id,
         CASE WHEN o_orderkey % 89 = 0 THEN NULL ELSE o_orderpriority END AS IndicatorCode,
         o_orderstatus AS SpatialDim,
         'COUNTRY' AS SpatialDimType,
         concat(CAST(year(o_orderdate) AS VARCHAR), '-', CAST(year(o_orderdate) AS VARCHAR)) AS TimeDim,
         'YEAR' AS TimeDimType,
         CASE WHEN o_orderkey % 97 = 0 THEN 'abc'
              ELSE CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) END AS NumericValue,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS Value
  FROM orders WHERE o_orderkey % 7 = 0
"""
# the duplicate-Id injection (% 50) also survives the % 7 subset ⇒ dup
# keys are orderkey % 350 == 0
_RAW7_FEED_SQL = f"""
  SELECT * FROM ({_RAW7_SQL})
  UNION ALL
  SELECT * FROM ({_RAW7_SQL}) WHERE Id::BIGINT % 50 = 0
"""


def etl_json_interchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9 under the correctness gate: the API-shaped feed round-trips
    through JSON files (write → ``spark.read`` with the declared schema
    — schema-on-read, no inference drift) and must be value-identical
    to the in-memory derivation. The JSON source is the same seam the
    orchestrated pipeline consumes (``PipelineConfig.source_format``)."""

    def build() -> DataFrame:
        src = _json_obs_source(spark, sf_dir)
        back = spark.read.schema(RAW_OBSERVATION).json(src)
        return back.select(*[f.name for f in RAW_OBSERVATION.fields])

    return _memo(spark, sf_dir, "json_interchange", build)


ETL_JSON_INTERCHANGE_SQL = f"SELECT * FROM ({_RAW7_FEED_SQL})"


def etl_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+O2 under the correctness gate: the COMPLETE orchestrated run
    (``run_pipeline``: JSON extract → clean → validate → keyed upsert →
    reject sink → DQ) from a hydrated ``PipelineConfig``, executed
    TWICE — the second run must be a metrics-identical no-op (the
    reference's idempotent re-run guarantee; enforced, a drift raises).
    The registered result is the fact table at rest afterwards, so the
    whole lifecycle (including the load path's whole-table swap of the
    year-partitioned fact) is hash-pinned against the oracle's pure SQL
    derivation of the same feed."""

    def build() -> DataFrame:
        src = _json_obs_source(spark, sf_dir)
        wh = os.path.join(_scratch(spark), f"e2e-wh-{os.path.basename(sf_dir)}")
        cfg = PipelineConfig(
            warehouse_dir=wh,
            source_observations=src,
            full_reingest=True,
            source_format="json",
        )
        m1 = run_pipeline(spark, cfg)
        m2 = run_pipeline(spark, cfg)
        if m1 != m2:
            raise RuntimeError(f"pipeline re-run drifted: {m1} != {m2}")
        fact = spark.read.parquet(os.path.join(wh, "fact_observation"))
        return fact.select(
            "observation_id",
            "indicator_code",
            "spatial_dim",
            "time_dim",
            "numeric_value",
        ).orderBy("observation_id")

    return _memo(spark, sf_dir, "pipeline_e2e", build)


ETL_PIPELINE_E2E_SQL = f"""
WITH raw AS ({_RAW7_FEED_SQL}),
cast_ AS (
  SELECT Id, IndicatorCode, SpatialDim,
         CAST(split_part(TimeDim, '-', 1) AS INT) AS TimeDim,
         TRY_CAST(NumericValue AS DOUBLE) AS NumericValue
  FROM raw
  WHERE IndicatorCode IS NOT NULL AND SpatialDim IS NOT NULL AND TimeDim IS NOT NULL
),
dedup AS (
  SELECT *, row_number() OVER (PARTITION BY Id ORDER BY IndicatorCode, SpatialDim, TimeDim) AS rn
  FROM cast_
)
SELECT Id AS observation_id, IndicatorCode AS indicator_code,
       SpatialDim AS spatial_dim, TimeDim AS time_dim,
       NumericValue AS numeric_value
FROM dedup WHERE rn = 1 ORDER BY observation_id
"""


ETL_SEAMS_QUERIES = {
    "etl_retry_fetch": etl_retry_fetch,
    "etl_fetch_limit": etl_fetch_limit,
    "etl_migration_rebuild": etl_migration_rebuild,
    "etl_reject_sink": etl_reject_sink,
    "etl_state_bootstrap": etl_state_bootstrap,
    "etl_records_to_table": etl_records_to_table,
    "etl_indicator_projection": etl_indicator_projection,
    "etl_json_interchange": etl_json_interchange,
    "etl_pipeline_e2e": etl_pipeline_e2e,
}

ETL_SEAMS_ORACLE_SQL = {
    "etl_retry_fetch": ETL_RETRY_FETCH_SQL,
    "etl_fetch_limit": ETL_FETCH_LIMIT_SQL,
    "etl_migration_rebuild": ETL_MIGRATION_REBUILD_SQL,
    "etl_reject_sink": _reject_sink_sql(),
    "etl_state_bootstrap": ETL_STATE_BOOTSTRAP_SQL,
    "etl_records_to_table": ETL_RECORDS_TO_TABLE_SQL,
    "etl_indicator_projection": ETL_INDICATOR_PROJECTION_SQL,
    "etl_json_interchange": ETL_JSON_INTERCHANGE_SQL,
    "etl_pipeline_e2e": ETL_PIPELINE_E2E_SQL,
}
