"""EP2-shaped end-to-end batch driver (reference: ``etl/local_run.py``).

One Spark application; stages compose lazily (extract → transform →
validate → load → DQ); materialization happens only at the upsert sinks.
The reference's JSON-file task hand-offs (EP1) have no equivalent here —
the lazy plan IS the hand-off (SURVEY §3 lifecycle mapping).
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.load import append_rejects, upsert
from .operators.quality import run_dq_checks
from .operators.transform import clean_countries, clean_indicators, clean_observations
from .operators.validate import (
    country_rules,
    indicator_rules,
    observation_rules,
    validate_split,
)
from .schemas import (
    COUNTRY_RENAMES,
    FACT_OBSERVATION,
    INDICATOR_RENAMES,
    OBSERVATION_RENAMES,
    RAW_COUNTRY,
    RAW_INDICATOR,
)
from .session import get_spark
from .sources.state import EtlStateRepository


@dataclass
class PipelineConfig:
    """Reference: ETLConfig (etl/config.py:10-54), Airflow-free."""

    warehouse_dir: str
    source_observations: str  # parquet/json path of API-shaped records
    source_indicators: str | None = None
    source_countries: str | None = None
    limit: int | None = None  # dev_run_limit parity
    full_reingest: bool = False  # implemented (the reference only declared it)
    process_name: str = "who_gho_etl"
    source_format: str = "parquet"  # or "json" (the reference's interchange)


def _rename(df, mapping):
    return df.select(*[df[a].alias(b) for a, b in mapping.items()])


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict:
    """Full batch run; returns DQ metrics. Idempotent by construction
    (keyed upserts), matching the reference's re-run guarantee."""
    state = EtlStateRepository(spark, cfg.warehouse_dir)

    # -- extract (fixture-file source stands in for the OData fetcher) ----
    obs_raw = spark.read.format(cfg.source_format).load(cfg.source_observations)

    # watermark: new-data-only unless full_reingest (declared in the
    # reference's README.md:105 / dag params but never implemented there)
    wm = None if cfg.full_reingest else state.get_watermark(cfg.process_name)
    if wm is not None and "ingested_at" in obs_raw.columns:
        obs_raw = obs_raw.filter(obs_raw["ingested_at"] > wm)
    # limit caps the NEW rows, so it applies after the watermark cut
    if cfg.limit is not None:  # limit=0 means zero rows, not "no limit"
        obs_raw = obs_raw.limit(cfg.limit)

    # -- transform + validate ---------------------------------------------
    obs_res = validate_split(clean_observations(obs_raw), observation_rules())
    # clean_observations keys every row (a ck: surrogate for a NULL Id)
    obs_final = _rename(obs_res.validated, OBSERVATION_RENAMES)

    # -- load: dims first, fact last (who_gho_etl_dag.py:177-187) ---------
    rejected = [obs_res.rejected]
    if cfg.source_indicators:
        ind_raw = spark.read.schema(RAW_INDICATOR).parquet(cfg.source_indicators)
        ind_res = validate_split(clean_indicators(ind_raw), indicator_rules())
        upsert(spark, _rename(ind_res.validated, INDICATOR_RENAMES), cfg.warehouse_dir,
               "dim_indicator", ["indicator_code"])
        rejected.append(ind_res.rejected)
    if cfg.source_countries:
        c_raw = spark.read.schema(RAW_COUNTRY).parquet(cfg.source_countries)
        c_res = validate_split(clean_countries(c_raw), country_rules())
        upsert(spark, _rename(c_res.validated, COUNTRY_RENAMES), cfg.warehouse_dir,
               "dim_country", ["country_code"])
        rejected.append(c_res.rejected)

    # fact partitioned by year at rest: year-filtered analytics (the A1/A4
    # query family) prune partitions instead of scanning the full fact
    upsert(spark, obs_final, cfg.warehouse_dir, "fact_observation",
           ["observation_id"], partition_by=["time_dim"])
    # every stage's rejects in one append: one file per run
    append_rejects(reduce(DataFrame.unionByName, rejected).coalesce(1), cfg.warehouse_dir)

    # -- DQ gate (fails the run on violation) ------------------------------
    fact = spark.read.schema(FACT_OBSERVATION).parquet(f"{cfg.warehouse_dir}/fact_observation")
    metrics = run_dq_checks(
        fact, ["indicator_code", "spatial_dim", "time_dim"], "fact_observation"
    )

    # watermark = max event-time actually processed, NOT wall-clock run
    # completion: a processing-time watermark silently skips rows that
    # land in the source late with earlier ingested_at stamps. A limited
    # run leaves it where it was: the rows it did not load may carry
    # earlier stamps than the ones it did.
    if cfg.limit is not None:
        return metrics
    if "ingested_at" in obs_raw.columns:
        max_seen = obs_raw.agg(F.max("ingested_at")).first()[0]
        if max_seen is not None:
            state.set_last_successful_run_at(cfg.process_name, max_seen)
    else:
        state.set_last_successful_run_at(cfg.process_name)
    return metrics


def main() -> None:
    ap = argparse.ArgumentParser(description="who-gho-spark batch pipeline")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--observations", required=True)
    ap.add_argument("--indicators")
    ap.add_argument("--countries")
    ap.add_argument("--limit", type=int)
    ap.add_argument("--full-reingest", action="store_true")
    args = ap.parse_args()

    spark = get_spark(app_name="who-gho-pipeline")
    cfg = PipelineConfig(
        warehouse_dir=args.warehouse,
        source_observations=args.observations,
        source_indicators=args.indicators,
        source_countries=args.countries,
        limit=args.limit,
        full_reingest=args.full_reingest,
    )
    print(run_pipeline(spark, cfg))


if __name__ == "__main__":
    main()
