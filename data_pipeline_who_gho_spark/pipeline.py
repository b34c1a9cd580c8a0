"""EP2-shaped end-to-end batch driver (reference: ``etl/local_run.py``).

One Spark application, one branch per table: indicators, countries and
observations run at once on a pool of at most three threads. Each branch
reads its source with a declared schema and cleans it, then materializes
the cleaned frame once (an eager ``localCheckpoint``): the validate split,
the upsert's dup-key guard and write, and the rejects all read that one
checkpoint instead of recomputing the source. The fact branch waits for
both dim upserts to commit before its own, so the tables still commit in
the reference's order (dims first, fact last, who_gho_etl_dag.py:177-187).

Once every branch has finished, the run appends the rejects, takes the DQ
gate and moves the watermark. The DQ metrics and the source's largest
``ingested_at`` are ``Observation``s on the fact write and on the source
read, so neither costs a pass of its own. The reference's JSON-file task
hand-offs (EP1) have no equivalent here (SURVEY §3 lifecycle mapping).
"""

from __future__ import annotations

import argparse
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial, reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.load import append_rejects, read_table, upsert
from .operators.quality import observed_dq, run_dq_checks
from .operators.transform import clean_countries, clean_indicators, clean_observations
from .operators.validate import (
    country_rules,
    indicator_rules,
    observation_rules,
    validate_split,
)
from .schemas import (
    COUNTRY_RENAMES,
    INDICATOR_RENAMES,
    OBSERVATION_RENAMES,
    OBSERVATION_SOURCE,
    RAW_COUNTRY,
    RAW_INDICATOR,
)
from .session import get_spark
from .sources.state import EtlStateRepository

# the DQ gate's key columns (who_gho_etl_dag.py:200-206)
DQ_KEYS = ["indicator_code", "spatial_dim", "time_dim"]
# the state row that holds the watermark (the reference's process name)
PROCESS_NAME = "who_gho_etl"


@dataclass
class PipelineConfig:
    """Reference: ETLConfig (etl/config.py:10-54), Airflow-free."""

    warehouse_dir: str
    source_observations: str  # parquet/json path of API-shaped records
    source_indicators: str | None = None
    source_countries: str | None = None
    limit: int | None = None  # dev_run_limit parity
    full_reingest: bool = False  # implemented (the reference only declared it)
    source_format: str = "parquet"  # or "json" (the reference's interchange)


def _rename(df, mapping):
    return df.select(*[df[a].alias(b) for a, b in mapping.items()])


def _split(raw, clean, rules):
    """One pass over a source: clean it, materialize the result once, and
    split that checkpoint into validated and rejected rows."""
    return validate_split(clean(raw).localCheckpoint(), rules)


def _load_dim(spark, warehouse_dir, source, schema, clean, rules, renames, table, key):
    """A dim branch: upsert the valid rows; returns the rejects."""
    res = _split(spark.read.schema(schema).parquet(source), clean, rules)
    upsert(spark, _rename(res.validated, renames), warehouse_dir, table, [key])
    return res.rejected


def _load_facts(spark, cfg: PipelineConfig, wm, dim_runs):
    """The fact branch: upsert the valid rows once the ``dim_runs`` branches
    have committed; returns the rejects, the DQ gate's ``finish`` (None
    when nothing was written) and the source's observed stamps."""
    raw = (
        spark.read.format(cfg.source_format)
        .schema(OBSERVATION_SOURCE)
        .load(cfg.source_observations)
    )
    # watermark: new-data-only unless full_reingest (declared in the
    # reference's README.md:105 / dag params but never implemented there).
    # A row without a stamp cannot be placed before the watermark, so it
    # is new data, as in a source that has no stamp column at all.
    stamp = F.col("ingested_at")
    if wm is not None:
        raw = raw.filter(stamp.isNull() | (stamp > wm))
    seen = None
    if cfg.limit is None:
        seen = Observation()
        raw = raw.observe(seen, F.count(F.lit(1)).alias("rows"), F.max(stamp).alias("max_stamp"))
    else:  # limit caps the NEW rows, so it applies after the watermark cut
        raw = raw.limit(cfg.limit)  # limit=0 means zero rows, not "no limit"

    res = _split(raw, clean_observations, observation_rules())
    for run in dim_runs:
        run.result()  # dims first; a failed dim stops the fact here
    # fact partitioned by year at rest: year-filtered analytics (the A1/A4
    # query family) prune partitions instead of scanning the full fact
    finish = upsert(
        spark, _rename(res.validated, OBSERVATION_RENAMES), cfg.warehouse_dir,
        "fact_observation", ["observation_id"], partition_by=["time_dim"],
        observe=partial(observed_dq, keys=DQ_KEYS, name="fact_observation"),
    )
    return res.rejected, finish, seen


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict:
    """Full batch run; returns DQ metrics. Idempotent by construction
    (keyed upserts), matching the reference's re-run guarantee."""
    state = EtlStateRepository(spark, cfg.warehouse_dir)
    wm = None if cfg.full_reingest else state.get_watermark(PROCESS_NAME)

    dims = [
        (cfg.source_indicators, RAW_INDICATOR, clean_indicators, indicator_rules(),
         INDICATOR_RENAMES, "dim_indicator", "indicator_code"),
        (cfg.source_countries, RAW_COUNTRY, clean_countries, country_rules(),
         COUNTRY_RENAMES, "dim_country", "country_code"),
    ]
    # one thread per table; each branch runs its jobs under this thread's
    # job group and properties. Leaving the block waits for every branch.
    with ThreadPoolExecutor(max_workers=3) as pool:
        def submit(fn, *args):
            return pool.submit(inheritable_thread_target(spark)(fn), spark, *args)

        dim_runs = [submit(_load_dim, cfg.warehouse_dir, *d) for d in dims if d[0]]
        fact_run = submit(_load_facts, cfg, wm, dim_runs)
    for run in dim_runs + [fact_run]:
        if run.exception() is not None:
            raise run.exception()
    rejected, finish, seen = fact_run.result()

    # every stage's rejects in one append: one file per run
    rejected = [rejected] + [run.result() for run in dim_runs]
    append_rejects(reduce(DataFrame.unionByName, rejected).coalesce(1), cfg.warehouse_dir)

    # -- DQ gate (fails the run on violation): observed on the fact write,
    # which is the whole new table; a batch that wrote nothing is checked
    # over the table at rest
    if finish is not None:
        metrics = finish()
    else:
        fact = read_table(spark, cfg.warehouse_dir, "fact_observation")
        metrics = run_dq_checks(fact, DQ_KEYS, "fact_observation")

    # watermark = max event-time actually processed, NOT wall-clock run
    # completion: a processing-time watermark silently skips rows that
    # land in the source late with earlier ingested_at stamps. A limited
    # run leaves it where it was: the rows it did not load may carry
    # earlier stamps than the ones it did. A batch with rows but no stamp
    # moves it to now; an empty batch leaves it.
    if cfg.limit is not None:
        return metrics
    seen = seen.get
    if seen["max_stamp"] is not None:
        state.set_last_successful_run_at(PROCESS_NAME, seen["max_stamp"])
    elif seen["rows"]:
        state.set_last_successful_run_at(PROCESS_NAME)
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
