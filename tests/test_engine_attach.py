"""Attaching the warehouse: views come from the declared schemas, a
re-attach replaces every view, and the attach itself runs no Spark job."""

from __future__ import annotations

import time
import uuid

from data_pipeline_who_gho_spark.engine import Engine
from data_pipeline_who_gho_spark.schemas import (
    DIM_COUNTRY,
    DIM_INDICATOR,
    FACT_OBSERVATION,
    REJECTED_RECORD,
    WAREHOUSE_SCHEMAS,
)


def _write_warehouse(spark, wh: str, years, rejects=()) -> None:
    """A warehouse in the load's layout: flat dims, the fact partitioned by
    ``time_dim``, and a ``rejected_record`` table only if there are rejects."""
    spark.createDataFrame(
        [("WHOSIS_000001", "Life expectancy at birth (years)", "EN")], DIM_INDICATOR
    ).write.parquet(f"{wh}/dim_indicator")
    spark.createDataFrame([("JPN", "Japan")], DIM_COUNTRY).write.parquet(f"{wh}/dim_country")
    facts = [
        (str(y), "WHOSIS_000001", "JPN", "COUNTRY", y, "YEAR", 80.0, "80.0") for y in years
    ]
    spark.createDataFrame(facts, FACT_OBSERVATION).write.partitionBy("time_dim").parquet(
        f"{wh}/fact_observation"
    )
    if rejects:
        spark.createDataFrame(list(rejects), REJECTED_RECORD).write.parquet(
            f"{wh}/rejected_record"
        )


def _jobs_run_by(spark, fn) -> int:
    """Spark jobs that ``fn()`` starts, counted through a job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    marker = f"{group}-marker"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # A marker job starts after every job of fn; listener events arrive in
    # order, so once the status store shows the marker it shows fn's jobs.
    sc.setJobGroup(marker, "marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not st.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reached the status store"
        time.sleep(0.05)
    return len(st.getJobIdsForGroup(group))


def _columns(df) -> dict:
    return {f.name: f.dataType for f in df.schema.fields}


def test_attach_runs_no_spark_job(spark, tmp_path):
    wh = str(tmp_path / "wh")
    # 40 year partitions: past Spark's default parallel-listing threshold (32)
    _write_warehouse(spark, wh, range(1980, 2020), rejects=[('{"Id": "9"}', "required")])

    # the counter sees jobs: inferring the fact's schema from footers runs one
    assert _jobs_run_by(spark, lambda: spark.read.parquet(f"{wh}/fact_observation")) >= 1

    eng = Engine(spark)
    assert _jobs_run_by(spark, lambda: eng.attach_warehouse(wh)) == 0

    for t, schema in WAREHOUSE_SCHEMAS.items():
        assert _columns(eng.table(t)) == _columns(spark.createDataFrame([], schema)), t
    assert dict(eng.table("fact_observation").dtypes)["time_dim"] == "int"
    assert eng.sql("SELECT count(DISTINCT time_dim) AS n FROM fact_observation").first()["n"] == 40
    assert eng.table("rejected_record").count() == 1


def test_reattach_replaces_views_of_absent_tables(spark, tmp_path):
    wh_a, wh_b = str(tmp_path / "a"), str(tmp_path / "b")
    _write_warehouse(spark, wh_a, [2018, 2019], rejects=[('{"Id": "9"}', "required")])
    _write_warehouse(spark, wh_b, [2019])  # no rejects: no rejected_record dir

    eng = Engine(spark).attach_warehouse(wh_a)
    assert eng.sql("SELECT count(*) AS n FROM rejected_record").first()["n"] == 1

    eng.attach_warehouse(wh_b)
    assert eng.sql("SELECT count(*) AS n FROM rejected_record").first()["n"] == 0
    assert _columns(eng.table("rejected_record")) == _columns(
        spark.createDataFrame([], REJECTED_RECORD)
    )
    assert eng.table("fact_observation").count() == 1


def test_attach_after_a_cut_install_shows_the_old_table(spark, tmp_path, crash_mid_swap):
    """An upsert cut at its install step leaves the old ``dim_country`` in
    place; attaching shows its rows, not an empty view."""
    from data_pipeline_who_gho_spark.operators.load import upsert

    wh = str(tmp_path)
    rows = [("JPN", "Japan"), ("FRA", "France"), ("USA", "United States")]
    upsert(spark, spark.createDataFrame(rows, DIM_COUNTRY), wh, "dim_country", ["country_code"])
    with crash_mid_swap():
        upsert(spark, spark.createDataFrame([("DEU", "Germany")], DIM_COUNTRY), wh,
               "dim_country", ["country_code"])

    Engine(spark).attach_warehouse(wh)
    assert spark.sql("SELECT count(*) FROM dim_country").first()[0] == 3
