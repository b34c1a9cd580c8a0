"""L1 migration: pre-observation_id tables are upgraded (rename / typed
NULL) or dropped for rebuild, matching etl/load.py:17-27 semantics."""

from __future__ import annotations

import os

from data_pipeline_who_gho_spark.operators.migrate import migrate_table

REQUIRED = {"observation_id": "string", "indicator_code": "string",
            "numeric_value": "double"}


def test_absent_table_is_reported(spark, tmp_path):
    assert migrate_table(spark, str(tmp_path), "fact", REQUIRED) == "absent"


def test_cut_install_leaves_the_table_to_migrate(spark, tmp_path, crash_mid_swap):
    """An upsert cut at its install step leaves the old table in place:
    the migration inspects it, and does not report it absent."""
    from data_pipeline_who_gho_spark.operators.load import upsert

    schema = "observation_id STRING, indicator_code STRING, numeric_value DOUBLE"
    wh = str(tmp_path)
    upsert(spark, spark.createDataFrame([("1", "A", 1.0)], schema), wh, "fact", ["observation_id"])
    with crash_mid_swap():
        upsert(spark, spark.createDataFrame([("2", "B", 2.0)], schema), wh, "fact",
               ["observation_id"])

    assert migrate_table(spark, wh, "fact", REQUIRED) == "ok"
    assert spark.read.parquet(str(tmp_path / "fact")).count() == 1


def test_current_schema_is_noop(spark, tmp_path):
    df = spark.createDataFrame(
        [("1", "A", 1.0)], "observation_id STRING, indicator_code STRING, numeric_value DOUBLE"
    )
    df.write.parquet(str(tmp_path / "fact"))
    assert migrate_table(spark, str(tmp_path), "fact", REQUIRED) == "ok"


def test_legacy_column_renamed_and_missing_null_filled(spark, tmp_path):
    legacy = spark.createDataFrame(
        [("1", "A")], "obs_id STRING, indicator_code STRING"
    )
    legacy.write.parquet(str(tmp_path / "fact"))
    action = migrate_table(
        spark, str(tmp_path), "fact", REQUIRED,
        renames={"obs_id": "observation_id"},
    )
    assert action == "rebuilt"
    out = spark.read.parquet(str(tmp_path / "fact"))
    row = out.first()
    assert row["observation_id"] == "1" and row["numeric_value"] is None
    # idempotent: second run is a no-op
    assert migrate_table(
        spark, str(tmp_path), "fact", REQUIRED,
        renames={"obs_id": "observation_id"},
    ) == "ok"


def test_strict_missing_key_drops_table(spark, tmp_path):
    """Reference parity: a pre-observation_id table with no derivable key
    is dropped for re-ingest (etl/load.py:21-25)."""
    legacy = spark.createDataFrame([("A", 1.0)], "indicator_code STRING, numeric_value DOUBLE")
    legacy.write.parquet(str(tmp_path / "fact"))
    action = migrate_table(
        spark, str(tmp_path), "fact", REQUIRED, strict=["observation_id"]
    )
    assert action == "dropped"
    assert not os.path.exists(str(tmp_path / "fact"))
