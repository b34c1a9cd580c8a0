from __future__ import annotations

import pytest

from data_pipeline_who_gho_spark.operators import DataQualityError, run_dq_checks


def test_not_empty_pass(spark):
    df = spark.createDataFrame([(1,)], "a INT")
    assert run_dq_checks(df, ["a"])["row_count"] == 1


def test_not_empty_fail(spark):
    df = spark.createDataFrame([], "a INT")
    with pytest.raises(DataQualityError, match="empty"):
        run_dq_checks(df, ["a"])


def test_null_keys_pass(spark):
    df = spark.createDataFrame([("x", "y")], "k1 STRING, k2 STRING")
    assert run_dq_checks(df, ["k1", "k2"])["null_key_rows"] == 0


def test_null_keys_fail(spark):
    df = spark.createDataFrame([("x", None), (None, "y"), ("a", "b")], "k1 STRING, k2 STRING")
    with pytest.raises(DataQualityError, match="2 rows"):
        run_dq_checks(df, ["k1", "k2"])


def test_run_dq_checks(spark):
    df = spark.createDataFrame([("x", "y")], "k1 STRING, k2 STRING")
    out = run_dq_checks(df, ["k1", "k2"])
    assert out == {"row_count": 1, "null_key_rows": 0}


def test_observed_dq_piggybacks_on_write(spark, tmp_path):
    """Metrics arrive as a by-product of the write action — no extra scan."""
    from data_pipeline_who_gho_spark.operators.quality import observed_dq

    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", None)], "k string, v int"
    )
    observed, finish = observed_dq(df, keys=["k"], name="t")
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    metrics = finish()
    assert metrics == {"row_count": 3, "null_key_rows": 0}


def test_observed_dq_raises_on_null_keys(spark, tmp_path):
    from data_pipeline_who_gho_spark.operators.quality import DataQualityError, observed_dq

    df = spark.createDataFrame([("a", 1), (None, 2)], "k string, v int")
    observed, finish = observed_dq(df, keys=["k"], name="t")
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    with pytest.raises(DataQualityError, match="null keys"):
        finish()


def test_observed_dq_raises_on_empty(spark, tmp_path):
    from data_pipeline_who_gho_spark.operators.quality import DataQualityError, observed_dq
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("a", 1)], "k string, v int").filter(F.lit(False))
    observed, finish = observed_dq(df, keys=["k"], name="t")
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))
    with pytest.raises(DataQualityError, match="empty"):
        finish()
