"""EP3: the analytics-SQL surface (reference: psql/Superset over the
Postgres star schema, README.md:136-213 → here: Spark SQL over the
warehouse; a BI tool attaches via Thrift/Spark Connect unchanged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.load import read_table
from .schemas import WAREHOUSE_SCHEMAS
from .sources.catalog import register_views


class Engine:
    """Thin query facade: register tables, then ``sql()`` away.

    ``attach_warehouse`` registers the pipeline-produced tables
    (dim_indicator, dim_country, fact_observation, rejected_record) on
    every call through ``operators/load.read_table``, with their declared
    schemas: an attach runs no Spark job, and a table absent on disk is
    an empty view of its schema.
    ``attach_fixtures`` exposes the driver's TPC-H-ish tables. Both are
    temp views — every query planned by Catalyst against parquet scans.
    """

    WAREHOUSE_TABLES = list(WAREHOUSE_SCHEMAS)

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def attach_fixtures(self, sf_dir: str) -> "Engine":
        register_views(self.spark, sf_dir)
        return self

    def attach_warehouse(self, warehouse_dir: str) -> "Engine":
        for t, schema in WAREHOUSE_SCHEMAS.items():
            df = read_table(self.spark, warehouse_dir, t)
            if df is None:
                df = self.spark.createDataFrame([], schema)
            df.createOrReplaceTempView(t)
        return self

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def tables(self) -> list[str]:
        return sorted(
            r["viewName"] for r in self.spark.sql("SHOW VIEWS").collect()
        )
