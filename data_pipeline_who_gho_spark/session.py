"""SparkSession factory.

The reference has no execution engine of its own (pandas in one process,
``etl/local_run.py:34-117``); here the session IS the engine. Defaults are
chosen for correctness on local[*] test runs while remaining the right
*shape* for a 1000-executor cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic join-strategy demotion all matter far more at 100 TB than
  any static setting we could pick here.
- Arrow on: every pandas_udf / mapInPandas boundary is Arrow-batched.
- shuffle.partitions: a small static default for local runs; AQE coalesces
  downward, and on a real cluster this would be set ~2-3x total cores.
- Partition discovery on the driver: the warehouse lives in a local
  directory, and listing its year dirs there is cheaper than the job
  Spark's parallel listing (past 32 paths) runs per read, still at 1,000
  dirs. This changes how files are listed, never which files.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "32")
# the same env var feeds master local[{cpus}], where '*' is idiomatic —
# fall back to the machine's core count for the partition default
DEFAULT_SHUFFLE_PARTITIONS = (
    int(_cpus_env) if _cpus_env.isdigit() else (os.cpu_count() or 32)
)


def get_spark(
    app_name: str = "data-pipeline-who-gho-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # tables are local dirs (loads commit by a directory swap): list on the driver, not in a job
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        # parquet writes the same timestamps DuckDB reads (no int96 legacy)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # TIMESTAMP(NANOS) parquet columns (e.g. events.ts) surface as long;
        # the catalog converts them to µs timestamps (see sources.catalog)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
