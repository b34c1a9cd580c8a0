"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query at sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 for the DuckDB-oracle correctness gate.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, "/root/repo")

from data_pipeline_who_gho_spark.plans.analytics import (  # noqa: E402
    ANALYTICS_ORACLE_SQL,
    ANALYTICS_QUERIES,
)
from data_pipeline_who_gho_spark.plans.analytics2 import (  # noqa: E402
    ANALYTICS2_ORACLE_SQL,
    ANALYTICS2_QUERIES,
)
from data_pipeline_who_gho_spark.plans.etl_ops import (  # noqa: E402
    ETL_ORACLE_SQL,
    ETL_QUERIES,
)
from data_pipeline_who_gho_spark.plans.extensions import (  # noqa: E402
    EXTENSION_ORACLE_SQL,
    EXTENSION_QUERIES,
)
from data_pipeline_who_gho_spark.plans.extras import (  # noqa: E402
    EXTRAS_ORACLE_SQL,
    EXTRAS_QUERIES,
)
from data_pipeline_who_gho_spark.plans.streaming_queries import (  # noqa: E402
    STREAMING_ORACLE_SQL,
    STREAMING_QUERIES,
)
from data_pipeline_who_gho_spark.plans.tpch import (  # noqa: E402
    TPCH_ORACLE_SQL,
    TPCH_QUERIES,
)
from data_pipeline_who_gho_spark.plans.behavior import (  # noqa: E402
    BEHAVIOR_ORACLE_SQL,
    BEHAVIOR_QUERIES,
)
from data_pipeline_who_gho_spark.plans.tpch2 import (  # noqa: E402
    TPCH2_ORACLE_SQL,
    TPCH2_QUERIES,
)
from data_pipeline_who_gho_spark.plans.training import (  # noqa: E402
    TRAINING_ORACLE_SQL,
    TRAINING_QUERIES,
)
from data_pipeline_who_gho_spark.plans.analytics3 import (  # noqa: E402
    ANALYTICS3_ORACLE_SQL,
    ANALYTICS3_QUERIES,
)
from data_pipeline_who_gho_spark.plans.vector_analytics import (  # noqa: E402
    VECTOR_ANALYTICS_ORACLE_SQL,
    VECTOR_ANALYTICS_QUERIES,
)
from data_pipeline_who_gho_spark.plans.analytics4 import (  # noqa: E402
    ANALYTICS4_ORACLE_SQL,
    ANALYTICS4_QUERIES,
)
from data_pipeline_who_gho_spark.plans.tpch3 import (  # noqa: E402
    TPCH3_ORACLE_SQL,
    TPCH3_QUERIES,
)
from data_pipeline_who_gho_spark.plans.analytics5 import (  # noqa: E402
    ANALYTICS5_ORACLE_SQL,
    ANALYTICS5_QUERIES,
)
from data_pipeline_who_gho_spark.plans.tpch4 import (  # noqa: E402
    TPCH4_ORACLE_SQL,
    TPCH4_QUERIES,
)
from data_pipeline_who_gho_spark.plans.analytics6 import (  # noqa: E402
    ANALYTICS6_ORACLE_SQL,
    ANALYTICS6_QUERIES,
)
from data_pipeline_who_gho_spark.plans.training2 import (  # noqa: E402
    TRAINING2_ORACLE_SQL,
    TRAINING2_QUERIES,
)
from data_pipeline_who_gho_spark.plans.extensions2 import (  # noqa: E402
    EXTENSION2_ORACLE_SQL,
    EXTENSION2_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation import (  # noqa: E402
    CURATION_ORACLE_SQL,
    CURATION_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation2 import (  # noqa: E402
    CURATION2_ORACLE_SQL,
    CURATION2_QUERIES,
)
from data_pipeline_who_gho_spark.plans.tokenizer import (  # noqa: E402
    TOKENIZER_ORACLE_SQL,
    TOKENIZER_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation3 import (  # noqa: E402
    CURATION3_ORACLE_SQL,
    CURATION3_QUERIES,
)
from data_pipeline_who_gho_spark.plans.etl_seams import (  # noqa: E402
    ETL_SEAMS_ORACLE_SQL,
    ETL_SEAMS_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation4 import (  # noqa: E402
    CURATION4_ORACLE_SQL,
    CURATION4_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation5 import (  # noqa: E402
    CURATION5_ORACLE_SQL,
    CURATION5_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation6 import (  # noqa: E402
    CURATION6_ORACLE_SQL,
    CURATION6_QUERIES,
)
from data_pipeline_who_gho_spark.plans.sketches import (  # noqa: E402
    SKETCH_ORACLE_SQL,
    SKETCH_QUERIES,
)
from data_pipeline_who_gho_spark.plans.scale_ops import (  # noqa: E402
    SCALE_OPS_ORACLE_SQL,
    SCALE_OPS_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation7 import (  # noqa: E402
    CURATION7_ORACLE_SQL,
    CURATION7_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation8 import (  # noqa: E402
    CURATION8_ORACLE_SQL,
    CURATION8_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation9 import (  # noqa: E402
    CURATION9_ORACLE_SQL,
    CURATION9_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation10 import (  # noqa: E402
    CURATION10_ORACLE_SQL,
    CURATION10_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation11 import (  # noqa: E402
    CURATION11_ORACLE_SQL,
    CURATION11_QUERIES,
)
from data_pipeline_who_gho_spark.plans.unigram import (  # noqa: E402
    UNIGRAM_ORACLE_SQL,
    UNIGRAM_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation12 import (  # noqa: E402
    CURATION12_ORACLE_SQL,
    CURATION12_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation13 import (  # noqa: E402
    CURATION13_ORACLE_SQL,
    CURATION13_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation14 import (  # noqa: E402
    CURATION14_ORACLE_SQL,
    CURATION14_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation15 import (  # noqa: E402
    CURATION15_ORACLE_SQL,
    CURATION15_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation16 import (  # noqa: E402
    CURATION16_ORACLE_SQL,
    CURATION16_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation17 import (  # noqa: E402
    CURATION17_ORACLE_SQL,
    CURATION17_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation18 import (  # noqa: E402
    CURATION18_ORACLE_SQL,
    CURATION18_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation19 import (  # noqa: E402
    CURATION19_ORACLE_SQL,
    CURATION19_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation21 import (  # noqa: E402
    CURATION21_ORACLE_SQL,
    CURATION21_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation20 import (  # noqa: E402
    CURATION20_ORACLE_SQL,
    CURATION20_QUERIES,
)
from data_pipeline_who_gho_spark.plans.curation22 import (  # noqa: E402
    CURATION22_ORACLE_SQL,
    CURATION22_QUERIES,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the A1 star-join revenue rollup on sf0.001."""
    return ANALYTICS_QUERIES["a1_star_join_revenue"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(ANALYTICS_QUERIES)
    out.update(ANALYTICS2_QUERIES)
    out.update(ETL_QUERIES)
    out.update(EXTENSION_QUERIES)
    out.update(EXTRAS_QUERIES)
    out.update(STREAMING_QUERIES)
    out.update(TPCH_QUERIES)
    out.update(BEHAVIOR_QUERIES)
    out.update(TPCH2_QUERIES)
    out.update(TRAINING_QUERIES)
    out.update(ANALYTICS3_QUERIES)
    out.update(VECTOR_ANALYTICS_QUERIES)
    out.update(ANALYTICS4_QUERIES)
    out.update(TPCH3_QUERIES)
    out.update(ANALYTICS5_QUERIES)
    out.update(TPCH4_QUERIES)
    out.update(ANALYTICS6_QUERIES)
    out.update(TRAINING2_QUERIES)
    out.update(EXTENSION2_QUERIES)
    out.update(CURATION_QUERIES)
    out.update(CURATION2_QUERIES)
    out.update(TOKENIZER_QUERIES)
    out.update(CURATION3_QUERIES)
    out.update(ETL_SEAMS_QUERIES)
    out.update(CURATION4_QUERIES)
    out.update(CURATION5_QUERIES)
    out.update(CURATION6_QUERIES)
    out.update(SKETCH_QUERIES)
    out.update(SCALE_OPS_QUERIES)
    out.update(CURATION7_QUERIES)
    out.update(CURATION8_QUERIES)
    out.update(CURATION9_QUERIES)
    out.update(CURATION10_QUERIES)
    out.update(CURATION11_QUERIES)
    out.update(UNIGRAM_QUERIES)
    out.update(CURATION12_QUERIES)
    out.update(CURATION13_QUERIES)
    out.update(CURATION14_QUERIES)
    out.update(CURATION15_QUERIES)
    out.update(CURATION16_QUERIES)
    out.update(CURATION17_QUERIES)
    out.update(CURATION18_QUERIES)
    out.update(CURATION19_QUERIES)
    out.update(CURATION20_QUERIES)
    out.update(CURATION21_QUERIES)
    out.update(CURATION22_QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted ⇒ rows-only)."""
    out: dict[str, str] = {}
    for d in (ANALYTICS_ORACLE_SQL, ANALYTICS2_ORACLE_SQL, ETL_ORACLE_SQL, EXTENSION_ORACLE_SQL, EXTRAS_ORACLE_SQL, STREAMING_ORACLE_SQL, TPCH_ORACLE_SQL, BEHAVIOR_ORACLE_SQL, TPCH2_ORACLE_SQL, TRAINING_ORACLE_SQL, ANALYTICS3_ORACLE_SQL, VECTOR_ANALYTICS_ORACLE_SQL, ANALYTICS4_ORACLE_SQL, TPCH3_ORACLE_SQL, ANALYTICS5_ORACLE_SQL, TPCH4_ORACLE_SQL, ANALYTICS6_ORACLE_SQL, TRAINING2_ORACLE_SQL, EXTENSION2_ORACLE_SQL, CURATION_ORACLE_SQL, CURATION2_ORACLE_SQL, TOKENIZER_ORACLE_SQL, CURATION3_ORACLE_SQL, ETL_SEAMS_ORACLE_SQL, CURATION4_ORACLE_SQL, CURATION5_ORACLE_SQL, CURATION6_ORACLE_SQL, SKETCH_ORACLE_SQL, SCALE_OPS_ORACLE_SQL, CURATION7_ORACLE_SQL, CURATION8_ORACLE_SQL, CURATION9_ORACLE_SQL, CURATION10_ORACLE_SQL, CURATION11_ORACLE_SQL, UNIGRAM_ORACLE_SQL, CURATION12_ORACLE_SQL, CURATION13_ORACLE_SQL, CURATION14_ORACLE_SQL, CURATION15_ORACLE_SQL, CURATION16_ORACLE_SQL, CURATION17_ORACLE_SQL, CURATION18_ORACLE_SQL, CURATION19_ORACLE_SQL, CURATION20_ORACLE_SQL, CURATION21_ORACLE_SQL, CURATION22_ORACLE_SQL):
        out.update({k: v for k, v in d.items() if v})
    return out
