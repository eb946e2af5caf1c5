"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The real registry lives in
``biothings_crawler_spark/plans/driver_queries.py`` — one (Spark,
DuckDB-SQL) pair per operator family from SURVEY.md §2 plus the
training-data pipeline operators (dedup / text).
Run ``python scripts/compare_oracle.py`` for a local replica of the
driver's gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from biothings_crawler_spark.plans.driver_queries import (  # noqa: E402
    ORACLES,
    QUERIES,
    q_politeness_quota,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the crawl scheduler's two-phase salted per-host
    politeness window (operators/politeness.select_politely) over the
    sf0.001 events table — the core scheduling operator of the BFS
    crawl engine."""
    return q_politeness_quota(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
