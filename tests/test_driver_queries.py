"""Driver-gate guard: a fast subset of the __spark_entry__ query/oracle
pairs compared exactly the way the external driver does (row count +
column names + order-insensitive value digest), at sf0.001.

The full registry is exercised by scripts/compare_oracle.py at sf0.01;
this keeps the contract from regressing silently in CI.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from biothings_crawler_spark.plans.driver_queries import ORACLES, QUERIES, TABLES
from biothings_crawler_spark.testing import frame_digest

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = os.path.join(os.path.dirname(SF_DIR), "sf0.01")

FAST = [
    "q_politeness_quota",
    "q_seen_antijoin",
    "q_frontier_dedup",
    "q_field_coverage",
    "q_exact_dedup",
    "q_lang_id",
    "q_robots_filter",
    "q_host_budgets",
    "q_incremental_round",
    "q_upload_dataset_envelope",
    "q_html_to_text",
    "q_mixture_sample",
]


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def duck():
    return _duck(SF_DIR)


def test_registry_shape():
    assert set(ORACLES) <= set(QUERIES)
    # every query has an exact oracle (golden-parquet pairs cover the
    # BFS loop, extraction and hash-ordered sampling) — zero rows-only
    # checks
    assert set(QUERIES) - set(ORACLES) == set()


@pytest.mark.parametrize("name", FAST)
def test_query_matches_oracle(spark, duck, name):
    spdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = duck.execute(ORACLES[name]).df()
    assert len(spdf) == len(odf), f"{name}: rows {len(spdf)} vs {len(odf)}"
    assert sorted(spdf.columns) == sorted(odf.columns)
    assert frame_digest(spdf) == frame_digest(odf), f"{name}: value digest"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"user_id", "event_id", "sched_rank"}


@pytest.mark.parametrize("name", ["q_latency_quantiles", "q_adaptive_budgets"])
def test_quantile_oracle_independent_of_duckdb_threads(spark, name):
    """The p-quantile bin is the first bin whose running count reaches
    it; the oracle must give the same answer at every DuckDB thread
    count, and that answer must be the Spark side's."""
    digests = set()
    for threads in (1, 2, 4):
        con = _duck(SF01_DIR)
        con.execute(f"SET threads = {threads}")
        digests.add(frame_digest(con.execute(ORACLES[name]).df()))
    assert digests == {frame_digest(QUERIES[name](spark, SF01_DIR).toPandas())}
