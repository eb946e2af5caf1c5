"""Exact fixed-point log2 shared by the lg-fxp scorers (functions/fxp)."""

import math

import duckdb
import pytest

from biothings_crawler_spark.functions.fxp import (
    FXP,
    ilog2_fxp_duck,
    ilog2_fxp_spark,
)


@pytest.mark.parametrize(
    "x",
    [1, 2, 3, 5, 7, 10, 100, 255, 256, 257, 65535, 65536, 10**9,
     2**40, 2**46 - 1, 2**46],
)
def test_ilog2_fxp_exact_both_engines(spark, x):
    want = math.floor(FXP * math.log2(x))
    got_spark = spark.sql(
        f"SELECT {ilog2_fxp_spark(str(x))} AS v"
    ).collect()[0].v
    got_duck = duckdb.sql(f"SELECT {ilog2_fxp_duck(str(x))} AS v").fetchone()[0]
    assert got_spark == want == got_duck
