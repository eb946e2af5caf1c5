"""Wilson bounds, KS drift and Cohen's kappa (operators/confidence)."""

import math

from biothings_crawler_spark.operators.confidence import wilson_flags


def _wilson_py(bad: int, n: int):
    s = math.isqrt((bad * (n - bad) * 10**12) // n + 10**12)
    lb = max((bad + 2) * 10**6 - 2 * s, 0) // (n + 4)
    ub = min(((bad + 2) * 10**6 + 2 * s) // (n + 4), 10**6)
    return lb, ub


def test_wilson_hand_computed_and_small_sample_protection(spark):
    rows = (
        [("sparse", True)] * 1 + [("sparse", False)] * 1
        + [("bulk", True)] * 200 + [("bulk", False)] * 800
        + [("clean", False)] * 50
    )
    df = spark.createDataFrame(rows, "host string, bad boolean")
    out = {r.key: r for r in
           wilson_flags(df, "host", "bad", alert_ppm=150_000).collect()}
    # sparse: 1/2 raw rate 500k but n=2 -> wide interval, LB small
    lb, ub = _wilson_py(1, 2)
    assert (out["sparse"].lb_ppm, out["sparse"].ub_ppm) == (lb, ub)
    assert out["sparse"].rate_ppm == 500_000
    # bulk: 20% of 1000 -> tight interval, LB > 15% -> flags
    lbb, ubb = _wilson_py(200, 1000)
    assert (out["bulk"].lb_ppm, out["bulk"].ub_ppm) == (lbb, ubb)
    assert out["bulk"].flag and lbb > 150_000
    # the statistically honest part: sparse's raw rate TRIPLES bulk's
    # but its lower bound must not flag
    assert not out["sparse"].flag and out["sparse"].lb_ppm < lbb
    assert out["clean"].lb_ppm == out["clean"].bad == 0


def test_wilson_bounds_bracket_rate(spark):
    rows = [("h", i % 4 == 0) for i in range(100)]
    df = spark.createDataFrame(rows, "host string, bad boolean")
    r = wilson_flags(df, "host", "bad").collect()[0]
    assert r.lb_ppm <= r.rate_ppm <= r.ub_ppm


def test_ks_drift_detects_planted_shift(spark):
    from biothings_crawler_spark.operators.confidence import ks_drift_binned

    old = spark.createDataFrame([(100,)] * 60 + [(800,)] * 40, "lat long")
    same = spark.createDataFrame([(101,)] * 30 + [(900,)] * 20, "lat long")
    shifted = spark.createDataFrame([(1600,)] * 50, "lat long")

    r_same = ks_drift_binned(old, same, "lat").collect()[0]
    # identical bin shapes: 60/40 vs 30/20 -> D = 0
    assert (r_same.n_old, r_same.n_new) == (100, 50)
    assert r_same.d_ppm == 0 and not r_same.drifted

    r_shift = ks_drift_binned(old, shifted, "lat").collect()[0]
    # all new mass above every old bin: gap peaks at old's top bin
    assert r_shift.d_ppm == 1_000_000 and r_shift.drifted
    assert r_shift.at_bin == 9  # bin of 800 (2^9 <= 801 < 2^10)


def test_ks_binned_is_lower_bound_within_bin(spark):
    from biothings_crawler_spark.operators.confidence import ks_drift_binned

    # values differ but share every log2 bin -> binned D sees nothing
    old = spark.createDataFrame([(64,)] * 10, "lat long")
    new = spark.createDataFrame([(100,)] * 10, "lat long")
    r = ks_drift_binned(old, new, "lat").collect()[0]
    assert r.d_ppm == 0  # the documented coarsening property


def test_wilson_large_n_no_overflow(spark):
    # Regression: bad*(n-bad)*10^12 overflows int64 once bad*(n-bad)
    # exceeds ~9.2e6 (n over ~6k at mid-range rates).  The staged
    # divide-first computation must stay exact for per-key n up to
    # 3e7.  n=100k, bad=40k: bad*(n-bad)=2.4e9 — the old single-shot
    # multiply wrapped.
    from pyspark.sql import functions as F

    df = spark.range(100_000).select(
        F.lit("h").alias("host"), (F.col("id") < 40_000).alias("bad")
    )
    r = wilson_flags(df, "host", "bad").collect()[0]
    lb, ub = _wilson_py(40_000, 100_000)
    assert (r.n, r.bad) == (100_000, 40_000)
    assert (r.lb_ppm, r.ub_ppm) == (lb, ub)
    assert r.lb_ppm <= r.rate_ppm <= r.ub_ppm
    # interval is tight at this n: both bounds within 1% of 40%
    assert 390_000 < r.lb_ppm < 400_000 < r.ub_ppm < 410_000


def test_cohen_kappa_textbook_and_edges(spark):
    from biothings_crawler_spark.operators.confidence import cohen_kappa

    # Cohen's worked-example shape: 2x2 with marginally-skewed
    # annotators.  a/b confusion: [[20, 5], [10, 15]] -> n=50,
    # agree=35, pe_num = 25*30 + 25*20 = 1250,
    # kappa = (35*50 - 1250)/(2500 - 1250) = 0.4 exactly.
    rows = (
        [(0, 0, 0)] * 20 + [(0, 0, 1)] * 5
        + [(0, 1, 0)] * 10 + [(0, 1, 1)] * 15
        # perfect agreement over 3 classes
        + [(1, k, k) for k in range(3) for _ in range(4)]
        # both annotators constant: chance agreement total -> NULL
        + [(2, 7, 7)] * 6
        # systematic disagreement worse than chance -> negative kappa
        + [(3, 0, 1)] * 10 + [(3, 1, 0)] * 10
    )
    df = spark.createDataFrame(rows, "grp long, label_a long, label_b long")
    got = {r["group"]: r for r in cohen_kappa(df).collect()}
    assert got[0]["kappa_ppm"] == 400_000
    assert (got[0]["n"], got[0]["agree"], got[0]["pe_num"]) == (50, 35, 1250)
    assert got[1]["kappa_ppm"] == 1_000_000
    assert got[2]["kappa_ppm"] is None
    assert got[3]["kappa_ppm"] == -1_000_000
