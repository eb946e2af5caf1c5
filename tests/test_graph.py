"""Graph plane: multi-source BFS seed distance and the depth census
over it."""

from biothings_crawler_spark.operators.reach import seed_distance


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_seed_distance_min_over_sources_and_cap(spark):
    # 0 -> 1 -> 2 -> 3 -> 4 and seed 10 -> 3 (shortcut); seeds {0, 10}
    e = _edges(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (10, 3)])
    seeds = spark.createDataFrame([(0,), (10,)], "node long")
    got = {r["node"]: r["dist"] for r in
           seed_distance(e, seeds, max_hops=2).collect()}
    # 3 is 1 hop from seed 10, not 3 hops from seed 0; 4 is 2 hops
    assert got == {0: 0, 10: 0, 1: 1, 3: 1, 2: 2, 4: 2}


def test_seed_distance_unreachable_nodes_absent(spark):
    e = _edges(spark, [(0, 1), (5, 6)])
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"] for r in seed_distance(e, seeds, max_hops=4).collect()}
    assert got == {0, 1}


def test_seed_distance_early_exit_on_empty_frontier(spark):
    e = _edges(spark, [(0, 1)])
    seeds = spark.createDataFrame([(0,)], "node long")
    # frontier empties after hop 1; a huge cap must not loop further
    got = {r["node"]: r["dist"] for r in
           seed_distance(e, seeds, max_hops=50).collect()}
    assert got == {0: 0, 1: 1}


def test_depth_yield_census_shape(spark):
    """Depth census on a hand graph: counts, exact mean quality ppm,
    and monotone cumulative share reaching 10^6."""
    from pyspark.sql import Window, functions as F

    e = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (3, 4)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    dist = seed_distance(e, seeds, max_hops=6)
    q = spark.createDataFrame(
        [(0, 40), (1, 20), (2, 40), (3, 0), (4, 40)], "node long, q40 long")
    per = (dist.join(q, "node").groupBy("dist")
           .agg(F.count(F.lit(1)).cast("long").alias("n_pages"),
                F.sum("q40").cast("long").alias("_sq"))
           .withColumn("mean_q_ppm",
                       F.expr("_sq * 1000000 div (n_pages * 40)")))
    tot = per.agg(F.sum("n_pages").cast("long").alias("_t"))
    w = Window.orderBy("dist")
    out = {r.dist: r for r in per.join(F.broadcast(tot))
           .withColumn("cum", F.sum("n_pages").over(w))
           .selectExpr("dist", "n_pages", "mean_q_ppm",
                       "CAST(cum * 1000000 div _t AS BIGINT) AS share")
           .collect()}
    assert out[0].n_pages == 1 and out[0].mean_q_ppm == 1_000_000
    assert out[1].n_pages == 2 and out[1].mean_q_ppm == 750_000
    assert out[2].mean_q_ppm == 0          # node 3 only
    assert out[3].share == 1_000_000
    shares = [out[k].share for k in sorted(out)]
    assert shares == sorted(shares)
