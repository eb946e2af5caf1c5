"""Graph plane: multi-source BFS seed distance and deterministic
label-propagation communities."""

from biothings_crawler_spark.operators.pagerank import (
    label_propagation,
    seed_distance,
)


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


def test_label_propagation_splits_bridged_triangles(spark):
    # two triangles {0,1,2} and {10,11,12} joined by one bridge 2-10:
    # LPA keeps them separate communities; CC would merge them
    tri1 = [(0, 1), (1, 2), (2, 0)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    e = _edges(spark, tri1 + tri2 + [(2, 10)])
    got = {r["node"]: r["label"] for r in
           label_propagation(e, iters=4).collect()}
    assert got[0] == got[1] == got[2]
    assert got[10] == got[11] == got[12]
    assert got[0] != got[10]


def test_label_propagation_tie_prefers_min_label(spark):
    # node 5 sees labels {1, 2} once each after round 1 -> picks 1
    e = _edges(spark, [(1, 5), (2, 5)])
    got = {r["node"]: r["label"] for r in
           label_propagation(e, iters=1).collect()}
    assert got[5] == 1


def test_opic_cash_conserved_up_to_floor_leak(spark):
    from biothings_crawler_spark.operators.pagerank import opic

    # includes a sink (3) so the virtual-root return path runs
    e = _edges(spark, [(0, 1), (0, 2), (1, 3), (2, 3)])
    scale = 10**6
    out = opic(e, iters=5, scale=scale).collect()
    total_cash = sum(r["cash"] for r in out)
    n, n_edges = 4, 4
    assert total_cash <= n * scale
    # each round leaks < 1 unit per edge share and < 1 per node on the
    # uniform return
    assert total_cash >= n * scale - 5 * (n_edges + n)


def test_opic_star_hub_wins(spark):
    from biothings_crawler_spark.operators.pagerank import opic

    e = _edges(spark, [(i, 99) for i in range(1, 8)])
    out = {r["node"]: r["importance"] for r in opic(e, iters=3).collect()}
    assert out[99] == max(out.values())
    assert out[99] > 2 * max(v for k, v in out.items() if k != 99)


def test_opic_history_monotone_in_rounds(spark):
    from biothings_crawler_spark.operators.pagerank import opic

    e = _edges(spark, [(0, 1), (1, 0), (1, 2), (2, 0)])
    h2 = {r["node"]: r["hist"] for r in opic(e, iters=2).collect()}
    h4 = {r["node"]: r["hist"] for r in opic(e, iters=4).collect()}
    assert all(h4[k] >= h2[k] for k in h2)


def test_bowtie_classifies_all_regions(spark):
    from biothings_crawler_spark.operators.pagerank import (
        bowtie_decomposition,
    )

    # core cycle {0,1,2} (node 0 is max-degree pivot), 5 -> core (IN),
    # core -> 7 (OUT), 8 -> 9 disconnected (other)
    e = _edges(spark, [(0, 1), (1, 2), (2, 0), (5, 0), (2, 7), (8, 9),
                       (3, 0), (0, 4)])
    got = {r["node"]: r["component"]
           for r in bowtie_decomposition(e).collect()}
    assert got[0] == got[1] == got[2] == "core"
    assert got[5] == "in" and got[3] == "in"
    assert got[7] == "out" and got[4] == "out"
    assert got[8] == "other" and got[9] == "other"


def test_bowtie_dag_core_is_pivot_alone(spark):
    from biothings_crawler_spark.operators.pagerank import (
        bowtie_decomposition,
    )

    # pure DAG: the pivot's SCC is itself; everything splits in/out
    e = _edges(spark, [(0, 1), (1, 2), (1, 3), (4, 1)])
    got = {r["node"]: r["component"]
           for r in bowtie_decomposition(e).collect()}
    assert got[1] == "core"  # node 1 has max degree 4
    assert got[0] == "in" and got[4] == "in"
    assert got[2] == "out" and got[3] == "out"


def test_warm_started_pagerank_beats_cold_restart(spark):
    from biothings_crawler_spark.operators.pagerank import pagerank

    # snapshot graph, then a crawl round adds a cycle
    base = _edges(spark, [(i, i // 2) for i in range(2, 40)])
    diff = _edges(spark, [(1, 30), (30, 35), (35, 1)])
    new = base.unionByName(diff)
    old = pagerank(base, iters=6)
    truth = {r["node"]: r["rank"] for r in pagerank(new, iters=10).collect()}

    def l1(df):
        got = {r["node"]: r["rank"] for r in df.collect()}
        return sum(abs(got[n] - truth[n]) for n in truth)

    warm2 = l1(pagerank(new, iters=2, init_ranks=old))
    cold2 = l1(pagerank(new, iters=2))
    assert warm2 < cold2  # the warm start is worth real iterations


def test_warm_start_new_nodes_default_to_scale(spark):
    from biothings_crawler_spark.operators.pagerank import PR_SCALE, pagerank

    base = _edges(spark, [(0, 1)])
    old = pagerank(base, iters=2)
    new = _edges(spark, [(0, 1), (5, 6)])  # 5, 6 unseen by old
    got = {r["node"]: r["rank"]
           for r in pagerank(new, iters=0, init_ranks=old).collect()}
    assert got[5] == PR_SCALE and got[6] == PR_SCALE
    old_ranks = {r["node"]: r["rank"] for r in old.collect()}
    assert got[0] == old_ranks[0] and got[1] == old_ranks[1]


def test_opic_greedy_fetches_hub_first_and_banks_history(spark):
    from biothings_crawler_spark.operators.pagerank import opic_greedy

    # star into 99: everyone starts with equal cash; round 1 fetches
    # the top-B by (cash desc, node asc). With B=2 that's nodes 1 and 2
    # (tie-break); the hub 99 accumulates their cash and gets fetched
    # next round with the largest bank.
    e = _edges(spark, [(i, 99) for i in range(1, 8)])
    out = {r["node"]: r for r in
           opic_greedy(e, rounds=2, fetch_per_round=2).collect()}
    assert out[1]["n_fetched"] == 1 and out[2]["n_fetched"] == 1
    assert out[99]["n_fetched"] == 1  # round 2: hub holds the most cash
    assert out[99]["hist"] == max(r["hist"] for r in out.values())


def test_opic_greedy_unfetched_cash_carries(spark):
    from biothings_crawler_spark.operators.pagerank import PR_SCALE, opic_greedy

    e = _edges(spark, [(0, 1), (2, 3), (4, 5)])
    out = {r["node"]: r for r in
           opic_greedy(e, rounds=1, fetch_per_round=1).collect()}
    # exactly one node fetched; every unfetched, uncontributed node
    # still holds its initial cash
    assert sum(r["n_fetched"] for r in out.values()) == 1
    untouched = [n for n, r in out.items()
                 if r["n_fetched"] == 0 and r["cash"] == PR_SCALE]
    assert len(untouched) >= 3


def test_salsa_resists_tight_knit_community(spark):
    from biothings_crawler_spark.operators.pagerank import salsa_authorities

    # a dense 4-clique of mutual links (the TKC link-farm shape) vs a
    # genuinely popular page 50 endorsed by 6 INDEPENDENT hubs.
    clique = [(a, b) for a in (10, 11, 12, 13) for b in (10, 11, 12, 13)
              if a != b]
    popular = [(i, 50) for i in range(6)]
    got = {r["node"]: r["authority"] for r in
           salsa_authorities(spark.createDataFrame(
               clique + popular, "src long, dst long"), iters=3).collect()}
    # SALSA's degree normalization keeps the farm from dominating: the
    # independently-endorsed page outranks every clique member
    assert all(got[50] > got[c] for c in (10, 11, 12, 13))


def test_salsa_mass_bounded(spark):
    from biothings_crawler_spark.operators.pagerank import (
        PR_SCALE,
        salsa_authorities,
    )

    e = _edges(spark, [(0, 1), (0, 2), (3, 1), (3, 4), (2, 3)])
    out = salsa_authorities(e, iters=4).collect()
    total = sum(r["authority"] for r in out)
    n_edges = 5  # init mass = one scale per in-link = |E| * scale
    assert total <= n_edges * PR_SCALE  # floor losses only shrink mass
    assert total >= n_edges * PR_SCALE - 4 * 5 * 2  # < 1 unit/edge/halfstep


def test_graph_census_hand_computed(spark):
    from biothings_crawler_spark.operators.pagerank import graph_census

    # 0->1, 1->0 (reciprocal pair), 1->2, 2->2 (self loop), 3->2
    e = _edges(spark, [(0, 1), (1, 0), (1, 2), (2, 2), (3, 2)])
    r = graph_census(e).collect()[0]
    assert r["n_nodes"] == 4 and r["n_edges"] == 5
    assert r["n_self_loops"] == 1
    # reciprocal: 0->1, 1->0, and the self loop 2->2 counts as its own
    # reverse: 3 of 5 edges
    assert r["reciprocity_ppm"] == 3 * 1_000_000 // 5
    assert r["max_out"] == 2 and r["max_in"] == 3
    assert r["density_ppb"] == 5 * 1_000_000_000 // 16


def _labels(spark, pairs):
    return spark.createDataFrame(pairs, "node long, label long")


def test_modularity_two_triangles_perfect_split(spark):
    from biothings_crawler_spark.operators.pagerank import modularity

    tri1 = [(0, 1), (1, 2), (2, 0)]
    tri2 = [(10, 11), (11, 12), (12, 10)]
    lab = _labels(spark, [(0, 7), (1, 7), (2, 7), (10, 8), (11, 8), (12, 8)])
    r = modularity(_edges(spark, tri1 + tri2), lab).collect()[0]
    # m=6, intra=6, d_c=6 each: Q = 1 - 72/144 = 0.5
    assert r["n_communities"] == 2
    assert r["m_edges"] == 6 and r["intra_edges"] == 6
    assert r["q_ppm"] == 500_000


def test_modularity_one_community_is_zero(spark):
    from biothings_crawler_spark.operators.pagerank import modularity

    tri = [(0, 1), (1, 2), (2, 0)]
    lab = _labels(spark, [(0, 0), (1, 0), (2, 0)])
    r = modularity(_edges(spark, tri), lab).collect()[0]
    # Q = 3/3 - 36/36 = 0
    assert r["q_ppm"] == 0


def test_modularity_missing_labels_are_singletons(spark):
    from biothings_crawler_spark.operators.pagerank import modularity

    lab = _labels(spark, [])
    r = modularity(_edges(spark, [(1, 2)]), lab).collect()[0]
    # each node its own community: Q = 0/1 - (1+1)/4 = -0.5
    assert r["n_communities"] == 2
    assert r["q_ppm"] == -500_000


def test_modularity_floors_negative_q(spark):
    from biothings_crawler_spark.operators.pagerank import modularity

    # triangle with labels {0:A, 1:B, 2:B}: Q = 1/3 - 20/36 = -2/9
    # floor(1e6 * -0.2222...) = -222223 (floor, NOT truncation)
    tri = [(0, 1), (1, 2), (2, 0)]
    lab = _labels(spark, [(0, 100), (1, 200), (2, 200)])
    r = modularity(_edges(spark, tri), lab).collect()[0]
    assert r["q_ppm"] == -222_223


def test_modularity_canonicalizes_directed_duplicates(spark):
    from biothings_crawler_spark.operators.pagerank import modularity

    # both directions + a self loop collapse to ONE undirected edge
    lab = _labels(spark, [(1, 5), (2, 5)])
    e = _edges(spark, [(1, 2), (2, 1), (1, 1)])
    r = modularity(e, lab).collect()[0]
    assert r["m_edges"] == 1 and r["intra_edges"] == 1
    # one community holding all degree: Q = 1 - 4/4 = 0
    assert r["q_ppm"] == 0

def test_ppr_push_hand_computed_two_rounds(spark):
    from biothings_crawler_spark.operators.pagerank import ppr_push

    # star 0 -> {1, 2}, seed {0}, scale 1e6, alpha 15%, eps 1000.
    # Round 1: 0 settles 150_000, sends (85e6 div 200) = 425_000 each.
    # Round 2: 1 and 2 are dangling -> settle 63_750, rest absorbed.
    e = _edges(spark, [(0, 1), (0, 2)])
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: (r["p"], r["r"]) for r in
           ppr_push(e, seeds, iters=2, alpha_pct=15, eps=1000,
                    scale=1_000_000).collect()}
    assert got == {0: (150_000, 0), 1: (63_750, 0), 2: (63_750, 0)}


def test_ppr_push_sub_eps_residual_holds_in_place(spark):
    from biothings_crawler_spark.operators.pagerank import ppr_push

    # eps above the seed mass: nothing ever pushes, state is frozen
    e = _edges(spark, [(0, 1)])
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: (r["p"], r["r"]) for r in
           ppr_push(e, seeds, iters=3, alpha_pct=15, eps=2_000_000,
                    scale=1_000_000).collect()}
    assert got == {0: (0, 1_000_000), 1: (0, 0)}


def test_ppr_push_mass_never_exceeds_seed_mass(spark):
    from biothings_crawler_spark.operators.pagerank import ppr_push

    # flooring + dangling absorption only LEAK mass: sum(p+r) <= seeds
    e = _edges(spark, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 3)])
    seeds = spark.createDataFrame([(0,), (2,)], "node long")
    rows = ppr_push(e, seeds, iters=4, alpha_pct=15, eps=10,
                    scale=1_000_000).collect()
    total = sum(r["p"] + r["r"] for r in rows)
    assert 0 < total <= 2_000_000
    assert all(r["p"] >= 0 and r["r"] >= 0 for r in rows)


def test_spam_mass_farm_is_all_spam_seed_side_is_clean(spark):
    from biothings_crawler_spark.operators.pagerank import spam_mass

    # trusted pair {0,1} (0 seeded) vs an isolated farm {10,11}:
    # the farm's rank has zero trust lineage -> spam_ppm = 1e6 exactly;
    # the rescaled trust (x n/|S| = x4) swamps pr on the seeded side
    e = _edges(spark, [(0, 1), (1, 0), (10, 11), (11, 10)])
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r["node"]: r["spam_ppm"] for r in
           spam_mass(e, seeds, iters=3).collect()}
    assert got[10] == got[11] == 1_000_000
    assert got[0] == 0 and got[1] == 0


def test_spam_mass_bounded_and_deficit_consistent(spark):
    from biothings_crawler_spark.operators.pagerank import spam_mass

    e = _edges(spark, [(0, 1), (1, 2), (2, 0), (3, 2), (2, 3)])
    seeds = spark.createDataFrame([(0,)], "node long")
    for r in spam_mass(e, seeds, iters=4).collect():
        assert 0 <= r["spam_ppm"] <= 1_000_000
        if r["tr_adj"] >= r["pr"]:
            assert r["spam_ppm"] == 0


def test_trustrank_unreached_nodes_zero(spark):
    """A two-island graph: seeds live on island A; island B (a 'link
    farm' citing only itself) must end at exactly rank 0, while plain
    pagerank gives it mass."""
    from biothings_crawler_spark.operators.pagerank import pagerank, trustrank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    tr = {r["node"]: r["rank"] for r in
          trustrank(edges, seeds, iters=4).collect()}
    pr = {r["node"]: r["rank"] for r in pagerank(edges, iters=4).collect()}
    assert tr[10] == 0 and tr[11] == 0
    assert pr[10] > 0 and pr[11] > 0
    assert tr[1] > 0 and tr[2] > 0 and tr[3] > 0  # trust propagates the cycle




def test_depth_yield_census_shape(spark):
    """Depth census on a hand graph: counts, exact mean quality ppm,
    and monotone cumulative share reaching 10^6."""
    from pyspark.sql import Window, functions as F

    from biothings_crawler_spark.operators.pagerank import seed_distance

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
