"""Full SCC census (operators/reach.scc_census)."""

import pytest

from biothings_crawler_spark.operators.reach import scc_census


def _tarjan(edges):
    """Reference SCC labeling: iterative Tarjan, label = min member."""
    adj: dict = {}
    nodes = set()
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        nodes.add(s)
        nodes.add(d)
    index: dict = {}
    low: dict = {}
    on: set = set()
    stack: list = []
    comp: dict = {}
    counter = [0]

    def strong(v0):
        work = [(v0, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on.add(v)
            recurse = False
            succs = adj.get(v, [])
            for i in range(pi, len(succs)):
                w = succs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                elif w in on:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                grp = []
                while True:
                    w = stack.pop()
                    on.discard(w)
                    grp.append(w)
                    if w == v:
                        break
                lab = min(grp)
                for w in grp:
                    comp[w] = lab
            work.pop()
            if work:
                parent = work[-1][0]
                low[parent] = min(low[parent], low[v])

    for v in sorted(nodes):
        if v not in index:
            strong(v)
    sizes: dict = {}
    for v, c in comp.items():
        sizes[c] = sizes.get(c, 0) + 1
    return {v: (c, sizes[c]) for v, c in comp.items()}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: (r.scc_label, r.scc_size)
            for r in scc_census(df, **kw).collect()}


def test_two_cycles_and_bridge(spark):
    edges = [(1, 2), (2, 3), (3, 1),        # SCC {1,2,3}
             (3, 10),                        # bridge (DAG edge)
             (10, 11), (11, 10),             # SCC {10,11}
             (11, 20)]                       # tendril -> singleton 20
    assert _run(spark, edges) == _tarjan(edges)
    got = _run(spark, edges)
    assert got[1] == (1, 3) and got[2] == (1, 3) and got[3] == (1, 3)
    assert got[10] == (10, 2) and got[11] == (10, 2)
    assert got[20] == (20, 1)


def test_pure_dag_all_singletons(spark):
    edges = [(1, 2), (2, 3), (1, 3), (3, 4)]
    got = _run(spark, edges)
    assert got == {n: (n, 1) for n in (1, 2, 3, 4)}


def test_single_giant_cycle(spark):
    n = 9
    edges = [(i, (i + 1) % n) for i in range(n)]
    got = _run(spark, edges)
    assert got == {i: (0, n) for i in range(n)}


def test_matches_tarjan_on_messy_graph(spark):
    edges = sorted({((i * 7 + 3) % 23, (i * 11 + 5) % 23)
                    for i in range(60)})
    edges = [(s, d) for s, d in edges if s != d]
    assert _run(spark, edges) == _tarjan(edges)


def test_pivot_cap_raises_honestly(spark):
    edges = [(1, 2), (2, 1), (10, 11), (11, 10)]
    with pytest.raises(ValueError, match="nontrivial SCCs"):
        _run(spark, edges, max_pivots=1)
