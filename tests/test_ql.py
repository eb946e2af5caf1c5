"""Dirichlet query-likelihood ranking (operators/bm25.ql_dirichlet_topk)."""

import math

from biothings_crawler_spark.operators.bm25 import ql_dirichlet_topk
from biothings_crawler_spark.functions.fxp import FXP


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "data data table filler filler"),
            (2, "data filler filler filler filler"),
            (3, "filler filler filler filler filler"),
            (4, "data table " + "pad " * 50),
        ],
        "id long, text string",
    )


def test_hand_computed_scores(spark):
    out = {
        r.id: r.score_fxp
        for r in ql_dirichlet_topk(
            _docs(spark), "id", "text", ["data", "table"], mu=10, k=10
        ).collect()
    }
    def lg(v):
        # exact floor(65536*log2 v): integer square-and-compare, the
        # reference recurrence both engines run (float log2 is off by
        # one ulp exactly at floor boundaries)
        n = v.bit_length() - 1
        m, bits = (v * FXP) >> n, 0
        for _ in range(16):
            m = (m * m) >> 16
            bit = 1 if m >= 2 * FXP else 0
            bits = bits * 2 + bit
            m >>= bit
        return n * FXP + bits

    # C = 5+5+5+52 = 67 tokens; cf(data)=4, cf(table)=2; mu=10
    C, cfd, cft, m = 67, 4, 2, 10
    k_fxp = lg(m * cfd) + lg(m * cft)

    def score(tfs, dl):
        match = sum(
            lg(tf * C + m * cf) - lg(m * cf)
            for tf, cf in tfs
        )
        return match + k_fxp - 2 * (lg(C) + lg(dl + m))

    assert out[1] == score([(2, cfd), (1, cft)], 5)
    assert out[2] == score([(1, cfd)], 5)
    assert 3 not in out  # no query term -> never a candidate
    assert out[4] == score([(1, cfd), (1, cft)], 52)
    # two-term short doc beats one-term doc; verbose doc pays dl penalty
    assert out[1] > out[2] and out[1] > out[4]


def test_absent_query_term_is_dropped(spark):
    docs = _docs(spark)
    with_ghost = ql_dirichlet_topk(
        docs, "id", "text", ["data", "table", "zzghost"], mu=10, k=10
    ).collect()
    without = ql_dirichlet_topk(
        docs, "id", "text", ["data", "table"], mu=10, k=10
    ).collect()
    assert [(r.id, r.score_fxp) for r in with_ghost] == [
        (r.id, r.score_fxp) for r in without
    ]


def test_plan_broadcast_topk_no_window_no_python(spark):
    df = ql_dirichlet_topk(_docs(spark), "id", "text", ["data"], mu=10, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ltr_features_consistent_with_scorers(spark):
    from biothings_crawler_spark.operators.bm25 import (
        bm25_topk,
        ltr_features,
        ql_dirichlet_scores,
    )

    docs = _docs(spark)
    feats = {r.id: r for r in
             ltr_features(docs, "id", "text", ["data", "table"], mu=10)
             .collect()}
    assert set(feats) == {1, 2, 4}  # doc 3 matches nothing
    bm = {r.id: r.score for r in
          bm25_topk(docs, "id", "text", ["data", "table"], k=10).collect()}
    ql = {r.id: r.score_fxp for r in
          ql_dirichlet_scores(docs, "id", "text", ["data", "table"], mu=10)
          .collect()}
    for i in (1, 2, 4):
        assert feats[i].bm25_score == bm[i]
        assert feats[i].ql_fxp == ql[i]
    assert feats[1].n_matched == 2 and feats[1].tf_total == 3
    assert feats[2].n_matched == 1 and feats[2].tf_total == 1
    assert feats[4].dl == 52


def test_query_clarity_orders_focused_above_diffuse(spark):
    from biothings_crawler_spark.operators.bm25 import query_clarity

    rows = []
    for i in range(30):
        rows.append((i, "common words shared by every document here"))
    for i in range(30, 34):
        rows.append((i, "quantum entanglement qubit decoherence physics"))
    docs = spark.createDataFrame(rows, "id long, text string")
    # focused query: the 4 physics docs dominate the feedback set
    focused = query_clarity(
        docs, "id", "text", ["quantum"], mu=10, fb_k=4
    ).collect()[0]
    # diffuse query: feedback looks like the collection
    diffuse = query_clarity(
        docs, "id", "text", ["common"], mu=10, fb_k=30
    ).collect()[0]
    assert focused.n_fb_docs == 4 and diffuse.n_fb_docs == 30
    assert focused.clarity_tok_fxp > diffuse.clarity_tok_fxp
    assert diffuse.clarity_tok_fxp < 65536 // 4  # well under a quarter bit
    assert focused.clarity_fxp >= 0 and diffuse.clarity_fxp >= 0


def test_search_pipeline_fuses_both_rankers(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from biothings_crawler_spark.operators.bm25 import (
        bm25_topk,
        ql_dirichlet_topk,
    )
    from biothings_crawler_spark.operators.serving import rrf_fuse

    docs = _docs(spark)
    q = ["data", "table"]
    lex = bm25_topk(docs, "id", "text", q, k=3).withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("score"), "id"))
    ).select("id", "rank")
    lm = ql_dirichlet_topk(docs, "id", "text", q, mu=10, k=3).withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("score_fxp"), "id"))
    ).select("id", "rank")
    out = {r.id: r for r in rrf_fuse([lex, lm]).collect()}
    # every candidate appears in both 3-deep lists (only 3 candidates)
    assert all(r.n_lists == 2 for r in out.values())
    # rrf of rank pair (r1, r2) is exactly the floored reciprocal sum
    lexr = {r.id: r.rank for r in lex.collect()}
    lmr = {r.id: r.rank for r in lm.collect()}
    for i, r in out.items():
        assert r.rrf_ppm == 10**6 // (60 + lexr[i]) + 10**6 // (60 + lmr[i])


def test_ndcg_hand_computed_and_bounds(spark):
    from biothings_crawler_spark.operators.bm25 import ndcg_at_k

    FXP = 65536
    LG3 = 103872  # floor(65536*log2 3)

    ranked = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 2), ("q", 30, 3),
         ("perfect", 10, 1), ("perfect", 20, 2)],
        "query_id string, id long, rank long",
    )
    qrels = spark.createDataFrame(
        [("q", 20, 3), ("q", 99, 2), ("q", 10, 1),
         ("perfect", 10, 2), ("perfect", 20, 1)],
        "query_id string, id long, rel long",
    )
    out = {r.query_id: r for r in ndcg_at_k(ranked, qrels, k=10).collect()}
    # q: retrieved rel docs at ranks 1 (rel 1) and 2 (rel 3);
    # dcg = 1*1e12//lg(2) + 3*1e12//lg(3)
    dcg = 10**12 // FXP + 3 * 10**12 // LG3
    # ideal order: rel 3 @1, rel 2 @2, rel 1 @3
    idcg = (3 * 10**12 // FXP + 2 * 10**12 // LG3
            + 1 * 10**12 // (2 * FXP))
    assert out["q"].dcg_fxp == dcg and out["q"].idcg_fxp == idcg
    assert out["q"].ndcg_ppm == dcg * 10**6 // idcg < 1_000_000
    # perfect run: retrieved = ideal -> exactly 1.0
    assert out["perfect"].ndcg_ppm == 1_000_000


def test_ndcg_zero_when_nothing_relevant_retrieved(spark):
    from biothings_crawler_spark.operators.bm25 import ndcg_at_k

    ranked = spark.createDataFrame(
        [("q", 1, 1)], "query_id string, id long, rank long"
    )
    qrels = spark.createDataFrame(
        [("q", 2, 3)], "query_id string, id long, rel long"
    )
    r = ndcg_at_k(ranked, qrels, k=10).collect()[0]
    assert (r.dcg_fxp, r.ndcg_ppm) == (0, 0) and r.idcg_fxp > 0


def test_map_hand_computed(spark):
    from biothings_crawler_spark.operators.bm25 import map_at_k

    ranked = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 2), ("q", 30, 3), ("q", 40, 4)],
        "query_id string, id long, rank long",
    )
    qrels = spark.createDataFrame(
        [("q", 10, 1), ("q", 30, 2), ("q", 99, 1)],
        "query_id string, id long, rel long",
    )
    r = map_at_k(ranked, qrels, k=10).collect()[0]
    # hits at ranks 1 and 3: P@1 = 1/1, P@3 = 2/3; n_rel = 3
    assert (r.n_rel, r.n_hits) == (3, 2)
    assert r.ap_ppm == (1_000_000 + 2 * 1_000_000 // 3) // 3


def test_map_zero_when_no_hits(spark):
    from biothings_crawler_spark.operators.bm25 import map_at_k

    ranked = spark.createDataFrame(
        [("q", 1, 1)], "query_id string, id long, rank long"
    )
    qrels = spark.createDataFrame(
        [("q", 2, 1)], "query_id string, id long, rel long"
    )
    r = map_at_k(ranked, qrels, k=10).collect()[0]
    assert (r.n_hits, r.ap_ppm) == (0, 0)


def test_err_hand_computed_and_cascade(spark):
    from biothings_crawler_spark.operators.bm25 import err_at_k

    ranked = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 2), ("q", 30, 3),
         ("early", 10, 1), ("late", 10, 3)],
        "query_id string, id long, rank long",
    )
    qrels = spark.createDataFrame(
        [("q", 10, 3), ("q", 30, 1),
         ("early", 10, 3), ("late", 10, 3)],
        "query_id string, id long, rel long",
    )
    out = {r.query_id: r for r in err_at_k(ranked, qrels, k=10).collect()}
    # q: R1 = 7/8 at rank 1, survivor 1/8 meets R = 1/8 at rank 3
    p2 = (10**6 * 1) // 8
    want = (10**6 * 7 * 1000) // 8 + (p2 * 1 * 1000) // (8 * 3)
    assert out["q"].err_ppb == want and out["q"].n_graded == 2
    # cascade property: the same grade earlier is worth strictly more
    assert out["early"].err_ppb == 875_000_000
    assert out["late"].err_ppb == 875_000_000 // 3
    assert out["early"].err_ppb > out["late"].err_ppb


def test_err_zero_without_relevance(spark):
    from biothings_crawler_spark.operators.bm25 import err_at_k

    ranked = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2)], "query_id string, id long, rank long"
    )
    qrels = spark.createDataFrame(
        [("q", 99, 3)], "query_id string, id long, rel long"
    )
    r = err_at_k(ranked, qrels, k=10).collect()[0]
    assert (r.n_graded, r.err_ppb) == (0, 0)
