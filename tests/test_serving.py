"""Serving plane: positional phrase matching, snippet extraction, rank
fusion, spelling and autocomplete."""

from biothings_crawler_spark.operators.serving import (
    phrase_topk,
    positional_postings,
    snippet_windows,
)


def test_phrase_three_terms_overlapping(spark):
    # "a b a b a" contains "a b a" at pos 1 and 3 (overlap counts)
    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a b x a b a"), (3, "b a b")],
        "id long, text string",
    )
    got = {r["id"]: r["phrase_tf"] for r in
           phrase_topk(docs, "id", "text", ["a", "b", "a"]).collect()}
    assert got == {1: 2, 2: 1}


def test_phrase_requires_adjacency_not_cooccurrence(spark):
    docs = spark.createDataFrame(
        [(1, "table x hash"), (2, "table hash")], "id long, text string")
    got = {r["id"] for r in
           phrase_topk(docs, "id", "text", ["table", "hash"]).collect()}
    assert got == {2}


def test_positional_postings_one_based_rows(spark):
    docs = spark.createDataFrame([(7, "X  y\tx")], "id long, text string")
    rows = sorted(
        (r["term"], r["pos"]) for r in
        positional_postings(docs, "id", "text").collect())
    assert rows == [("x", 1), ("x", 3), ("y", 2)]


def test_snippet_picks_densest_window_earliest_tie(spark):
    # two windows tie at 1 hit -> earliest start wins; doc shorter than
    # width yields start 1 and the whole doc
    docs = spark.createDataFrame(
        [(1, "z z q z z z z z z q z z"), (2, "q z"), (3, "z z z")],
        "id long, text string",
    )
    got = {r["id"]: (r["start"], r["hits"], r["snippet"]) for r in
           snippet_windows(docs, "id", "text", ["q"], width=4).collect()}
    # windows of width 4 over doc 1: hits are 1 everywhere a q is in
    # range; the earliest window containing pos-3 q starts at 1
    assert got[1][0] == 1 and got[1][1] == 1
    assert got[2] == (1, 1, "q z")
    assert 3 not in got  # zero hits drop


def test_snippet_two_hit_window_beats_one_hit(spark):
    docs = spark.createDataFrame(
        [(1, "q z z z z z z z q q")], "id long, text string")
    r = snippet_windows(docs, "id", "text", ["q"], width=3).collect()[0]
    assert r["hits"] == 2 and r["start"] == 8
    assert r["snippet"] == "z q q"


def test_snippet_plan_has_no_exchange(spark):
    docs = spark.createDataFrame([(1, "q z")], "id long, text string")
    out = snippet_windows(docs, "id", "text", ["q"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_rrf_fusion_hand_computed(spark):
    from biothings_crawler_spark.operators.serving import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                              "id long, rank long")
    b = spark.createDataFrame([(3, 1), (1, 2), (9, 3)],
                              "id long, rank long")
    got = {r["id"]: r for r in rrf_fuse([a, b], k_const=60).collect()}
    # id 1: 1e6//61 + 1e6//62 ; id 3: 1e6//63 + 1e6//61
    assert got[1]["rrf_ppm"] == 1000000 // 61 + 1000000 // 62
    assert got[3]["rrf_ppm"] == 1000000 // 63 + 1000000 // 61
    assert got[2]["rrf_ppm"] == 1000000 // 62
    assert got[9]["n_lists"] == 1 and got[1]["n_lists"] == 2
    # consensus beats a single high rank: id 1 and 3 (both lists)
    # outscore id 2 (rank 2 in one list only)
    assert min(got[1]["rrf_ppm"], got[3]["rrf_ppm"]) > got[2]["rrf_ppm"]


def test_kendall_tau_extremes_and_sign(spark):
    from biothings_crawler_spark.operators.serving import rank_correlation

    a = spark.createDataFrame([(i, i) for i in range(1, 6)],
                              "id long, rank long")
    same = rank_correlation(a, a).collect()[0]
    assert (same["n_common"], same["n_pairs"]) == (5, 10)
    assert same["tau_ppm"] == 1_000_000
    rev = spark.createDataFrame([(i, 6 - i) for i in range(1, 6)],
                                "id long, rank long")
    opp = rank_correlation(a, rev).collect()[0]
    assert opp["tau_ppm"] == -1_000_000
    # partial overlap: only common ids participate
    b = spark.createDataFrame([(1, 1), (2, 3), (9, 2)],
                              "id long, rank long")
    part = rank_correlation(a, b).collect()[0]
    assert part["n_common"] == 2 and part["n_pairs"] == 1
    assert part["tau_ppm"] == 1_000_000  # 1<2 in both


def test_spell_suggest_hand_computed(spark):
    from biothings_crawler_spark.operators.serving import spell_suggest

    docs = spark.createDataFrame(
        [(1, "table scan table"), (2, "table join"), (3, "join scan"),
         (4, "cable")],
        "doc_id long, text string",
    )
    rows = spell_suggest(docs, "doc_id", "text",
                         ["tabel", "scann", "table", "zz"], k=2).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q"], []).append(r)
    # "tabel" is ed-2 from "table" (two substitutions) -> NOT suggested;
    # FastSS 1-deletion neighborhoods cover ed<=1 only, and nothing else
    # in the vocab is within 1 edit.
    assert "tabel" not in by_q and "zz" not in by_q
    # "scann" -> insertion of one char from "scan": dist 1, df 2
    (s,) = by_q["scann"]
    assert (s["suggestion"], s["dist"], s["term_df"], s["rank"]) == \
        ("scan", 1, 2, 1)
    # exact term ranks first at dist 0; "cable" (substitution, df 1)
    # fills rank 2
    t = by_q["table"]
    assert [(r["suggestion"], r["dist"], r["rank"]) for r in t] == \
        [("table", 0, 1), ("cable", 1, 2)]
    # df ordering inside a distance band: "table" df=2 beats "cable" df=1
    assert t[0]["term_df"] == 2 and t[1]["term_df"] == 1


def test_autocomplete_df_ranked(spark):
    from biothings_crawler_spark.operators.serving import autocomplete

    docs = spark.createDataFrame(
        [(1, "scan scan scale"), (2, "scan table"), (3, "scale scan"),
         (4, "other")],
        "doc_id long, text string",
    )
    rows = autocomplete(docs, "doc_id", "text", ["sc", "zz"], k=2).collect()
    # df counts documents, not occurrences: scan df=3, scale df=2
    assert [(r["prefix"], r["completion"], r["term_df"], r["rank"])
            for r in rows] == [("sc", "scan", 3, 1), ("sc", "scale", 2, 2)]
    # k truncates: "sc" also matches nothing else; "zz" matches none
    assert all(r["prefix"] != "zz" for r in rows)
