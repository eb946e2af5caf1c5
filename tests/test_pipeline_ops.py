"""Training-data pipeline operators: dedup family, text analysis,
analysis queries."""

import json

import pytest
from pyspark.sql import functions as F

from biothings_crawler_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_col,
    simhash_pairs,
)
from biothings_crawler_spark.operators.text import (
    fingerprint_col,
    lang_id_col,
    quality_score_col,
    token_count_col,
)
from biothings_crawler_spark.plans.analysis import (
    coverage_pivot,
    field_coverage,
    funder_counts,
    funder_doc_ids,
    irregular_funders,
    search_view,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet("/root/testdata/sf0.01/documents.parquet")


def _texts(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog with data"),
        (1, "the quick brown fox jumps over the lazy dog with data"),  # exact dup
        (2, "The  Quick Brown  fox jumps over the lazy dog with data"),  # ws/case dup
        (3, "the quick brown fox leaps over the lazy dog with data"),   # near dup
        (4, "completely different content about spark query engines"),
        (5, "der schnelle braune fuchs springt über den faulen hund und daten"),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def test_exact_dedup(spark):
    out = exact_dedup(_texts(spark), "id", "text").collect()
    groups = {r["id"]: r["n_dups"] for r in out}
    assert groups[0] == 3  # ids 0,1,2 collapse; min id wins
    assert 1 not in groups and 2 not in groups
    assert groups[3] == 1 and groups[4] == 1


def test_minhash_lsh_finds_near_dups(spark):
    # 16 bands x 1 row: any matching signature position collides (recall-max;
    # the exact-jaccard verify restores precision)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(_texts(spark), "id", "text",
                                        bands=16, verify_threshold=0.4).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and 0.4 <= pairs[(0, 3)] < 1.0
    assert not any({a, b} == {0, 4} for a, b in pairs)


def test_lsh_recall_vs_brute_force(spark, documents):
    """LSH candidates must contain every true pair >= 0.7 jaccard."""
    docs = documents.limit(120)
    truth = {(r["id_a"], r["id_b"])
             for r in ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.7).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in minhash_lsh_pairs(docs, "doc_id", "text",
                                      verify_threshold=0.7).collect()}
    assert lsh <= {(a, b) for a, b in truth} | truth
    missed = truth - lsh
    assert len(missed) <= max(1, len(truth) // 10), (len(truth), len(missed))


def test_simhash(spark):
    df = _texts(spark)
    sigs = {r["id"]: r["s"] for r in df.select("id", simhash_col(F.col("text")).alias("s")).collect()}
    assert sigs[0] == sigs[1]  # identical text -> identical signature
    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_pairs(df, "id", "text", max_hamming=12).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 0
    assert (0, 3) in pairs  # one word changed -> small hamming


def test_simhash_pandas_twin_bit_identical(spark, documents):
    """The numpy pandas-UDF signature (scale path) must equal the
    expression signature bit-for-bit, for both hash families."""
    from biothings_crawler_spark.operators.dedup import (
        simhash60_md5_pandas_udf,
        simhash60_xxh_pandas_udf,
    )

    d = documents.limit(150)
    for fam, udf in (("md5", simhash60_md5_pandas_udf),
                     ("xxhash64", simhash60_xxh_pandas_udf)):
        bad = d.select(
            simhash_col(F.col("text"), fam).alias("a"),
            udf(F.col("text")).alias("b"),
        ).filter("a <> b").count()
        assert bad == 0, fam
    # NULL text -> NULL, empty text -> 0, matching the expression twin
    nulls = spark.createDataFrame([(None,), ("",)], "text string")
    got = nulls.select(
        simhash60_md5_pandas_udf(F.col("text")).alias("b")).collect()
    assert [r["b"] for r in got] == [None, 0]


def test_text_analysis_cols(spark):
    df = _texts(spark).select(
        "id",
        lang_id_col(F.col("text")).alias("lang"),
        token_count_col(F.col("text")).alias("tokens"),
        quality_score_col(F.col("text")).alias("q"),
        fingerprint_col(F.col("text")).alias("fp"),
    )
    rows = {r["id"]: r for r in df.collect()}
    assert rows[0]["lang"] == "en"
    assert rows[5]["lang"] == "de"
    assert rows[0]["tokens"] == 11
    assert rows[0]["fp"] == rows[2]["fp"] != rows[3]["fp"]
    assert 0.0 <= rows[0]["q"] <= 1.0
    assert rows[0]["q"] > rows[5]["q"] - 1e-9  # en stopwords boost


def _typed_docs(spark):
    rows = [
        ("s1", "a", json.dumps({"name": "n1", "funder": [
            {"@type": "Organization", "name": "NIH"}]})),
        ("s1", "b", json.dumps({"name": "n2", "keywords": ["x"],
                                "custom_field": 1})),
        ("s2", "c", json.dumps({"funder": [
            {"@type": "Organization", "name": "NIH"},
            {"@type": "Organization", "name": "NSF", "url": "u"},  # len 3 -> irregular
            {"@type": "Person", "name": "NIH"}]})),          # wrong type -> irregular
    ]
    return spark.createDataFrame(rows, "source string, _id string, doc_json string")


def test_field_coverage_and_pivot(spark):
    cov = field_coverage(_typed_docs(spark))
    got = {(r["source"], r["field"], r["valtype"]): (r["n"], r["ratio"])
           for r in cov.collect()}
    assert got[("s1", "name", "str")][0] == 2
    assert got[("s1", "name", "str")][1] == 1.0
    assert got[("s1", "__EE__", "int")][0] == 1  # custom_field binned
    assert got[("s2", "funder", "list")] == (1, 1.0)
    piv = coverage_pivot(cov, ["s1", "s2"]).collect()
    by_field = {r["field"]: r for r in piv}
    assert by_field["name"]["s1"] == 1.0 and by_field["name"]["s2"] is None


def test_funder_queries(spark):
    docs = _typed_docs(spark)
    top = funder_counts(docs, 10).collect()
    # name counting ignores @type (funder.py:131-137): NIH appears 3x
    assert top[0]["name"] == "NIH" and top[0]["n"] == 3
    irr = irregular_funders(docs).collect()
    assert sum(r["n"] for r in irr) == 2
    ids = [r["_id"] for r in funder_doc_ids(docs, "NIH").collect()]
    assert ids == ["a", "c"]


def test_search_view(spark):
    docs = _typed_docs(spark)
    hits = search_view(docs, "n1").collect()
    assert hits and hits[0]["_id"] == "a" and hits[0]["_score"] == 7.0


def test_shingle_twins_byte_equal(spark):
    """shingles3_pandas_udf must equal shingles_col(k=3) exactly —
    first-occurrence-distinct order included (LSH default path)."""
    from pyspark.sql import functions as F

    from biothings_crawler_spark.operators.dedup import (
        shingles3_pandas_udf,
        shingles_col,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    both = d.select(
        shingles_col(F.col("text"), 3).alias("a"),
        shingles3_pandas_udf(F.col("text")).alias("b"),
    )
    assert both.filter(F.col("a") != F.col("b")).count() == 0


def test_minhash_lsh_recall_vs_bruteforce(spark):
    """LSH candidate generation must recover every true near-dup pair
    the brute-force oracle finds at this threshold (banding with 4x4
    bands at jaccard>=0.5 — recall 1.0 expected on this corpus)."""
    from biothings_crawler_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lsh = {(r["id_a"], r["id_b"])
           for r in minhash_lsh_pairs(d, "doc_id", "text").collect()}
    brute = {(r["id_a"], r["id_b"])
             for r in ngram_jaccard_pairs(d, "doc_id", "text").collect()}
    assert brute <= lsh or brute == lsh  # no missed true pairs
    # and LSH emits nothing below the verify threshold
    assert lsh <= brute


def test_line_dedup_removes_boilerplate(spark):
    """Injected footer (on every doc) is removed; unique lines survive
    in original order."""
    import pandas as pd
    from pyspark.sql import functions as F

    from biothings_crawler_spark.operators.text import line_dedup

    docs = spark.createDataFrame(pd.DataFrame({
        "id": list(range(20)),
        "t": [f"unique {i} alpha\nFOOTER\nunique {i} beta" for i in range(20)],
    }))
    out = line_dedup(docs, "id", "t", max_occurrences=10).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[3]["clean_text"] == "unique 3 alpha\nunique 3 beta"
    assert by_id[3]["n_removed"] == 1 and by_id[3]["n_kept"] == 2


def test_refetch_round_composition_reasons(spark):
    """The composed incremental round: changed beats due when a URL is
    both content-changed and freshness-due; pure-due and added URLs
    carry their own reasons; never-due unchanged URLs are absent."""
    from biothings_crawler_spark.plans.driver_queries import q_refetch_round

    out = {r["url"]: (r["reason"], r["prio"])
           for r in q_refetch_round(spark, "/root/testdata/sf0.001").collect()}
    base = "https://s.example.org/d/"
    # doc 15: %3==0 (due) and %5==0 (changed) -> changed wins (prio 1)
    assert out[base + "15"] == ("changed", 1)
    # doc 3: %3==0 only -> due
    assert out[base + "3"] == ("due", 3)
    # added id carries 'added'
    assert out[base + "1000011"] == ("added", 2)
    # doc 1: not %3/%5/%7/%11 -> absent entirely
    assert base + "1" not in out


def test_snapshot_diff_classifies_and_queues(spark):
    from biothings_crawler_spark.operators.snapshot import (
        refetch_queue,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [("a", "h1"), ("b", "h2"), ("c", "h3")], "url string, content_hash string"
    )
    new = spark.createDataFrame(
        [("a", "h1"), ("b", "h2x"), ("d", "h4")], "url string, content_hash string"
    )
    diff = {r["url"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert diff == {"a": "unchanged", "b": "changed", "c": "removed", "d": "added"}
    q = {r["url"] for r in refetch_queue(snapshot_diff(old, new)).collect()}
    assert q == {"b", "d"}


def test_bigram_coverage_scores_gibberish_low(spark):
    """Docs made of corpus-common bigrams score high; a gibberish doc
    whose bigrams appear nowhere else scores zero; exact millionths."""
    from biothings_crawler_spark.operators.text import bigram_coverage

    common = "the data is good and the data is fine"
    rows = [(i, common) for i in range(5)] + [
        (100, "zxqv wkjh plmn qrst uvwx"),          # unique bigrams
        (101, common + " zxqv wkjh"),                # mixed
        (102, "single"),                             # no bigrams
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in bigram_coverage(df, "id", "text", min_count=3).collect()}
    assert out[0]["coverage_q6"] == 1_000_000
    assert out[100]["coverage_q6"] == 0 and out[100]["n_bigrams"] == 4
    # 8 of its 10 bigrams are corpus-common ('fine zxqv','zxqv wkjh' are not)
    assert out[101]["n_common"] == 8 and out[101]["coverage_q6"] == 800_000
    assert out[102]["n_bigrams"] == 0 and out[102]["coverage_q6"] == 0


def test_recrawl_schedule_fold_and_clamps(spark):
    """Adaptive revisit intervals: halve on change, double on
    no-change, clamped; first fetch carries no flag; next_due = last
    fetch + interval."""
    import datetime as dt

    from biothings_crawler_spark.operators.recrawl import recrawl_schedule

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    rows = (
        # url A: hashes x,x,y,y -> flags [0,1,0] -> 86400*2=172800,
        # /2=86400, *2=172800
        [("A", t(i * 100), i, h) for i, h in enumerate(["x", "x", "y", "y"])]
        # url B: changes every fetch -> halving to the 3600 floor
        + [("B", t(i * 100), 10 + i, str(i)) for i in range(8)]
        # url C: never changes -> doubling to the max clamp
        + [("C", t(i * 100), 20 + i, "z") for i in range(8)]
        # url D: single fetch -> base interval untouched
        + [("D", t(0), 30, "q")]
    )
    df = spark.createDataFrame(
        rows, "url string, ts timestamp_ntz, event_id long, h string"
    )
    out = {r["url"]: r for r in recrawl_schedule(
        df, "url", "ts", "h", "event_id",
        base_interval_s=86400, min_interval_s=3600, max_interval_s=2592000,
    ).collect()}
    assert out["A"]["interval_s"] == 172800 and out["A"]["n_changes"] == 1
    assert out["B"]["interval_s"] == 3600 and out["B"]["n_changes"] == 7
    assert out["C"]["interval_s"] == 2592000 and out["C"]["n_changes"] == 0
    assert out["D"]["interval_s"] == 86400 and out["D"]["n_fetches"] == 1
    base_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert out["D"]["next_due_us"] == base_us + 86400 * 1_000_000


def test_passage_dedup_keep_first_semantics(spark):
    """Keep-first passage dedup: the smallest (id, pos) copy survives,
    later copies (cross-doc AND within-doc) are removed, short passages
    are exempt, whitespace/case-normalized matching."""
    import pandas as pd

    from biothings_crawler_spark.operators.text import passage_dedup

    dup = "this passage is duplicated verbatim across documents"
    docs = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2, 3],
        "t": [
            f"{dup}\nunique one\nHEAD",
            f"unique two\n{dup.upper()}\nHEAD",          # case-normalized dup
            f"unique three\n{dup}\n{dup}\nHEAD",         # two more copies
        ],
    }))
    out = {r["id"]: r for r in passage_dedup(docs, "id", "t", min_chars=20).collect()}
    assert out[1]["clean_text"] == f"{dup}\nunique one\nHEAD"   # first copy survives
    assert out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "unique two\nHEAD" and out[2]["n_removed"] == 1
    assert out[3]["clean_text"] == "unique three\nHEAD" and out[3]["n_removed"] == 2
    # 'HEAD' repeats everywhere but is under min_chars -> exempt
    assert all("HEAD" in out[i]["clean_text"] for i in (1, 2, 3))


def test_connected_components_chain(spark):
    """Label propagation finds the min id across a multi-hop chain."""
    import pandas as pd

    from biothings_crawler_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(pd.DataFrame({
        "id_a": [1, 2, 3, 10],
        "id_b": [2, 3, 4, 11],
    }))
    nodes = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3, 4, 10, 11, 99]}))
    out = {r["id"]: r["component"] for r in connected_components(pairs, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_winnow_twins_and_overlap_detection(spark, documents):
    """Pandas winnowing kernel == expression twin byte-for-byte, and
    a planted partial overlap collides on shared fingerprints while
    unrelated docs (mostly) don't."""
    from biothings_crawler_spark.operators.text import winnow_fingerprints

    d = documents.limit(60).select("doc_id", "text")
    a = winnow_fingerprints(d, "doc_id", "text", impl="pandas")
    b = winnow_fingerprints(d, "doc_id", "text", impl="expr")
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    # partial overlap: doc 1_000_000 = second half of doc 0's text +
    # fresh prefix; they must share fingerprints via the common suffix
    rows = [(r["doc_id"], r["text"]) for r in d.limit(2).collect()]
    planted = rows + [(1_000_000, "an entirely new beginning " + rows[0][1][len(rows[0][1]) // 2:])]
    pdf = spark.createDataFrame(planted, "doc_id long, text string")
    fps = winnow_fingerprints(pdf, "doc_id", "text")
    inv = fps.groupBy("fp").agg(F.collect_set("id").alias("ids"))
    both = inv.filter(F.array_contains("ids", 0) & F.array_contains("ids", 1_000_000)).count()
    assert both > 0  # shared-suffix collision found via the inverted index


def test_latest_snapshot_picks_newest_no_window(spark):
    """One row per URL, the newest by (us, tiebreak), payload carried
    through; the plan is a hash aggregate (map-side partials), with no
    Window node anywhere."""
    from biothings_crawler_spark.operators.snapshot import latest_snapshot

    df = spark.createDataFrame(
        [
            ("a", 100, 1, "h1"),
            ("a", 300, 2, "h2"),   # newest for a
            ("a", 300, 1, "h3"),   # same us, lower tiebreak -> loses
            ("b", 50, 9, "h4"),
        ],
        "url string, us long, fid long, content_hash string",
    )
    out = latest_snapshot(df, "url", "us", "fid", payload_cols=("content_hash",))
    got = {r["url"]: (r["fetched_us"], r["content_hash"]) for r in out.collect()}
    assert got == {"a": (300, "h2"), "b": (50, "h4")}
    # aggregation with MAP-SIDE partial max (the exchange carries one
    # row per (url, input partition), not every fetch record), and no
    # Window node anywhere
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window [" not in plan and "partial_max" in plan


# ---------------------------------------------------------------------------
# repetition stats / mixture sampling
# ---------------------------------------------------------------------------


def test_repetition_stats_casualties(spark):
    from biothings_crawler_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "alpha beta\nalpha beta\nalpha beta\ngamma delta"),  # 50% dup lines
            (2, "- one\n- two\nplain line ends...\nanother"),
            (3, "spam spam spam spam spam other"),  # top word 5/6
            (4, "all unique lines\nhere we go\nclean doc"),
        ],
        "id long, text string",
    )
    out = {r["id"]: r for r in repetition_stats(df, "id", "text").collect()}
    assert out[1]["dup_line_frac"] == pytest.approx(0.5)
    assert out[2]["bullet_frac"] == pytest.approx(0.5)
    assert out[2]["ellipsis_frac"] == pytest.approx(0.25)
    assert out[3]["top_word_frac"] == pytest.approx(5 / 6)
    assert out[4]["dup_line_frac"] == 0.0
    assert out[4]["top_word_frac"] < 0.4


def test_mixture_sample_rates_and_determinism(spark):
    from biothings_crawler_spark.operators.sampling import mixture_sample

    df = spark.range(4000).select(
        F.col("id"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("src"),
    )
    out = mixture_sample(df, "id", "src", {"s0": 0.9, "s1": 0.1}, seed="t")
    counts = {r["src"]: r["n"] for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    # 2000 per stratum; binomial bounds are generous
    assert 1650 <= counts["s0"] <= 1950
    assert 120 <= counts["s1"] <= 280
    # identical second run (pure function of (seed, id))
    again = mixture_sample(df, "id", "src", {"s0": 0.9, "s1": 0.1}, seed="t")
    assert sorted(r["id"] for r in out.collect()) == sorted(r["id"] for r in again.collect())
    # default_rate=0 drops strata not in the map
    none = mixture_sample(df, "id", "src", {"s0": 0.5}, seed="t")
    assert none.filter("src = 's1'").count() == 0
    # plan: pure filter, no exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_mixture_sample_drops_null_ids(spark):
    from biothings_crawler_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(1, "s"), (None, "s"), (None, "s")], "id long, src string"
    )
    out = mixture_sample(df, "id", "src", {"s": 1.0}, seed="t")
    # null ids hash to NULL and fail every threshold (matching DuckDB),
    # rather than collapsing onto the single hash md5(seed)
    assert [r["id"] for r in out.collect()] == [1]


def test_mixture_sample_rejects_bad_rate(spark):
    from biothings_crawler_spark.operators.sampling import mixture_sample

    df = spark.range(5).select(F.col("id"), F.lit("s").alias("src"))
    with pytest.raises(ValueError):
        mixture_sample(df, "id", "src", {"s": 1.5})


def test_chunk_documents_boundaries(spark):
    from biothings_crawler_spark.operators.text import chunk_documents

    words40 = " ".join(f"w{i}" for i in range(40))
    words41 = " ".join(f"w{i}" for i in range(41))
    df = spark.createDataFrame(
        [(1, words40), (2, words41), (3, "tiny doc"), (4, None)],
        "id long, text string",
    )
    out = chunk_documents(df, "id", "text", chunk_tokens=24, overlap=8)
    # null text -> zero chunks, not a phantom NULL chunk
    assert out.filter("id = 4").count() == 0
    rows = sorted((r["id"], r["chunk_idx"], r["n_tokens"]) for r in out.collect())
    # 40 words: starts 1,17 -> 24+24 tokens (full coverage, 8-overlap)
    # 41 words: starts 1,17,33 -> last chunk is the 9-token tail
    # 2 words: one chunk of 2
    assert rows == [(1, 0, 24), (1, 1, 24), (2, 0, 24), (2, 1, 24), (2, 2, 9), (3, 0, 2)]
    texts = {(r["id"], r["chunk_idx"]): r["chunk_text"] for r in out.collect()}
    assert texts[(1, 1)].split() == [f"w{i}" for i in range(16, 40)]
    with pytest.raises(ValueError):
        chunk_documents(df, "id", "text", chunk_tokens=8, overlap=8)


def test_dedup_weights_sum_to_cluster_unit(spark):
    from biothings_crawler_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 99]], "id long")
    cc = connected_components(pairs, nodes)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    w = {r["id"]: r["weight_ppm"] for r in cc.join(sizes, "component").select(
        "id", F.expr("1000000 div csize").alias("weight_ppm")).collect()}
    # cluster {1,2,3} -> 333333 each, {10,11} -> 500000, singleton -> 1000000
    assert w[1] == w[2] == w[3] == 333_333
    assert w[10] == w[11] == 500_000
    assert w[99] == 1_000_000


def test_domain_blocklist_drops_low_quality_sources(spark):
    from biothings_crawler_spark.plans.driver_queries import q_domain_blocklist

    out = q_domain_blocklist(spark, "/root/testdata/sf0.01")
    kept_sources = {r["source"] for r in out.select("source").distinct().collect()}
    assert 0 < len(kept_sources) < 20  # some sources blocked, not all
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_sessionize_gap_boundaries(spark):
    from biothings_crawler_spark.operators.sessionize import sessionize
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 100),                                   # u1 s1
        (2, t0 + dt.timedelta(seconds=300), 100),       # u1 s1 (5 min gap)
        (3, t0 + dt.timedelta(seconds=1000), 100),      # u1 s2 (700s > 600)
        (4, t0 + dt.timedelta(seconds=1600.000001), 100),  # u1 s3 (gap 600.000001s)
        (5, t0, 200),                                   # u2 s1
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long"
    )
    out = sessionize(df, "user_id", "ts", "event_id", gap_seconds=600)
    got = {(r["key"], r["session_idx"]): (r["n_events"], r["duration_us"])
           for r in out.collect()}
    assert got[(100, 1)] == (2, 300_000_000)
    assert got[(100, 2)] == (1, 0)
    assert got[(100, 3)] == (1, 0)  # one microsecond over the gap
    assert got[(200, 1)] == (1, 0)


def test_asof_join_semantics(spark):
    from biothings_crawler_spark.operators.temporal import asof_join
    import datetime as dt

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 100, t(5)), (2, 100, t(10)), (3, 100, t(2)), (4, 200, t(30))],
        "event_id long, k long, ts timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(100, t(3), 33), (100, t(10), 77), (200, t(31), 99)],
        "k long, rts timestamp_ntz, val long",
    )
    out = {r["event_id"]: r["val"]
           for r in asof_join(left, right, "k", "ts", "rts", "val").collect()}
    assert out[1] == 33        # latest <= t5 is t3
    assert out[2] == 77        # equal ts counts (<=)
    assert out[3] is None      # before first snapshot
    assert out[4] is None      # right exists only AFTER the event


def test_bucketed_range_join_edges(spark):
    from biothings_crawler_spark.operators.temporal import bucketed_range_join

    points = spark.createDataFrame(
        [(1, 100), (2, 150), (3, 200), (4, 201), (5, 99)], "pid long, tus long"
    )
    iv = spark.createDataFrame([(7, 100, 200)], "window_id long, s long, e long")
    out = bucketed_range_join(points, iv, "tus", "s", "e", bucket_width=30)
    got = sorted(r["pid"] for r in out.collect())
    assert got == [1, 2, 3]  # inclusive both ends; 99 and 201 excluded
    # interval spans buckets 3..6 with width 30 — no duplicate matches
    assert out.count() == 3


def test_sessionize_matches_window_composition(spark):
    """Cross-implementation check: the production sessionize (built-in
    session_window aggregation — the shape that scales under executor
    concurrency) must produce the same sessions as the classic
    lag+running-sum window composition on real event data, INCLUDING
    session_idx. Both keep an exactly-at-gap event in the session
    (session_window splits only at gap strictly greater than the
    duration — the 1-us boundary is pinned by
    test_sessionize_gap_boundaries)."""
    from pyspark.sql import Window
    from biothings_crawler_spark.operators.sessionize import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ours = {
        (r["key"], r["session_idx"], r["n_events"], r["start_us"], r["end_us"])
        for r in sessionize(ev, "user_id", "ts", "event_id", gap_seconds=600).collect()
    }
    us = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w2 = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = 600 * 1_000_000
    composed = {
        (r["user_id"], r["session_idx"], r["n"], r["s"], r["e"])
        for r in (
            ev.select(
                "user_id", us.alias("us"),
                F.when(
                    F.lag(us).over(w).isNull() | (us - F.lag(us).over(w) > gap_us),
                    F.lit(1),
                ).otherwise(F.lit(0)).alias("boundary"),
                F.col("ts"), F.col("event_id"),
            )
            .select("user_id", "us",
                    F.sum("boundary").over(w2).cast("long").alias("session_idx"))
            .groupBy("user_id", "session_idx")
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.min("us").alias("s"), F.max("us").alias("e"))
            .collect()
        )
    }
    assert ours == composed and len(ours) > 100


def test_hypertable_rollup_cascade_equals_direct(spark):
    """Day/month rollups computed FROM the hourly materialization must
    equal aggregating the raw events directly — the continuous-
    aggregate correctness property."""
    from biothings_crawler_spark.plans.driver_queries import q_hypertable_rollup

    out = q_hypertable_rollup(spark, "/root/testdata/sf0.001")
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    direct_day = (
        ev.select(F.date_trunc("day", "ts").alias("b"),
                  F.col("value").cast("decimal(18,6)").alias("v"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
             F.sum("v").cast("double").alias("sum_value"))
        .select(F.date_format("b", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
                "n_events", "sum_value")
    )
    got = {r["bucket"]: (r["n_events"], r["sum_value"])
           for r in out.filter("level = 'day'").collect()}
    want = {r["bucket"]: (r["n_events"], r["sum_value"]) for r in direct_day.collect()}
    assert got == want and len(got) > 1
    # level row counts nest: hours >= days >= months >= 1
    counts = {r["level"]: r["c"] for r in
              out.groupBy("level").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert counts["hour"] >= counts["day"] >= counts["month"] >= 1


def test_hll_distinct_accuracy_and_dup_invariance(spark):
    from biothings_crawler_spark.operators.sketch import hll_distinct

    n = 4000
    vals = spark.range(n).select(F.concat(F.lit("x"), F.col("id").cast("string")).alias("v"))
    est = hll_distinct(vals, "v").collect()[0]["estimate"]
    assert abs(est - n) / n < 0.08, est  # ~1.04/sqrt(256) std error
    # duplicates must not move the estimate at all (max-register sketch)
    dup3 = vals.union(vals).union(vals)
    assert hll_distinct(dup3, "v").collect()[0]["estimate"] == est
    # and the estimate is partitioning-invariant (integer sums commute)
    assert hll_distinct(vals.repartition(17), "v").collect()[0]["estimate"] == est


def test_hll_small_range_linear_counting(spark):
    """Below 2.5m the estimate switches to linear counting via the
    pre-rounded integer LUT — near-exact at low load factors, and
    still deterministic/partitioning-invariant."""
    from biothings_crawler_spark.operators.sketch import hll_distinct

    n = 100
    vals = spark.range(n).select(F.concat(F.lit("s"), F.col("id").cast("string")).alias("v"))
    est = hll_distinct(vals, "v").collect()[0]["estimate"]
    # LC std error ~ sqrt(m*(exp(t)-t-1))/n with t=n/m≈0.39 -> ~3%
    assert abs(est - n) / n < 0.10, est
    assert hll_distinct(vals.repartition(7), "v").collect()[0]["estimate"] == est
    # tiny cardinality: LC is exact when every value lands its own bucket
    few = spark.createDataFrame([("a",), ("b",), ("a",)], "v string")
    assert hll_distinct(few, "v").collect()[0]["estimate"] == 2


def test_lang_id_model_hook_matches_expression(spark):
    """The mapInPandas model hook with the default stand-in predictor
    must agree with the codegen lang_id_col expression row-for-row;
    a custom model_loader is honored and loaded per worker."""
    from biothings_crawler_spark.operators.text import lang_id_col, lang_id_model

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    # plant a NULL text row: both paths must yield 'und' for it
    docs = docs.unionByName(
        spark.createDataFrame([(10**9, None)], "doc_id long, text string")
    )
    both = lang_id_model(docs, "text", out_col="pred").withColumn(
        "expr_lang", lang_id_col(F.col("text"))
    )
    # null-safe comparison — a NULL on either side must count as a diff
    assert both.filter(~F.col("pred").eqNullSafe(F.col("expr_lang"))).count() == 0

    def loader():
        return lambda texts: texts.map(lambda t: "xx")

    got = lang_id_model(docs.limit(5), "text", model_loader=loader).collect()
    assert all(r["lang_pred"] == "xx" for r in got)
    # hook is Arrow-batched, not row-at-a-time Python
    plan = lang_id_model(docs, "text")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_tokenizer_model_hook_matches_expression(spark):
    """The mapInPandas tokenizer hook with the default regex-proxy twin
    must agree with the codegen token_count_col expression row-for-row
    (NULL text included); a custom model_loader is honored and its
    load is memoized in the worker-global cache, not re-run per
    partition."""
    from biothings_crawler_spark.operators import text as T

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
        .unionByName(
            spark.createDataFrame([(10**9, None)], "doc_id long, text string")
        )
    )
    both = T.tokenizer_model(docs, "text", out_col="n_tok").withColumn(
        "expr_tok", T.token_count_col(F.col("text")).cast("long")
    )
    assert both.filter(~F.col("n_tok").eqNullSafe(F.col("expr_tok"))).count() == 0

    def loader():
        return lambda texts: texts.map(lambda t: 7)

    got = T.tokenizer_model(docs.limit(5), "text", model_loader=loader).collect()
    assert all(r["n_tokens"] == 7 for r in got)

    # per-WORKER memoization (not per-partition): a loader that logs
    # each load event must fire once per Python worker process, even
    # when that worker runs many partitions (Spark reuses Python
    # workers by default). 16 partitions on local[4] -> loads == the
    # number of distinct worker pids, strictly fewer than partitions.
    import os
    import tempfile

    log_dir = tempfile.mkdtemp(prefix="tok-loads-")

    def counting_loader():
        with open(os.path.join(log_dir, f"load-{os.getpid()}-{os.urandom(4).hex()}"), "w"):
            pass
        return lambda texts: texts.map(lambda t: 1)

    T.tokenizer_model(
        docs.repartition(16), "text",
        model_loader=counting_loader, model_key="pytest-tok-count",
    ).collect()
    loads = os.listdir(log_dir)
    pids = {name.split("-")[1] for name in loads}
    assert len(loads) == len(pids), "loader re-ran inside a worker (per-partition load)"
    assert len(loads) < 16, "loader fired once per partition, memoization broken"

    plan = T.tokenizer_model(docs, "text")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


# --- C4 quality filter (operators/text.c4_quality_filter) --------------------


def test_c4_filter_hand_case(spark):
    from biothings_crawler_spark.operators.text import c4_quality_filter

    good = "This sentence is long enough to keep."
    docs = spark.createDataFrame(
        [
            # 5 good sentences -> kept page
            (1, "\n".join([good] * 5)),
            # only 4 sentences -> page dropped by the sentence gate
            (2, "\n".join([good] * 4)),
            # casualties: short line, no-punct line, javascript line
            (3, "\n".join([good] * 5 + [
                "too short.",
                "this line has no terminal punctuation",
                "Please enable JavaScript to continue.",
            ])),
            # page-level flags beat a clean body
            (4, "\n".join([good] * 5 + ["lorem ipsum dolor sit amet."])),
            (5, "\n".join([good] * 5 + ["if (x) { return; }"])),
        ],
        "id long, text string",
    )
    out = {r.id: r for r in c4_quality_filter(docs, "id", "text").collect()}
    assert out[1].keep and out[1].n_lines_kept == 5 and out[1].n_sentences == 5
    assert not out[2].keep and out[2].n_sentences == 4
    r3 = out[3]
    assert r3.keep and r3.n_lines_kept == 5  # all three casualties dropped
    assert "javascript" not in r3.clean_text.lower()
    # lorem line SURVIVES the line filter (5 words, '.') but flags the page
    assert not out[4].keep and "lorem ipsum" in out[4].clean_text
    # the '{' line is dropped by the punct rule, yet the page still flags
    assert not out[5].keep and out[5].n_lines_kept == 5


def test_c4_filter_empty_doc_and_plan(spark):
    from biothings_crawler_spark.operators.text import c4_quality_filter

    docs = spark.createDataFrame([(1, "no lines kept here")], "id long, text string")
    r = c4_quality_filter(docs, "id", "text").collect()[0]
    assert r.clean_text == "" and r.n_lines_kept == 0 and not r.keep
    plan = (
        c4_quality_filter(docs, "id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_aimd_host_rates_fold_and_hour_bounding(spark):
    """AIMD rate controller: additive increase on clean hours,
    halving on backpressure hours, clamps both ways; the fold sees
    HOURLY flags, so a thousand-fetch hour contributes exactly one
    fold step (hot-host bounding)."""
    import datetime as dt

    from biothings_crawler_spark.operators.recrawl import aimd_host_rates

    t = lambda h, s=0: dt.datetime(2024, 1, 1) + dt.timedelta(hours=h, seconds=s)
    rows = (
        # host A: hours [clean, backoff, clean] -> 60+12=72, //2=36, +12=48
        [("A", t(0), 200), ("A", t(1), 200), ("A", t(1, 30), 429),
         ("A", t(2), 200)]
        # host B: backpressure every hour -> halving to the floor 6
        + [("B", t(h), 503) for h in range(8)]
        # host C: one hour, 1000 fetches, none bad -> ONE +12 step
        + [("C", t(0, s), 200) for s in range(1000)]
    )
    df = spark.createDataFrame(rows, "host string, ts timestamp_ntz, status int")
    out = {r["host"]: r for r in aimd_host_rates(
        df, "host", "ts", "status",
        base_rate_rph=60, min_rate_rph=6, max_rate_rph=3600, incr_rph=12,
    ).collect()}
    assert out["A"]["rate_rph"] == 48 and out["A"]["n_backoff_hours"] == 1
    assert out["B"]["rate_rph"] == 6 and out["B"]["n_hours"] == 8
    assert out["C"]["rate_rph"] == 72 and out["C"]["n_fetches"] == 1000
    assert out["C"]["n_hours"] == 1


def test_script_mix_dominant_and_homoglyph_flag(spark):
    """Script profile: dominant flips with the majority script, the
    fixed tie-break order holds, no-letter docs report 'none', and a
    homoglyph-salted Latin doc crosses the mixed threshold."""
    from biothings_crawler_spark.operators.text import script_mix

    rows = [
        (1, "plain english text only"),
        (2, "Привет мир это русский текст"),
        (3, "你好世界你好世界"),
        (4, "pаypаl sеcurity"),        # Cyrillic а/е inside Latin words
        (5, "1234 .,!? 5678"),          # no letters at all
        (6, "abcабв"),                  # exact 3/3 tie -> latin wins
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r["id"]: r for r in
           script_mix(df, "id", "text", mixed_ppm=200_000).collect()}
    assert out[1]["dominant_script"] == "latin" and out[1]["is_mixed"] is False
    assert out[2]["dominant_script"] == "cyrillic"
    assert out[3]["dominant_script"] == "cjk" and out[3]["n_cjk"] == 8
    assert out[4]["is_mixed"] is True           # 4 homoglyphs / 13 letters
    assert out[5]["dominant_script"] == "none" and out[5]["mixed_ppm"] == 0
    assert out[6]["dominant_script"] == "latin"  # tie-break order


def test_latency_quantiles_bins_and_bounds(spark):
    """log2 histogram quantiles: conservative upper bounds 2^(b+1)-1,
    values <=0 clamp to bin 0, and the histogram is 64-bin bounded
    (mergeable) no matter the per-host row count."""
    from biothings_crawler_spark.operators.sketch import (
        host_latency_quantiles,
        latency_histogram,
    )

    # host A: 99 fast (v=3 -> bin 1) + 1 slow (v=1000 -> bin 9)
    rows = [("A", 3)] * 99 + [("A", 1000)] + [("B", 0), ("B", -5)]
    df = spark.createDataFrame(rows, "host string, v long")
    out = {r["host"]: r for r in
           host_latency_quantiles(df, "host", "v").collect()}
    a = out["A"]
    assert a["n"] == 100 and a["p50_us"] == 3 and a["p95_us"] == 3
    assert a["p99_us"] == 3          # 99% of 100 = the 99th value, still fast
    b = out["B"]
    assert b["p50_us"] == 1          # clamped bin 0 -> 2^1 - 1
    hist = latency_histogram(df, "host", "v").collect()
    assert len([h for h in hist if h["host"] == "A"]) == 2


def test_containment_pairs_quote_vs_jaccard(spark):
    """Containment flags a full quote even when Jaccard is low: the
    long doc swallows the short one (containment 1e6) while their
    Jaccard is ~1/3; unrelated docs produce no pair; the stop-phrase
    bound keeps a ubiquitous shingle out of the pair domain."""
    import pandas as pd

    from biothings_crawler_spark.operators.dedup import containment_pairs

    short = "the quick brown fox jumps over the lazy sleeping dog tonight"
    long_doc = (
        "completely different opening paragraph about satellite imagery "
        "and ocean currents with many extra words to dilute the union "
        + short
    )
    docs = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2, 3],
        "text": [short, long_doc, "nothing in common here at all whatsoever"],
    }))
    out = {(r["id_a"], r["id_b"]): r for r in containment_pairs(
        docs, "id", "text", k=5, min_shared=2, min_containment_ppm=800_000,
    ).collect()}
    pair = out[(1, 2)]
    assert pair["is_contained"] is True and pair["containment_ppm"] == 1_000_000
    assert not any(3 in k for k in out)
    # symmetric Jaccard for the same pair is well under the flag bar
    n_a, n_b, sh = pair["n_shared"], None, None
    # stop-phrase bound: a shingle on >cap docs creates no pairs alone
    many = spark.createDataFrame(pd.DataFrame({
        "id": list(range(10, 30)),
        "text": ["common stop phrase appears everywhere verbatim"] * 20,
    }))
    assert containment_pairs(many, "id", "text", k=5,
                             max_docs_per_shingle=4).count() == 0


def test_relevance_scores_url_and_anchor_evidence(spark):
    """Focused-crawl scoring: URL tokens count DISTINCT topic terms
    once, each inlink anchor contributes its own hits, weights
    compose, off-topic targets score 0."""
    from biothings_crawler_spark.operators.frontier import relevance_scores

    links = spark.createDataFrame(
        [
            ("https://h/data/research/1", "intro page"),
            ("https://h/data/research/1", "more data here"),
            ("https://h/data/data/2", "research data hub"),
            ("https://h/misc/3", "nothing topical"),
        ],
        "target_url string, anchor_text string",
    )
    out = {r["target_url"]: r for r in
           relevance_scores(links, ["data", "research"]).collect()}
    t1 = out["https://h/data/research/1"]
    assert t1["url_hits"] == 2          # both topic terms in path
    assert t1["anchor_hits"] == 1       # one of two anchors hits once
    assert t1["score"] == 2 * 2 + 1
    t2 = out["https://h/data/data/2"]
    assert t2["url_hits"] == 1          # 'data' twice counts ONCE
    assert t2["anchor_hits"] == 2       # anchor has both terms
    assert out["https://h/misc/3"]["score"] == 0


def test_latency_histogram_mergeability(spark):
    """hist(A) merge hist(B) == hist(A union B), bit-exact — the
    property that makes the 64-bin histogram a sketch."""
    from biothings_crawler_spark.operators.sketch import (
        latency_histogram,
        merge_latency_histograms,
    )

    a = spark.createDataFrame(
        [("h", v) for v in [1, 2, 3, 100, 2000]], "host string, v long")
    b = spark.createDataFrame(
        [("h", v) for v in [3, 5, 900]] + [("g", 7)], "host string, v long")
    merged = {(r["host"], r["bin"]): r["n"] for r in merge_latency_histograms(
        latency_histogram(a, "host", "v"), latency_histogram(b, "host", "v")
    ).collect()}
    direct = {(r["host"], r["bin"]): r["n"] for r in latency_histogram(
        a.unionByName(b), "host", "v").collect()}
    assert merged == direct


def test_quality_weighted_sample_monotone_and_deterministic(spark):
    """Keep probability scales with score: score 1e6 keeps everything
    (base_rate 1), score 0 keeps nothing; two runs are identical."""
    from biothings_crawler_spark.operators.sampling import (
        quality_weighted_sample,
    )

    df = spark.createDataFrame(
        [(i, 1_000_000 if i % 3 == 0 else (0 if i % 3 == 1 else 500_000))
         for i in range(300)],
        "id long, score_ppm long",
    )
    out = quality_weighted_sample(df, "id", "score_ppm")
    kept = {r["id"] for r in out.collect()}
    assert all(i in kept for i in range(0, 300, 3))          # perfect score
    assert not any(i in kept for i in range(1, 300, 3))      # zero score
    mid = [i for i in range(2, 300, 3) if i in kept]
    assert 20 < len(mid) < 80                                # ~half of 100
    assert kept == {r["id"] for r in
                    quality_weighted_sample(df, "id", "score_ppm").collect()}


def test_select_token_budget_boundary_semantics(spark):
    """Quality-first budget selection: full high bands taken, the
    boundary band takes docs in id order until the budget, the
    overflowing doc is excluded, cum_tokens is exact."""
    from biothings_crawler_spark.operators.sampling import select_token_budget

    rows = [
        (1, 100, 900_000), (2, 100, 900_000),        # top band: 200 tokens
        (10, 60, 500_000), (11, 60, 500_000), (12, 60, 500_000),  # boundary
        (20, 100, 100_000),                          # below: never taken
    ]
    df = spark.createDataFrame(rows, "id long, tokens long, score_ppm long")
    out = {r["id"]: r["cum_tokens"]
           for r in select_token_budget(df, "id", "tokens", "score_ppm",
                                        budget_tokens=330).collect()}
    # 200 (band 9e5) + 60 + 60 = 320 <= 330; doc 12 would hit 380 -> out
    assert out == {1: 100, 2: 200, 10: 260, 11: 320}
    # budget bigger than the corpus: everything selected
    n = select_token_budget(df, "id", "tokens", "score_ppm", 10_000).count()
    assert n == 6


def test_incremental_neardup_scales_with_increment(spark):
    """Incremental near-dup: an increment doc near-identical to a
    corpus doc is flagged against the STORED index (old text never
    re-read), increment-internal dups resolve to the smaller id, and
    only survivors extend the index."""
    import pandas as pd

    from biothings_crawler_spark.operators.dedup import (
        incremental_neardup,
        minhash_index,
    )

    base_text = ("the quick brown fox jumps over the lazy dog while the "
                 "sun sets slowly behind the ancient mountain range")
    corpus = spark.createDataFrame(pd.DataFrame({
        "id": [1, 2],
        "text": [base_text, "completely unrelated content about databases"],
    }))
    index = minhash_index(corpus, "id", "text")
    inc = spark.createDataFrame(pd.DataFrame({
        "id": [10, 11, 12],
        "text": [base_text + " tonight",                    # near-dup of 1
                 "fresh unique text about orbital mechanics and satellites",
                 "fresh unique text about orbital mechanics and satellites"],
    }))                                                     # 12 dups 11
    pairs, updated = incremental_neardup(inc, index, "id", "text",
                                         min_est_ppm=500_000)
    got = {r["new_id"]: r["dup_of"] for r in pairs.collect()}
    assert got == {10: 1, 12: 11}
    ids = {r["id"] for r in updated.select("id").distinct().collect()}
    assert ids == {1, 2, 11}                                # survivors only
    est = {r["new_id"]: r["est_jaccard_ppm"] for r in pairs.collect()}
    assert est[12] == 1_000_000                             # exact dup


def test_corpus_layout_partition_pruning(spark, tmp_path):
    """The (lang, quality_band) layout prunes at the DIRECTORY level:
    the slice read shows the predicates in PartitionFilters and reads
    only matching files; banding keeps partition cardinality coarse."""
    from biothings_crawler_spark.layout import read_slice, write_corpus

    df = spark.createDataFrame(
        [(i, ["en", "de", "fr"][i % 3], (i % 10) * 100_000,
          f"document body {i}") for i in range(300)],
        "id long, lang string, score_ppm long, text string",
    )
    path = str(tmp_path / "corpus")
    write_corpus(df, path)
    sl = read_slice(spark, path, lang="en", min_band=5)
    rows = sl.collect()
    assert len(rows) == 50 and all(r["lang"] == "en" for r in rows)
    assert all(r["quality_band"] >= 5 for r in rows)
    plan = sl._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "isnotnull(lang" in plan  # predicates reached the scan
    # the full-table read sees 3 langs x 10 bands = 30 directories
    import os
    langs = [d for d in os.listdir(path) if d.startswith("lang=")]
    assert sorted(langs) == ["lang=de", "lang=en", "lang=fr"]


def test_trim_repeated_lines_keeps_first_in_order(spark):
    from biothings_crawler_spark.operators.text import trim_repeated_lines

    df = spark.createDataFrame(
        [(1, "a\nb\na\nc\nb\na"), (2, "x")], "doc_id long, text string")
    out = {r.doc_id: r for r in trim_repeated_lines(df).collect()}
    assert out[1].text_trimmed == "a\nb\nc"
    assert out[1].n_lines == 6 and out[1].n_kept == 3
    assert out[1].chars_saved == len("a\nb\na\nc\nb\na") - len("a\nb\nc")
    assert out[2].text_trimmed == "x" and out[2].chars_saved == 0
    plan = trim_repeated_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_jaccard_join_exact_vs_bruteforce(spark):
    from itertools import combinations

    from biothings_crawler_spark.operators.dedup import jaccard_join

    vocab = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(40):
        ws = [vocab[(i * 7 + j * 3) % 30] for j in range(8 + i % 5)]
        rows.append((i, " ".join(ws)))
    rows.append((100, rows[3][1] + " extra"))  # planted near-dup of doc 3
    d = spark.createDataFrame(rows, "doc_id long, text string")

    got = {(r.x, r.y): (r.inter, r.union_sz)
           for r in jaccard_join(d, "doc_id", "text", 800_000).collect()}

    sets = {i: set(t.lower().split()) for i, t in rows}
    want = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if inter * 1_000_000 >= 800_000 * uni:
            want[(a, b)] = (inter, uni)
    assert got == want
    assert (3, 100) in got  # the planted twin survived the prefix filter


def test_priority_sample_contract(spark):
    from biothings_crawler_spark.operators.sampling import (
        hash_u60_col,
        priority_sample,
    )

    df = spark.createDataFrame(
        [(i, 1 + (i % 7) * 100) for i in range(200)], "id long, w long")
    got = priority_sample(df, "id", "w", k=20, seed="t").collect()
    assert len(got) == 20
    # replay in python: priority = w * 2^30 // ((u60 >> 30) + 1)
    us = {r["id"]: r["u"] for r in df.select(
        "id", hash_u60_col(F.col("id"), "t").alias("u")).collect()}
    pri = sorted(
        ((1 + (i % 7) * 100) * (1 << 30) // ((us[i] >> 30) + 1), -i)
        for i in range(200))[::-1]
    want_top = [( -i, p) for p, i in pri[:20]]
    assert sorted((r["id"], r["priority"]) for r in got) == sorted(want_top)
    tau = pri[20][0]
    for r in got:
        assert r["priority"] >= tau
        assert r["est_w_ppm"] == max(r["w_ppm"], tau)
    # every priority dominates its own weight (u <= 1 never shrinks)
    assert all(r["priority"] >= r["w_ppm"] for r in got)


def test_priority_sample_small_input_keeps_all(spark):
    from biothings_crawler_spark.operators.sampling import priority_sample

    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, w long")
    got = {r["id"]: r for r in priority_sample(
        df, "id", "w", k=5, seed="t").collect()}
    assert set(got) == {1, 2}
    # tau = 0 when the population fits: estimates are the raw weights
    assert got[1]["est_w_ppm"] == 10 and got[2]["est_w_ppm"] == 20


def test_cusum_drift_matches_sequential_recurrence(spark):
    from biothings_crawler_spark.operators.temporal import cusum_drift

    # hand recurrence: s_t = max(0, s_{t-1} + x_t - k), k=5, h=6
    xs = [3, 9, 9, 1, 0, 8, 9, 9]
    rows = [("h", i, i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "host string, ts long, eid long, v long")
    got = {
        r["ts"]: (r["stat"], r["alarm"])
        for r in cusum_drift(df, "host", "ts", "eid", "v", k=5, h=6).collect()
    }
    s, want = 0, {}
    for i, x in enumerate(xs):
        s = max(0, s + x - 5)
        want[i] = (s, s >= 6)
    assert got == want


def test_cusum_drift_keys_independent_and_tie_deterministic(spark):
    from biothings_crawler_spark.operators.temporal import cusum_drift

    # same ts twice on one key: order falls back to eid; two keys
    # never share state
    rows = [("a", 0, 0, 10), ("a", 0, 1, 0), ("b", 0, 0, 2)]
    df = spark.createDataFrame(rows, "host string, ts long, eid long, v long")
    got = {
        (r["host"], r["eid"]): r["stat"]
        for r in cusum_drift(df, "host", "ts", "eid", "v", k=3, h=100).collect()
    }
    assert got == {("a", 0): 7, ("a", 1): 4, ("b", 0): 0}


def test_trending_terms_hand_computed(spark):
    from biothings_crawler_spark.operators.text import trending_terms

    # old snapshot: "a a b"; new snapshot: "a b b b"
    # totals: tot_old=3, tot_new=4, vocab=2
    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a b b b")], "snap long, text string"
    )
    got = {r["term"]: (r["c_old"], r["c_new"], r["score_ppm"])
           for r in trending_terms(df, "snap", "text", min_count=1).collect()}
    # a: t1=(1+1)*1e6//3=666666, t2=5*1e6//6=833333 -> 555554
    # b: t1=4*1e6//2=2000000, t2=833333 -> 1666666
    assert got["a"] == (2, 1, 555_554)
    assert got["b"] == (1, 3, 1_666_666)


def test_trending_terms_min_count_band(spark):
    from biothings_crawler_spark.operators.text import trending_terms

    df = spark.createDataFrame(
        [(0, "x x x rare"), (1, "x x x")], "snap long, text string"
    )
    got = {r["term"] for r in
           trending_terms(df, "snap", "text", min_count=2).collect()}
    assert got == {"x"}


def test_readability_hand_computed(spark):
    from biothings_crawler_spark.operators.text import readability_scores

    df = spark.createDataFrame(
        [(1, "The cat sat. It ran!"),
         (2, "xyz"),
         (3, "beautiful education")],
        "doc_id long, text string",
    )
    got = {r["id"]: (r["n_words"], r["n_sentences"], r["n_syllables"],
                     r["flesch_milli"], r["fk_grade_milli"])
           for r in readability_scores(df, "doc_id", "text").collect()}
    # W=5 S=2 Y=5: 206835 - 1015*5//2 - 84600 = 119698; fk = 975+11800-15590
    assert got[1] == (5, 2, 5, 119_698, -2_815)
    # vowel-less word still counts 1 syllable; zero sentence marks -> S=1
    assert got[2] == (1, 1, 1, 121_220, -3_400)
    # beau-ti-ful=3 runs, e-du-ca-tio-n=4 runs
    assert got[3] == (2, 1, 7, -91_295, 26_490)


def test_readability_plan_is_pure_projection(spark):
    from biothings_crawler_spark.operators.text import readability_scores

    df = spark.createDataFrame([(1, "a b c.")], "doc_id long, text string")
    plan = readability_scores(df, "doc_id", "text")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_slo_burn_hand_computed(spark):
    from datetime import datetime
    from biothings_crawler_spark.operators.slo import slo_burn_alerts

    rows = [(1, datetime.utcfromtimestamp(t), err) for t, err in
            [(5, True), (7, False), (15, True), (35, False)]]
    df = spark.createDataFrame(rows, "svc long, ts timestamp, is_err boolean")
    got = {r["bucket"]: (r["errors"], r["total"], r["burn_short_milli"],
                         r["errors_long"], r["total_long"],
                         r["burn_long_milli"], r["alert"])
           for r in slo_burn_alerts(
               df, "ts", "is_err", "svc",
               short_secs=10, long_buckets=2,
               slo_ppm=500_000, thr_milli=1000).collect()}
    # bucket 0: 1/2 errors -> burn 1000 both windows -> alert
    assert got[0] == (1, 2, 1000, 1, 2, 1000, True)
    # bucket 1: short 1/1 -> 2000; long (b0+b1) 2/3 -> floor chain 1333
    assert got[1] == (1, 1, 2000, 2, 3, 1333, True)
    # bucket 3: trailing RANGE covers buckets 2-3 only -> excludes b1
    assert got[3] == (0, 1, 0, 0, 1, 0, False)


def test_slo_burn_window_partitioned_by_key(spark):
    from datetime import datetime
    from biothings_crawler_spark.operators.slo import slo_burn_alerts

    df = spark.createDataFrame(
        [(1, datetime.utcfromtimestamp(5), True)],
        "svc long, ts timestamp, is_err boolean")
    qe = slo_burn_alerts(df, "ts", "is_err", "svc")._jdf.queryExecution()
    assert "BatchEvalPython" not in qe.executedPlan().toString()
    opt = qe.optimizedPlan().toString()
    # the rolling-long window is partitioned by key (no global sort)
    # and uses a RANGE frame (time-gap-correct trailing window)
    assert "windowspecdefinition(key#" in opt
    assert "RangeFrame" in opt


def test_ucb_recrawl_hand_computed(spark):
    from biothings_crawler_spark.operators.bandit import ucb_recrawl

    df = spark.createDataFrame(
        [(1, True), (1, True), (1, False), (2, False)],
        "host long, changed boolean")
    rows = ucb_recrawl(df, "host", "changed", budget=2).collect()
    # N=4 pulls -> log2N=2.  arm2: mean 0, x=4e12, isqrt exact 2_000_000.
    # arm1: mean 666666, x=2*2e12//3=1333333333333, isqrt=1154700.
    assert [(r["arm"], r["pulls"], r["wins"], r["mean_ppm"],
             r["bonus_ppm"], r["score_ppm"]) for r in rows] == [
        (2, 1, 0, 0, 2_000_000, 2_000_000),
        (1, 3, 2, 666_666, 1_154_700, 1_821_366),
    ]


def test_ucb_recrawl_plan_take_ordered(spark):
    from biothings_crawler_spark.operators.bandit import ucb_recrawl

    df = spark.createDataFrame([(1, True)], "host long, changed boolean")
    plan = ucb_recrawl(df, "host", "changed")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "TakeOrdered" in plan           # top-k, never a global sort
    assert "BatchEvalPython" not in plan


def test_hilbert_key_spark_matches_python_twin(spark):
    from biothings_crawler_spark.layout import hilbert_key_col, hilbert_key_py
    from pyspark.sql import functions as F

    grid = [(x, y) for x in range(0, 300, 37) for y in range(0, 70000, 7919)]
    df = spark.createDataFrame(grid, "a long, b long")
    got = {(r["a"], r["b"]): r["h"] for r in df.select(
        "a", "b", hilbert_key_col(F.col("a"), F.col("b")).alias("h")
    ).collect()}
    for a, b in grid:
        assert got[(a, b)] == hilbert_key_py(a, b), (a, b)


def test_hilbert_key_plan_no_exchange_no_udf(spark):
    from biothings_crawler_spark.layout import hilbert_key_col
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    plan = df.select(hilbert_key_col(F.col("a"), F.col("b")).alias("h")
                     )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_hilbert_twin_bijective_and_unit_step():
    from biothings_crawler_spark.layout import hilbert_key_py

    seen = {}
    for x in range(16):
        for y in range(16):
            seen[hilbert_key_py(x, y, 4)] = (x, y)
    assert sorted(seen) == list(range(256))
    for d in range(255):
        (x0, y0), (x1, y1) = seen[d], seen[d + 1]
        # the Hilbert guarantee Morton lacks: consecutive keys are
        # Manhattan neighbours, so a key range is one connected blob
        assert abs(x0 - x1) + abs(y0 - y1) == 1


def test_passage_dedup_huge_ids_and_million_passage_doc(spark):
    """Winner selection is exact min(struct(id, pos)) — no bit-packed
    `id * 2^20 + pos` encoding.  The packed form overflows int64 for
    ids >= 2^43 and bleeds pos into id bits past 2^20 passages; both
    cases must pick the true lexicographic-first copy."""
    import pandas as pd

    from biothings_crawler_spark.operators.text import passage_dedup

    dup = "this passage is duplicated verbatim across documents"
    # ids >= 2^43: packed winner key (id * 2^20) would overflow int64
    big = spark.createDataFrame(pd.DataFrame({
        "id": [2**50 + 1, 2**43 + 7],
        "t": [f"{dup}\nbig unique line one", f"{dup}\nbig unique line two"],
    }))
    out = {r["id"]: r for r in
           passage_dedup(big, "id", "t", min_chars=20).collect()}
    assert out[2**43 + 7]["n_removed"] == 0      # smaller id wins
    assert out[2**50 + 1]["n_removed"] == 1
    assert dup in out[2**43 + 7]["clean_text"]
    assert dup not in out[2**50 + 1]["clean_text"]

    # >2^20 passages in one doc: packed pos would overflow into the id
    # field, making (0, 2^20+3) rank AFTER (1, 0) — the true winner is
    # doc 0 (smaller id) even though its copy sits past position 2^20.
    n = 2**20 + 3
    doc0 = "\n".join(f"unique filler line number {i} aaaa" for i in range(n))
    doc0 += "\n" + dup
    docs = spark.createDataFrame(pd.DataFrame({
        "id": [0, 1],
        "t": [doc0, f"{dup}\nsecond doc unique line"],
    }))
    out = {r["id"]: r for r in
           passage_dedup(docs, "id", "t", min_chars=20).collect()}
    assert out[0]["n_removed"] == 0 and out[0]["n_kept"] == n + 1
    assert out[1]["n_removed"] == 1
    assert dup not in out[1]["clean_text"]


def test_sessionize_fold_matches_sessionize_and_has_no_sort(spark):
    """The hash-agg-only sessionizer must (a) reproduce sessionize
    exactly on real event data — every column, session_idx included —
    and (b) compile to a plan with ZERO SortExec / WindowExec (the
    operator family that degrades under 4-way executor concurrency on
    this host class; that absence is its reason to exist)."""
    import re

    from biothings_crawler_spark.operators.sessionize import (
        sessionize,
        sessionize_fold,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    cols = ("key", "session_idx", "n_events", "start_us", "end_us",
            "duration_us")
    a = {tuple(r[c] for c in cols)
         for r in sessionize(ev, "user_id", "ts", "event_id",
                             gap_seconds=600).collect()}
    fold = sessionize_fold(ev, "user_id", "ts", "event_id", gap_seconds=600)
    b = {tuple(r[c] for c in cols) for r in fold.collect()}
    assert a == b and len(a) > 100
    plan = fold._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"\bSort\b", plan)      # no partition sort
    assert "Window" not in plan                  # no WindowExec
    assert "BatchEvalPython" not in plan


def test_sessionize_fold_gap_boundaries(spark):
    """Same 1-microsecond boundary contract as sessionize: an event
    exactly at the gap stays in the session; one microsecond over
    starts a new one.  Also pins single-event keys (starts=[0] path)."""
    import datetime as dt

    from biothings_crawler_spark.operators.sessionize import sessionize_fold

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 100),
        (2, t0 + dt.timedelta(seconds=300), 100),
        (3, t0 + dt.timedelta(seconds=1000), 100),
        (4, t0 + dt.timedelta(seconds=1600.000001), 100),
        (5, t0, 200),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long"
    )
    out = sessionize_fold(df, "user_id", "ts", "event_id", gap_seconds=600)
    got = {(r["key"], r["session_idx"]): (r["n_events"], r["duration_us"])
           for r in out.collect()}
    assert got[(100, 1)] == (2, 300_000_000)
    assert got[(100, 2)] == (1, 0)
    assert got[(100, 3)] == (1, 0)  # one microsecond over the gap
    assert got[(200, 1)] == (1, 0)


def test_sessionize_fold_null_timestamps_match_session_window(spark):
    """NULL timestamps: skipped within a key (like session_window's
    NULL-row drop); a key with ONLY NULL timestamps yields no rows in
    either implementation."""
    import datetime as dt

    from biothings_crawler_spark.operators.sessionize import (
        sessionize,
        sessionize_fold,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, t0, 100), (2, None, 100), (3, t0, 100),
            (4, None, 200), (5, None, 200)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long"
    )
    cols = ("key", "session_idx", "n_events", "start_us", "end_us")
    a = {tuple(r[c] for c in cols)
         for r in sessionize(df, "user_id", "ts", "event_id").collect()}
    b = {tuple(r[c] for c in cols)
         for r in sessionize_fold(df, "user_id", "ts", "event_id").collect()}
    assert a == b
    assert {k for k, *_ in b} == {100}  # all-NULL key 200 absent


def test_sessionize_fold_property_random_events(spark):
    """Property check: on random event sets (duplicate timestamps,
    single-event keys, runs exactly at/over the gap), sessionize and
    sessionize_fold produce identical session tables.  Driven by
    hypothesis over the TIMESTAMP STRUCTURE (offsets around multiples
    of the gap) where the boundary semantics live."""
    import datetime as dt

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from biothings_crawler_spark.operators.sessionize import (
        sessionize,
        sessionize_fold,
    )

    t0 = dt.datetime(2024, 1, 1)
    cols = ("key", "session_idx", "n_events", "start_us", "end_us",
            "duration_us")

    @settings(max_examples=12, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    @given(st.lists(
        st.tuples(st.integers(0, 3),                  # key
                  st.integers(0, 8),                  # gap multiples
                  st.sampled_from([-1, 0, 1, 300])),  # offset at boundary
        min_size=1, max_size=30))
    def check(evs):
        rows = [
            (i, t0 + dt.timedelta(seconds=600 * m + o), k)
            for i, (k, m, o) in enumerate(evs)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp_ntz, user_id long")
        a = {tuple(r[c] for c in cols)
             for r in sessionize(df, "user_id", "ts", "event_id").collect()}
        b = {tuple(r[c] for c in cols)
             for r in sessionize_fold(df, "user_id", "ts",
                                      "event_id").collect()}
        assert a == b

    check()


def test_event_transitions_census(spark):
    import datetime as dt

    from biothings_crawler_spark.operators.sessionize import (
        event_transitions,
    )

    t0 = dt.datetime(2024, 1, 1)

    def ev(i, user, kind, sec):
        return (i, user, kind, t0 + dt.timedelta(seconds=sec))

    rows = [
        # user 1: a->b, b->a, a->b (within session)
        ev(1, 1, "a", 0), ev(2, 1, "b", 10), ev(3, 1, "a", 20),
        ev(4, 1, "b", 30),
        # session break: >30min gap, transition b->c must NOT count
        ev(5, 1, "c", 30 + 1801),
        # user 2: c->c self loop (trap shape)
        ev(6, 2, "c", 0), ev(7, 2, "c", 5),
        # tie-break: same ts ordering falls back to event_id
        ev(8, 3, "a", 0), ev(9, 3, "c", 0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp")
    got = {(r["src"], r["dst"]): r
           for r in event_transitions(df).collect()}
    assert got[("a", "b")]["n"] == 2
    assert got[("b", "a")]["n"] == 1
    assert ("b", "c") not in got          # session boundary respected
    assert got[("c", "c")]["n"] == 1      # self-loop trap shape
    assert got[("a", "c")]["n"] == 1      # event_id tie-break
    # share: a has 3 outgoing (2x a->b, 1x a->c)
    assert got[("a", "b")]["share_ppm"] == 666_666
    assert got[("a", "b")]["rank"] == 1
    assert got[("a", "c")]["rank"] == 2


def test_minhash_sigs_udf_matches_expression_folds(spark):
    """The numpy signature kernel (minhash_sigs_udf) must reproduce the
    md5-hash + affine-min expression chain bit for bit — including the
    empty-shingle fold identity (P) and NULL passthrough."""
    from pyspark.sql import functions as F

    from biothings_crawler_spark.operators.dedup import (
        MINHASH_P,
        minhash_perm_col,
        minhash_sigs_udf,
        shingle_hash_col,
        shingles_col,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.select(
        "doc_id", shingles_col(F.col("text"), 3).alias("sh")
    ).localCheckpoint(eager=True)
    old = base.select(
        "doc_id",
        F.array(*[minhash_perm_col(shingle_hash_col(F.col("sh")), j)
                  for j in range(16)]).alias("sigs"),
    )
    new = base.select(
        "doc_id", minhash_sigs_udf(16)(F.col("sh")).alias("sigs"))
    assert (
        old.alias("o").join(new.alias("n"), "doc_id")
        .filter("o.sigs <> n.sigs").count() == 0
    )
    edge = spark.createDataFrame(
        [(1, []), (2, None)], "id long, sh array<string>"
    ).localCheckpoint(eager=True)
    got = {r["id"]: r["s"] for r in
           edge.select("id", minhash_sigs_udf(4)(F.col("sh")).alias("s"))
           .collect()}
    assert got[1] == [MINHASH_P] * 4 and got[2] is None
