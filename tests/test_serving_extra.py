

def test_calibration_perfectly_calibrated_bin(spark):
    from biothings_crawler_spark.operators.serving import calibration_report

    # 4 rows at score 500000, half positive -> gap 0; ECE 0
    rows = [(500_000, 1), (500_000, 0), (500_000, 1), (500_000, 0)]
    df = spark.createDataFrame(rows, "score_ppm long, label long")
    got = {r.bin: r for r in calibration_report(df).collect()}
    # 500000*10 div 1000001 = 4: exact mid-score lands in bin 4
    assert got[4].n == 4 and got[4].gap_ppm == 0
    assert got[4].mean_score_ppm == 500_000 and got[4].emp_ppm == 500_000
    assert got[-1].gap_ppm == 0 and got[-1].n == 4


def test_calibration_overconfident_gap_and_weighted_ece(spark):
    from biothings_crawler_spark.operators.serving import calibration_report

    # bin 8: score 900000 (900000*10 div 1000001), 0/2 positive ->
    # gap 900000 over 2 rows; bin 0: score 100000, 1/1 -> gap 900000
    rows = [(900_000, 0), (900_000, 0), (100_000, 1)]
    df = spark.createDataFrame(rows, "score_ppm long, label long")
    got = {r.bin: r for r in calibration_report(df).collect()}
    assert got[8].gap_ppm == 900_000
    assert got[0].gap_ppm == 900_000
    assert got[-1].gap_ppm == (2 * 900_000 + 1 * 900_000) // 3


def test_calibration_bin_edges(spark):
    from biothings_crawler_spark.operators.serving import calibration_report

    # 10^6 lands in the top bin (div 1000001 keeps it at 9), 0 in bin 0
    df = spark.createDataFrame([(0, 0), (1_000_000, 1)],
                               "score_ppm long, label long")
    got = {r.bin: r.n for r in calibration_report(df).collect()}
    assert got[0] == 1 and got[9] == 1


def test_query_parse_clauses(spark):
    from biothings_crawler_spark.operators.serving import parse_queries

    df = spark.createDataFrame(
        [(1, 'Data host:Ex.org -lang:de "New York times" -bad foo:bar')],
        "query_id long, q string")
    got = [(r.clause_idx, r.field, r.term, r.negated, r.is_phrase)
           for r in parse_queries(df).orderBy("clause_idx").collect()]
    assert got == [
        (0, "text", "data", 0, 0),
        (1, "host", "ex.org", 0, 0),
        (2, "lang", "de", 1, 0),
        (3, "text", "new york times", 0, 1),   # phrase keeps spaces
        (4, "text", "bad", 1, 0),
        (5, "text", "foo:bar", 0, 0),          # unknown prefix -> text
    ]


def test_query_parse_fielded_phrase_and_empty(spark):
    from biothings_crawler_spark.operators.serving import parse_queries

    df = spark.createDataFrame(
        [(1, 'title:"big data" ""'), (2, "   ")],
        "query_id long, q string")
    got = [(r.query_id, r.field, r.term, r.is_phrase)
           for r in parse_queries(df).orderBy("query_id",
                                              "clause_idx").collect()]
    # the empty phrase clause drops; the blank query yields nothing
    assert got == [(1, "title", "big data", 1)]


def test_word_segment_tiebreak_and_unsegmentable(spark):
    from biothings_crawler_spark.operators.serving import segment_words

    vocab = spark.createDataFrame(
        [("new", 10), ("york", 10), ("times", 10), ("newyork", 3),
         ("a", 100), ("ab", 5), ("b", 100)],
        "term string, freq long")
    qs = spark.createDataFrame(
        [(1, "newyorktimes"),   # 2 words (newyork+times) beats 3
         (2, "ab"),             # 1 word 'ab' beats 'a'+'b'
         (3, "zzz"),            # unsegmentable
         (4, "NewYorkTimes"),   # case-folded
         (5, "")],
        "query_id long, q string")
    got = {r.query_id: (r.segmented, r.n_words)
           for r in segment_words(qs, vocab).collect()}
    assert got[1] == ("newyork times", 2)
    assert got[2] == ("ab", 1)
    assert got[3] == (None, 0)
    assert got[4] == ("newyork times", 2)
    assert got[5] == (None, 0)


def test_word_segment_frequency_then_lexicographic(spark):
    from biothings_crawler_spark.operators.serving import segment_words

    # 'abc' = 'ab'+'c' or 'a'+'bc': both 2 words; freq decides
    vocab = spark.createDataFrame(
        [("ab", 9), ("c", 1), ("a", 3), ("bc", 5)],
        "term string, freq long")
    qs = spark.createDataFrame([(1, "abc")], "query_id long, q string")
    got = segment_words(qs, vocab).collect()[0]
    assert got.segmented == "ab c"       # 9+1 > 3+5
    # exact tie on count AND freq -> smallest joined string
    vocab2 = spark.createDataFrame(
        [("ab", 5), ("c", 5), ("a", 5), ("bc", 5)],
        "term string, freq long")
    got2 = segment_words(qs, vocab2).collect()[0]
    assert got2.segmented == "a bc"      # 'a bc' < 'ab c'


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
