"""Query-serving operators: positional phrase matching, query-dependent
snippet extraction, rank fusion, query parsing and ranker evaluation (the
reference serves ES dis_max + highlight-style hits through
crawler/web/handlers.py; this module adds the classic serving primitives
the same index would power, Spark-first).

Scale shapes:

- ``positional_postings`` is one posexplode + nothing else: the
  positional index is (term, id, pos) ROWS, never a per-term array —
  a stop word is many rows sharded across reducers.
- ``phrase_topk`` resolves an n-term phrase as (n-1) equi-joins on the
  composite key (id, first_pos) over per-term posting slivers: each
  join side is one term's postings (a filter pushed into the scan /
  index probe), so the shuffled volume is the df of the phrase's
  terms, not the corpus.  The final top-k is TakeOrderedAndProject.
- ``snippet_windows`` is a pure row-local projection (zero Exchange):
  per-doc best-window search costs O(len * width) array ops with a
  bounded constant width — honest and embarrassingly parallel; the
  prefix-sum O(len) variant buys nothing until width is large.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from biothings_crawler_spark.operators.text import words_col


def positional_postings(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(term, id, pos) rows with pos 1-based in word order — the
    positional index representation at scale (rows, not arrays)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(words_col(F.col(text_col))).alias("pos0", "term"),
    ).select("id", "term", (F.col("pos0") + 1).cast("long").alias("pos"))


def phrase_matches(postings: DataFrame, phrase: list[str]) -> DataFrame:
    """(id, pos) of every occurrence of the exact phrase, resolved by
    chained adjacency joins over the positional index: occurrence at
    pos means phrase[i] sits at pos+i for every i."""
    if not phrase:
        raise ValueError("phrase must have at least one term")
    cur = postings.filter(F.col("term") == phrase[0]).select("id", "pos")
    for i, t in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("term") == t).select(
            F.col("id").alias("_nid"), (F.col("pos") - i).alias("_npos")
        )
        cur = cur.join(
            nxt,
            (F.col("id") == F.col("_nid")) & (F.col("pos") == F.col("_npos")),
        ).select("id", "pos")
    return cur


def phrase_topk(
    df: DataFrame, id_col: str, text_col: str, phrase: list[str], k: int = 20
) -> DataFrame:
    """Top-k documents by exact-phrase frequency: (id, phrase_tf),
    ties broken by id ascending."""
    hits = phrase_matches(positional_postings(df, id_col, text_col), phrase)
    counts = hits.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("phrase_tf"))
    return counts.orderBy(F.desc("phrase_tf"), "id").limit(k)


def _terms_lit(terms: list[str]) -> Column:
    return F.array(*[F.lit(t) for t in terms])


def snippet_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    width: int = 8,
) -> DataFrame:
    """Best fixed-width snippet per matching document: the ``width``-word
    window with the most query-term hits, earliest window on ties.
    Returns (id, start, hits, snippet); documents with zero hits are
    dropped.  Row-local throughout — no shuffle, no UDF."""
    terms = _terms_lit(query_terms)
    n = F.size("words")
    starts = F.sequence(
        F.lit(1), F.when(n > width, n - width + 1).otherwise(F.lit(1))
    )
    window_score = F.transform(
        starts,
        lambda s: F.struct(
            F.size(
                F.filter(
                    F.sequence(s, F.least(s + width - 1, n)),
                    lambda j: F.array_contains(terms, F.element_at("words", j)),
                )
            ).alias("hits"),
            (-s).alias("neg_start"),
        ),
    )
    best = F.array_max(window_score)
    return (
        df.select(F.col(id_col).alias("id"), words_col(F.col(text_col)).alias("words"))
        .withColumn("best", best)
        .filter(F.col("best.hits") > 0)
        .select(
            "id",
            (-F.col("best.neg_start")).cast("long").alias("start"),
            F.col("best.hits").cast("long").alias("hits"),
            F.array_join(
                F.slice("words", -F.col("best.neg_start"), F.lit(width)), " "
            ).alias("snippet"),
        )
    )


def rrf_fuse(rankings, k_const: int = 60) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    — the standard hybrid-search merge: given N (id, rank) lists from
    heterogeneous retrievers (integer BM25, ANN cosine, ...), score
    each id Σ_lists 10^6 div (k + rank). Rank-based, so incomparable
    score scales fuse safely; k=60 is the paper's constant. Exact
    integers — the fused ORDER is oracle-verifiable like everything
    else here.

    Output: (id, n_lists, rrf_ppm). Each input list is top-k sized by
    construction (a TakeOrdered result), so the union + hash agg is
    driver-light and broadcastable downstream."""
    from pyspark.sql import functions as F

    parts = [
        r.select(F.col(r.columns[0]).alias("id"),
                 F.col("rank").cast("long").alias("rank"))
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return (
        u.groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lists"),
            F.sum(F.expr(f"1000000 div ({k_const} + rank)"))
            .cast("long").alias("rrf_ppm"),
        )
    )


def rank_correlation(a: DataFrame, b: DataFrame) -> DataFrame:
    """Exact Kendall tau-a between two top-k rankings, in ppm: over
    the ids PRESENT IN BOTH lists, tau = (concordant - discordant)
    pairs * 10^6 div (m*(m-1)/2). The retrieval-eval primitive for
    comparing rankers (BM25 vs ANN vs fused) and for change detection
    between index builds — the sibling of q_retrieval_metrics' nDCG.

    Inputs: (id, rank) frames. The pair enumeration is a self-join of
    the JOINED top-k list with itself (m <= k rows by construction —
    this is a serving-side diagnostic over TakeOrdered results, never
    a corpus op; the m^2 is bounded by k^2). One row out:
    (n_common, n_pairs, tau_ppm)."""
    from pyspark.sql import functions as F

    j = (
        a.select(F.col(a.columns[0]).alias("id"),
                 F.col("rank").cast("long").alias("ra"))
        .join(b.select(F.col(b.columns[0]).alias("id"),
                       F.col("rank").cast("long").alias("rb")), "id")
    )
    l = j.select(F.col("id").alias("i1"), F.col("ra").alias("a1"),
                 F.col("rb").alias("b1"))
    r = j.select(F.col("id").alias("i2"), F.col("ra").alias("a2"),
                 F.col("rb").alias("b2"))
    pairs = l.join(r, F.col("i1") < F.col("i2"))
    sgn = (
        F.when(((F.col("a1") < F.col("a2")) & (F.col("b1") < F.col("b2")))
               | ((F.col("a1") > F.col("a2")) & (F.col("b1") > F.col("b2"))),
               F.lit(1))
        .otherwise(F.lit(-1))
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(sgn).cast("long").alias("s"),
    )
    m = j.agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    return m.join(agg).select(
        "n_common", "n_pairs",
        # trunc-toward-zero on BOTH engines regardless of sign (Spark
        # div truncates, DuckDB // floors — abs() makes them agree)
        F.when(F.col("n_pairs") > 0,
               F.expr("case when s < 0"
                      " then -(((-s) * 1000000) div n_pairs)"
                      " else (s * 1000000) div n_pairs end"))
        .otherwise(F.lit(0)).cast("long").alias("tau_ppm"),
    )


def autocomplete(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefixes: list[str],
    k: int = 5,
) -> DataFrame:
    """Prefix autocompletion over the corpus vocabulary: for each query
    prefix, the top-``k`` completions ranked by document frequency
    (df DESC, term ASC) — the search-box suggestion primitive
    (Bar-Yossef & Kraus, WWW 2011 frame it as most-popular-completion).

    Scale shape: the vocabulary table is one distinct + hash agg (the
    same shape every index build already pays); the handful of query
    prefixes BROADCASTS into a ``startswith`` theta-join whose output
    is only the matching (prefix, term) sliver; the per-prefix top-k
    window partitions by prefix — bounded by the query list, never a
    corpus-sized window, and executed as partial/final
    ``WindowGroupLimit``.  At true scale the vocabulary would persist
    sorted by term so the prefix probe becomes a range scan; the
    ranking contract here is the piece that matters.

    Output: (prefix, completion, term_df, rank).
    """
    from pyspark.sql import Window

    vocab = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(words_col(F.col(text_col))).alias("term"),
        )
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("term_df"))
    )
    p = df.sparkSession.createDataFrame(
        [(x,) for x in prefixes], "prefix string")
    cand = vocab.join(
        F.broadcast(p), F.col("term").startswith(F.col("prefix"))
    )
    w = Window.partitionBy("prefix").orderBy(F.desc("term_df"), "term")
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("prefix", F.col("term").alias("completion"),
                "term_df", "rank")
    )


def spell_suggest(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 5,
) -> DataFrame:
    """Did-you-mean query-term suggestion over the corpus vocabulary
    (the serving-side sibling of typosquat_pairs: FastSS / SymSpell
    deletion-neighborhood indexing, Bocek et al. 2007).  For each
    query term, the vocabulary terms within edit distance <= 1 ranked
    by (distance asc, document frequency desc, term asc), top k.

    Scale shape: the vocabulary index is (term, variant) rows —
    |term|+1 per vocab term, built once per index generation; the
    query side is a handful of terms whose neighborhoods BROADCAST
    into the equi-join on ``variant``.  Candidates are verified with
    one levenshtein() on the sliver, never all-pairs; the ranking
    window partitions by query term (bounded by the query length,
    a serving-side top-k, never a corpus window).  Exact-match terms
    surface at distance 0, so the same call answers both "is this
    spelled right" and "what did they mean".

    Output: (q, suggestion, dist, term_df, rank).
    """
    from pyspark.sql import Window

    from biothings_crawler_spark.operators.typosquat import (
        deletion_neighborhood_col,
    )

    vocab = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(words_col(F.col(text_col))).alias("term"),
        )
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("term_df"))
    )
    idx = vocab.select(
        "term", "term_df",
        F.explode(deletion_neighborhood_col(F.col("term"))).alias("variant"),
    )
    q = df.sparkSession.createDataFrame([(t,) for t in terms], "q string")
    qn = q.select(
        "q", F.explode(deletion_neighborhood_col(F.col("q"))).alias("variant")
    )
    cand = (
        idx.join(F.broadcast(qn), "variant")
        .select("q", F.col("term").alias("suggestion"), "term_df")
        .distinct()
        .withColumn("dist", F.levenshtein("q", "suggestion").cast("long"))
        .filter(F.col("dist") <= 1)
    )
    w = Window.partitionBy("q").orderBy(
        "dist", F.desc("term_df"), "suggestion"
    )
    return (
        cand.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q", "suggestion", "dist", "term_df", "rank")
    )


def proximity_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 20,
) -> DataFrame:
    """Term-proximity ranked retrieval (after Büttcher & Clarke 2006:
    adjacent query-term pairs contribute ``10^6 div min_dist^2``): for
    each adjacent pair of query terms, the minimum token distance
    between ANY occurrence of the two in the document, summed into an
    exact-integer proximity score; documents containing no complete
    pair score zero and drop.  (id, prox) top-k by (prox desc, id).

    Scale shape: min-distance is computed ROW-LOCAL from the words
    array — per-term position arrays via ONE index-carrying transform
    each, pairwise |i-j| min via a nested integer fold — so the corpus
    never rides a positional self-join shuffle (the phrase_matches
    adjacency join is only economical for exact phrases; proximity
    wants all O(tf_a*tf_b) gaps, which stay per-row).  The stages are
    separate SELECT projections, not a withColumn chain: Catalyst
    collapses chained projections and re-inlines each array expression
    at every use site, which measured 54 s -> 1.5 s at sf0.1 when
    staged (projection-boundary staging).  The only Exchange is the
    final TakeOrdered top-k."""
    if len(terms) < 2:
        raise ValueError("proximity needs at least two query terms")
    base = df.select(
        F.col(id_col).alias("id"),
        words_col(F.col(text_col)).alias("words"),
    )

    def positions(t: str) -> Column:
        return F.filter(
            F.transform(
                F.col("words"),
                lambda w, i: F.when(w == F.lit(t), i + 1)
                .otherwise(F.lit(-1)),
            ),
            lambda x: x >= 0,
        )

    uniq = list(dict.fromkeys(terms))
    pos = base.select(
        "id", *[positions(t).alias(f"_p{j}") for j, t in enumerate(uniq)])
    idx = {t: f"_p{j}" for j, t in enumerate(uniq)}
    big = F.lit(1 << 40).cast("long")

    def min_dist(pa: str, pb: str) -> Column:
        return F.aggregate(
            F.col(pa), big,
            lambda acc, x: F.least(acc, F.aggregate(
                F.col(pb), big,
                lambda a2, y: F.least(
                    a2, F.abs(x.cast("long") - y.cast("long"))))),
        )

    mds = pos.select("id", *[
        F.when((F.size(idx[a]) > 0) & (F.size(idx[b]) > 0),
               min_dist(idx[a], idx[b])).alias(f"_md{i}")
        for i, (a, b) in enumerate(zip(terms, terms[1:]))
    ])
    prox = " + ".join(
        f"coalesce(1000000 div (_md{i} * _md{i}), 0L)"
        for i in range(len(terms) - 1))
    return (
        mds.selectExpr("id", f"CAST({prox} AS BIGINT) AS prox")
        .filter(F.col("prox") > 0)
        .orderBy(F.desc("prox"), F.asc("id"))
        .limit(k)
    )


def calibration_report(
    scored: DataFrame,
    score_col: str = "score_ppm",
    label_col: str = "label",
    n_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Expected Calibration Error for a quality
    classifier's scores — the admission gate's audit (a corpus filter
    that keeps docs with score >= tau implicitly trusts the score as a
    probability; ECE is the standard measure of whether it is one,
    Naeini et al. AAAI 2015).

    Scores are ppm integers in [0, 10^6]; equal-width bins by
    ``score * n_bins div (10^6 + 1)``.  Per bin: count, exact integer
    mean score (ppm, floor), empirical positive rate (ppm, floor), and
    the absolute gap.  One extra ``bin = -1`` row carries the ECE:
    ``sum(n_b * gap_b) div N`` — the count-weighted mean gap, exact.

    Scale shape: ONE hash agg to the bounded bin table, a 1-row
    broadcast total, arithmetic in decimal(38,0) where products can
    exceed int64.  No windows, no sort."""
    b = scored.select(
        F.col(score_col).cast("long").alias("s"),
        F.col(label_col).cast("long").alias("y"),
    ).withColumn("bin", F.expr(f"s * {int(n_bins)} div 1000001")
                 .cast("long"))
    bins = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s").cast("decimal(38,0)").alias("_ss"),
        F.sum("y").cast("long").alias("_pos"),
    ).selectExpr(
        "bin", "n",
        "CAST(_ss div n AS BIGINT) AS mean_score_ppm",
        "CAST(_pos * 1000000 div n AS BIGINT) AS emp_ppm",
    ).withColumn(
        "gap_ppm",
        F.abs(F.col("mean_score_ppm") - F.col("emp_ppm")).cast("long"),
    )
    tot = bins.agg(
        F.sum("n").cast("decimal(38,0)").alias("_n"),
        F.sum(F.col("n").cast("decimal(38,0)")
              * F.col("gap_ppm")).alias("_w"),
    ).selectExpr(
        "CAST(-1 AS BIGINT) AS bin",
        "CAST(_n AS BIGINT) AS n",
        "CAST(NULL AS BIGINT) AS mean_score_ppm",
        "CAST(NULL AS BIGINT) AS emp_ppm",
        "CAST(_w div _n AS BIGINT) AS gap_ppm",
    )
    return bins.select("bin", "n", "mean_score_ppm", "emp_ppm",
                       "gap_ppm").unionByName(tot)


QUERY_FIELDS = ("title", "host", "lang", "text")


def parse_queries(
    queries: DataFrame,
    id_col: str = "query_id",
    q_col: str = "q",
) -> DataFrame:
    """Fielded query-language parsing — the serving-side front door
    (Lucene-style syntax subset): ``host:example.org -lang:de "exact
    phrase" plain terms``.  One output row per clause:
    (query_id, clause_idx, field, term, negated, is_phrase).

    Rules, shared verbatim with the RE2 oracle: clauses split on
    whitespace EXCEPT inside double quotes; a leading ``-`` negates;
    ``field:`` prefixes from the known field set route the clause,
    anything else (including unknown prefixes like ``foo:bar``) stays
    a plain text term; quoted clauses keep interior spaces and set
    is_phrase; terms lowercase.

    Scale shape: one regexp_extract_all + posexplode + row-local
    projections — queries are a bounded table, but the same plan runs
    on a 10^9-row query log unchanged (no shuffle)."""
    tok_re = r'(-?(?:[a-z]+:)?"[^"]*"|\S+)'
    toks = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col(q_col)), F.lit(tok_re), 1)
        ).alias("clause_idx", "tok"),
    )
    neg = F.col("tok").startswith("-")
    body = F.when(neg, F.expr("substring(tok, 2)")).otherwise(F.col("tok"))
    fields = "|".join(QUERY_FIELDS)
    field = F.regexp_extract(body, f"^({fields}):", 1)
    rest = F.when(
        field != "",
        body.substr(F.length(field) + F.lit(2), F.lit(1 << 20)),
    ).otherwise(body)
    is_phrase = rest.rlike('^"[^"]*"$')
    term = F.when(is_phrase, rest.substr(F.lit(2), F.length(rest) - 2)) \
        .otherwise(rest)
    return toks.select(
        "query_id",
        F.col("clause_idx").cast("long").alias("clause_idx"),
        F.when(field == "", F.lit("text")).otherwise(field).alias("field"),
        term.alias("term"),
        F.when(neg, F.lit(1)).otherwise(F.lit(0)).cast("long")
        .alias("negated"),
        F.when(is_phrase, F.lit(1)).otherwise(F.lit(0)).cast("long")
        .alias("is_phrase"),
    ).filter(F.col("term") != "")


def segment_words(
    queries: DataFrame,
    vocab: DataFrame,
    id_col: str = "query_id",
    q_col: str = "q",
    max_word_len: int = 12,
) -> DataFrame:
    """Dictionary word segmentation of concatenated strings —
    ``newyorktimes -> new york times`` — the serving-side repair for
    space-free queries and smashed-together URL slugs (the spell /
    autocomplete family's third member; operators here:
    spell_suggest, autocomplete).

    Exact DP, deterministic tie-break: among segmentations using
    vocabulary words only, pick fewest words, then highest total word
    frequency, then lexicographically smallest joined result.  Rows
    that cannot be fully segmented return NULL with n_words 0.

    Scale shape: the VOCABULARY (term, freq) is the broadcast side —
    collected to a plain dict and shipped in the Arrow-batched
    mapInPandas closure (bounded: a corpus vocabulary, not the
    corpus); each row's DP is O(len * max_word_len) row-local work.
    Queries tables are themselves bounded, but the same plan runs over
    a 10^9-row slug column unchanged — one map stage, no shuffle."""
    terms = {r["term"]: int(r["freq"]) for r in vocab.collect()}

    def run(batches):
        import pandas as pd

        for pdf in batches:
            out = {"query_id": [], "segmented": [], "n_words": []}
            for qid, q in zip(pdf[id_col], pdf[q_col]):
                s = (q or "").lower()
                n = len(s)
                # dp[i]: best (n_words, -freq_sum, path_tuple) for s[:i]
                dp = [None] * (n + 1)
                dp[0] = (0, 0, ())
                for i in range(1, n + 1):
                    best = None
                    for j in range(max(0, i - max_word_len), i):
                        if dp[j] is None:
                            continue
                        w = s[j:i]
                        f = terms.get(w)
                        if f is None:
                            continue
                        cand = (dp[j][0] + 1, dp[j][1] - f,
                                dp[j][2] + (w,))
                        if best is None or cand < best:
                            best = cand
                    dp[i] = best
                out["query_id"].append(int(qid))
                if n and dp[n] is not None:
                    out["segmented"].append(" ".join(dp[n][2]))
                    out["n_words"].append(dp[n][0])
                else:
                    out["segmented"].append(None)
                    out["n_words"].append(0)
            yield pd.DataFrame(out)

    return queries.mapInPandas(
        run, "query_id long, segmented string, n_words long")


def pairwise_auc(
    scored: DataFrame,
    group_col: str = "grp",
    score_col: str = "score_ppm",
    label_col: str = "label",
) -> DataFrame:
    """Exact ROC-AUC per group via the Mann-Whitney rank-sum identity
    (Hanley & McNeil 1982), ties at 0.5 through midranks — the
    threshold-free complement to calibration_report's ECE: ECE says
    whether scores are honest probabilities, AUC says whether they
    ORDER positives above negatives at all (what a quality-filter
    cutoff actually uses).

    Integer-exact formulation: ``2·midrank(s) = 2·cum_below + n_at + 1``
    over per-score-value aggregates, so
    ``auc_ppm = (Σ_pos 2·midrank − n_pos·(n_pos+1)) · 10⁶
    div (2·n_pos·n_neg)`` — no floats anywhere, and the enumeration is
    O(distinct scores), never the O(n²) pair join.

    Scale shape: one hash aggregation to (group, score) cells, one
    window over DISTINCT score values per group (bounded by score
    resolution — ppm scores cap it at 10⁶ rows per group regardless of
    corpus size), one final hash aggregation. Degenerate groups
    (no positives or no negatives) emit NULL auc_ppm rather than a
    divide-by-zero.

    Output: (group, n_pos, n_neg, auc_ppm).
    """
    from pyspark.sql import Window as W

    cells = scored.groupBy(
        F.col(group_col).alias("grp"), F.col(score_col).alias("s")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_at"),
        F.sum(F.col(label_col).cast("long")).cast("long").alias("pos_at"),
    )
    w = (
        W.partitionBy("grp").orderBy("s")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = cells.select(
        "grp", "n_at", "pos_at",
        (F.sum("n_at").over(w) - F.col("n_at")).alias("cum_below"),
    )
    agg = ranked.groupBy("grp").agg(
        F.sum("pos_at").cast("long").alias("n_pos"),
        (F.sum("n_at") - F.sum("pos_at")).cast("long").alias("n_neg"),
        F.sum(
            F.col("pos_at") * (2 * F.col("cum_below") + F.col("n_at") + 1)
        ).cast("long").alias("rank2_pos"),
    )
    return agg.select(
        F.col("grp").alias("group"), "n_pos", "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.expr(
                "(rank2_pos - n_pos * (n_pos + 1)) * 1000000"
                " div (2 * n_pos * n_neg)"
            ),
        ).cast("long").alias("auc_ppm"),
    )
