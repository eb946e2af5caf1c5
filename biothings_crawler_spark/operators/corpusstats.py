"""Corpus-scale statistical diagnostics: Heaps-law vocabulary growth
and Zipf rank-frequency profiles, both integer-exact.

Why a crawler cares (reference parity: biothings.crawler exposes no
corpus statistics — this is the LLM-data-pipeline extension plane):
a training-data operator watches two curves while a crawl runs —
"is vocabulary still growing sublinearly like natural text (Heaps
1978), or did a template/spam source flatten it?" and "does the
rank-frequency profile still follow a Zipf power law (Zipf 1949), or
is the head collapsing into boilerplate?"  Both are classic public
diagnostics; both are computed here without any transcendental math so
the DuckDB oracle can replay them bit-for-bit.

Scale shapes (the whole point):

* ``vocab_growth`` — one 1-row bounds aggregation broadcast back, one
  explode + hash agg keyed on (bucket), one hash agg keyed on (term)
  to find each term's FIRST bucket, then cumulative sums over a table
  of exactly ``buckets`` rows.  The only window runs over <= buckets
  rows; everything heavy is map-side-combinable hash aggregation.
* ``zipf_profile`` — term frequencies (hash agg), then a histogram of
  frequencies ``(freq, n_terms)``: if the corpus has N total tokens,
  the number of DISTINCT frequency values is <= sqrt(2N) (the partial
  sums 1+2+...+k bound), so at 10^13 tokens the histogram is ~4.5M
  rows — the global cumulative window runs over THAT, never over the
  vocabulary, and never over raw tokens.  Target ranks (powers of two)
  join against the cumulative rank spans via a broadcast of <= 64 rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from biothings_crawler_spark.functions.fxp import ilog2_fxp_spark
from biothings_crawler_spark.operators.text import words_col


def vocab_growth(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Heaps-law growth curve: cumulative token count vs cumulative
    distinct-vocabulary size at ``buckets`` checkpoints of the corpus,
    ordered by ``id_col`` range position (deterministic, replayable).

    A term contributes to the vocabulary at the FIRST bucket any
    document containing it lands in — so ``vocab_cum`` at bucket b is
    exactly the distinct vocabulary of buckets 0..b, computed with one
    min-aggregation instead of b nested distinct counts.

    Returns one row per non-empty bucket:
    (bucket, tokens, tokens_cum, new_terms, vocab_cum).
    """
    bounds = docs.agg(
        F.min(F.col(id_col)).cast("long").alias("_lo"),
        F.max(F.col(id_col)).cast("long").alias("_hi"),
    )
    b = docs.select(
        F.col(id_col).cast("long").alias("_id"),
        words_col(F.col(text_col)).alias("_words"),
    ).crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(buckets - 1).cast("long"),
            F.expr(f"((_id - _lo) * {buckets}) div (_hi - _lo + 1)"),
        ).alias("bucket"),
        "_words",
    )
    tokens = b.groupBy("bucket").agg(
        F.sum(F.size("_words")).cast("long").alias("tokens")
    )
    first = (
        b.select("bucket", F.explode("_words").alias("term"))
        .groupBy("term").agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        tokens.join(first, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce("tokens", F.lit(0)).cast("long").alias("tokens"),
            F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
        )
        # the window runs over <= `buckets` rows — bounded by contract
        .select(
            "bucket", "tokens",
            F.sum("tokens").over(w).cast("long").alias("tokens_cum"),
            "new_terms",
            F.sum("new_terms").over(w).cast("long").alias("vocab_cum"),
        )
    )


def zipf_profile(
    docs: DataFrame,
    text_col: str,
    max_log2_rank: int = 12,
) -> DataFrame:
    """Zipf rank-frequency profile: the exact term frequency at ranks
    1, 2, 4, ..., 2^max_log2_rank (rank 1 = most frequent term; ranks
    beyond the vocabulary are absent).

    Rank here is the standard competition rank over frequencies: the
    rank span of frequency f is [1 + #terms with freq > f, #terms with
    freq >= f], so equal-frequency terms share one span and the
    answer is a VALUE, never an ordering of ties — which is what makes
    it both deterministic and computable from the frequency histogram
    alone.

    Returns (rank, freq, n_terms) — n_terms = how many terms share
    that frequency (the tie-class width).
    """
    freq = (
        docs.select(F.explode(words_col(F.col(text_col))).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("freq"))
    )
    hist = freq.groupBy("freq").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms")
    )
    # cumulative rank spans over the sqrt(2N)-bounded histogram
    w = Window.orderBy(F.desc("freq")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    spans = hist.select(
        "freq", "n_terms",
        F.sum("n_terms").over(w).cast("long").alias("rank_end"),
    ).select(
        "freq", "n_terms",
        (F.col("rank_end") - F.col("n_terms") + 1).alias("rank_start"),
        "rank_end",
    )
    ranks = docs.sparkSession.range(0, max_log2_rank + 1).select(
        F.expr("cast(shiftleft(1L, cast(id as int)) as long)").alias("rank")
    )
    return (
        spans.join(
            F.broadcast(ranks),
            (F.col("rank") >= F.col("rank_start"))
            & (F.col("rank") <= F.col("rank_end")),
        )
        .select("rank", "freq", "n_terms")
    )


def vocab_coverage(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unseen-vocabulary estimation — "how much of this corpus's
    vocabulary have we NOT crawled yet": the Chao1 species-richness
    estimator (Chao 1984) and the Good-Turing unseen-probability mass,
    both RATIONAL in the frequency-of-frequencies table, so exact:

      * ``chao1 = V + f1*(f1-1) div (2*(f2+1))`` — the bias-corrected
        form (defined even when f2 = 0), where f1/f2 = singleton /
        doubleton term counts and V = observed vocabulary;
      * ``gt_oov_ppm = f1 * 10^6 div N`` — the probability the NEXT
        token is an unseen word (Good 1953), N = corpus tokens;
      * ``coverage_ppm = V * 10^6 div chao1`` — observed share of the
        estimated vocabulary, the stop-crawling signal.

    One diagnostic row. Shape: one explode + (term) hash agg, one
    (frequency) hash agg over the vocabulary, one 1-row fold — the
    frequency-of-frequencies table is sqrt(N)-bounded like the Zipf
    profile's histogram."""
    tf = (
        df.select(F.explode(words_col(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    fof = tf.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("f"))
    return fof.agg(
        F.sum("f").cast("long").alias("v_obs"),
        F.sum(F.col("f") * F.col("c")).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, F.col("f")).otherwise(0))
        .cast("long").alias("f1"),
        F.sum(F.when(F.col("c") == 2, F.col("f")).otherwise(0))
        .cast("long").alias("f2"),
    ).selectExpr(
        "v_obs", "n_tokens", "f1", "f2",
        "v_obs + f1 * (f1 - 1) div (2 * (f2 + 1)) AS chao1",
        "CASE WHEN n_tokens = 0 THEN 0L "
        "ELSE f1 * 1000000 div n_tokens END AS gt_oov_ppm",
        "CASE WHEN v_obs + f1 * (f1 - 1) div (2 * (f2 + 1)) = 0 THEN 0L "
        "ELSE v_obs * 1000000 div "
        "     (v_obs + f1 * (f1 - 1) div (2 * (f2 + 1))) END "
        "AS coverage_ppm",
    )


def distinctive_terms(
    df: DataFrame,
    text_col: str,
    in_focus: Column,
    k: int = 20,
) -> DataFrame:
    """Corpus keyness via the Dunning log-likelihood ratio (Dunning
    1993): which terms distinguish the FOCUS slice (a language, a
    source, this week's crawl) from the rest of the corpus — the
    drift-attribution / topic-shift tool that raw frequency deltas get
    wrong for rare words. Per term with tf a in focus (total N_A) and
    b elsewhere (N_B), the two-corpus G² in lg-fxp units (log2 instead
    of ln scales every score by 1/ln2 — ranking is unchanged and the
    integers stay exact):

        g2_fxp = 2*( a*(lg(a*N) - lg((a+b)*N_A))
                   + b*(lg(b*N) - lg((a+b)*N_B)) ),  N = N_A + N_B

    zero cells contribute zero. Returns the top-``k``
    ``(term, tf_focus, tf_rest, g2_fxp, overused)`` by (g2 desc,
    term), ``overused`` = focus rate exceeds rest rate.

    Shape: one explode + (term, side) hash agg, one-row totals
    broadcast, row-local lg arithmetic, TakeOrdered top-k. Integer
    bound: lg arguments are tf*N products and must stay under 2^46 —
    past ~10^11 corpus tokens, right-shift N_A/N_B/N by a common 2^s
    before scoring (the ratios inside both lgs are what G² measures).
    """
    occ = df.select(
        in_focus.cast("int").alias("side"),
        F.explode(words_col(F.col(text_col))).alias("term"),
    )
    tf = occ.groupBy("term").agg(
        F.sum("side").cast("long").alias("a"),
        F.sum(1 - F.col("side")).cast("long").alias("b"),
    )
    tot = tf.agg(
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"),
    )
    part_a = (f"CASE WHEN a = 0 THEN 0L ELSE a * "
              f"(({ilog2_fxp_spark('a * (na + nb)')}) "
              f"- ({ilog2_fxp_spark('(a + b) * na')})) END")
    part_b = (f"CASE WHEN b = 0 THEN 0L ELSE b * "
              f"(({ilog2_fxp_spark('b * (na + nb)')}) "
              f"- ({ilog2_fxp_spark('(a + b) * nb')})) END")
    scored = tf.crossJoin(F.broadcast(tot)).selectExpr(
        "term",
        "a AS tf_focus",
        "b AS tf_rest",
        f"cast(2 * (({part_a}) + ({part_b})) AS bigint) AS g2_fxp",
        "a * nb > b * na AS overused",
    )
    return scored.orderBy(F.desc("g2_fxp"), "term").limit(k)
