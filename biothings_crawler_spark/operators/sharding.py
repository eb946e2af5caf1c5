"""Rendezvous (highest-random-weight) shard assignment for the crawl
corpus and its index artifacts — which shard owns a URL's postings,
seen-set segment, or fetch responsibility.

Why rendezvous and not ``hash(key) % n``: modulo sharding reassigns
almost EVERY key when the shard count changes (a 10^10-row index
re-shuffles wholesale to add capacity); highest-random-weight hashing
(Thaler & Ravishankar, "Using name-based mappings to increase hit
rates", IEEE/ACM ToN 1998) moves exactly the keys whose new-winner
shard didn't exist before — an (m-n)/m expected fraction, the provable
minimum for stateless assignment.  The reference has no sharding plane
at all (single Scrapy process, one ES index); at web scale shard
placement IS the storage layout.

Design points:

* **Row-local, zero shuffle.** The winner is an ``array_max`` over a
  per-shard struct array built from md5-u60 hashes
  (:func:`biothings_crawler_spark.operators.sampling.hash_u60_col`) —
  pure projection, rides the scan, no exchange.  ``n_shards`` is a
  plan-time constant: fine for real deployments (shard counts are
  config, 16-4096) and keeps everything whole-stage-codegen.
* **Cross-engine exact.** md5 is portable; the DuckDB twin recomputes
  every assignment with ``arg_max`` over the same hashes, so the
  oracle checks individual placements, not distribution moments.
* **Deterministic tie-break.** The struct carries (hash, shard); ties
  (astronomically unlikely with 60-bit hashes) resolve to the larger
  shard id identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from biothings_crawler_spark.functions.fxp import ilog2_fxp_spark
from biothings_crawler_spark.operators.sampling import hash_u60_col
from biothings_crawler_spark.operators.text import words_col


def rendezvous_shard_col(key: Column, n_shards: int, salt: str = "sh") -> Column:
    """Winning shard id for ``key`` among ``range(n_shards)``:
    argmax over s of u60(md5('{salt}{s}:{key}')).  Row-local."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    pairs = F.array(*[
        F.struct(
            hash_u60_col(key, f"{salt}{s}").alias("h"),
            F.lit(s).cast("long").alias("s"),
        )
        for s in range(int(n_shards))
    ])
    return F.array_max(pairs)["s"]


def rendezvous_shard_py(key: str, n_shards: int, salt: str = "sh") -> int:
    """Pure-Python twin of :func:`rendezvous_shard_col` — same md5-u60
    winner for one key.  Used DRIVER-side at query time to compute the
    handful of shards owning a query's terms so the index scan can be
    statically pruned to those partitions (a few string hashes on the
    driver, never a collect)."""
    import hashlib

    def u60(s: int) -> int:
        h = hashlib.md5(f"{salt}{s}:{key}".encode()).hexdigest()
        return int(h[:15], 16)

    return max(range(int(n_shards)), key=lambda s: (u60(s), s))


def assign_shards(
    df: DataFrame, key_col: str, n_shards: int, salt: str = "sh"
) -> DataFrame:
    """``df`` plus a ``shard`` column — the stateless owner of each
    key.  Downstream writes partition by ``shard`` to get co-located,
    individually-compactable index shards."""
    return df.withColumn(
        "shard", rendezvous_shard_col(F.col(key_col), n_shards, salt)
    )


def shard_rebalance_report(
    df: DataFrame,
    key_col: str,
    n_from: int,
    n_to: int,
    salt: str = "sh",
) -> DataFrame:
    """What a shard-count change does to the corpus BEFORE you run it:
    ``(shard_from, shard_to, n_keys, moved)`` — one row per observed
    (old owner, new owner) pair.

    The HRW guarantee this surfaces: growing ``n_from -> n_to`` only
    ever moves keys TO a shard in ``[n_from, n_to)`` (existing shards'
    hashes are unchanged, so the argmax either stands or is beaten by
    a new shard) — any row with ``moved`` and ``shard_to < n_from``
    would be an implementation bug, and the pytest asserts none exist.
    Shape: two row-local winner columns + ONE bounded hash agg
    (≤ n_from * n_to rows out); the 10^10-key corpus is scanned once.
    """
    key = F.col(key_col)
    return (
        df.select(
            rendezvous_shard_col(key, n_from, salt).alias("shard_from"),
            rendezvous_shard_col(key, n_to, salt).alias("shard_to"),
        )
        .groupBy("shard_from", "shard_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
        .select(
            "shard_from", "shard_to", "n_keys",
            (F.col("shard_from") != F.col("shard_to")).alias("moved"),
        )
    )


def cori_shard_scores(
    df: DataFrame,
    shard_col: str,
    id_col: str,
    text_col: str,
    query_terms: list[str],
) -> DataFrame:
    """CORI resource selection (Callan et al. 1995) — federated /
    shard-routed search: rank document COLLECTIONS (index shards, or
    per-source sub-indexes) by how likely they are to hold a query's
    answers, so a broker fans the query out to the few best shards
    instead of all of them. The df.icf belief per (term, shard), in
    exact ppm/lg-fxp integers so both engines rank identically:

        T_ppm  = df * 10^6 // (df + 50 + (150 * cw_s * S) // cw_total)
        I_ppm  = (lg(2S+1) - lg(2*cf_t)) * 10^6 // lg(S+1)
        belief = 400000 + 600000 * T_ppm * I_ppm // 10^12
        score(q, s) = sum over query terms present SOMEWHERE (absent-
        in-this-shard terms contribute the df=0 default belief 400000)

    with df = shard docs containing t, cw_s = shard word count, S =
    shard count, cf_t = shards containing t (the b=0.4 default-belief
    constant and 50/150 T-smoothing are the published values; floors
    replace real division — the oracle replays the identical floors).

    Scale shape: per-shard stats are two hash aggs over the corpus;
    the belief table is |shards| x |query terms| — broadcast-tiny; the
    final ranking sorts |shards| rows. Input needs no co-location.
    """
    docs = df.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col).alias("id"),
        words_col(F.col(text_col)).alias("words"),
    )
    cw = docs.groupBy("shard").agg(
        F.sum(F.size("words")).cast("long").alias("cw")
    )
    totals = cw.agg(
        F.count(F.lit(1)).cast("long").alias("s_cnt"),
        F.sum("cw").cast("long").alias("cw_total"),
    )
    terms = F.array(*[F.lit(t) for t in query_terms])
    dfreq = (
        docs.select("shard", "id", F.explode(F.array_distinct("words"))
                    .alias("term"))
        .filter(F.array_contains(terms, F.col("term")))
        .groupBy("shard", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    cf = dfreq.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("cf")
    )
    grid = cw.select("shard").crossJoin(F.broadcast(cf))
    beliefs = (
        grid.join(dfreq, ["shard", "term"], "left")
        .join(cw, "shard")
        .crossJoin(F.broadcast(totals))
        .selectExpr(
            "shard",
            "coalesce(df, 0L) AS df",
            "cw", "cf", "s_cnt", "cw_total",
        )
        .selectExpr(
            "shard",
            f"""400000L + 600000
                * (df * 1000000 div (df + 50 + (150 * cw * s_cnt)
                                     div cw_total))
                * (({ilog2_fxp_spark('2 * s_cnt + 1')}
                    - {ilog2_fxp_spark('2 * cf')}) * 1000000
                   div ({ilog2_fxp_spark('s_cnt + 1')}))
                div 1000000000000 AS belief_ppm""",
        )
    )
    return (
        beliefs.groupBy("shard")
        .agg(F.sum("belief_ppm").cast("long").alias("score_ppm"))
        .orderBy(F.desc("score_ppm"), "shard")
    )
