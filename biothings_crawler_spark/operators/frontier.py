"""Frontier construction and maintenance (the scheduler's data plane).

The reference's frontier is Scrapy's in-memory/disk priority queue of
Request objects plus the RFPDupeFilter (SURVEY.md §1.1 #1, §2.8). Here
it is a DataFrame with a fixed schema, bucketable by ``url_hash``:

  url:string          original URL as discovered
  url_canon:string    canonical form (urlnorm) — the dedup identity
  url_hash:long       xxhash64(url_canon) — partitioning / join key
  host:string         for politeness grouping
  depth:int           BFS depth (DEPTH_LIMIT filter, settings.py:24)
  priority:int        lower = sooner (Scrapy priority semantics)
  round:int           BFS round that discovered it
  seed_id:string      provenance (which seed/source introduced it)
  parser:string       'jsonld' | 'geo_table' (callback routing)

All columns derive JVM-side (no Python). ``dropDuplicates`` on
url_hash+url_canon keeps one discovery per canonical URL per round,
deterministically (min priority, then min depth, then min url) so N-core
and 4N-core runs build identical frontiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biothings_crawler_spark.urlnorm import canonicalize_col, host_col

FRONTIER_COLS = [
    "url", "url_canon", "url_hash", "host", "depth",
    "priority", "round", "seed_id", "source", "parser",
]


def with_url_identity(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Add url_canon / url_hash / host (native expressions, codegen).

    ``once_col``: the not-null guard below otherwise pushes into the
    scan with the whole canonicalization chain substituted into the
    predicate, doubling the parse work per row (measured ~2x on a
    150k-URL identity pass)."""
    from biothings_crawler_spark.operators.text import once_col

    c = once_col(canonicalize_col(F.col(url_col)))
    return (
        df.withColumn("url_canon", c)
        .withColumn("url_hash", F.xxhash64(F.col("url_canon")))
        .withColumn("host", host_col(F.col(url_col)))
        .filter(F.col("url_canon").isNotNull())
    )


def frontier_from_seeds(seeds: DataFrame, round_no: int = 0) -> DataFrame:
    """seeds(seed_id, url, source, parser, priority) -> round-0 frontier."""
    return (
        with_url_identity(seeds)
        .select(
            "url", "url_canon", "url_hash", "host",
            F.lit(0).alias("depth"),
            F.col("priority").cast("int").alias("priority"),
            F.lit(round_no).alias("round"),
            "seed_id",
            "source",
            "parser",
        )
    )


def dedup_frontier(frontier: DataFrame) -> DataFrame:
    """One row per canonical URL, deterministic winner.

    ``min(struct(priority, depth, url, seed_id, …))`` per (url_hash,
    url_canon) — a hash aggregate with map-side partial aggregation —
    rather than a ``row_number`` window (sort-based, no partial agg: at
    10^10 rows the window shuffles every duplicate; the agg shuffles one
    candidate winner per key per input partition) and rather than
    ``dropDuplicates`` (whose survivor is partition-order dependent and
    would break N vs 4N reproducibility). The struct comparison is the
    same total order the window used, extended over all remaining
    columns, so the winner is unique even among full-key ties.
    """
    order_cols = ["priority", "depth", "url", "seed_id"]
    payload = [c for c in frontier.columns
               if c not in ("url_hash", "url_canon", *order_cols)]
    return (
        frontier.groupBy("url_hash", "url_canon")
        .agg(F.min(F.struct(*order_cols, *payload)).alias("__w"))
        .select("url_hash", "url_canon", "__w.*")
        .select(*frontier.columns)
    )


def links_to_frontier(
    links: DataFrame,
    round_no: int,
    max_depth: int | None = None,
) -> DataFrame:
    """Discovered links -> frontier rows for the next round.

    Input: (link:string, depth:int of the discovering page + 1,
    priority:int, seed_id:string, parser:string).
    BFS ordering (DEPTH_PRIORITY=1, clic.py:71-73) is realized by the
    round loop itself — children always fetch in a later round.
    """
    out = with_url_identity(links, "link").select(
        F.col("link").alias("url"),
        "url_canon", "url_hash", "host",
        F.col("depth").cast("int").alias("depth"),
        F.col("priority").cast("int").alias("priority"),
        F.lit(round_no).alias("round"),
        "seed_id", "source", "parser",
    )
    if max_depth is not None:
        out = out.filter(F.col("depth") <= F.lit(max_depth))
    return dedup_frontier(out)


def relevance_scores(
    links,
    topic_terms,
    target_col: str = "target_url",
    anchor_col: str = "anchor_text",
    w_url: int = 2,
    w_anchor: int = 1,
):
    """Focused-crawl frontier scoring (the Chakrabarti et al. focused
    crawler / shark-search family, batch form): score each candidate
    target by topic evidence — distinct topic terms in its own URL
    path tokens (weight ``w_url``) plus topic-term hits summed over
    the ANCHOR TEXTS of its inlinks (weight ``w_anchor``, one count
    per inlink: ten pages calling a URL "protein data" is ten units
    of evidence).  The output ``score`` drops into the frontier's
    ``priority`` (negated — smaller schedules first) so
    ``select_politely`` crawls on-topic URLs first under the same
    politeness budgets.

    Shape: URL tokenization is row-local on the DISTINCT target set;
    anchor evidence is one hash aggregate keyed by target; the topic
    list is a literal array (broadcast-free — it compiles into the
    plan).  Output: (target_url, url_hits, anchor_hits, score).
    """
    from pyspark.sql import functions as F

    topics = F.array(*[F.lit(t) for t in sorted(set(topic_terms))])
    toks = lambda c: F.filter(  # noqa: E731
        F.split(F.lower(c), r"[^a-z0-9]+"), lambda w: F.length(w) > 0
    )
    targets = links.select(F.col(target_col).alias("target_url")).distinct()
    url_side = targets.select(
        "target_url",
        F.size(F.array_intersect(F.array_distinct(toks(F.col("target_url"))), topics))
        .cast("long")
        .alias("url_hits"),
    )
    anchor_side = (
        links.select(
            F.col(target_col).alias("target_url"),
            F.size(F.array_intersect(F.array_distinct(toks(F.col(anchor_col))), topics))
            .cast("long")
            .alias("h"),
        )
        .groupBy("target_url")
        .agg(F.sum("h").alias("anchor_hits"))
    )
    return url_side.join(anchor_side, "target_url").select(
        "target_url", "url_hits", "anchor_hits",
        (F.col("url_hits") * F.lit(int(w_url))
         + F.col("anchor_hits") * F.lit(int(w_anchor))).alias("score"),
    )


def discovery_forecast(
    counts: DataFrame, alpha_pct: int = 30
) -> DataFrame:
    """Per-host EWMA forecast of next-period URL discoveries — the
    capacity-planning input for the next crawl round's budget split
    (how many NEW URLs each host is likely to mint, smoothed against
    burst noise).  Input ``(host, hour_no, n)`` observed-hour counts;
    recurrence in exact centi-units, ``s_0 = 100*n_0`` and
    ``s_t = (alpha * 100*n_t + (100-alpha) * s_{t-1}) div 100`` over
    hours in order — integer floor division, so the fold is
    deterministic and the DuckDB twin (a single-integer-accumulator
    list_reduce, the one fold shape that engine evaluates soundly)
    lands on the identical value.

    Shape: one host-keyed hash agg collecting the bounded hourly
    series, then a row-local fold — no window, no second exchange."""
    a = int(alpha_pct)
    per = counts.groupBy("host").agg(
        F.array_sort(F.collect_list(F.struct("hour_no", "n"))).alias("hs")
    )
    arr = F.transform("hs", lambda s: s["n"].cast("long") * 100)
    per = per.select(
        "host", F.size("hs").cast("long").alias("n_hours"), arr.alias("a100")
    )
    folded = F.aggregate(
        F.slice("a100", F.lit(2), F.greatest(F.size("a100") - 1, F.lit(1))),
        F.element_at("a100", 1),
        lambda acc, x: F.floor(
            (F.lit(a) * x + F.lit(100 - a) * acc) / 100
        ).cast("long"),
    ).cast("long")
    return per.select(
        "host",
        "n_hours",
        F.when(F.size("a100") > 1, folded)
        .otherwise(F.element_at("a100", 1))
        .cast("long")
        .alias("ewma_centi"),
    ).withColumn("forecast", F.expr("ewma_centi div 100"))


def greedy_seed_cover(cov: DataFrame, k: int) -> DataFrame:
    """Budgeted crawl-seed selection as greedy MAXIMUM COVERAGE: given
    a (seed, host) reach relation, pick k seeds one at a time, each
    maximizing the count of hosts no earlier pick reaches (ties to the
    smaller seed) — the classic (1 - 1/e)-approximation, the right
    shape for "we can afford k seed lists, reach the most of the web".

    Returns ``(round, seed, gain)`` for the picks, ``gain`` = newly
    covered hosts; rounds stop early once everything reachable is
    covered.  Each round is one anti-join + one hash agg + a 1-row
    TakeOrderedAndProject that stays PLAN-SIDE (the winner flows into
    the next round as a semi-join input, never a driver collect);
    covered-set lineage is checkpoint-flattened per round, the same
    iteration discipline as connected_components."""
    cov = cov.select("seed", "host").distinct().localCheckpoint(eager=True)
    covered = cov.select("host").limit(0).localCheckpoint(eager=True)
    picks = []
    for r in range(1, k + 1):
        remaining = cov.join(covered, "host", "left_anti")
        winner = (
            remaining.groupBy("seed")
            .agg(F.count(F.lit(1)).cast("long").alias("gain"))
            .orderBy(F.desc("gain"), "seed")
            .limit(1)
            .select(F.lit(r).cast("long").alias("round"), "seed", "gain")
            .localCheckpoint(eager=True)
        )
        if not winner.take(1):
            break
        picks.append(winner)
        covered = covered.unionByName(
            remaining.join(winner.select("seed"), "seed", "left_semi")
            .select("host")
        ).localCheckpoint(eager=True)
    if not picks:
        return cov.sparkSession.createDataFrame(
            [], "round long, seed string, gain long")
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out

