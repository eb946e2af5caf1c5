"""The BFS crawl round loop — the engine's main job.

Re-expresses the reference's Scrapy event loop (SURVEY.md §3.1) as a
driver loop of DataFrame jobs, one per BFS round
(``DEPTH_PRIORITY=1`` + FIFO queues == breadth-first by rounds,
clic.py:71-73):

  frontier -> dedup -> robots -> seen-filter (bloom prune + exact
  anti-join) -> politeness window (salted per-host top-budget) ->
  "fetch" (join vs pages corpus on url_canon) -> extraction UDFs
  (items + links) -> docs/page_texts append + next frontier ->
  bloom-segment update -> atomic round commit -> repeat.

Semantics are specified in oracle/bfs.py (the frozen simulator); the
end-to-end test asserts ordering/docs/seen equality between this loop
and the simulator on the fixture corpus.

Scale properties (the part that must survive 10^10 rows / 1000
executors — SURVEY.md §4):
  * every per-round table is re-read from the checkpoint before the
    next round — lineage is truncated each round, so round k+1's plan
    is flat no matter how many rounds ran;
  * the politeness window is two-phase salted (operators/politeness.py)
    — no single-task hot-host straggler;
  * the seen-set probe cogroups candidates with bloom segment blobs
    (operators/seen.py) — blobs never replicate per candidate row, and
    the exact anti-join only sees the bloom-positive sliver;
  * the fetch join is a plain equi-join on url_canon: broadcast when a
    round is small (AQE decides), sort-merge otherwise; the pages
    corpus should be bucketed by url_canon at ingest;
  * resume: ``catalog.latest_round()`` -> identical remaining rounds
    (north_rule). The commit is all-or-nothing per round.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from biothings_crawler_spark.catalog import ParquetManifestCatalog
from biothings_crawler_spark.operators.extract import (
    extract_items_udf,
    extract_links_udf,
    page_text_col,
)
from biothings_crawler_spark.operators.frontier import (
    dedup_frontier,
    frontier_from_seeds,
    links_to_frontier,
)
from biothings_crawler_spark.operators.politeness import (
    apply_robots,
    host_budgets,
    select_politely,
)
from biothings_crawler_spark.operators.seen import build_segments, filter_unseen
from biothings_crawler_spark.oracle.bfs import CrawlConfig
from biothings_crawler_spark.urlnorm import canonicalize_col, domain_key_col, host_col

__all__ = ["CrawlConfig", "run_crawl", "run_refetch", "scheduled_seed_router"]


def _per_source(policies: list[dict], key: str, default, value=F.lit):
    """``value(policy[key])`` for the row's source, else ``default``: a
    literal when-chain over the (tiny) policy list — Catalyst-foldable,
    no join, no UDF for policy routing."""
    expr = None
    for p in policies:
        cond = F.col("source") == F.lit(p["source"])
        val = value(p.get(key))
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr.otherwise(F.lit(default)) if expr is not None else F.lit(default)


def _matches(col: str):
    """Per-policy regex gate on ``col``; a policy without one admits all."""
    return lambda rx: F.lit(True) if rx is None else F.col(col).rlike(rx)


def run_refetch(
    spark: SparkSession,
    old_pages: DataFrame,
    new_pages: DataFrame,
    prev_checkpoint: str,
    seed_router,
    robots: DataFrame,
    policies: list[dict],
    checkpoint_dir: str,
    cfg: CrawlConfig | None = None,
) -> dict:
    """The incremental REFETCH round, first-class: md5-content diff of
    the old vs new page snapshots (operators/snapshot.snapshot_diff) ->
    changed-only refetch queue (added urls enter via the normal
    discovery path, not refetch) -> semi-join against the PREVIOUS
    crawl checkpoint's scheduled table (refetch only what that crawl
    actually fetched) -> ``seed_router`` (a callable mapping the queue
    DataFrame [url, url_canon] to a seeds DataFrame with seed_id/url/
    source/parser/priority — typically a host-rule CASE, the
    reference's sitemap-rule mechanism) -> a fresh ``run_crawl`` over
    the NEW corpus with link-follow off, through extraction and atomic
    commit. Returns run_crawl's summary.

    Scale shape: the diff is one full-outer equi-join on url (both
    sides bucketed by url at production scale = co-located); the
    semi-join prunes the queue to the scheduled sliver; everything
    downstream is the normal crawl plane over a queue-sized frontier —
    the 10^10-page property is that re-processing cost is proportional
    to the DELTA, never the corpus."""
    from biothings_crawler_spark.operators.snapshot import (
        CHANGED,
        refetch_queue,
        snapshot_diff,
    )

    cfg = cfg or CrawlConfig(max_rounds=1)
    prev = ParquetManifestCatalog(prev_checkpoint)
    old = old_pages.select("url", F.md5(F.col("html")).alias("content_hash"))
    new = new_pages.select("url", F.md5(F.col("html")).alias("content_hash"))
    queue = refetch_queue(snapshot_diff(old, new)).filter(
        F.col("status") == CHANGED)
    sched_prev = prev.read(spark, "scheduled")
    if sched_prev is None:
        raise ValueError(f"no committed crawl rounds in {prev_checkpoint}")
    qc = queue.withColumn("url_canon", canonicalize_col(F.col("url"))).join(
        sched_prev.select("url_canon").dropDuplicates(), "url_canon", "semi")
    seeds = seed_router(qc)
    pol = [dict(p, follow=False) for p in policies]
    return run_crawl(spark, new_pages, seeds, robots, pol, checkpoint_dir, cfg)


def scheduled_seed_router(prev_checkpoint: str):
    """Seed router for ``run_refetch`` that needs no host rules: each
    queued URL keeps the ``source`` and ``parser`` the previous crawl
    (``prev_checkpoint``) scheduled it under, so real snapshots route
    exactly like the crawl that fetched them. ``scheduled`` holds each
    url_canon once and the queue is already semi-joined to it, so the
    equi-join is 1:1. Like ``corpus.fixture_seed_router``, every seed
    gets seed_id "refetch" and priority 0."""

    def route(queue: DataFrame) -> DataFrame:
        sched = ParquetManifestCatalog(prev_checkpoint).read(
            queue.sparkSession, "scheduled")
        return queue.join(
            sched.select("url_canon", "source", "parser"), "url_canon"
        ).select(
            F.lit("refetch").alias("seed_id"),
            "url",
            "source",
            "parser",
            F.lit(0).alias("priority"),
        )

    return route


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    policies: list[dict],
    checkpoint_dir: str,
    cfg: CrawlConfig | None = None,
) -> dict:
    """Run (or resume) a crawl; returns summary counters."""
    cfg = cfg or CrawlConfig()
    cat = ParquetManifestCatalog(checkpoint_dir)
    budgets = host_budgets(robots, cfg.round_seconds, cfg.default_budget)

    pages_c = pages.select(
        canonicalize_col(F.col("url")).alias("url_canon"),
        F.col("url").alias("page_url"),
        "html",
    ).filter(F.col("url_canon").isNotNull())

    follow_ok = _per_source(policies, "follow", False)
    same_dom = _per_source(policies, "same_domain", True)
    max_depth = _per_source(policies, "max_depth", None).cast("int")
    extract_ok = _per_source(policies, "extract_regex", True, _matches("url"))
    allow_ok = _per_source(policies, "allow_link", True, _matches("link"))

    last = cat.latest_round()
    if last is None:
        frontier = dedup_frontier(frontier_from_seeds(seeds))
        segments = None
        rnd0 = 0
    else:
        frontier = cat.read(spark, "next_frontier", last)
        segments = cat.read(spark, "seen_segments", last)
        rnd0 = last + 1
    exact_seen = cat.read(spark, "scheduled")  # None on a fresh crawl

    summary = {"rounds": 0, "scheduled": 0, "docs": 0}
    for rnd in range(rnd0, cfg.max_rounds):
        if frontier is None or not frontier.head(1):
            break
        # frontier is already one row per URL: the seed build and the
        # committed next_frontier both come out of dedup_frontier
        cand = apply_robots(frontier, robots, cfg.obey_robots)
        cand = filter_unseen(
            cand,
            segments.select("segment_id", "bloom") if segments is not None else None,
            exact_seen.select("url_hash", "url_canon") if exact_seen is not None else None,
            cfg.n_segments,
        ).persist()

        sched = select_politely(cand, budgets, cfg.default_budget, cfg.salt_target).persist()
        deferred = cand.join(
            sched.select("url_hash", "url_canon"), ["url_hash", "url_canon"], "left_anti"
        )

        # persist: fetched feeds extraction AND link-follow; parsed feeds
        # two sinks (docs, page_texts). Without persistence each consumer
        # re-runs the fetch join and the extraction UDF — the most
        # expensive Python stage — once per sink.
        fetched = sched.join(pages_c, "url_canon", "inner").persist()
        parsed = (
            fetched.filter(extract_ok)
            .withColumn("items", extract_items_udf(F.col("html"), F.col("url"), F.col("parser")))
            .persist()
        )
        page_texts = parsed.select(
            F.lit(rnd).alias("round"), "url_canon", "url", "source",
            page_text_col(F.col("items")).alias("text"),
        )
        docs = parsed.select(
            F.lit(rnd).alias("round"), "url_canon", "url", "host", "source", "seed_id",
            F.posexplode("items").alias("pos", "doc_json"),
        ).withColumn("_id", F.get_json_object("doc_json", "$._id"))

        linkable = fetched.filter(follow_ok).filter(
            max_depth.isNull() | (F.col("depth") + 1 <= max_depth)
        )
        raw_links = linkable.select(
            "depth", "priority", "seed_id", "source", "parser", "host",
            F.explode(extract_links_udf(F.col("html"), F.col("url"))).alias("link"),
        ).filter(allow_ok)
        dk = domain_key_col(F.col("host"))
        lh = host_col(F.col("link"))
        links = raw_links.filter(
            (~same_dom) | (lh == dk) | lh.endswith(F.concat(F.lit("."), dk))
        ).select(
            "link",
            (F.col("depth") + 1).alias("depth"),
            "priority", "seed_id", "source", "parser",
            F.col("host").alias("disc_host"),  # discovering page's host (metrics)
        )
        new_frontier = links_to_frontier(links.drop("disc_host"), rnd + 1)
        next_frontier = dedup_frontier(deferred.unionByName(new_frontier))

        new_segments = build_segments(
            sched.select("url_hash"), rnd, cfg.n_segments,
            cfg.bloom_bits_per_segment, cfg.bloom_hashes,
            prev_segments=segments,
        )

        def _m(df: DataFrame, name: str) -> DataFrame:
            return df.groupBy("host").agg(F.count(F.lit(1)).alias("value")).select(
                F.lit(rnd).alias("round"), "host", F.lit(name).alias("metric"), "value"
            )

        metrics = reduce(
            lambda a, b: a.unionByName(b),
            [
                _m(sched, "scheduled"),
                _m(fetched, "fetched"),
                _m(docs, "docs"),
                _m(links.select(F.col("disc_host").alias("host")), "links"),
            ],
        )
        lineage = sched.groupBy(F.spark_partition_id().alias("partition_id")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("url_hash").alias("min_hash"),
            F.max("url_hash").alias("max_hash"),
        ).select(F.lit(rnd).alias("round"), "*")

        cat.commit(rnd, {
            "scheduled": sched,
            "docs": docs,
            "page_texts": page_texts,
            "next_frontier": next_frontier,
            "seen_segments": new_segments,
            "metrics": metrics,
            "lineage": lineage,
        })

        summary["rounds"] += 1
        summary["scheduled"] += sched.count()
        cand.unpersist()
        sched.unpersist()
        fetched.unpersist()
        parsed.unpersist()
        # re-read from the checkpoint: truncates lineage for the next round
        frontier = cat.read(spark, "next_frontier", rnd)
        segments = cat.read(spark, "seen_segments", rnd)
        exact_seen = cat.read(spark, "scheduled")
    docs_all = cat.read(spark, "docs")
    summary["docs"] = docs_all.count() if docs_all is not None else 0
    return summary
