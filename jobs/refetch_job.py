"""spark-submit entry point for the incremental REFETCH round
(north_rule launch shape; the resumable-incremental-harvest analog of
the reference's rescheduled Scrapy runs):

    spark-submit --py-files engine.zip jobs/refetch_job.py \
        --old-pages /data/pages_v1 --new-pages /data/pages_v2 \
        --prev-checkpoint /data/checkpoints/run1 \
        --checkpoint /data/checkpoints/run1_refetch \
        [--fixture-n 0]

Composition (plans/crawl.run_refetch): md5-content diff of the two
page snapshots -> changed-only refetch queue -> semi-join against the
previous crawl's scheduled table -> seed routing that keeps each URL's
source and parser from that table (plans/crawl.scheduled_seed_router)
-> one crawl round over the NEW corpus with link-follow off, through
extraction and atomic commit. Re-running with the same --checkpoint
resumes (a finished refetch is a no-op — pytest-pinned).

With --fixture-n > 0 the deterministic synthetic corpus v1/v2 pair is
used (smoke/demo mode; --prev-checkpoint must hold a committed crawl
of the same fixture, e.g. from jobs/crawl_job.py --fixture-n).
Without it, pass parquet paths. Both modes route the same way, so GEO
table and mainEntity pages of a real crawl are re-extracted with the
parser they were first fetched with.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--old-pages")
    ap.add_argument("--new-pages")
    ap.add_argument("--prev-checkpoint", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--default-budget", type=int, default=1000)
    ap.add_argument("--round-seconds", type=float, default=60.0)
    ap.add_argument("--fixture-n", type=int, default=0,
                    help="use the synthetic fixture corpus v1/v2 of this size")
    return ap.parse_args(argv)


def refetch(spark: SparkSession, args: argparse.Namespace) -> dict:
    """The refetch round *args* describe; returns run_refetch's summary."""
    from biothings_crawler_spark.fixtures import corpus
    from biothings_crawler_spark.oracle.bfs import CrawlConfig
    from biothings_crawler_spark.plans.crawl import run_refetch, scheduled_seed_router

    if args.fixture_n:
        old_pages = corpus.pages_df(spark, args.fixture_n)
        new_pages = corpus.pages_v2_df(spark, args.fixture_n)
        robots = corpus.robots_df(spark)
        policies = corpus.gen_policies()
    else:
        old_pages = spark.read.parquet(args.old_pages)
        new_pages = spark.read.parquet(args.new_pages)
        robots = spark.createDataFrame([], corpus.ROBOTS_SCHEMA)
        policies = []

    cfg = CrawlConfig(
        max_rounds=1,
        default_budget=args.default_budget,
        round_seconds=args.round_seconds,
    )
    return run_refetch(
        spark, old_pages, new_pages, args.prev_checkpoint,
        scheduled_seed_router(args.prev_checkpoint), robots, policies,
        args.checkpoint, cfg,
    )


def main() -> None:
    args = parse_args()
    spark = SparkSession.builder.appName("biothings-crawler-refetch").getOrCreate()
    print(json.dumps(refetch(spark, args)))
    spark.stop()


if __name__ == "__main__":
    main()
