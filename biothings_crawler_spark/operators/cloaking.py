"""Cloaking detection: does a host serve the crawler different content
than a browser?

Search engines crawl sensitive hosts twice with different User-Agents
and compare the payloads — serving bots keyword-stuffed or entirely
different content ("cloaking", a sneaky-redirect sibling) is a
first-class spam signal a 100-TB crawl wants as a per-host census.
The reference (row-at-a-time Scrapy) has no dual-fetch plane; this is
the Spark-native formulation over a long-format fetch table.

Verdict ladder per URL, cheap-to-expensive, all integer-exact:

* ``partial``   — one UA variant missing (fetch failed / blocked).
* ``same``      — raw payloads byte-equal.
* ``dynamic``   — equal after whitespace/case normalization (ads,
  timestamps and session IDs usually survive this lane at real scale;
  the fixture keeps it to whitespace/case so the oracle is exact).
* ``cloaked``   — word-set Jaccard below ``min_jaccard_ppm`` (different
  content) OR word-count ratio above ``len_ratio_ppm`` (stuffing).
* ``differs``   — different but within both bounds.

Scale shape: ONE hash aggregation pivots (url, ua, text) to a row per
URL (map-side partials, no window, no self-join), then pure row-local
whole-stage-codegen array math — word splits evaluated once per side
via select-boundary staging, so Catalyst cannot collapse the
projections and re-inline the splits. Thresholds are ppm integers so
the DuckDB twin is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from biothings_crawler_spark.operators.text import words_col


def cloaking_verdicts(
    fetches: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    ua_col: str = "ua",
    text_col: str = "text",
    bot_ua: str = "bot",
    browser_ua: str = "browser",
    len_ratio_ppm: int = 1_500_000,
    min_jaccard_ppm: int = 500_000,
) -> DataFrame:
    """Per-URL cloaking verdicts from a dual-UA fetch table.

    ``fetches``: long format, one row per (url, ua) fetch. Output:
    (url, host, verdict, n_bot, n_browser, jaccard_ppm, ratio_ppm) —
    counts are whitespace-word counts; jaccard is over DISTINCT
    lowercased words; ratio is max/min word count; ppm floor-division
    so both engines agree bit-for-bit.
    """

    def side(ua: str, out: str) -> F.Column:
        return F.max(
            F.when(F.col(ua_col) == ua, F.col(text_col))
        ).alias(out)

    pivoted = fetches.groupBy(
        F.col(url_col).alias("url"), F.col(host_col).alias("host")
    ).agg(side(bot_ua, "bot"), side(browser_ua, "browser"))

    staged = pivoted.select(
        "url", "host", "bot", "browser",
        words_col(F.col("bot")).alias("wb"),
        words_col(F.col("browser")).alias("ww"),
    ).select(
        "url", "host", "bot", "browser",
        F.size("wb").cast("long").alias("n_bot"),
        F.size("ww").cast("long").alias("n_browser"),
        F.array_distinct("wb").alias("db"),
        F.array_distinct("ww").alias("dw"),
        F.array_join("wb", " ").alias("norm_b"),
        F.array_join("ww", " ").alias("norm_w"),
    ).select(
        "url", "host", "bot", "browser", "n_bot", "n_browser",
        "norm_b", "norm_w",
        F.size(F.array_intersect("db", "dw")).cast("long").alias("inter"),
        (F.size("db") + F.size("dw")).cast("long").alias("sizes"),
    )

    union = F.col("sizes") - F.col("inter")
    jac = F.when(union > 0, F.expr("inter * 1000000 div (sizes - inter)")) \
        .otherwise(F.lit(1_000_000))
    ratio = F.expr(
        "greatest(n_bot, n_browser) * 1000000"
        " div greatest(least(n_bot, n_browser), 1)"
    )
    partial = F.col("bot").isNull() | F.col("browser").isNull()
    verdict = (
        F.when(partial, F.lit("partial"))
        .when(F.col("bot") == F.col("browser"), F.lit("same"))
        .when(F.col("norm_b") == F.col("norm_w"), F.lit("dynamic"))
        .when(
            (jac < F.lit(min_jaccard_ppm)) | (ratio > F.lit(len_ratio_ppm)),
            F.lit("cloaked"),
        )
        .otherwise(F.lit("differs"))
    )
    return staged.select(
        "url", "host",
        verdict.alias("verdict"),
        F.when(~partial, F.col("n_bot")).alias("n_bot"),
        F.when(~partial, F.col("n_browser")).alias("n_browser"),
        F.when(~partial, jac).cast("long").alias("jaccard_ppm"),
        F.when(~partial, ratio).cast("long").alias("ratio_ppm"),
    )


def cloaking_census(verdicts: DataFrame) -> DataFrame:
    """Per-host rollup of :func:`cloaking_verdicts`: URL counts per
    verdict plus an exact cloaked ppm — the blocklist-feed shape. One
    hash aggregation."""
    n = F.count(F.lit(1))

    def k(v: str) -> F.Column:
        return F.sum(
            F.when(F.col("verdict") == v, 1).otherwise(0)
        ).cast("long").alias(f"n_{v}")

    return verdicts.groupBy("host").agg(
        n.cast("long").alias("n_urls"),
        k("cloaked"), k("dynamic"), k("partial"),
        F.expr(
            "sum(case when verdict = 'cloaked' then 1 else 0 end)"
            " * 1000000 div count(1)"
        ).cast("long").alias("cloaked_ppm"),
    )
