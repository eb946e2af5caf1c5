"""Anchor-text aggregation over the link graph: the per-target anchor
field web ranking is built on (Brin & Page 1998 §2.2 — "anchors often
provide more accurate descriptions of web pages than the pages
themselves"; Craswell, Hawking & Robertson SIGIR 2001 for the
site-collapsed effectiveness evidence).

The raw signal is one row per hyperlink ``(src_host, dst, anchor)``.
Two classic failure modes make naive term counting useless at web
scale: sitewide navigation ("click here", a footer link repeated on
every page of a host) floods the counts, and a single spam host can
mint unlimited links.  The standard fix for both is HOST COLLAPSING:
each linking host gets ONE vote per (target, term), so a term's weight
is the number of distinct hosts that used it in an anchor at the
target — raw link multiplicity is kept only as a tiebreak/diagnostic.

Scale shape: explode anchors to (dst, term, src_host) rows, collapse
to distinct — ONE hash aggregate whose key includes the host, so the
partial (map-side) distinct already kills the sitewide-nav
multiplicity before the shuffle; then a (dst, term) hash agg counts
hosts and links; the per-target top-m runs as a ``row_number`` window
partitioned by ``dst``, which Spark executes with partial/final
``WindowGroupLimit`` — per-partition top-m before the exchange, so the
shuffle carries at most m rows per (partition, dst).  Nothing is ever
keyed on the raw link table's skew (a 10^9-in-link target contributes
|vocab_of_its_anchors| rows past the first agg, not 10^9).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from biothings_crawler_spark.operators.text import words_col


def anchor_summary(
    links: DataFrame,
    src_host_col: str,
    dst_col: str,
    anchor_col: str,
    m: int = 10,
) -> DataFrame:
    """Top-``m`` anchor terms per link target, host-collapsed.

    ``n_hosts`` = distinct linking hosts using the term at the target
    (the ranking weight); ``n_links`` = raw link-occurrence count
    (diagnostic + tiebreak).  Rank orders by (n_hosts DESC, n_links
    DESC, term ASC) — deterministic.

    Output: (dst, term, n_hosts, n_links, rank).
    """
    hits = links.select(
        F.col(dst_col).alias("dst"),
        F.col(src_host_col).alias("src_host"),
        F.explode(words_col(F.col(anchor_col))).alias("term"),
    )
    per_host = hits.groupBy("dst", "term", "src_host").agg(
        F.count(F.lit(1)).cast("long").alias("links_from_host")
    )
    scored = per_host.groupBy("dst", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.sum("links_from_host").cast("long").alias("n_links"),
    )
    w = Window.partitionBy("dst").orderBy(
        F.desc("n_hosts"), F.desc("n_links"), "term"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= m)
        .select("dst", "term", "n_hosts", "n_links", "rank")
    )


def anchor_field(
    links: DataFrame,
    src_host_col: str,
    dst_col: str,
    anchor_col: str,
    m: int = 10,
) -> DataFrame:
    """The per-target anchor FIELD for fielded (BM25F-style)
    retrieval: each top-m term repeated ``n_hosts`` times, in rank
    order — so the anchor field's tf IS the host-collapsed vote count,
    not the raw link count.  Bounded
    by construction: <= m terms and <= sum(n_hosts) <= m * |hosts|
    tokens per target, assembled row-locally from the summary (one
    ``array_join``/``repeat`` projection, no extra shuffle past the
    summary's own aggs).

    Output: (dst, anchor) with ``anchor`` a space-joined term bag.
    """
    s = anchor_summary(links, src_host_col, dst_col, anchor_col, m)
    term_bag = F.array_join(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("rank", "term", "n_hosts"))
                ),
                lambda x: F.array_repeat(x["term"], x["n_hosts"].cast("int")),
            )
        ),
        " ",
    )
    return s.groupBy("dst").agg(term_bag.alias("anchor"))
