"""Crawl-trap detection and hot-host skew reporting.

Production crawl hygiene the reference handles implicitly (a human
watches Scrapy's per-spider page counts and kills runaway spiders;
the politeness budget in settings caps per-host damage — reference
``crawler/settings.py`` CONCURRENT_REQUESTS_PER_DOMAIN): at a
10^10-URL frontier nobody watches dashboards per host, so the engine
needs both as first-class batch operators over the frontier table.

* :func:`detect_traps` — calendar/faceted-search/session-id "spider
  traps" generate unboundedly many URLs from a handful of *URL
  patterns* (path templates).  Flag hosts whose distinct-URL count is
  large yet collapses onto few patterns once digit runs are
  normalized away.  Shape: ONE hash aggregation keyed by host with
  two count-distincts (Spark plans an Expand + two-phase partial
  aggregate — map-side reduction before the single shuffle), then a
  row-local ratio.  No windows, no joins; survives 10^10 rows.

* :func:`host_skew_report` — the politeness/scheduling plane shuffles
  by host; one hot host (a mega-site) skews that shuffle.  Report the
  top-k hosts by frontier share plus the integer salt factor that
  would split each hot host into ~``target_per_task``-URL tasks —
  directly consumable by the two-phase salted politeness window
  (operators/politeness.py).  Shape: per-host hash agg, a 1-row
  global-totals broadcast join, TakeOrderedAndProject for the top-k.
  All integer arithmetic (ppm shares, ceil-division salt) so the
  DuckDB oracle is exact.

* :func:`link_farm_report` — reciprocal-link spam: honest sites link
  *out* to hubs far more than hubs link back, while link farms
  exchange links pairwise to inflate each other's in-degree (the
  classic TrustRank-era signal).  Per host, compare distinct outlink
  partners against partners that link back.  Shape: one distinct on
  the host-pair (hash agg keyed by pair), one left-semi self-join on
  the REVERSED pair key (shuffles only (src,dst) string pairs — never
  page payloads), two per-host hash aggs, one left join.  Nothing
  all-pairs; survives a 10^10-edge host graph because the host-pair
  domain is |hosts|-bounded, not |pages|-bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def url_pattern_col(url: Column) -> Column:
    """Collapse a URL onto its *pattern*: drop the query string &
    fragment, then normalize every digit run in the path to ``{N}``.

    ``https://h.example.org/item/8841?sid=3`` and
    ``https://h.example.org/item/17`` share pattern
    ``https://h.example.org/item/{N}``.  Both regexes are RE2-safe so
    the DuckDB oracle runs the identical pipeline.
    """
    no_q = F.regexp_replace(url, r"[?#].*$", "")
    return F.regexp_replace(no_q, r"[0-9]+", "{N}")


def detect_traps(
    frontier: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    min_urls: int = 100,
    min_urls_per_pattern_ppm: int = 50_000_000,
) -> DataFrame:
    """Per-host trap report: ``(host, n_urls, n_patterns,
    urls_per_pattern_ppm, is_trap)``.

    ``urls_per_pattern_ppm`` = distinct URLs per distinct pattern in
    parts-per-million (exact integer division — cross-engine stable).
    A host is a trap when it has at least ``min_urls`` distinct URLs
    AND the ratio clears ``min_urls_per_pattern_ppm`` (default 50
    URLs/pattern).  Both knobs deliberately conservative: a trap host
    at crawl scale shows ratios in the thousands.
    """
    pat = url_pattern_col(F.col(url_col))
    agg = (
        frontier.select(F.col(host_col).alias("host"), F.col(url_col).alias("url"),
                        pat.alias("pattern"))
        .groupBy("host")
        .agg(
            F.countDistinct("url").alias("n_urls"),
            F.countDistinct("pattern").alias("n_patterns"),
        )
    )
    ratio = F.expr("n_urls * 1000000 div n_patterns")
    return agg.select(
        "host", "n_urls", "n_patterns",
        ratio.alias("urls_per_pattern_ppm"),
        ((F.col("n_urls") >= F.lit(min_urls))
         & (ratio >= F.lit(min_urls_per_pattern_ppm))).alias("is_trap"),
    )


def host_skew_report(
    frontier: DataFrame,
    host_col: str = "host",
    top_k: int = 20,
    target_per_task: int = 10_000,
) -> DataFrame:
    """Top-``top_k`` hottest hosts with exact-integer skew metrics:
    ``(host, n_urls, share_ppm, skew_x_ppm, salt)``.

    * ``share_ppm``  — host's share of the frontier, ppm.
    * ``skew_x_ppm`` — host count vs the mean host count, ppm
      (1_000_000 = perfectly balanced).  The scheduler salts any host
      whose skew clears its comfort factor.
    * ``salt``       — ``ceil(n_urls / target_per_task)``: the salt
      modulus that caps each politeness-window task at roughly
      ``target_per_task`` URLs (operators/politeness.py consumes it).

    Deterministic order: count desc, host asc (stable top-k).
    """
    counts = frontier.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_urls")
    )
    totals = counts.agg(
        F.sum("n_urls").alias("total_urls"),
        F.count(F.lit(1)).alias("n_hosts"),
    )
    t = target_per_task
    return (
        counts.join(F.broadcast(totals))
        .select(
            "host", "n_urls",
            F.expr("n_urls * 1000000 div total_urls").alias("share_ppm"),
            F.expr("n_urls * n_hosts * 1000000 div total_urls").alias("skew_x_ppm"),
            F.expr(f"(n_urls + {t} - 1) div {t}").alias("salt"),
        )
        .orderBy(F.col("n_urls").desc(), "host")
        .limit(top_k)
    )


def link_farm_report(
    edges: DataFrame,
    src_col: str = "src_host",
    dst_col: str = "dst_host",
    min_partners: int = 3,
    min_recip_ppm: int = 500_000,
) -> DataFrame:
    """Per-host reciprocal-link report: ``(host, n_partners,
    n_reciprocal, recip_ppm, is_farm)``.

    ``n_partners`` = distinct hosts this host links out to,
    ``n_reciprocal`` = how many of those link back, ``recip_ppm`` =
    reciprocity ratio in parts-per-million (exact integer division).
    A host is flagged when it has at least ``min_partners`` outlink
    partners AND at least ``min_recip_ppm`` of them reciprocate —
    honest hub-and-spoke graphs sit near 0, farms near 1_000_000.

    Self-links are ignored (a host "linking to itself" is navigation,
    not endorsement).  Input is page-level edges; the first distinct
    collapses them to the |hosts|²-bounded pair domain before any join.
    """
    pairs = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    back = pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = pairs.join(back, ["src", "dst"], "left_semi")
    partners = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("n_partners"))
    recips = recip.groupBy("src").agg(F.count(F.lit(1)).alias("n_reciprocal"))
    ratio = F.expr("n_reciprocal * 1000000 div n_partners")
    return (
        partners.join(recips, "src", "left")
        .select(
            F.col("src").alias("host"),
            "n_partners",
            F.coalesce("n_reciprocal", F.lit(0)).alias("n_reciprocal"),
        )
        .select(
            "host", "n_partners", "n_reciprocal",
            ratio.alias("recip_ppm"),
            ((F.col("n_partners") >= F.lit(min_partners))
             & (ratio >= F.lit(min_recip_ppm))).alias("is_farm"),
        )
    )


def domain_scorecard(traps: DataFrame, farms: DataFrame) -> DataFrame:
    """Fold the per-host trap report (:func:`detect_traps`) and
    reciprocity report (:func:`link_farm_report`) into one crawl-policy
    scorecard: ``(host, n_urls, urls_per_pattern_ppm, is_trap,
    n_partners, recip_ppm, is_farm, verdict)`` with a row-local
    precedence verdict ``trap > farm > ok`` — the table a crawl
    scheduler consults before admitting a host's URLs to the frontier.

    Scale shape: both inputs are already host-keyed aggregates
    (|hosts|-bounded), so the full-outer join shuffles two small
    host-keyed tables and everything after is a row-local projection.
    """
    t = traps.select("host", "n_urls", "urls_per_pattern_ppm", "is_trap")
    f = farms.select("host", "n_partners", "recip_ppm", "is_farm")
    j = t.join(f, "host", "full_outer")
    verdict = (
        F.when(F.coalesce(F.col("is_trap"), F.lit(False)), F.lit("trap"))
        .when(F.coalesce(F.col("is_farm"), F.lit(False)), F.lit("farm"))
        .otherwise(F.lit("ok"))
    )
    return j.select(
        "host",
        F.coalesce("n_urls", F.lit(0)).alias("n_urls"),
        F.coalesce("urls_per_pattern_ppm", F.lit(0)).alias("urls_per_pattern_ppm"),
        F.coalesce("is_trap", F.lit(False)).alias("is_trap"),
        F.coalesce("n_partners", F.lit(0)).alias("n_partners"),
        F.coalesce("recip_ppm", F.lit(0)).alias("recip_ppm"),
        F.coalesce("is_farm", F.lit(False)).alias("is_farm"),
        verdict.alias("verdict"),
    )


SOFT404_PHRASES = (
    r"(?i)(page not found|404 error|does not exist|no longer available"
    r"|nothing was found|page you requested)"
)


def soft404_flags(
    fetches: DataFrame,
    host_col: str,
    url_col: str,
    text_col: str,
    min_urls: int = 3,
    phrases: str = SOFT404_PHRASES,
) -> DataFrame:
    """Soft-404 detection: hosts that answer HTTP 200 for missing
    pages poison a frontier — the crawler keeps scheduling dead
    branches and the corpus fills with identical "not found" boiler-
    plate.  The reference never meets these (its spiders fetch curated
    seed lists); a 10^10-URL frontier meets them constantly.

    Signature rule (the classic Bar-Yossef et al. "Sic Transit Gloria
    Telae" idea, content-side variant): within a host, a normalized
    body that (a) repeats verbatim across >= ``min_urls`` DISTINCT
    URLs and (b) carries an error phrase is that host's soft-404
    template; every URL serving it is flagged.  Repetition alone is
    NOT enough (shared newsletter/landing boilerplate is dup content,
    not an error page), so both conditions gate the flag.

    Scale shape: body hash is row-local md5; signature detection is
    ONE hash aggregate on (host, hash) with a distinct-URL count
    (Expand + two-phase partial agg); flags come back via a left join
    on (host, hash) whose right side holds only signature groups —
    tiny by construction (templates per host, not pages).  No windows,
    no Python.  Output: (host, url, body_hash, is_soft404).
    """
    norm = F.md5(F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    base = fetches.select(
        F.col(host_col).alias("host"),
        F.col(url_col).alias("url"),
        norm.alias("body_hash"),
        F.col(text_col).rlike(phrases).alias("has_phrase"),
    )
    sigs = (
        base.groupBy("host", "body_hash")
        .agg(
            F.countDistinct("url").alias("n_urls"),
            F.max(F.col("has_phrase").cast("int")).alias("phrased"),
        )
        .filter((F.col("n_urls") >= int(min_urls)) & (F.col("phrased") == 1))
        .select("host", "body_hash", F.lit(True).alias("is_soft404"))
    )
    return (
        base.select("host", "url", "body_hash")
        .join(sigs, ["host", "body_hash"], "left")
        .select(
            "host", "url", "body_hash",
            F.coalesce("is_soft404", F.lit(False)).alias("is_soft404"),
        )
    )


def mirror_report(
    pages: DataFrame,
    host_col: str,
    url_col: str,
    text_col: str,
    max_hosts_per_hash: int = 8,
    min_shared: int = 3,
    min_share_ppm: int = 500_000,
) -> DataFrame:
    """Host-mirror detection: ``(host_a, host_b, n_shared, share_ppm,
    is_mirror)`` — host pairs serving the same content under different
    names.  Mirrors waste crawl budget (every page fetched twice) and
    double-count documents downstream, so the frontier should collapse
    each mirror pair onto one canonical host.  The reference's curated
    sources have no mirrors; Common-Crawl-scale frontiers are full of
    them (cdn/www variants, resellers, scraped clones).

    Rule: normalized-body hashes are collapsed to distinct (hash,
    host); a pair's ``n_shared`` = hashes both hosts serve, and
    ``share_ppm`` = n_shared / min(|a|, |b|) in parts-per-million
    (containment, so a small full mirror of a big site still scores
    ~1e6).  Flag when both ``min_shared`` and ``min_share_ppm`` hold.

    Scale shape: everything pivots on the hash equi-join, and the
    pair domain is explicitly bounded — hashes carried by more than
    ``max_hosts_per_hash`` hosts (empty pages, cookie walls, shared
    boilerplate) are dropped BEFORE the self-join, capping pairs per
    hash at C(cap, 2) instead of |hosts|².  The (host, n_hashes)
    sizes table is host-bounded (millions of rows at web scale, not
    billions) — left to AQE to broadcast or shuffle as its measured
    size dictates.  No windows, no Python.
    """
    hh = pages.select(
        F.col(host_col).alias("host"),
        F.md5(
            F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
        ).alias("body_hash"),
    ).distinct()
    sizes = hh.groupBy("host").agg(F.count(F.lit(1)).cast("long").alias("n_hashes"))
    bounded = hh.join(
        hh.groupBy("body_hash")
        .agg(F.count(F.lit(1)).alias("n_hosts"))
        .filter(F.col("n_hosts") <= int(max_hosts_per_hash))
        .select("body_hash"),
        "body_hash",
        "left_semi",
    )
    a = bounded.select("body_hash", F.col("host").alias("host_a"))
    b = bounded.select("body_hash", F.col("host").alias("host_b"))
    shared = (
        a.join(b, "body_hash")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
    )
    share = F.expr(
        "n_shared * 1000000 div least(n_a, n_b)"
    )
    return (
        shared.join(
            sizes.select(F.col("host").alias("host_a"),
                         F.col("n_hashes").alias("n_a")),
            "host_a",
        )
        .join(
            sizes.select(F.col("host").alias("host_b"),
                         F.col("n_hashes").alias("n_b")),
            "host_b",
        )
        .select(
            "host_a", "host_b", "n_shared",
            share.alias("share_ppm"),
            ((F.col("n_shared") >= F.lit(int(min_shared)))
             & (share >= F.lit(int(min_share_ppm)))).alias("is_mirror"),
        )
    )


def template_report(
    pages: DataFrame,
    host_col: str,
    url_col: str,
    html_col: str,
    min_pages: int = 3,
) -> DataFrame:
    """Structural template clustering: ``(host, template_fp, n_pages,
    share_ppm, is_template)`` — pages grouped by the hash of their
    OPEN-TAG SEQUENCE, the text-free skeleton that survives content
    changes.  Two pages from the same CMS template collide here even
    though every content hash differs, which is what makes this the
    cheap precursor to boilerplate removal (crawl side of the
    Gibson/Punera/Tomkins template-detection line): a host whose
    pages collapse onto one fingerprint is template-driven, and its
    per-template page share tells the extractor which skeleton to
    learn boilerplate from.

    Shape: the fingerprint is a row-local ``regexp_extract_all`` +
    ``array_join`` + md5 (no Python); counting is one hash aggregate
    on (host, fp); the host-size denominator joins back from a
    host-bounded aggregate — the same two-level pattern as
    :func:`host_skew_report`.  All-ppm integers, exact DuckDB twin.
    """
    txt = F.decode(F.col(html_col), "utf-8")
    fp = F.md5(
        F.array_join(
            F.regexp_extract_all(txt, F.lit(r"<([a-z][a-z0-9]*)[^>]*>"), F.lit(1)),
            ",",
        )
    )
    base = pages.select(
        F.col(host_col).alias("host"),
        F.col(url_col).alias("url"),
        fp.alias("template_fp"),
    )
    per_fp = base.groupBy("host", "template_fp").agg(
        F.count(F.lit(1)).cast("long").alias("n_pages")
    )
    per_host = per_fp.groupBy("host").agg(
        F.sum("n_pages").cast("long").alias("host_pages")
    )
    share = F.expr("n_pages * 1000000 div host_pages")
    return (
        per_fp.join(per_host, "host")
        .select(
            "host", "template_fp", "n_pages",
            share.alias("share_ppm"),
            (F.col("n_pages") >= F.lit(int(min_pages))).alias("is_template"),
        )
    )


def site_families(
    pages: DataFrame,
    host_col: str,
    url_col: str,
    text_col: str,
    max_hosts_per_hash: int = 8,
    min_shared: int = 3,
    min_share_ppm: int = 500_000,
) -> DataFrame:
    """Collapse mirror/clone hosts into FAMILIES: ``(host, family,
    is_family_head)`` — the frontier keeps one head host per family
    and skips the clones entirely, which recovers whole-site crawl
    budget (a pairwise mirror report alone can't: mirrors are
    transitive, A~B and B~C must collapse A,B,C together).

    Composition: :func:`mirror_report` flagged pairs -> smallest-host
    label propagation (:func:`biothings_crawler_spark.operators.dedup.
    connected_components`, which is type-agnostic — string hosts
    order lexicographically).  Non-mirrored hosts are their own
    family head.
    """
    from biothings_crawler_spark.operators.dedup import connected_components

    rep = mirror_report(
        pages, host_col, url_col, text_col,
        max_hosts_per_hash=max_hosts_per_hash,
        min_shared=min_shared, min_share_ppm=min_share_ppm,
    )
    # the host graph is HOST-bounded (millions of rows at web scale,
    # tiny next to the corpus) — materialize it ONCE before the CC
    # loop so the full mirror_report scan doesn't re-execute per
    # label-propagation iteration
    pairs = rep.filter(F.col("is_mirror")).select(
        F.col("host_a").alias("id_a"), F.col("host_b").alias("id_b")
    ).localCheckpoint(eager=True)
    nodes = (
        pages.select(F.col(host_col).alias("host")).distinct()
        .localCheckpoint(eager=True)
    )
    comp = connected_components(pairs, nodes, id_col="host")
    return comp.select(
        F.col("id").alias("host"),
        F.col("component").alias("family"),
        (F.col("id") == F.col("component")).alias("is_family_head"),
    )
