"""Crawl-trap detection, host-skew report, anchor-text index."""

from pyspark.sql import functions as F

from biothings_crawler_spark.operators.extract import anchor_text_index
from biothings_crawler_spark.operators.traps import (
    detect_traps,
    host_skew_report,
    url_pattern_col,
)


def _frontier(spark, rows):
    return spark.createDataFrame(rows, "url string, host string")


def test_url_pattern_strips_query_and_digits(spark):
    df = spark.createDataFrame(
        [
            ("https://h.example.org/item/8841?sid=3&d=20260817",),
            ("https://h.example.org/item/17",),
            ("https://h.example.org/about#frag",),
        ],
        "url string",
    )
    pats = [r.p for r in df.select(url_pattern_col(F.col("url")).alias("p")).collect()]
    assert pats == [
        "https://h.example.org/item/{N}",
        "https://h.example.org/item/{N}",
        "https://h.example.org/about",
    ]


def test_detect_traps_flags_and_gates(spark):
    rows = (
        # trap host: 120 distinct URLs, one pattern
        [(f"https://trap.example.org/cal/{i}", "trap.example.org") for i in range(120)]
        # ratio-clearing but small host: 60 URLs, one pattern -> NOT a trap
        + [(f"https://mid.example.org/m/{i}", "mid.example.org") for i in range(60)]
        # benign host: 120 distinct URLs over 120 distinct ALPHA patterns
        # (digit-bearing paths would collapse onto one '{N}' pattern)
        + [
            (
                f"https://ok.example.org/{chr(97 + i % 26)}{chr(97 + i // 26)}",
                "ok.example.org",
            )
            for i in range(120)
        ]
    )
    out = {
        r.host: r
        for r in detect_traps(_frontier(spark, rows)).collect()
    }
    trap, mid, ok = out["trap.example.org"], out["mid.example.org"], out["ok.example.org"]
    assert trap.is_trap and trap.n_urls == 120 and trap.n_patterns == 1
    assert trap.urls_per_pattern_ppm == 120_000_000
    # clears the ratio gate (60e6 >= 50e6) but fails min_urls -> benign
    assert mid.urls_per_pattern_ppm == 60_000_000 and not mid.is_trap
    assert ok.n_patterns == ok.n_urls == 120 and not ok.is_trap


def test_detect_traps_counts_distinct_not_rows(spark):
    rows = [("https://h.example.org/cal/1", "h.example.org")] * 500
    r = detect_traps(_frontier(spark, rows), min_urls=1).collect()[0]
    assert r.n_urls == 1 and r.n_patterns == 1
    assert r.urls_per_pattern_ppm == 1_000_000


def test_host_skew_report_exact_integers(spark):
    rows = (
        [(f"https://big.example.org/{i}", "big.example.org") for i in range(300)]
        + [(f"https://a.example.org/{i}", "a.example.org") for i in range(60)]
        + [(f"https://b.example.org/{i}", "b.example.org") for i in range(40)]
    )
    out = host_skew_report(
        _frontier(spark, rows), top_k=2, target_per_task=100
    ).collect()
    assert [r.host for r in out] == ["big.example.org", "a.example.org"]
    big = out[0]
    assert big.n_urls == 300
    assert big.share_ppm == 300 * 1_000_000 // 400
    assert big.skew_x_ppm == 300 * 3 * 1_000_000 // 400  # 2.25x the mean
    assert big.salt == 3  # ceil(300/100)
    assert out[1].salt == 1


def test_host_skew_tiebreak_is_host_order(spark):
    rows = [
        ("https://z.example.org/1", "z.example.org"),
        ("https://a.example.org/1", "a.example.org"),
    ]
    out = host_skew_report(_frontier(spark, rows), top_k=2).collect()
    assert [r.host for r in out] == ["a.example.org", "z.example.org"]


def test_anchor_text_index_resolution_and_counts(spark):
    html = (
        '<html><body>'
        '<a href="https://other.example.org/x" rel="nofollow">Other page </a>'
        '<a href="/about">About</a>'
        '<a href="rel/y">dropped relative</a>'
        '<a href="mailto:x@example.org">dropped mailto</a>'
        '<a href="https://other.example.org/x">Other page</a>'
        "</body></html>"
    )
    pages = spark.createDataFrame(
        [(html.encode(), "https://site.example.org/page/1")], "html binary, url string"
    )
    out = {
        (r.target_url, r.anchor_text): r.n_refs
        for r in anchor_text_index(pages).collect()
    }
    # trimmed text unifies the two absolute anchors
    assert out == {
        ("https://other.example.org/x", "Other page"): 2,
        ("https://site.example.org/about", "About"): 1,
    }


def test_anchor_and_trap_plans_are_jvm_only(spark):
    rows = [("https://h.example.org/cal/1", "h.example.org")]
    plan = detect_traps(_frontier(spark, rows))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Window" not in plan
    pages = spark.createDataFrame(
        [(b"<a href=\"/a\">x</a>", "https://h.example.org/")], "html binary, url string"
    )
    aplan = anchor_text_index(pages)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in aplan and "ArrowEvalPython" not in aplan
    assert "Window" not in aplan


def test_heavy_bigrams_counts_and_order(spark):
    from biothings_crawler_spark.operators.text import heavy_bigrams

    docs = spark.createDataFrame(
        [(1, "buy now buy now"), (2, "buy now please"), (3, "solo")],
        "id long, text string",
    )
    out = [(r.bigram, r.n) for r in heavy_bigrams(docs, "id", "text", top_k=3).collect()]
    # 'buy now' x3 ('buy now buy now' contributes two), then ties by gram asc
    assert out[0] == ("buy now", 3)
    assert out[1:] == [("now buy", 1), ("now please", 1)]


# --- reciprocal-link farm detection (operators/traps.link_farm_report) -------


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src_host string, dst_host string")


def test_link_farm_hand_case(spark):
    from biothings_crawler_spark.operators.traps import link_farm_report

    rows = (
        # 3-clique of farms: every ordered pair, duplicated page-level edges
        [(f"f{a}", f"f{b}") for a in range(3) for b in range(3) if a != b] * 4
        # honest spokes -> hub; hub links back to s0 only
        + [(f"s{i}", "hub") for i in range(5)]
        + [("hub", "s0")]
        # self-link must be ignored
        + [("hub", "hub")]
    )
    out = {r.host: r for r in link_farm_report(_edges(spark, rows)).collect()}
    for f in ("f0", "f1", "f2"):
        assert out[f].n_partners == 2 and out[f].n_reciprocal == 2
        assert out[f].recip_ppm == 1_000_000
        # 2 partners < min_partners=3 with defaults -> gate blocks tiny cliques
        assert not out[f].is_farm
    big = link_farm_report(_edges(spark, rows), min_partners=2).collect()
    flags = {r.host: r.is_farm for r in big}
    assert flags["f0"] and flags["f1"] and flags["f2"]
    # spokes: single partner, reciprocated only for s0
    assert out["s0"].n_partners == 1 and out["s0"].n_reciprocal == 1
    assert out["s1"].n_reciprocal == 0 and out["s1"].recip_ppm == 0
    assert not out["s0"].is_farm  # 1 partner < 3
    # hub: 1 outlink partner (s0; self-link dropped), reciprocated
    assert out["hub"].n_partners == 1 and out["hub"].n_reciprocal == 1
    assert not out["hub"].is_farm


def test_link_farm_counts_hosts_not_pages(spark):
    from biothings_crawler_spark.operators.traps import link_farm_report

    # 500 page-level edges between the same two hosts collapse to one pair
    rows = [("a", "b")] * 500 + [("b", "a")] * 500
    out = {r.host: r for r in link_farm_report(_edges(spark, rows)).collect()}
    assert out["a"].n_partners == 1 and out["a"].n_reciprocal == 1
    assert out["b"].recip_ppm == 1_000_000


def test_link_farm_plan_is_jvm_only(spark):
    from biothings_crawler_spark.operators.traps import link_farm_report

    plan = (
        link_farm_report(_edges(spark, [("a", "b")]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BatchEvalPython" not in plan and "Window" not in plan
    assert "LeftSemi" in plan


def test_domain_scorecard_precedence_and_zero_fill(spark):
    from biothings_crawler_spark.operators.traps import domain_scorecard

    traps = spark.createDataFrame(
        [("a", 200, 200_000_000, True), ("b", 50, 1_000_000, False)],
        "host string, n_urls long, urls_per_pattern_ppm long, is_trap boolean",
    )
    farms = spark.createDataFrame(
        [("a", 5, 1_000_000, True), ("c", 4, 750_000, True)],
        "host string, n_partners long, recip_ppm long, is_farm boolean",
    )
    out = {r.host: r for r in domain_scorecard(traps, farms).collect()}
    assert out["a"].verdict == "trap"          # trap beats farm
    assert out["b"].verdict == "ok"
    assert out["c"].verdict == "farm"
    # one-sided hosts get zero-filled columns, never nulls
    assert out["c"].n_urls == 0 and not out["c"].is_trap
    assert out["b"].n_partners == 0 and out["b"].recip_ppm == 0


def test_soft404_requires_both_gates(spark):
    """A body is a soft-404 signature only when it BOTH repeats across
    >= min_urls distinct URLs on the host AND carries an error phrase;
    repetition alone (newsletter boilerplate) and a single error-ish
    page stay False.  Per-host scoping: the same template on another
    host needs its own quorum."""
    from biothings_crawler_spark.operators.traps import soft404_flags

    err = "Sorry, Page Not Found on this server."
    news = "Subscribe to our newsletter for updates."
    rows = [
        ("a.com", "https://a.com/1", err),
        ("a.com", "https://a.com/2", err),
        ("a.com", "https://a.com/3", "real content one"),
        ("a.com", "https://a.com/4", news),
        ("a.com", "https://a.com/5", news),       # repeats, no phrase
        ("b.com", "https://b.com/1", err),        # phrase, but 1 url on b
        # dup fetch of the same url must not count twice toward quorum
        ("b.com", "https://b.com/1", err),
    ]
    df = spark.createDataFrame(rows, "host string, url string, text string")
    out = {(r["host"], r["url"]): r["is_soft404"]
           for r in soft404_flags(df, "host", "url", "text", min_urls=2).collect()}
    assert out[("a.com", "https://a.com/1")] is True
    assert out[("a.com", "https://a.com/2")] is True
    assert out[("a.com", "https://a.com/3")] is False
    assert out[("a.com", "https://a.com/4")] is False   # no phrase
    assert out[("b.com", "https://b.com/1")] is False   # distinct-url quorum


def test_mirror_report_containment_and_hash_bound(spark):
    """Mirror pairs score by CONTAINMENT (shared / smaller host), a
    ubiquitous boilerplate hash (> max_hosts_per_hash hosts) is
    excluded before the pair join, and partial syndication stays
    under the flag threshold."""
    from biothings_crawler_spark.operators.traps import mirror_report

    boiler = "copyright footer"
    rows = []
    # big.com: 6 unique docs; mini.com: full mirror of 3 of them
    for i in range(6):
        rows.append(("big.com", f"https://big.com/{i}", f"doc number {i}"))
    for i in range(3):
        rows.append(("mini.com", f"https://mini.com/{i}", f"doc number {i}"))
    # partial.com: 1 shared doc + 3 unique -> containment 1/4, n_shared 1
    rows.append(("partial.com", "https://partial.com/0", "doc number 0"))
    for i in range(3):
        rows.append(("partial.com", f"https://partial.com/u{i}", f"partial only {i}"))
    # boilerplate on 5 hosts (cap=4) -> must not create pairs by itself
    for h in ("big.com", "mini.com", "partial.com", "x.com", "y.com"):
        rows.append((h, f"https://{h}/footer", boiler))
    df = spark.createDataFrame(rows, "host string, url string, text string")
    out = {(r["host_a"], r["host_b"]): r for r in mirror_report(
        df, "host", "url", "text",
        max_hosts_per_hash=4, min_shared=3, min_share_ppm=500_000,
    ).collect()}
    pair = out[("big.com", "mini.com")]
    # mini serves 4 distinct bodies (3 mirrored + the footer): host size
    # counts ALL content, including bound-excluded boilerplate -> 3/4
    assert pair["n_shared"] == 3 and pair["share_ppm"] == 750_000
    assert pair["is_mirror"] is True          # containment: mini mostly mirrored
    assert out[("big.com", "partial.com")]["is_mirror"] is False
    # x.com / y.com share ONLY the over-shared boilerplate -> no pair at all
    assert ("x.com", "y.com") not in out


def test_template_report_structure_not_content(spark):
    """Template fingerprints key on the OPEN-TAG sequence: same
    skeleton with different text collides, one extra tag separates;
    shares are exact ppm of the host's pages."""
    from biothings_crawler_spark.operators.traps import template_report

    sk = '<html><body><article><h1 class="a">{}</h1></article></body></html>'
    rows = [
        ("a.com", "https://a.com/1", sk.format("first story")),
        ("a.com", "https://a.com/2", sk.format("totally different words")),
        ("a.com", "https://a.com/3", sk.format("third")),
        ("a.com", "https://a.com/4",
         '<html><body><div><h1 class="a">odd one</h1></div></body></html>'),
    ]
    df = spark.createDataFrame(
        [(h, u, t.encode()) for h, u, t in rows],
        "host string, url string, html binary",
    )
    out = template_report(df, "host", "url", "html", min_pages=3).collect()
    by_n = sorted(out, key=lambda r: -r["n_pages"])
    assert len(out) == 2
    assert by_n[0]["n_pages"] == 3 and by_n[0]["is_template"] is True
    assert by_n[0]["share_ppm"] == 750_000
    assert by_n[1]["n_pages"] == 1 and by_n[1]["is_template"] is False


def test_site_families_transitive_collapse(spark):
    """Mirror transitivity: A~B and B~C collapse into one family with
    the lexicographically-smallest host as head; unrelated hosts are
    their own heads."""
    from biothings_crawler_spark.operators.traps import site_families

    rows = []
    for h in ("a.com", "b.com", "c.com"):
        for i in range(4):
            rows.append((h, f"https://{h}/{i}", f"shared doc {i}"))
    for i in range(4):
        rows.append(("solo.com", f"https://solo.com/{i}", f"unique {i}"))
    df = spark.createDataFrame(rows, "host string, url string, text string")
    out = {r["host"]: r for r in site_families(
        df, "host", "url", "text",
        max_hosts_per_hash=8, min_shared=3, min_share_ppm=500_000,
    ).collect()}
    assert out["a.com"]["family"] == out["b.com"]["family"] == out["c.com"]["family"] == "a.com"
    assert out["a.com"]["is_family_head"] is True
    assert out["b.com"]["is_family_head"] is False
    assert out["solo.com"]["family"] == "solo.com"
    assert out["solo.com"]["is_family_head"] is True
