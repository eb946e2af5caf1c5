"""Synthetic Common-Crawl-style corpus: pages / seeds / robots / sitemaps.

Every value is a pure function of the row id via XXH64 (no wall clock,
no ``random``), so two runs — and N-core vs 4N-core runs — produce
byte-identical inputs (FIXTURES.md preamble).

The `pages` table has exactly the BASELINE.json ``input_hint`` shape:
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string).
``text`` is the frozen-oracle extraction output for ``html`` — the
golden column the engine's vectorized UDFs must reproduce byte-for-byte.

URL grammar mirrors the reference's sources (SURVEY.md §2.1); the
figshare host is the **hot host** with 30% of all URLs (skew/salting
tests). JSON-LD quirk selection = xxh64(url) mod 8, covering every
extruct code path (comment-stripping retry, strict=False control chars,
top-level arrays, falsy blocks, mainEntity wrapper, no-JSON-LD).
"""

from __future__ import annotations

import datetime as dt
import json

from biothings_crawler_spark.hashing import xxh64
from biothings_crawler_spark.oracle.geo_table import parse_geo_table
from biothings_crawler_spark.oracle.jsonld import extract_jsonld_items
from biothings_crawler_spark.functions.json_canon import canonical_json

EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
LANGS = ["en", "de", "zh", "es"]

# source name -> (host, url pattern); reference spider names (SURVEY §2.1)
SOURCES = {
    "figshare_brunel": ("figshare.example.org", "https://figshare.example.org/articles/{i}"),
    "zenodo": ("zenodo.example.org", "https://zenodo.example.org/record/{i}"),
    "omicsdi": ("omicsdi.example.org", "https://omicsdi.example.org/dataset/{i}"),
    "ncbi_geo": ("geo.example.org", "https://geo.example.org/geo/query/acc.cgi?acc=GSE{i}"),
    "massbank": ("massbank.example.org", "https://massbank.example.org/MassBank/RecordDisplay?id={i}"),
    "edgar": ("edgar.example.org", "https://edgar.example.org/gene.py?gene=G{i}"),
    "clic": ("clic.example.org", "https://clic.example.org/site/{i}"),
}

# index-mod-10 -> source; figshare (hot host) takes 3/10 = 30% of URLs
_SLOT = [
    "figshare_brunel", "figshare_brunel", "figshare_brunel",
    "zenodo", "omicsdi", "ncbi_geo", "massbank", "edgar", "clic",
    "longtail",
]

FUNDERS = ["NIAID", "NIH", "NSF", "Wellcome Trust", "CZI", "ERC", "DFG", "MRC"]
KEYWORD_POOL = ["covid", "genomics", "proteome", "rna", "spark", "influenza",
                "microbiome", "imaging"]


def source_of(i: int) -> str:
    return _SLOT[i % 10]


def url_of(i: int) -> str:
    src = source_of(i)
    if src == "longtail":
        return f"https://site{i % 97}.example.net/page/{i}"
    return SOURCES[src][1].format(i=i)


def _uhash(url: str) -> int:
    return xxh64(url.encode("utf-8"))


def dataset_item(src: str, i: int) -> dict:
    """One schema.org JSON-LD item, deterministic in (src, i)."""
    h = xxh64(f"{src}:{i}".encode())
    kws = [KEYWORD_POOL[(h + k) % len(KEYWORD_POOL)] for k in range(1 + h % 3)]
    item: dict = {
        "@context": "http://schema.org/",
        "@type": "ScholarlyArticle" if h % 7 == 0 else "Dataset",
        "name": f"{src} dataset {i}",
        "description": f"Synthetic {src} record {i} for crawl fixtures.",
        "identifier": f"{src}-{i}",
        "keywords": kws,
        "datePublished": (EPOCH + dt.timedelta(days=h % 365)).strftime("%Y-%m-%d"),
        "creator": [
            {"@type": "Person", "name": f"Author {(h + j) % 53}",
             "affiliation": f"Institute {(h + j) % 11}"}
            for j in range(1 + h % 3)
        ],
    }
    if h % 3 != 0:
        funder: dict = {"@type": "Organization", "name": FUNDERS[h % len(FUNDERS)]}
        if h % 5 == 0:  # irregular funder (missing name) — funder.py analysis path
            funder = {"@type": "Organization"}
        elif h % 5 == 1:  # irregular: extra key -> len != 2
            funder = {"@type": "Organization", "name": FUNDERS[h % len(FUNDERS)],
                      "url": "https://funder.example.org"}
        item["funder"] = [funder]
    if src == "zenodo" and h % 2 == 0:
        item["conceptrecid"] = str(1000000 + i)
    return item


def _links_for(i: int, n_universe: int) -> list[str]:
    """0-20 deterministic out-links; mostly in-universe, some relative."""
    h = _uhash(url_of(i))
    n_links = h % 21
    links = []
    for j in range(n_links):
        t = (i * 31 + j * 17 + 7) % n_universe
        if j % 3 == 2:
            # relative link (exercises urljoin); resolves within same host
            links.append(f"/rel/{t}")
        else:
            links.append(url_of(t))
    return links


def _jsonld_script(payload: str) -> str:
    return f'<script type="application/ld+json">{payload}</script>'


def _jsonld_html(src: str, i: int, links: list[str]) -> str:
    """HTML embedding JSON-LD per the quirk set (FIXTURES.md §1)."""
    h = _uhash(url_of(i))
    quirk = h % 8
    item = dataset_item(src, i)
    blocks: list[str] = []
    if src == "omicsdi":
        # mainEntity wrapper, always (reference omicsdi.py:31-33)
        blocks.append(_jsonld_script(json.dumps({"@context": "http://schema.org/",
                                                 "mainEntity": item})))
    elif quirk == 0:
        blocks.append(_jsonld_script(json.dumps(item)))
    elif quirk == 1:  # top-level array, multi-item
        item2 = dataset_item(src, i + 1_000_000)
        blocks.append(_jsonld_script(json.dumps([item, item2])))
    elif quirk == 2:  # leading // comment line -> json retry path
        blocks.append(_jsonld_script("// machine readable\n" + json.dumps(item)))
    elif quirk == 3:  # leading <!-- --> comment line -> json retry path
        blocks.append(_jsonld_script("<!-- jsonld -->\n" + json.dumps(item)))
    elif quirk == 4:  # control chars inside a string -> needs strict=False
        item = dict(item)
        item["description"] = "line one\n\tline two of record %d" % i
        raw = json.dumps(item).replace("\\n\\t", "\n\t")
        blocks.append(_jsonld_script(raw))
    elif quirk == 5:  # falsy block (dropped) + a valid block
        blocks.append(_jsonld_script("{}"))
        blocks.append(_jsonld_script(json.dumps(item)))
    elif quirk == 6:  # array with falsy members (dropped by extractor)
        blocks.append(_jsonld_script(json.dumps([item, {}, None, ""])))
    # quirk == 7: no JSON-LD at all
    anchors = "\n".join(f'<a href="{u}">link</a>' for u in links)
    body = f"<h1>{src} {i}</h1>\n" + "\n".join(blocks) + f"\n<p>page {i}</p>\n{anchors}"
    return f"<html><head><title>{src} {i}</title></head><body>{body}</body></html>"


def _geo_html(i: int, links: list[str]) -> str:
    """GEO-style nested tables (reference ncbi_geo.py:29-53 structure)."""
    h = _uhash(url_of(i))
    gse = f"GSE{i}"
    contributors = "".join(
        f'<a href="{links[j % len(links)] if links else "#"}">Contrib {(h + j) % 29}</a>,\n'
        for j in range(2 + h % 3)
    )
    rows = [
        f'<tr bgcolor="#cccccc"><td colspan="2"><strong id="{gse}">Series {gse}</strong></td></tr>',
        f"<tr><td>Title</td><td>Expression data {i}&nbsp;study</td></tr>",
        f"<tr><td>Organism</td><td><a href=\"/rel/taxid\">Homo sapiens</a></td></tr>",
        f'<tr><td>Contributor(s)&nbsp;</td><td onmouseout="onLinkOut(this)">{contributors}</td></tr>',
        "<tr><td>&nbsp;</td><td></td></tr>",  # placeholder row (string(td1) blank)
        f"<tr><td>Summary</td><td>Synthetic GEO series {i}.</td></tr>",
        '<tr><td colspan="2">spanning row, skipped</td></tr>',
    ]
    if h % 4 == 0:  # some series carry a citation PMID (upload-join fixture)
        rows.insert(5, f"<tr><td>Citation(s)</td><td>{20000000 + i % 1000}</td></tr>")
    inner = "\n".join(rows)
    dummy = "<table><tr><td>x</td></tr></table>"
    target_table = f"<table>{inner}</table>"  # table[1] at the row level
    # at this level the reference takes table[1], so target_table comes first
    lvl3 = f"<table><tr><td>{target_table}{dummy}</td></tr></table>"
    # path: td[2]/table/tr/td/table/tr/td/table[2]/tr/td/table[1]/tr
    lvl2 = f"<table><tr><td><table><tr><td>{dummy}{lvl3}</td></tr></table></td></tr></table>"
    table6 = (
        "<table>"
        "<tr><td>hdr</td></tr><tr><td>nav</td></tr>"
        f"<tr><td>side</td><td>{lvl2}</td></tr>"
        "</table>"
    )
    anchors = "\n".join(f'<a href="{u}">more</a>' for u in links[:3])
    return (
        "<html><body><table><tr><td>"
        + dummy * 5
        + table6
        + f"</td></tr></table>{anchors}</body></html>"
    )


def parser_for_source(src: str) -> str:
    """Callback routing (reference spider parse methods, SURVEY §2.1)."""
    if src == "ncbi_geo":
        return "geo_table"
    if src == "omicsdi":
        return "jsonld_mainentity"  # omicsdi.py:31-33 unwrap
    return "jsonld"


def oracle_page_items(parser: str, html: str, url: str) -> list:
    """Frozen per-parser extraction — the authority for pages.text."""
    if parser == "geo_table":
        data = parse_geo_table(html)
        return [data] if data else []
    items = extract_jsonld_items(html, url)
    if parser == "jsonld_mainentity":
        # reference omicsdi.py:31-33: yield jsld.get('mainEntity'); Scrapy
        # silently drops None/falsy outputs
        return [it.get("mainEntity") for it in items
                if isinstance(it, dict) and it.get("mainEntity")]
    return items


def page_row(i: int, n_universe: int) -> dict:
    url = url_of(i)
    src = source_of(i)
    h = _uhash(url)
    links = _links_for(i, n_universe)
    if src == "ncbi_geo":
        html = _geo_html(i, links)
    else:
        html = _jsonld_html(src if src != "longtail" else "web", i, links)
    text = canonical_json(oracle_page_items(parser_for_source(src), html, url))
    return {
        "url": url,
        "warc_ts": EPOCH + dt.timedelta(seconds=h % 10_000_000),
        "html": html.encode("utf-8"),
        "text": text,
        "lang": LANGS[h % 4],
    }


def gen_pages(n: int) -> list[dict]:
    return [page_row(i, n) for i in range(n)]


def gen_pages_v2(n: int) -> list[dict]:
    """Round-2 snapshot of the same corpus — the incremental-crawl
    fixture: pages i%7==3 have DISAPPEARED, pages i%5==0 have CHANGED
    (a trailing revision comment: the content hash moves, the
    extraction semantics don't), everything else is byte-identical.
    Deterministic pure function, shared by the Spark refetch-round
    query and the frozen-simulator golden generator."""
    out = []
    for i in range(n):
        if i % 7 == 3:
            continue
        r = page_row(i, n)
        if i % 5 == 0:
            r = dict(r, html=r["html"] + b"<!-- rev2 -->")
        out.append(r)
    return out


# --- per-source link/extract policies (reference spider configs) -------------
# follow/allow_link/extract_regex/same_domain/max_depth model the Scrapy
# Rule()/sitemap_rules/allowed_domains configuration of each spider:
#   figshare_brunel.py:20-28 (extract /articles/, follow all in-domain)
#   edgar.py:9-18 (fetch+extract gene.py links only, no recursion)
#   clic.py:61-103 (extract everything, follow same-domain, DEPTH_LIMIT 3)
#   zenodo.py:17-18 / omicsdi.py:28-29 / massbank.py:11-13 (sitemap rules,
#   no link-follow); ncbi_geo.py:21-27 (id-range, no link-follow)
POLICIES: dict[str, dict] = {
    "figshare_brunel": dict(follow=True, allow_link=None, extract_regex="/articles/",
                            same_domain=True, max_depth=None),
    "edgar": dict(follow=True, allow_link=r"gene.py\?gene=.+",
                  extract_regex=r"gene.py\?gene=.+", same_domain=True, max_depth=1),
    "clic": dict(follow=True, allow_link=None, extract_regex=None,
                 same_domain=True, max_depth=3),
    "zenodo": dict(follow=False, allow_link=None, extract_regex="/record/",
                   same_domain=True, max_depth=None),
    "omicsdi": dict(follow=False, allow_link=None, extract_regex="/dataset/",
                    same_domain=True, max_depth=None),
    "massbank": dict(follow=False, allow_link=None,
                     extract_regex=r"/MassBank/RecordDisplay\?id=.+",
                     same_domain=True, max_depth=None),
    "ncbi_geo": dict(follow=False, allow_link=None, extract_regex=None,
                     same_domain=True, max_depth=None),
    "web": dict(follow=True, allow_link=None, extract_regex=None,
                same_domain=True, max_depth=3),
}

POLICIES_SCHEMA = ("source string, follow boolean, allow_link string, "
                   "extract_regex string, same_domain boolean, max_depth int")


def gen_policies() -> list[dict]:
    return [dict(source=s, **p) for s, p in POLICIES.items()]


def policies_df(spark):
    return spark.createDataFrame(gen_policies(), schema=POLICIES_SCHEMA)


# --- seeds / robots / sitemaps ----------------------------------------------

def gen_seeds(n_universe: int) -> list[dict]:
    """One or two seeds per source (SURVEY §2.1 seed shapes)."""
    seeds = []
    for k, src in enumerate(["figshare_brunel", "zenodo", "omicsdi", "ncbi_geo",
                             "massbank", "edgar", "clic"]):
        for j in range(2):
            i = ([0, 1, 2, 3, 4, 5, 6, 7, 8][_SLOT.index(src)] + 10 * (j * 3 + 1)) % n_universe
            # pick an index that maps to this source's slot
            while source_of(i) != src:
                i = (i + 1) % n_universe
            parser = parser_for_source(src)
            seeds.append({
                "seed_id": f"{src}-{j}",
                "url": url_of(i),
                "source": src,
                "parser": parser,
                "priority": k % 3,
            })
    return seeds


def gen_robots() -> list[dict]:
    """Permissive, Disallow-/ (harvard-style), mixed, sitemap-only hosts."""
    rows = [
        {"host": "figshare.example.org", "allow": [], "disallow": [],
         "crawl_delay": None, "sitemap_urls": []},
        {"host": "zenodo.example.org", "allow": ["/record/"], "disallow": ["/admin/"],
         "crawl_delay": 1.0, "sitemap_urls": ["https://zenodo.example.org/sitemap.xml"]},
        {"host": "omicsdi.example.org", "allow": ["/dataset/"], "disallow": ["/ws/", "/private/"],
         "crawl_delay": 2.0, "sitemap_urls": []},
        {"host": "geo.example.org", "allow": [], "disallow": [],
         "crawl_delay": None, "sitemap_urls": []},
        {"host": "massbank.example.org", "allow": [], "disallow": [],
         "crawl_delay": None,
         "sitemap_urls": ["https://massbank.example.org/sitemap-index.xml"]},
        # harvard-style Disallow: / (reference harvard.py:5-24)
        {"host": "dataverse.example.org", "allow": [], "disallow": ["/"],
         "crawl_delay": 10.0, "sitemap_urls": []},
        {"host": "edgar.example.org", "allow": [], "disallow": [],
         "crawl_delay": None, "sitemap_urls": []},
        {"host": "clic.example.org", "allow": [], "disallow": ["/cgi/"],
         "crawl_delay": 0.5, "sitemap_urls": []},
    ]
    return rows


def gen_sitemaps(n_universe: int) -> list[dict]:
    """Two-level sitemap index for zenodo + massbank leaf sitemaps."""
    z_ids = [i for i in range(min(n_universe, 400)) if source_of(i) == "zenodo"]
    half = len(z_ids) // 2
    m_ids = [i for i in range(min(n_universe, 400)) if source_of(i) == "massbank"]
    lastmod = EPOCH
    return [
        {"sitemap_url": "https://zenodo.example.org/sitemap.xml",
         "host": "zenodo.example.org", "is_index": True,
         "child_sitemaps": ["https://zenodo.example.org/sitemap-0.xml",
                            "https://zenodo.example.org/sitemap-1.xml"],
         "loc_urls": [], "lastmod": lastmod},
        {"sitemap_url": "https://zenodo.example.org/sitemap-0.xml",
         "host": "zenodo.example.org", "is_index": False, "child_sitemaps": [],
         "loc_urls": [url_of(i) for i in z_ids[:half]], "lastmod": lastmod},
        {"sitemap_url": "https://zenodo.example.org/sitemap-1.xml",
         "host": "zenodo.example.org", "is_index": True,
         "child_sitemaps": ["https://zenodo.example.org/sitemap-1a.xml"],
         "loc_urls": [], "lastmod": lastmod},
        {"sitemap_url": "https://zenodo.example.org/sitemap-1a.xml",
         "host": "zenodo.example.org", "is_index": False, "child_sitemaps": [],
         "loc_urls": [url_of(i) for i in z_ids[half:]], "lastmod": lastmod},
        {"sitemap_url": "https://massbank.example.org/sitemap-index.xml",
         "host": "massbank.example.org", "is_index": True,
         "child_sitemaps": ["https://massbank.example.org/sitemap-a.xml"],
         "loc_urls": [], "lastmod": lastmod},
        {"sitemap_url": "https://massbank.example.org/sitemap-a.xml",
         "host": "massbank.example.org", "is_index": False, "child_sitemaps": [],
         "loc_urls": [url_of(i) for i in m_ids]
         + ["https://massbank.example.org/jsp/admin.jsp"],  # non-rule URL, filtered
         "lastmod": lastmod},
    ]


def gen_api_pages(n_universe: int) -> list[dict]:
    """Paginated API responses (FIXTURES.md §5): zenodo_covid-style pages
    with missing-link error hits; harvard-style with a short final page."""
    rows = []
    # zenodo_covid: 3 pages of 8 hits, every 5th hit missing its link
    z_ids = [i for i in range(n_universe) if source_of(i) == "zenodo"]
    for p in range(3):
        hits = []
        for j in range(8):
            k = (p * 8 + j) % max(1, len(z_ids))
            i = z_ids[k] if z_ids else 0
            hits.append({
                "id": f"zc{p}-{j}",
                "url": url_of(i),
                "published_date": (EPOCH + dt.timedelta(days=(p * 8 + j))).strftime("%Y-%m-%d"),
                "missing_link": (p * 8 + j) % 5 == 4,
            })
        rows.append({
            "source": "zenodo_covid", "page_no": p,
            "cursor": str(p * 8),
            "hits": hits,
            "next_cursor": str((p + 1) * 8) if p < 2 else None,
        })
    # harvard: page size 10; page 2 is short (stop condition), page 3 exists
    # but must never be consumed (harvard.py:63-71)
    h_ids = [i for i in range(n_universe) if source_of(i) == "clic"]
    for p, size in enumerate([10, 10, 4, 10]):
        hits = [{
            "id": f"hv{p}-{j}",
            "url": url_of(h_ids[(p * 10 + j) % max(1, len(h_ids))] if h_ids else 0),
            "published_date": (EPOCH + dt.timedelta(days=p * 10 + j)).strftime("%Y-%m-%d"),
            "missing_link": False,
        } for j in range(size)]
        rows.append({
            "source": "harvard", "page_no": p, "cursor": str(p * 10),
            "hits": hits, "next_cursor": str((p + 1) * 10) if p < 3 else None,
        })
    return rows


API_PAGES_SCHEMA = (
    "source string, page_no int, cursor string, "
    "hits array<struct<id:string, url:string, published_date:string, "
    "missing_link:boolean>>, next_cursor string"
)


def api_pages_df(spark, n_universe: int):
    return spark.createDataFrame(gen_api_pages(n_universe), schema=API_PAGES_SCHEMA)


# --- Spark DataFrame builders ------------------------------------------------

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")
SEEDS_SCHEMA = "seed_id string, url string, source string, parser string, priority int"
ROBOTS_SCHEMA = ("host string, allow array<string>, disallow array<string>, "
                 "crawl_delay double, sitemap_urls array<string>")
SITEMAPS_SCHEMA = ("sitemap_url string, host string, is_index boolean, "
                   "child_sitemaps array<string>, loc_urls array<string>, "
                   "lastmod timestamp")


def pages_df(spark, n: int):
    return spark.createDataFrame(gen_pages(n), schema=PAGES_SCHEMA)


def pages_v2_df(spark, n: int):
    return spark.createDataFrame(gen_pages_v2(n), schema=PAGES_SCHEMA)


def fixture_seed_router(queue):
    """Seed router for plans/crawl.run_refetch over the fixture corpus:
    maps a queue DataFrame (url, url_canon, ...) to refetch seeds via
    host-rule source/parser routing — the fixture's analog of the
    reference's sitemap-rule mechanism (each source owns a host;
    unknown hosts route to the longtail default). A pure-expression
    CASE chain, no UDF, no join."""
    from pyspark.sql import functions as F

    from biothings_crawler_spark.urlnorm import host_col

    h = host_col(F.col("url"))
    src_expr = None
    for src, (host, _tpl) in SOURCES.items():
        cond = h == F.lit(host)
        src_expr = (F.when(cond, F.lit(src)) if src_expr is None
                    else src_expr.when(cond, F.lit(src)))
    src_expr = src_expr.otherwise(F.lit("longtail"))
    parser_expr = (
        F.when(h == F.lit(SOURCES["ncbi_geo"][0]), F.lit("geo_table"))
        .when(h == F.lit(SOURCES["omicsdi"][0]), F.lit("jsonld_mainentity"))
        .otherwise(F.lit("jsonld"))
    )
    return queue.select(
        F.lit("refetch").alias("seed_id"),
        "url",
        src_expr.alias("source"),
        parser_expr.alias("parser"),
        F.lit(0).alias("priority"),
    ).coalesce(1)


def seeds_df(spark, n_universe: int):
    return spark.createDataFrame(gen_seeds(n_universe), schema=SEEDS_SCHEMA)


def robots_df(spark):
    return spark.createDataFrame(gen_robots(), schema=ROBOTS_SCHEMA)


def sitemaps_df(spark, n_universe: int):
    return spark.createDataFrame(gen_sitemaps(n_universe), schema=SITEMAPS_SCHEMA)
