"""Golden-table oracles for the driver queries that aren't expressible
as one ANSI-SQL statement over the sf tables.

The BFS crawl loop (reference: crawler/spiders/helper.py:30-50 round
semantics, broadscrape/clic.py:61-103 two-hop crawl) and the JSON-LD
extractor (helper.py:30-50 / extruct usage) are DETERMINISTIC pure
functions of the fixture corpus. The correctness gate still gets an
EXACT pair for each: this module runs the frozen pure-Python oracles
(oracle/bfs.simulate_crawl, fixtures/corpus.oracle_page_items) and
materializes their expected output to parquet; the oracle SQL is
then a plain ``SELECT .. FROM read_parquet(..)`` DuckDB can run, while
the Spark side runs the real distributed engine on the same fixture.
Equality is therefore a genuine cross-implementation check — DataFrame
joins/windows/bloom segments vs single-threaded dicts-and-sorts — not a
query compared against itself.

Files live under ``<repo>/.golden/<version>/`` and are regenerated only
when absent (they are pure functions of the fixture constants; bump
_VERSION when semantics change). Generation needs no SparkSession.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

_VERSION = "v1"

# constants shared with plans/driver_queries.py (q_crawl_bfs_e2e etc.)
CRAWL_N = 100
CRAWL_CFG = dict(max_rounds=2, default_budget=15, round_seconds=10.0,
                 obey_robots=True, n_segments=4,
                 bloom_bits_per_segment=1 << 14, bloom_hashes=5)
JSONLD_N = 300


def _dir() -> str:
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    d = os.path.join(root, ".golden", _VERSION)
    os.makedirs(d, exist_ok=True)
    return d


def _write(name: str, table: pa.Table) -> str:
    path = os.path.join(_dir(), name)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)  # atomic: concurrent generators never truncate
    return path


def _crawl_golden() -> tuple[str, str]:
    """Expected (scheduled ordering, extracted docs) of the BFS crawl
    over the n=CRAWL_N fixture corpus, from the frozen simulator."""
    from biothings_crawler_spark.fixtures import corpus
    from biothings_crawler_spark.oracle.bfs import CrawlConfig, simulate_crawl

    pages = {r["url"]: r["html"].decode("utf-8") for r in corpus.gen_pages(CRAWL_N)}
    sim = simulate_crawl(pages, corpus.gen_seeds(CRAWL_N), corpus.gen_robots(),
                         corpus.POLICIES, CrawlConfig(**CRAWL_CFG))
    rounds, hosts, ranks, urls = zip(*sorted(sim.ordering)) if sim.ordering else ((), (), (), ())
    sched = pa.table({
        "round": pa.array(rounds, pa.int64()),
        "host": pa.array(hosts, pa.string()),
        "sched_rank": pa.array(ranks, pa.int64()),
        "url_canon": pa.array(urls, pa.string()),
    })
    drounds, durls, djsons = zip(*sorted(sim.docs)) if sim.docs else ((), (), ())
    docs = pa.table({
        "round": pa.array(drounds, pa.int64()),
        "url_canon": pa.array(durls, pa.string()),
        "doc_json": pa.array(djsons, pa.string()),
    })
    return _write("crawl_sched.parquet", sched), _write("crawl_docs.parquet", docs)


def _refetch_golden() -> str:
    """Expected docs of the REFETCH round (incremental crawl closed
    end to end): crawl round 1 on corpus v1, diff v1 vs v2 content
    hashes, queue the CHANGED urls that round 1 actually scheduled,
    re-crawl them (follow off, one round) on v2 through extraction —
    all in the frozen pure-Python semantics. The Spark side composes
    snapshot_diff -> refetch_queue -> catalog semi-join -> run_crawl
    over the identical fixture (plans/driver_queries.
    q_crawl_refetch_round)."""
    from biothings_crawler_spark.fixtures import corpus
    from biothings_crawler_spark.oracle.bfs import CrawlConfig, simulate_crawl
    from biothings_crawler_spark.urlnorm import canonicalize_url

    n = CRAWL_N
    v1 = {r["url"]: r["html"].decode("utf-8") for r in corpus.gen_pages(n)}
    v2 = {r["url"]: r["html"].decode("utf-8") for r in corpus.gen_pages_v2(n)}
    sim1 = simulate_crawl(v1, corpus.gen_seeds(n), corpus.gen_robots(),
                          corpus.POLICIES, CrawlConfig(**CRAWL_CFG))
    idx = {corpus.url_of(i): i for i in range(n)}
    seeds2 = []
    for u in sorted(v2):
        if u not in v1 or v1[u] == v2[u]:
            continue  # changed only: added urls enter via discovery, not refetch
        if canonicalize_url(u) not in sim1.seen:
            continue  # refetch only what round 1 actually scheduled
        src = corpus.source_of(idx[u])
        seeds2.append({
            "seed_id": "refetch", "url": u, "source": src,
            "parser": corpus.parser_for_source(src), "priority": 0,
        })
    pol2 = {k: {**v, "follow": False} for k, v in corpus.POLICIES.items()}
    sim2 = simulate_crawl(v2, seeds2, corpus.gen_robots(), pol2,
                          CrawlConfig(**{**CRAWL_CFG, "max_rounds": 1}))
    drounds, durls, djsons = zip(*sorted(sim2.docs)) if sim2.docs else ((), (), ())
    return _write("refetch_docs.parquet", pa.table({
        "round": pa.array(drounds, pa.int64()),
        "url_canon": pa.array(durls, pa.string()),
        "doc_json": pa.array(djsons, pa.string()),
    }))


def _jsonld_golden() -> str:
    """Expected extraction items for every fixture page (all parser
    routes: jsonld quirks, mainEntity unwrap, GEO table scrape), from
    the frozen html.parser-based oracle extractor."""
    from biothings_crawler_spark.fixtures import corpus
    from biothings_crawler_spark.functions.json_canon import canonical_json

    urls, parsers, items = [], [], []
    for i in range(JSONLD_N):
        row = corpus.page_row(i, JSONLD_N)
        parser = corpus.parser_for_source(corpus.source_of(i))
        for item in corpus.oracle_page_items(
                parser, row["html"].decode("utf-8"), row["url"]):
            urls.append(row["url"])
            parsers.append(parser)
            items.append(canonical_json(item))
    return _write("jsonld_items.parquet", pa.table({
        "url": pa.array(urls, pa.string()),
        "parser": pa.array(parsers, pa.string()),
        "item_json": pa.array(items, pa.string()),
    }))


def paths() -> dict[str, str]:
    """Generate-if-missing and return {name: parquet path}."""
    d = _dir()
    need = {
        "crawl_sched": os.path.join(d, "crawl_sched.parquet"),
        "crawl_docs": os.path.join(d, "crawl_docs.parquet"),
        "refetch_docs": os.path.join(d, "refetch_docs.parquet"),
        "jsonld_items": os.path.join(d, "jsonld_items.parquet"),
    }
    if not all(os.path.exists(p) for p in need.values()):
        _crawl_golden()
        _refetch_golden()
        _jsonld_golden()
    return need
