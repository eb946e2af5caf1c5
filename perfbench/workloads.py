"""Workload inputs and their oracle expectations.

Every input is a pure function of ``(workload, seed)``: the pages corpus is
``fixtures.corpus`` at a fixed size, and the seed only chooses
the seed list (priorities and ``seed_id``s for the harvests and ``refetch``,
which page of each source is seeded for ``discover``). Expectations come
from the frozen simulator ``oracle.bfs.simulate_crawl`` run on the same
inputs and config.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from biothings_crawler_spark.fixtures import corpus
from biothings_crawler_spark.hashing import xxh64
from biothings_crawler_spark.oracle import bfs
from biothings_crawler_spark.oracle.bfs import CrawlConfig, simulate_crawl
from biothings_crawler_spark.urlnorm import canonicalize_url

# One corpus for every workload. The per-round cost of the engine is mostly
# fixed (Spark jobs per round), so a run's length is set by the round count,
# not by N; N only has to be large enough that politeness defers work.
N_PAGES = 2000

# harvest: budget and round length scale with N as in a 20k-page harvest at
# default_budget=2000 / round_seconds=600, so the hot host (figshare, 30% of
# URLs) and the crawl-delay hosts defer work into later rounds.
HARVEST_CFG = CrawlConfig(max_rounds=3, default_budget=N_PAGES // 10,
                          round_seconds=N_PAGES * 0.03)
# harvest2: the same harvest stopped after round 1. Round 1 probes the
# rediscovered links against the round-0 seen segments; round 2, which probes
# the segments rebuilt in round 1, is where HEAD's seen-set defect shows.
HARVEST2_CFG = CrawlConfig(**{**HARVEST_CFG.__dict__, "max_rounds": 2})
DISCOVER_CFG = CrawlConfig(max_rounds=3, default_budget=1000, round_seconds=10.0)
# refetch: one round on the v2 snapshot, against a one-round harvest base
REFETCH_BASE_CFG = CrawlConfig(**{**HARVEST_CFG.__dict__, "max_rounds": 1})
REFETCH_CFG = REFETCH_BASE_CFG

WORKLOADS = ("harvest", "harvest2", "discover", "refetch")
CRAWL_CFG = {"harvest": HARVEST_CFG, "harvest2": HARVEST2_CFG, "discover": DISCOVER_CFG}

_DISCOVER_SOURCES = ["figshare_brunel", "zenodo", "omicsdi", "ncbi_geo",
                     "massbank", "edgar", "clic"]


def policy_source(i: int) -> str:
    """Corpus source of page *i*, with long-tail hosts under the ``web``
    policy key (the key ``corpus.POLICIES`` uses for them)."""
    src = corpus.source_of(i)
    return "web" if src == "longtail" else src


def harvest_seeds(n: int, seed: int) -> list[dict]:
    """Every corpus URL is a seed; *seed* picks priorities and ids."""
    out = []
    for i in range(n):
        h = xxh64(f"harvest:{seed}:{i}".encode())
        out.append({
            "seed_id": f"h{seed}-{h % 100_000:05d}",
            "url": corpus.url_of(i),
            "source": policy_source(i),
            "parser": corpus.parser_for_source(corpus.source_of(i)),
            "priority": h % 3,
        })
    return out


def discover_seeds(n: int, seed: int) -> list[dict]:
    """Two seeds per source, like ``corpus.gen_seeds``; *seed* picks which
    page of each source is seeded."""
    out, taken = [], set()
    for k, src in enumerate(_DISCOVER_SOURCES):
        for j in range(2):
            i = xxh64(f"discover:{seed}:{src}:{j}".encode()) % n
            while corpus.source_of(i) != src or i in taken:
                i = (i + 1) % n
            taken.add(i)
            out.append({
                "seed_id": f"{src}-{j}",
                "url": corpus.url_of(i),
                "source": src,
                "parser": corpus.parser_for_source(src),
                "priority": k % 3,
            })
    return out


@dataclass
class Expected:
    """What the engine must commit: ordering keyed by commit round."""
    ordering: list[tuple]                 # (round, host, sched_rank, url_canon)
    docs: list[tuple]                     # (round, url_canon, doc_json)
    seen: set
    page_texts: list[tuple]               # (round, url_canon, text)
    extracted_pages: int = 0
    meta: dict = field(default_factory=dict)

    @property
    def useful_urls(self) -> int:
        """URLs the oracle schedules plus pages it extracts."""
        return len(self.ordering) + self.extracted_pages


@contextmanager
def _recording_extractions(sink: list):
    """Record every page the simulator hands to its extractor (the URL
    it calls ``oracle_page_items`` with), restoring the simulator after."""
    orig = bfs.oracle_page_items

    def rec(parser, html, url):
        sink.append(url)
        return orig(parser, html, url)

    bfs.oracle_page_items = rec
    try:
        yield sink
    finally:
        bfs.oracle_page_items = orig


def simulate(pages: dict[str, str], golden_text: dict[str, str], seeds: list[dict],
             policies: dict, cfg: CrawlConfig) -> Expected:
    """Run the frozen simulator and derive the expected page_texts: every
    page it extracts, in the round it was scheduled, with the corpus'
    golden ``text``."""
    extracted: list[str] = []
    with _recording_extractions(extracted):
        sim = simulate_crawl(pages, seeds, corpus.gen_robots(), policies, cfg)
    round_of = {canon: rnd for rnd, _h, _r, canon in sim.ordering}
    texts = []
    for url in extracted:
        canon = canonicalize_url(url)
        texts.append((round_of[canon], canon, golden_text[canon]))
    return Expected(ordering=sim.ordering, docs=sim.docs, seen=sim.seen,
                    page_texts=texts, extracted_pages=len(extracted))


@dataclass
class Inputs:
    """Python-side rows of one workload (written to parquet by the runner)."""
    pages: list[dict]
    seeds: list[dict]
    pages_v2: list[dict] | None = None


def generate(workload: str, seed: int, n: int = N_PAGES) -> Inputs:
    pages = corpus.gen_pages(n)
    if workload == "discover":
        return Inputs(pages, discover_seeds(n, seed))
    seeds = harvest_seeds(n, seed)
    if workload in ("harvest", "harvest2"):
        return Inputs(pages, seeds)
    if workload == "refetch":
        return Inputs(pages, seeds, corpus.gen_pages_v2(n))
    raise ValueError(f"unknown workload {workload!r}")


def _html_and_text(rows: list[dict]) -> tuple[dict, dict]:
    html = {r["url"]: r["html"].decode("utf-8") for r in rows}
    text = {canonicalize_url(r["url"]): r["text"] for r in rows}
    return html, text


def expected(workload: str, inp: Inputs) -> Expected:
    html, text = _html_and_text(inp.pages)
    if workload in CRAWL_CFG:
        return simulate(html, text, inp.seeds, corpus.POLICIES, CRAWL_CFG[workload])
    # refetch, built the way oracle/golden._refetch_golden builds its docs:
    # changed pages that the base crawl scheduled, one follow-off round on v2
    base = simulate_crawl(html, inp.seeds, corpus.gen_robots(), corpus.POLICIES,
                          REFETCH_BASE_CFG)
    html2, text2 = _html_and_text(inp.pages_v2)
    idx = {corpus.url_of(i): i for i in range(len(inp.pages))}
    seeds2 = []
    for u in sorted(html2):
        if u not in html or html[u] == html2[u]:
            continue
        if canonicalize_url(u) not in base.seen:
            continue
        src = corpus.source_of(idx[u])
        seeds2.append({"seed_id": "refetch", "url": u, "source": src,
                       "parser": corpus.parser_for_source(src), "priority": 0})
    pol2 = {k: {**v, "follow": False} for k, v in corpus.POLICIES.items()}
    exp = simulate(html2, text2, seeds2, pol2, REFETCH_CFG)
    exp.meta["changed_seen"] = len(seeds2)
    return exp
