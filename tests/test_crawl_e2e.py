"""End-to-end: engine BFS crawl == frozen oracle simulator, and
kill/resume produces identical results (north_rule)."""

import pytest

from biothings_crawler_spark.fixtures import corpus
from biothings_crawler_spark.oracle.bfs import CrawlConfig, simulate_crawl
from biothings_crawler_spark.plans.crawl import run_crawl

N = 300
CFG = CrawlConfig(
    max_rounds=5,
    default_budget=15,
    round_seconds=10.0,     # zenodo: 10, omicsdi: 5, clic: 20, dataverse: 1
    obey_robots=True,
    n_segments=8,
    bloom_bits_per_segment=1 << 12,  # deliberately small -> real FPP exercised
    bloom_hashes=5,
)


@pytest.fixture(scope="module")
def oracle_result():
    pages = {r["url"]: r["html"].decode("utf-8") for r in corpus.gen_pages(N)}
    return simulate_crawl(
        pages, corpus.gen_seeds(N), corpus.gen_robots(), corpus.POLICIES, CFG
    )


def _run_engine(spark, tmpdir, cfg=CFG):
    return run_crawl(
        spark,
        corpus.pages_df(spark, N),
        corpus.seeds_df(spark, N),
        corpus.robots_df(spark),
        corpus.gen_policies(),
        str(tmpdir),
        cfg,
    )


@pytest.fixture(scope="module")
def full_crawl(spark, tmp_path_factory):
    """The uninterrupted CFG crawl, run once per module: (summary,
    checkpoint dir). Every test here only reads it."""
    cp = tmp_path_factory.mktemp("full") / "cp"
    return _run_engine(spark, cp), cp


def _engine_tables(spark, tmpdir):
    from biothings_crawler_spark.catalog import ParquetManifestCatalog

    cat = ParquetManifestCatalog(str(tmpdir))
    sched = cat.read(spark, "scheduled")
    docs = cat.read(spark, "docs")
    texts = cat.read(spark, "page_texts")
    return sched, docs, texts


def test_engine_matches_oracle(spark, full_crawl, oracle_result):
    summary, cp = full_crawl
    assert summary["rounds"] >= 3
    sched, docs, texts = _engine_tables(spark, cp)

    engine_ordering = sorted(
        (r["round"], r["host"], r["sched_rank"], r["url_canon"])
        for r in sched.select("round", "host", "sched_rank", "url_canon").collect()
    )
    assert engine_ordering == sorted(oracle_result.ordering)

    engine_docs = sorted(
        (r["round"], r["url_canon"], r["doc_json"])
        for r in docs.select("round", "url_canon", "doc_json").collect()
    )
    assert engine_docs == sorted(oracle_result.docs)

    engine_seen = {r["url_canon"] for r in sched.select("url_canon").collect()}
    assert engine_seen == oracle_result.seen


def test_engine_without_policies_matches_oracle(spark, tmp_path):
    """An empty policy list (what the jobs pass for parquet inputs)
    extracts every fetched page and follows no link: the simulator's
    behaviour for a policy-less source."""
    pages = {r["url"]: r["html"].decode("utf-8") for r in corpus.gen_pages(N)}
    exp = simulate_crawl(
        pages, corpus.gen_seeds(N), corpus.gen_robots(), {"web": {}}, CFG
    )
    run_crawl(spark, corpus.pages_df(spark, N), corpus.seeds_df(spark, N),
              corpus.robots_df(spark), [], str(tmp_path), CFG)
    sched, docs, _ = _engine_tables(spark, tmp_path)
    assert sorted(
        (r["round"], r["host"], r["sched_rank"], r["url_canon"])
        for r in sched.select("round", "host", "sched_rank", "url_canon").collect()
    ) == sorted(exp.ordering)
    assert exp.docs and sorted(
        (r["round"], r["url_canon"], r["doc_json"])
        for r in docs.select("round", "url_canon", "doc_json").collect()
    ) == sorted(exp.docs)


def test_page_texts_byte_identical_to_corpus_golden(spark, full_crawl):
    _, _, texts = _engine_tables(spark, full_crawl[1])
    golden = {r["url"]: r["text"] for r in corpus.gen_pages(N)}
    rows = texts.select("url", "text").collect()
    assert rows, "crawl extracted nothing"
    bad = [r["url"] for r in rows if golden.get(r["url"]) != r["text"]]
    assert bad == [], f"text mismatches: {bad[:5]}"


def test_metrics_match_oracle(spark, full_crawl, oracle_result):
    from biothings_crawler_spark.catalog import ParquetManifestCatalog

    cat = ParquetManifestCatalog(str(full_crawl[1]))
    m = cat.read(spark, "metrics")
    engine = {
        (r["round"], r["host"], r["metric"]): r["value"]
        for r in m.collect()
        if r["metric"] in ("scheduled", "fetched", "docs", "links")
    }
    for (rnd, host), counters in oracle_result.metrics.items():
        for k, v in counters.items():
            if v:
                assert engine.get((rnd, host, k), 0) == v, (rnd, host, k)


def test_refetch_round_docs_and_resume(spark):
    """The incremental-crawl composition (diff -> changed queue ->
    catalog semi-join -> one-round refetch crawl on corpus v2) must
    (a) re-extract exactly the simulator's expected docs, (b) resume
    as a no-op: re-invoking the finished refetch crawl on its own
    checkpoint schedules nothing new and leaves the docs byte-
    identical, and (c) leave the round-1 checkpoint untouched."""
    import duckdb

    from biothings_crawler_spark.oracle import golden
    from biothings_crawler_spark.plans.driver_queries import (
        _run_fixture_crawl,
        _run_refetch_crawl,
        q_crawl_refetch_round,
    )
    from biothings_crawler_spark.oracle.bfs import CrawlConfig

    got = sorted(
        (r["round"], r["url_canon"], r["doc_json"])
        for r in q_crawl_refetch_round(spark, "/root/testdata/sf0.001").collect()
    )
    want = sorted(
        map(tuple,
            duckdb.sql(
                "SELECT round, url_canon, doc_json FROM "
                f"read_parquet('{golden.paths()['refetch_docs']}')"
            ).fetchall())
    )
    assert got == want and len(got) > 0

    # resume no-op: the refetch checkpoint is complete; re-running the
    # crawl on it must schedule 0 new rounds and keep docs identical
    cat2 = _run_refetch_crawl(spark)
    pol2 = [dict(p, follow=False) for p in corpus.gen_policies()]
    cfg = CrawlConfig(**{**golden.CRAWL_CFG, "max_rounds": 1})
    summary = run_crawl(
        spark, corpus.pages_v2_df(spark, golden.CRAWL_N).coalesce(4),
        corpus.seeds_df(spark, golden.CRAWL_N).coalesce(1),
        corpus.robots_df(spark).coalesce(1), pol2, str(cat2.root), cfg,
    )
    assert summary["rounds"] == 0
    again = sorted(
        (r["round"], r["url_canon"], r["doc_json"])
        for r in cat2.read(spark, "docs")
        .select("round", "url_canon", "doc_json").collect()
    )
    assert [(int(r), u, j) for r, u, j in again] == got

    # round-1 checkpoint untouched by the refetch run
    cat1 = _run_fixture_crawl(spark)
    assert cat1.latest_round() == golden.CRAWL_CFG["max_rounds"] - 1


def test_resume_identical_after_kill(spark, tmp_path, full_crawl):
    """Kill after round 1, resume -> byte-identical ordering + docs."""
    cut = CrawlConfig(**{**CFG.__dict__, "max_rounds": 2})
    _run_engine(spark, tmp_path / "cut", cut)     # killed after 2 rounds
    _run_engine(spark, tmp_path / "cut", CFG)     # resume to completion
    full = full_crawl[1]                          # uninterrupted reference

    for table in ("scheduled", "docs"):
        from biothings_crawler_spark.catalog import ParquetManifestCatalog

        a = ParquetManifestCatalog(str(tmp_path / "cut")).read(spark, table)
        b = ParquetManifestCatalog(str(full)).read(spark, table)
        cols = sorted(set(a.columns) & set(b.columns))
        key = lambda t: tuple((v is None, str(v)) for v in t)  # noqa: E731
        ra = sorted((tuple(r[c] for c in cols) for r in a.select(*cols).collect()), key=key)
        rb = sorted((tuple(r[c] for c in cols) for r in b.select(*cols).collect()), key=key)
        assert ra == rb, table


def _refetch_job():
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "jobs" / "refetch_job.py"
    spec = importlib.util.spec_from_file_location("refetch_job", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_refetch_job_fixture_docs_equal_golden(spark, tmp_path):
    """jobs/refetch_job.py on the fixture (previous-crawl routing, no
    host rules) re-extracts exactly the simulator's refetch docs."""
    import duckdb

    from biothings_crawler_spark.oracle import golden
    from biothings_crawler_spark.plans.driver_queries import _run_fixture_crawl

    job = _refetch_job()
    prev = _run_fixture_crawl(spark).root
    out = tmp_path / "refetch"
    job.refetch(spark, job.parse_args([
        "--prev-checkpoint", str(prev), "--checkpoint", str(out),
        "--fixture-n", str(golden.CRAWL_N), "--default-budget",
        str(golden.CRAWL_CFG["default_budget"]), "--round-seconds",
        str(golden.CRAWL_CFG["round_seconds"]),
    ]))
    from biothings_crawler_spark.catalog import ParquetManifestCatalog

    got = sorted(
        (r["round"], r["url_canon"], r["doc_json"])
        for r in ParquetManifestCatalog(str(out)).read(spark, "docs")
        .select("round", "url_canon", "doc_json").collect()
    )
    want = sorted(map(tuple, duckdb.sql(
        "SELECT round, url_canon, doc_json FROM "
        f"read_parquet('{golden.paths()['refetch_docs']}')").fetchall()))
    assert got == want and len(got) > 0


def test_refetch_job_keeps_previous_parser_on_real_hosts(spark, tmp_path):
    """A GEO page the previous crawl scheduled under a real (non-fixture)
    host with parser geo_table is refetched with geo_table; the fixture's
    host rules would route it to the jsonld default."""
    from biothings_crawler_spark.catalog import ParquetManifestCatalog
    from biothings_crawler_spark.functions.json_canon import canonical_json
    from biothings_crawler_spark.urlnorm import canonicalize_url

    url = "https://www.ncbi.nlm.nih.gov/geo/query/acc.cgi?acc=GSE5"
    html = corpus.page_row(5, 100)["html"]  # an ncbi_geo fixture page
    for name, body in (("v1", html), ("v2", html + b"<!-- rev2 -->")):
        spark.createDataFrame([(url, body)], "url string, html binary") \
            .write.parquet(str(tmp_path / name))
    prev = ParquetManifestCatalog(str(tmp_path / "prev"))
    prev.commit(0, {"scheduled": spark.createDataFrame(
        [(canonicalize_url(url), "ncbi_geo", "geo_table")],
        "url_canon string, source string, parser string")})

    queue = spark.createDataFrame([(url, canonicalize_url(url))],
                                  "url string, url_canon string")
    assert corpus.fixture_seed_router(queue).first()["parser"] == "jsonld"

    job = _refetch_job()
    out = tmp_path / "refetch"
    job.refetch(spark, job.parse_args([
        "--old-pages", str(tmp_path / "v1"), "--new-pages", str(tmp_path / "v2"),
        "--prev-checkpoint", str(prev.root), "--checkpoint", str(out),
    ]))
    cat = ParquetManifestCatalog(str(out))
    sched = cat.read(spark, "scheduled").select("seed_id", "source", "parser").collect()
    assert [tuple(r) for r in sched] == [("refetch", "ncbi_geo", "geo_table")]
    want = sorted(canonical_json(it) for it in corpus.oracle_page_items(
        "geo_table", (html + b"<!-- rev2 -->").decode("utf-8"), url))
    got = sorted(r["doc_json"] for r in cat.read(spark, "docs").collect())
    assert want and got == want
