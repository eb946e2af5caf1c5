"""CDX index generation (sources/cdx) and the SURT range layout
(layout.write_surt_layout / read_domain)."""

from biothings_crawler_spark.sources.cdx import (
    RECORD_TRAILER_BYTES,
    cdx_index,
    cdx_lines,
)


def _rec(*, wtype="response", uri="https://h.example.org/p/1",
         date="2026-08-17T12:00:05Z", body="<html>x</html>"):
    payload = f"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n{body}"
    uri_line = f"WARC-Target-URI: {uri}\r\n" if uri else ""
    return (
        f"WARC/1.0\r\nWARC-Type: {wtype}\r\n{uri_line}"
        f"WARC-Date: {date}\r\nContent-Length: {len(payload)}\r\n\r\n{payload}"
    ).encode()


def _df(spark, rows):
    return spark.createDataFrame(rows, "warc_file string, pos int, record binary")


def test_offsets_count_every_record(spark):
    """Offsets are a per-file running sum over ALL records (requests
    and torn records occupy bytes) even though only responses emit
    index lines."""
    recs = [
        _rec(uri="https://a.example.org/0"),
        _rec(wtype="request", uri="https://a.example.org/0"),
        _rec(uri="https://a.example.org/1"),
    ]
    rows = _df(spark, [("w0", i, r) for i, r in enumerate(recs)])
    out = {r.url: r for r in cdx_index(rows).collect()}
    assert set(out) == {"https://a.example.org/0", "https://a.example.org/1"}
    assert out["https://a.example.org/0"].offset == 0
    expect = sum(len(r) + RECORD_TRAILER_BYTES for r in recs[:2])
    assert out["https://a.example.org/1"].offset == expect
    for r in out.values():
        assert r.length == len(recs[0]) + RECORD_TRAILER_BYTES or r.length > 0


def test_offsets_independent_per_file(spark):
    rows = _df(spark, [
        ("w0", 0, _rec(uri="https://a.example.org/0")),
        ("w0", 1, _rec(uri="https://a.example.org/1")),
        ("w1", 0, _rec(uri="https://b.example.org/0")),
    ])
    out = {(r.warc_file, r.url): r.offset for r in cdx_index(rows).collect()}
    assert out[("w1", "https://b.example.org/0")] == 0
    assert out[("w0", "https://a.example.org/1")] > 0


def test_fields_and_line_render(spark):
    rows = _df(spark, [("w0", 0, _rec())])
    cdx = cdx_index(rows)
    r = cdx.collect()[0]
    assert r.surt == "org,example,h)/p/1"
    assert r.ts14 == "20260817120005"
    assert r.mime == "text/html"
    assert r.status == "200"
    assert len(r.digest) == 32  # md5 hex
    line = cdx_lines(cdx).collect()[0].line
    parts = line.split(" ")
    assert parts[0] == "org,example,h)/p/1"
    assert parts[1] == "20260817120005"
    assert parts[8] == "w0"
    assert int(parts[6]) == r.length and int(parts[7]) == r.offset


def test_lines_sorted_by_surt_then_ts(spark):
    rows = _df(spark, [
        ("w0", 0, _rec(uri="https://z.example.org/a", date="2026-08-17T00:00:01Z")),
        ("w0", 1, _rec(uri="https://a.example.org/a", date="2026-08-17T00:00:02Z")),
        ("w0", 2, _rec(uri="https://a.example.org/a", date="2026-08-17T00:00:01Z")),
    ])
    lines = [r.line for r in cdx_lines(cdx_index(rows)).collect()]
    keys = [(ln.split(" ")[0], ln.split(" ")[1]) for ln in lines]
    assert keys == sorted(keys)


def test_surt_layout_roundtrip_and_pushdown(spark, tmp_path):
    """write_surt_layout gives disjoint per-file surt ranges;
    read_domain's startswith predicate reaches the parquet scan
    (PushedFilters) and returns exactly the domain's rows, subdomains
    included."""
    from biothings_crawler_spark.layout import read_domain, write_surt_layout

    urls = [
        *(f"https://site{i % 7}.example.org/p/{i}" for i in range(200)),
        *(f"https://news.target.org/a/{i}" for i in range(20)),
        *(f"https://www.target.org/b/{i}" for i in range(10)),
        "https://target.org.evil.com/phish",  # NOT under target.org
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    path = str(tmp_path / "surt")
    write_surt_layout(df, path, files=4)

    got = read_domain(spark, path, "target.org")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "StartsWith" in plan, plan
    res = [r.url for r in got.collect()]
    assert len(res) == 30
    assert all(".target.org/" in u or "://www.target.org/" in u for u in res)

    # Disjoint ranges: per-file (min, max) surt intervals must not overlap.
    import pyspark.sql.functions as _F
    per_file = (
        spark.read.parquet(path)
        .groupBy(_F.input_file_name().alias("f"))
        .agg(_F.min("surt").alias("lo"), _F.max("surt").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in per_file)
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 <= lo2


def test_render_parse_roundtrip(spark):
    """render_warc -> parse_warc_records recovers url/ts/body exactly."""
    import datetime as dt

    from biothings_crawler_spark.sources.warc import render_warc, warc_pages

    pages = spark.createDataFrame(
        [("https://h.example.org/p/1",
          dt.datetime(2026, 8, 17, 12, 0, 5),
          "<html><body>héllo &amp; bytes</body></html>".encode()),
         ("https://h.example.org/p/2",
          dt.datetime(2026, 1, 2, 3, 4, 5),
          b"<html>two</html>")],
        "url string, warc_ts timestamp, html binary",
    )
    back = warc_pages(render_warc(pages)).orderBy("url").collect()
    orig = pages.orderBy("url").collect()
    assert [(r.url, r.html) for r in back] == \
        [(r.url, r.html.decode()) for r in orig]
    # warc_pages returns epoch micros (UTC); timestamps survive framing
    expect_us = int(dt.datetime(2026, 8, 17, 12, 0, 5,
                                tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    assert back[0].warc_ts_us == expect_us


def test_revisits_any_prior_not_just_consecutive(spark):
    """A reverted page (digest history A, B, A) is a revisit on the
    third capture, pointing at the FIRST capture."""
    from biothings_crawler_spark.sources.cdx import cdx_revisits, revisit_savings

    rows = [
        ("org,h)/p", "20260801000000", "u", "A", 100, 0, "w0"),
        ("org,h)/p", "20260802000000", "u", "B", 100, 0, "w1"),
        ("org,h)/p", "20260803000000", "u", "A", 100, 0, "w2"),
    ]
    df = spark.createDataFrame(
        rows, "surt string, ts14 string, url string, digest string, "
              "length int, offset long, warc_file string")
    out = {r.ts14: r for r in cdx_revisits(df).collect()}
    assert not out["20260801000000"].is_revisit
    assert not out["20260802000000"].is_revisit
    assert out["20260803000000"].is_revisit
    assert out["20260803000000"].refers_to_file == "w0"
    sav = {r.warc_file: r for r in revisit_savings(cdx_revisits(df)).collect()}
    assert sav["w2"].saved_bytes == 100 and sav["w0"].saved_bytes == 0


def test_wet_record_parses_as_conversion(spark):
    import datetime as dt

    from biothings_crawler_spark.sources.warc import parse_warc_records, render_wet

    pages = spark.createDataFrame(
        [("https://h/p", dt.datetime(2026, 8, 17, 1, 2, 3), "héllo text")],
        "url string, warc_ts timestamp, text string")
    rec = parse_warc_records(render_wet(pages)).collect()[0]
    assert rec.warc_type == "conversion"
    assert rec.url == "https://h/p"
    assert rec.payload == "héllo text"
    assert rec.content_length == len("héllo text".encode())
