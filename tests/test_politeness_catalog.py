"""Politeness window (salted == naive), robots filter, catalog commits."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from biothings_crawler_spark.catalog import ParquetManifestCatalog
from biothings_crawler_spark.fixtures import corpus
from biothings_crawler_spark.hashing import xxhash64_str
from biothings_crawler_spark.operators.politeness import (
    ORDER_COLS,
    apply_robots,
    host_budgets,
    select_politely,
)


def _cands(spark, n=500, hosts=("a.org", "b.org", "hot.org")):
    rows = []
    for i in range(n):
        host = hosts[i % len(hosts)] if i % 10 else hosts[-1]
        url = f"https://{host}/p/{i}"
        rows.append((url, url, xxhash64_str(url), host, 0, i % 3))
    return spark.createDataFrame(
        rows, "url string, url_canon string, url_hash long, host string, depth int, priority int"
    )


def test_salted_selection_equals_naive_window(spark):
    cands = _cands(spark)
    budgets = spark.createDataFrame(
        [("a.org", 7), ("hot.org", 13)], "host string, budget int"
    )
    # salt_target=10 forces real salting (multiple buckets per host)
    got = select_politely(cands, budgets, default_budget=5, salt_target=10)
    naive = (
        cands.join(F.broadcast(budgets), "host", "left")
        .withColumn("budget", F.coalesce("budget", F.lit(5)))
        .withColumn("rk", F.row_number().over(Window.partitionBy("host").orderBy(*ORDER_COLS)))
        .filter(F.col("rk") <= F.col("budget"))
    )
    g = {(r["host"], r["sched_rank"], r["url_canon"]) for r in got.collect()}
    n = {(r["host"], r["rk"], r["url_canon"]) for r in naive.collect()}
    assert g == n
    # per-host quota never exceeded
    per_host = got.groupBy("host").count().collect()
    lim = {"a.org": 7, "hot.org": 13, "b.org": 5}
    for r in per_host:
        assert r["count"] <= lim[r["host"]]


def test_budget_from_crawl_delay(spark):
    robots = corpus.robots_df(spark)
    b = {r["host"]: r["budget"] for r in host_budgets(robots, 60.0, 99).collect()}
    assert b["zenodo.example.org"] == 60     # delay 1.0
    assert b["omicsdi.example.org"] == 30    # delay 2.0
    assert b["dataverse.example.org"] == 6   # delay 10.0
    assert b["figshare.example.org"] == 99   # no delay -> default


def test_robots_longest_match(spark):
    robots = corpus.robots_df(spark)
    cands = spark.createDataFrame(
        [
            ("https://omicsdi.example.org/dataset/1",) * 2 + ("omicsdi.example.org",),
            ("https://omicsdi.example.org/ws/x",) * 2 + ("omicsdi.example.org",),
            ("https://omicsdi.example.org/private/1",) * 2 + ("omicsdi.example.org",),
            ("https://dataverse.example.org/any",) * 2 + ("dataverse.example.org",),
            ("https://nohost.example.net/x",) * 2 + ("nohost.example.net",),
        ],
        "url string, url_canon string, host string",
    )
    kept = {r["url_canon"] for r in apply_robots(cands, robots, True).collect()}
    assert "https://omicsdi.example.org/dataset/1" in kept
    assert "https://omicsdi.example.org/ws/x" not in kept
    assert "https://omicsdi.example.org/private/1" not in kept
    assert "https://dataverse.example.org/any" not in kept  # Disallow: /
    assert "https://nohost.example.net/x" in kept           # no robots row
    assert apply_robots(cands, robots, False).count() == 5  # reference mode


def test_catalog_atomic_commit_and_resume(spark, tmp_path):
    cat = ParquetManifestCatalog(tmp_path / "cp")
    df0 = spark.range(5).withColumnRenamed("id", "v")
    cat.commit(0, {"t": df0})
    assert cat.latest_round() == 0
    cat.commit(1, {"t": spark.range(3).withColumnRenamed("id", "v")})
    assert cat.rounds("t") == [0, 1]
    assert cat.read(spark, "t").count() == 8
    assert cat.read(spark, "t", 1).count() == 3
    assert cat.read(spark, "missing") is None
    with pytest.raises(ValueError):
        cat.commit(1, {"t": df0})  # re-commit refused (resume safety)


@pytest.mark.parametrize("kill_point", ["before_manifest", "after_first_rename"])
def test_catalog_uncommitted_rounds_invisible(spark, tmp_path, monkeypatch, kill_point):
    """A job killed inside a real two-table commit leaves no visible
    trace: after all renames but before the manifest write (both round
    dirs orphaned), or after the first rename only (one round dir
    orphaned, the other table still staged in .tmp/)."""
    import os

    def rows(n):
        return spark.range(n).withColumnRenamed("id", "v")

    class Killed(Exception):
        pass

    root = tmp_path / "cp2"
    cat = ParquetManifestCatalog(root)
    cat.commit(0, {"t": rows(4), "u": rows(3)})
    if kill_point == "before_manifest":
        def kill(manifest):
            raise Killed

        monkeypatch.setattr(cat, "_write_manifest", kill)
    else:
        real_rename = os.rename
        calls = []

        def kill(src, dst):
            calls.append(src)
            if len(calls) > 1:
                raise Killed
            real_rename(src, dst)

        monkeypatch.setattr(os, "rename", kill)
    with pytest.raises(Killed):
        cat.commit(1, {"t": rows(9), "u": rows(7)})
    monkeypatch.undo()
    assert cat._round_dir("t", 1).exists()  # the orphan is on disk
    staged = (root / ".tmp" / "u-r000001").exists()
    assert staged == (kill_point == "after_first_rename")

    resumed = ParquetManifestCatalog(root)
    assert resumed.latest_round() == 0
    for name, n in (("t", 4), ("u", 3)):
        assert resumed.rounds(name) == [0]
        assert resumed.read(spark, name).count() == n
        assert resumed.read(spark, name, 1) is None
    # re-committing the round replaces the garbage
    resumed.commit(1, {"t": rows(2), "u": rows(5)})
    assert resumed.latest_round() == 1
    assert resumed.read(spark, "t", 1).count() == 2
    assert resumed.read(spark, "u", 1).count() == 5
    assert not list((root / ".tmp").glob("*-r*"))


def test_catalog_commit_stamps_meta_provenance(spark, tmp_path):
    """_meta build date/version per commit (upload/__init__.py:219-232
    analog) — manifest-only, table bytes untouched."""
    import json

    from biothings_crawler_spark import __version__
    from biothings_crawler_spark.catalog import ParquetManifestCatalog

    cat = ParquetManifestCatalog(str(tmp_path))
    cat.commit(0, {"t": spark.range(3)})
    meta = json.loads((tmp_path / "_manifest.json").read_text())["_meta"]["0"]
    assert meta["build_version"] == __version__
    assert meta["src"]["engine"] == "biothings_crawler_spark"
    assert "build_date" in meta


def test_aging_defer_loop_prevents_starvation(spark):
    """apply_aging + defer_unselected + select_politely: a deferred
    URL's aged priority beats fresher arrivals, so the wait of every
    frontier row is bounded; defer increments wait_rounds and the
    boost clamps at max_boost."""
    from biothings_crawler_spark.operators.politeness import (
        apply_aging,
        defer_unselected,
        select_politely,
    )

    cand = spark.createDataFrame(
        [("h", f"u{i:03d}", i, 5) for i in range(4)],
        "host string, url_canon string, url_hash long, priority long",
    )
    budgets = spark.createDataFrame([], "host string, budget int")
    s1 = select_politely(cand, budgets, 2, salt_target=1000)
    assert sorted(r["url_canon"] for r in s1.collect()) == ["u000", "u001"]
    deferred = defer_unselected(cand, s1)
    dc = deferred.collect()
    assert sorted(r["url_canon"] for r in dc) == ["u002", "u003"]
    assert all(r["wait_rounds"] == 1 for r in dc)
    fresh = spark.createDataFrame(
        [("h", f"n{i:03d}", 100 + i, 4) for i in range(4)],
        "host string, url_canon string, url_hash long, priority long",
    )
    aged = apply_aging(deferred, boost_per_round=2).drop("wait_rounds")
    s2 = select_politely(aged.unionByName(fresh), budgets, 2, salt_target=1000)
    # aged priority 5-2=3 beats the fresh 4s: old URLs selected first
    assert sorted(r["url_canon"] for r in s2.collect()) == ["u002", "u003"]
    # clamp: huge wait cannot push priority below priority - max_boost
    stuck = deferred.withColumn("wait_rounds", F.lit(10_000).cast("long"))
    a = apply_aging(stuck, boost_per_round=2, max_boost=3).collect()
    assert all(r["priority"] == 2 for r in a)


def test_adaptive_budgets_conservative_envelope(spark):
    """budget = clamp(min(AIMD-rate budget, latency p95 bound), 1):
    a backpressured host gets rate-bound, a slow host gets
    latency-bound, a healthy fast host gets the larger rate figure."""
    import datetime as dt

    from biothings_crawler_spark.operators.politeness import adaptive_budgets

    t = lambda h, s=0: dt.datetime(2024, 1, 1) + dt.timedelta(hours=h, seconds=s)
    rows = (
        # fast + clean: rate 60+12*3=96 rph -> 16/round(600s); p95 ~ 1ms
        [("fast", t(h), 200, 1000) for h in range(3)]
        # slow + clean: same rate, but p95 bin for 60s -> bound 600e6/(2^26-1)=8
        + [("slow", t(h), 200, 60_000_000) for h in range(3)]
        # backpressured: halving every hour -> floor 6 rph -> 6*600//3600 = 1
        + [("bp", t(h), 503, 1000) for h in range(8)]
    )
    df = spark.createDataFrame(
        rows, "host string, ts timestamp_ntz, status int, latency_us long")
    out = {r["host"]: r for r in adaptive_budgets(
        df, "host", "ts", "status", "latency_us",
        round_seconds=600, min_budget=1,
    ).collect()}
    assert out["fast"]["budget"] == 16          # rate-bound: 96*600//3600
    assert out["slow"]["rate_rph"] == out["fast"]["rate_rph"]
    assert out["slow"]["budget"] == 8           # latency-bound (p95 ub 2^27-1? -> 600e6//p95)
    assert out["slow"]["budget"] < out["fast"]["budget"]
    assert out["bp"]["budget"] == 1             # clamped at min_budget


def test_politeness_audit_gaps_and_defaults(spark):
    """Hand-worked audit: host 'a' (delay 2s) fetched at 0/1/4/9 s ->
    gaps 1,3,5 s, one violation; host 'b' absent from the delay table
    audits against the 1 s default with a 0.5 s gap -> violation;
    single-fetch host 'c' has no gaps and min_gap_us null."""
    import datetime as dt

    from biothings_crawler_spark.operators.politeness import politeness_audit

    t0 = dt.datetime(2024, 1, 1)
    mk = lambda s: t0 + dt.timedelta(seconds=s)
    fetches = spark.createDataFrame(
        [("a", mk(0), 1), ("a", mk(1), 2), ("a", mk(4), 3), ("a", mk(9), 4),
         ("b", mk(0), 5), ("b", mk(0.5), 6), ("c", mk(0), 7)],
        "host string, ts timestamp, event_id long",
    )
    delays = spark.createDataFrame([("a", 2_000_000)],
                                   "host string, crawl_delay_us long")
    got = {r["host"]: r for r in politeness_audit(
        fetches, "host", "ts", delays, "event_id").collect()}
    a = got["a"]
    assert (a["n_fetches"], a["n_gaps"], a["n_violations"]) == (4, 3, 1)
    assert a["min_gap_us"] == 1_000_000
    assert a["violation_ppm"] == 1_000_000 // 3
    b = got["b"]
    assert (b["n_gaps"], b["n_violations"], b["min_gap_us"]) == (1, 1, 500_000)
    c = got["c"]
    assert (c["n_fetches"], c["n_gaps"], c["n_violations"]) == (1, 0, 0)
    assert c["min_gap_us"] is None and c["violation_ppm"] == 0


def test_ip_politeness_shares_budget_across_vhosts(spark):
    from biothings_crawler_spark.operators.politeness import (
        select_politely_by_ip,
    )

    cands = _cands(spark, n=60, hosts=("a.org", "b.org", "c.org"))
    host_ip = spark.createDataFrame(
        [("a.org", "10.0.0.1"), ("b.org", "10.0.0.1")], "host string, ip string"
    )
    budgets = spark.createDataFrame([("10.0.0.1", 4)], "ip string, budget int")
    got = select_politely_by_ip(cands, host_ip, budgets, default_budget=3,
                                salt_target=10)
    rows = got.collect()
    by_ip = {}
    for r in rows:
        by_ip.setdefault(r["ip"], []).append(r)
    # a.org + b.org TOGETHER get 4 slots, not 4 each
    assert len(by_ip["10.0.0.1"]) == 4
    assert {r["host"] for r in by_ip["10.0.0.1"]} <= {"a.org", "b.org"}
    # c.org has no resolver row: fails open to per-host default budget,
    # grouped under its own host name
    assert len(by_ip["c.org"]) == 3
    assert all(r["host"] == "c.org" for r in by_ip["c.org"])


def test_ip_politeness_rank_is_global_within_ip(spark):
    from biothings_crawler_spark.operators.politeness import (
        select_politely_by_ip,
    )

    cands = _cands(spark, n=40, hosts=("a.org", "b.org"))
    host_ip = spark.createDataFrame(
        [("a.org", "ip1"), ("b.org", "ip1")], "host string, ip string"
    )
    budgets = spark.createDataFrame([], "ip string, budget int")
    got = select_politely_by_ip(cands, host_ip, budgets, default_budget=6,
                                salt_target=10).collect()
    # sched_rank is 1..6 across the merged IP group — the ranks of the
    # naive window over the union of both vhosts' candidates
    assert sorted(r["sched_rank"] for r in got) == [1, 2, 3, 4, 5, 6]


def test_jain_fairness_bounds(spark):
    from biothings_crawler_spark.operators.politeness import fetch_fairness

    # perfectly even: J = 1.0 exactly
    even = spark.createDataFrame(
        [(f"h{i % 4}",) for i in range(40)], "host string")
    r = fetch_fairness(even).collect()[0]
    assert (r["n_hosts"], r["n_fetches"], r["jain_ppm"]) == (4, 40, 1_000_000)

    # one host monopolizes: J -> 1/n
    skew = spark.createDataFrame(
        [("hog",)] * 97 + [("a",), ("b",), ("c",)], "host string")
    r = fetch_fairness(skew).collect()[0]
    assert r["n_hosts"] == 4
    # exact: (100^2 * 1e6) // (4 * (97^2 + 3)) = 265,652,...
    assert r["jain_ppm"] == 100 * 100 * 1_000_000 // (4 * (97 * 97 + 3))
    assert r["jain_ppm"] < 300_000


def test_robots_drift_classifies_revoke_admit_unchanged(spark):
    from biothings_crawler_spark.operators.politeness import robots_drift

    cand = spark.createDataFrame(
        [("a", "https://a/docs/p"), ("a", "https://a/priv2/p"),
         ("a", "https://a/pub/p"), ("b", "https://b/any")],
        "host string, url_canon string")
    old = spark.createDataFrame(
        [("a", ["/pub"], ["/docs"])],
        "host string, allow array<string>, disallow array<string>")
    new = spark.createDataFrame(
        [("a", ["/pub"], ["/priv2"])],
        "host string, allow array<string>, disallow array<string>")
    got = {r["url_canon"]: r["action"]
           for r in robots_drift(cand, old, new).collect()}
    assert got["https://a/docs/p"] == "admit"      # disallow dropped
    assert got["https://a/priv2/p"] == "revoke"    # newly disallowed
    assert got["https://a/pub/p"] == "unchanged"
    assert got["https://b/any"] == "unchanged"     # no rules either side


def test_robots_drift_longest_match_still_wins(spark):
    from biothings_crawler_spark.operators.politeness import robots_drift

    cand = spark.createDataFrame(
        [("a", "https://a/priv/pub/ok")], "host string, url_canon string")
    old = spark.createDataFrame(
        [("a", ["/priv/pub"], ["/priv"])],
        "host string, allow array<string>, disallow array<string>")
    # new rules flip the specificity: allow shortened below the disallow
    new = spark.createDataFrame(
        [("a", ["/p"], ["/priv"])],
        "host string, allow array<string>, disallow array<string>")
    r = robots_drift(cand, old, new).collect()[0]
    assert not r["blocked_old"] and r["blocked_new"]
    assert r["action"] == "revoke"


def test_rendezvous_minimal_movement_and_balance(spark):
    """HRW: adding a worker moves only the hosts the NEW worker wins
    (~1/(N+1)), and every moved host moves TO the new worker."""
    from pyspark.sql import functions as F

    from biothings_crawler_spark.operators.politeness import (
        rendezvous_assign,
    )

    hosts = spark.createDataFrame(
        [(f"h{i}.org",) for i in range(400)], "host string")
    a = rendezvous_assign(hosts, 8).select(
        "host", F.col("worker").alias("w8"))
    b = rendezvous_assign(hosts, 9).select(
        "host", F.col("worker").alias("w9"))
    j = a.join(b, "host").collect()
    moved = [r for r in j if r.w8 != r.w9]
    assert all(r.w9 == 8 for r in moved)          # only to the newcomer
    assert 400 // 9 * 0.4 < len(moved) < 400 // 9 * 2.0
    # assignment is total and deterministic
    assert all(0 <= r.w8 < 8 and 0 <= r.w9 < 9 for r in j)
    again = {r.host: r.worker
             for r in rendezvous_assign(hosts.repartition(7), 8).collect()}
    assert all(again[r.host] == r.w8 for r in j)


def test_fused_and_salted_phases_agree(spark):
    """The adaptive single-window branch (all salt_n == 1) must emit
    exactly the rows and ranks of the two-phase salted branch — same
    input, salt_target toggling which plan runs."""
    from pyspark.sql import functions as F

    from biothings_crawler_spark.operators.politeness import select_politely

    cands = spark.createDataFrame(
        [(f"h{i % 3}", f"{j:04d}", i * 100 + j, j % 2)
         for i in range(3) for j in range(40)],
        "host string, url_canon string, url_hash long, priority int",
    )
    budgets = spark.createDataFrame([], "host string, budget int")
    fused = select_politely(cands, budgets, 7, salt_target=1000)
    salted = select_politely(cands, budgets, 7, salt_target=10)
    key = ["host", "url_canon", "url_hash", "priority", "sched_rank"]
    assert sorted(map(tuple, fused.select(*key).collect())) == \
        sorted(map(tuple, salted.select(*key).collect()))
