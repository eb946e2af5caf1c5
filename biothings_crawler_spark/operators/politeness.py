"""Per-host politeness: robots rules + budget window with explicit salting.

Reference behavior being rebuilt (SURVEY.md §2.6, §4):

  * AutoThrottle targets ~1 in-flight request per host
    (crawler/settings.py:82-89) — i.e. a per-host *rate*; over a fixed
    round duration that is a per-host, per-round budget.
  * robots crawl-delays are honored socially (harvard.py:20 documents
    ``Crawl-delay: 10``); NB the reference sets ``ROBOTSTXT_OBEY=False``
    (crawler/settings.py:31) — allow/disallow rules were NOT enforced.
    Our engine enforces them by default (BASELINE.json north_star
    requires robots rules); ``obey_robots=False`` reproduces reference
    behavior bit-for-bit.
  * ``DownloaderAwarePriorityQueue`` (clic.py:63) spreads load — at
    Spark scale the analogous problem is hot-host skew in the
    ``groupBy(host)`` window; AQE skew handling does not apply to
    windows, so we salt explicitly.

Budget selection is a deterministic per-host top-B by
(priority, url_hash, url_canon). Done naively it is
``row_number().over(Window.partitionBy('host'))`` — one task per host,
and the 30%-hot host makes one straggler task own 3·10^9 rows. Instead,
**two-phase salted selection** (exact, not approximate):

  phase 1: salt = pmod(url_hash, salt_n(host)) where salt_n grows with
           the host's candidate count; rank within (host, salt); keep
           per-bucket top-B. Worst case the true global top-B all land
           in one bucket, so keeping B per bucket can never lose a
           winner.
  phase 2: rank within host over the ≤ salt_n·B phase-1 survivors
           (tiny), keep top-B. Identical result to the naive window,
           bounded task size.

Both phases order by the same total order, so N-core and 4N-core runs
schedule the identical URL set in the identical rank order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ORDER_COLS = ["priority", "url_hash", "url_canon"]


def path_col(url):
    """Path + query of a URL (robots matching operates on this)."""
    return F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", "")


def robots_decisions(
    candidates: DataFrame, robots: DataFrame, flag_col: str = "blocked"
) -> DataFrame:
    """candidates + ``flag_col``: the longest-match allow/disallow
    verdict under the given robots rules (hosts with no rules row are
    allowed). The decision primitive behind :func:`apply_robots` and
    :func:`robots_drift` — one broadcast join + row-local array folds,
    the candidate side never shuffles."""
    joined = candidates.join(
        F.broadcast(robots.select("host", "allow", "disallow")), "host", "left"
    )
    path = path_col(F.col("url_canon"))
    longest = lambda arr: F.aggregate(  # noqa: E731
        F.filter(arr, lambda p: path.startswith(p)),
        F.lit(0),
        lambda acc, p: F.greatest(acc, F.length(p)),
    )
    allow_len = F.coalesce(longest(F.col("allow")), F.lit(0))
    dis_len = F.coalesce(longest(F.col("disallow")), F.lit(0))
    blocked = F.col("disallow").isNotNull() & (dis_len > allow_len) & (dis_len > 0)
    return joined.withColumn(flag_col, blocked).drop("allow", "disallow")


def apply_robots(candidates: DataFrame, robots: DataFrame, obey: bool = True) -> DataFrame:
    """Filter candidates by robots allow/disallow (longest-match wins).

    robots(host, allow, disallow, crawl_delay, sitemap_urls) is a small
    dimension — broadcast join, no shuffle of the candidate side.
    Hosts with no robots row are allowed. With ``obey=False`` (the
    reference's actual configuration) this is the identity.
    """
    if not obey:
        return candidates
    return (
        robots_decisions(candidates, robots, "__blocked")
        .filter(~F.col("__blocked"))
        .drop("__blocked")
    )


def robots_drift(
    candidates: DataFrame, old_robots: DataFrame, new_robots: DataFrame
) -> DataFrame:
    """Policy-drift triage after a robots.txt refetch: every candidate
    URL re-evaluated under the OLD and the NEW rules, classified
    ``revoke`` (was crawlable, now disallowed — feed
    operators/seen.revoke_seen and drop from the index),
    ``admit`` (was disallowed, now crawlable — back into the
    frontier), or ``unchanged``. The reference refetches robots but
    never reconciles past decisions; at 10^10 URLs a policy flip on a
    big host is a mass takedown/backfill event this op sizes and
    drives.

    Two broadcast decision joins + a row-local CASE — the candidate
    side still never shuffles."""
    d = robots_decisions(candidates, old_robots, "blocked_old")
    d = robots_decisions(d, new_robots, "blocked_new")
    return d.withColumn(
        "action",
        F.when(~F.col("blocked_old") & F.col("blocked_new"), F.lit("revoke"))
        .when(F.col("blocked_old") & ~F.col("blocked_new"), F.lit("admit"))
        .otherwise(F.lit("unchanged")),
    )


def host_budgets(
    robots: DataFrame, round_seconds: float, default_budget: int
) -> DataFrame:
    """budget(host) = how many URLs one round may fetch from the host.

    crawl_delay d => round_seconds / d requests per round (the
    AutoThrottle target-concurrency-1.0 analog); no delay => default.
    """
    return robots.select(
        "host",
        F.when(
            F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0),
            F.greatest(F.floor(F.lit(round_seconds) / F.col("crawl_delay")), F.lit(1)),
        )
        .otherwise(F.lit(default_budget))
        .cast("int")
        .alias("budget"),
    )


def select_politely(
    candidates: DataFrame,
    budgets: DataFrame,
    default_budget: int,
    salt_target: int = 100_000,
    max_salt: int = 4096,
) -> DataFrame:
    """Deterministic per-host top-budget selection, skew-proof.

    Returns candidates + ``sched_rank`` (1-based rank within host) for
    the selected rows. Unselected rows are NOT returned — the round
    loop defers them to the next round's frontier.
    """
    counts = candidates.groupBy("host").agg(F.count(F.lit(1)).alias("n_cand"))
    plan = (
        counts.join(F.broadcast(budgets), "host", "left")
        .withColumn("budget", F.coalesce(F.col("budget"), F.lit(default_budget)))
        .withColumn(
            "salt_n",
            F.least(
                F.greatest(F.ceil(F.col("n_cand") / F.lit(salt_target)), F.lit(1)),
                F.lit(max_salt),
            ).cast("int"),
        )
        .select("host", "budget", "salt_n")
        # host-bounded (the politeness contract); checkpointed because
        # it is read twice — the broadcast below and the salt probe.
        # LAZY checkpoint: the probe's 1-row aggregate is the first
        # action over it, so one job both materializes the host table
        # and answers the probe (eager=True cost a separate blocking
        # job per call — visible per-round in the crawl loop)
        .localCheckpoint(eager=False)
    )
    # adaptive phase fusion: when NO host clears salt_target (salt_n=1
    # everywhere — every round at moderate per-host candidate counts,
    # and the common case even at 10^10 frontiers outside the hot
    # hosts), phase 1's (host, salt=0) ranking IS the exact per-host
    # ranking, so the second window — a full extra sort+shuffle of the
    # survivors for identical output — is skipped.  With any salted
    # host present, both phases run unchanged.  The probe is a 1-row
    # aggregate on the checkpointed host table.
    max_salt_n = plan.agg(F.max("salt_n")).first()[0] or 1
    cand = candidates.join(F.broadcast(plan), "host", "left")
    if max_salt_n == 1:
        w = Window.partitionBy("host").orderBy(*ORDER_COLS)
        return (
            cand.drop("salt_n")
            .withColumn("sched_rank", F.row_number().over(w))
            .filter(F.col("sched_rank") <= F.col("budget"))
            .drop("budget")
        )
    cand = cand.withColumn("salt", F.pmod(F.col("url_hash"), F.col("salt_n")))
    w1 = Window.partitionBy("host", "salt").orderBy(*ORDER_COLS)
    phase1 = (
        cand.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= F.col("budget"))
        .drop("__r1", "salt", "salt_n")
    )
    w2 = Window.partitionBy("host").orderBy(*ORDER_COLS)
    return (
        phase1.withColumn("sched_rank", F.row_number().over(w2))
        .filter(F.col("sched_rank") <= F.col("budget"))
        .drop("budget")
    )


def select_politely_by_ip(
    candidates: DataFrame,
    host_ip: DataFrame,
    budgets_by_ip: DataFrame,
    default_budget: int,
    salt_target: int = 100_000,
    max_salt: int = 4096,
) -> DataFrame:
    """IP-group politeness: all virtual hosts behind one IP share ONE
    budget (Heritrix's queue-assignment-policy=ip; a thousand vhosts on
    one shared-hosting box must not multiply the per-host budget into a
    thousandfold hammering of the box). The reference throttles per
    hostname only (AutoThrottle, crawler/settings.py:82-89) and has no
    IP notion — this is the web-scale correction.

    ``host_ip`` is the resolver cache (host, ip) — bounded by the host
    count (~10^7 at a 10^10 frontier), broadcastable; the corpus-side
    candidates take one broadcast equi-join and then the SAME exact
    two-phase salted selection, partitioned by ip instead of host. The
    skew argument strengthens: IP groups are strictly coarser than
    hosts, so the salting that bounds hot-host tasks is what makes the
    hot-IP window safe too. Candidates whose host has no resolver row
    fall back to their own host as the group (fail-open to per-host
    politeness, never skipped)."""
    cand = (
        candidates.withColumnRenamed("host", "vhost")
        .join(
            F.broadcast(host_ip.select(F.col("host").alias("vhost"), "ip")),
            "vhost",
            "left",
        )
        .withColumn("host", F.coalesce(F.col("ip"), F.col("vhost")))
        .drop("ip")
    )
    budgets = budgets_by_ip.select(F.col("ip").alias("host"), "budget")
    sel = select_politely(cand, budgets, default_budget, salt_target, max_salt)
    return (
        sel.withColumnRenamed("host", "ip")
        .withColumnRenamed("vhost", "host")
    )


def apply_aging(
    frontier: DataFrame,
    boost_per_round: int = 1,
    max_boost: int = 100,
) -> DataFrame:
    """Starvation control for the round loop: lower ``priority`` (the
    order is ascending — smaller schedules first) by ``wait_rounds *
    boost_per_round``, clamped at ``max_boost``.  Under per-host
    budgets a stream of fresh high-priority URLs can defer the same
    old candidates forever; with linear aging every URL's effective
    priority eventually beats any bounded newcomer priority, so the
    wait of every frontier row is bounded — the classic aging fix for
    priority-scheduler starvation, applied to the crawl frontier.

    Row-local projection (ZERO exchanges): the round loop runs it on
    the deferred frontier before each :func:`select_politely` call.
    Rows without a ``wait_rounds`` column age as 0.
    """
    wait = (
        F.col("wait_rounds")
        if "wait_rounds" in frontier.columns
        else F.lit(0).cast("long")
    )
    boost = F.least(
        wait * F.lit(int(boost_per_round)), F.lit(int(max_boost))
    ).cast("long")
    cols = [c for c in frontier.columns if c != "priority"]
    return frontier.select(
        *cols, (F.col("priority") - boost).alias("priority")
    )


def defer_unselected(
    frontier: DataFrame, selected: DataFrame, key_col: str = "url_canon"
) -> DataFrame:
    """Next round's carry-over: frontier rows NOT selected this round,
    with ``wait_rounds`` incremented (created at 1 if absent).  The
    anti-join shuffles only the key; composes with
    :func:`apply_aging` + :func:`select_politely` into the bounded-
    wait round loop."""
    wait = (
        F.col("wait_rounds")
        if "wait_rounds" in frontier.columns
        else F.lit(0).cast("long")
    )
    cols = [c for c in frontier.columns if c != "wait_rounds"]
    return (
        frontier.join(selected.select(key_col), key_col, "left_anti")
        .select(*cols, (wait + F.lit(1)).cast("long").alias("wait_rounds"))
    )


def _robots_rule_regex(rule):
    """RFC 9309 rule -> anchored Java/RE2 regex (both engines accept
    the output): escape regex metachars, ``*`` -> ``.*``, a TRAILING
    ``$`` stays an end anchor (inner ``$`` is literal)."""
    esc = F.regexp_replace(rule, r"([.\[\]{}()+?^$|\\])", r"\\$1")
    star = F.regexp_replace(esc, r"\*", ".*")
    anchored = F.regexp_replace(star, r"\\\$$", "\\$")
    return F.concat(F.lit("^"), anchored)


def apply_robots_rfc(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """RFC 9309 wildcard-aware robots enforcement: like
    :func:`apply_robots` (whose prefix semantics mirror the
    reference's Scrapy-era matcher) but rules may contain ``*``
    (any char run) and a trailing ``$`` (end anchor), precedence is
    the longest RULE TEXT that matches, and a length tie goes to
    allow (least-restrictive, per the RFC).

    Shape: rule->regex compilation happens ONCE per robots row inside
    the broadcast dimension (hosts × a handful of rules — never on the
    candidate side); the candidate side evaluates ``regexp_like``
    against the precompiled array elements.  Still a broadcast join +
    row-local filter: no extra shuffle over :func:`apply_robots`.
    """
    dim = robots.select(
        "host",
        F.transform(
            F.col("allow"),
            lambda p: F.struct(
                _robots_rule_regex(p).alias("re"), F.length(p).alias("n")
            ),
        ).alias("_are"),
        F.transform(
            F.col("disallow"),
            lambda p: F.struct(
                _robots_rule_regex(p).alias("re"), F.length(p).alias("n")
            ),
        ).alias("_dre"),
    )
    joined = candidates.join(F.broadcast(dim), "host", "left")
    path = path_col(F.col("url_canon"))
    longest = lambda arr: F.aggregate(  # noqa: E731
        F.filter(arr, lambda s: F.regexp_like(F.col("p"), s["re"])),
        F.lit(0),
        lambda acc, s: F.greatest(acc, s["n"]),
    )
    staged = joined.withColumn("p", path)
    allow_len = F.coalesce(longest(F.col("_are")), F.lit(0))
    dis_len = F.coalesce(longest(F.col("_dre")), F.lit(0))
    blocked = F.col("_dre").isNotNull() & (dis_len > allow_len) & (dis_len > 0)
    return staged.filter(~blocked).drop("_are", "_dre", "p")


def adaptive_budgets(
    fetches: DataFrame,
    host_col: str,
    ts_col: str,
    status_col: str,
    latency_col: str,
    round_seconds: int = 600,
    min_budget: int = 1,
    base_rate_rph: int = 60,
    min_rate_rph: int = 6,
    max_rate_rph: int = 3600,
    incr_rph: int = 12,
) -> DataFrame:
    """The adaptive politeness plane, composed: per-host round budgets
    from BOTH backpressure history (AIMD fold — the host TOLD us to
    slow down) and observed latency (p95 upper bound — the host can't
    physically serve more than round/p95 sequential requests at
    target concurrency 1).  budget = clamp(min(rate-derived,
    latency-derived), min_budget) — the conservative envelope of the
    two signals, in exact integer arithmetic.  Output ``(host,
    rate_rph, p95_us, budget)`` drops straight into
    :func:`select_politely`; hosts absent from the fetch log get the
    caller's default there.

    Shape: both inputs are the bounded aggregates documented on their
    operators (hourly-flag fold; 64-bin histogram fold); the composer
    adds ONE host-keyed equi-join of two host-bounded tables and a
    row-local clamp.  Nothing here rescans fetch rows.
    """
    from biothings_crawler_spark.operators.recrawl import aimd_host_rates
    from biothings_crawler_spark.operators.sketch import host_latency_quantiles

    rates = aimd_host_rates(
        fetches, host_col, ts_col, status_col,
        base_rate_rph=base_rate_rph, min_rate_rph=min_rate_rph,
        max_rate_rph=max_rate_rph, incr_rph=incr_rph,
    ).select("host", "rate_rph")
    lat = host_latency_quantiles(
        fetches, host_col, latency_col, quantiles_ppm=(500_000, 950_000, 990_000)
    ).select("host", "p95_us")
    rs = int(round_seconds)
    return (
        rates.join(lat, "host")
        .select(
            "host", "rate_rph", "p95_us",
            F.greatest(
                F.lit(int(min_budget)).cast("long"),
                F.least(
                    F.expr(f"rate_rph * {rs} div 3600"),
                    F.expr(f"cast({rs} as bigint) * 1000000 div p95_us"),
                ),
            ).cast("int").alias("budget"),
        )
    )


def politeness_audit(
    fetches: DataFrame,
    host_col: str,
    ts_col: str,
    delays: DataFrame,
    tiebreak_col: str,
    default_delay_us: int = 1_000_000,
) -> DataFrame:
    """Did the fetch plane HONOR its politeness contract?  Per host:
    consecutive-fetch gaps vs the host's crawl delay -> ``(host,
    n_fetches, n_gaps, n_violations, min_gap_us, violation_ppm)``.

    The scheduler's quotas (select_politely) bound per-ROUND volume;
    this audits the actual INTER-REQUEST spacing the host observed —
    the number an angry webmaster (or RFC 9309 Crawl-delay) cares
    about.  Closing the loop matters at 10^10 fetches because clock
    skew, retries, and redirect chains all bypass the scheduler's
    intent; the audit reads the fetch LOG, so nothing escapes it.

    ``delays`` = (host, crawl_delay_us) — typically from the robots
    parse; hosts missing from it audit against ``default_delay_us``.
    Shape: one lag window over (host | ts, tiebreak) — the same keyed
    exchange every per-host temporal operator pays — then a host
    hash agg; the delays join is host-bounded (left to AQE to
    broadcast).  Exact integers end-to-end.
    """
    w = Window.partitionBy(host_col).orderBy(ts_col, tiebreak_col)
    # timestampdiff, not unix_micros: the latter rejects TIMESTAMP_NTZ
    # (parquet event logs are NTZ), the former takes both kinds
    staged = fetches.select(
        F.col(host_col).alias("host"),
        F.col(ts_col).alias("_ts"),
        F.lag(F.col(ts_col)).over(w).alias("_prev_ts"),
    )
    flagged = staged.select(
        "host",
        F.expr("timestampdiff(MICROSECOND, _prev_ts, _ts)").alias("gap_us"),
    ).join(
        delays.select(F.col("host"), F.col("crawl_delay_us")), "host", "left"
    ).withColumn(
        "delay_us",
        F.coalesce("crawl_delay_us", F.lit(int(default_delay_us))).cast("long"),
    )
    return flagged.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("n_fetches"),
        F.count("gap_us").cast("long").alias("n_gaps"),
        # CASE-with-ELSE, not a bare boolean cast: a host with no gaps
        # (single fetch) must audit to 0 violations, and sum over
        # NULL-comparison rows would yield NULL instead
        F.sum(F.when(F.col("gap_us") < F.col("delay_us"), 1).otherwise(0))
        .cast("long").alias("n_violations"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.expr(
            "CASE WHEN count(gap_us) = 0 THEN 0 ELSE "
            "sum(CASE WHEN gap_us < delay_us THEN 1 ELSE 0 END) * 1000000 "
            "div count(gap_us) END"
        ).cast("long").alias("violation_ppm"),
    )


def fetch_schedule(
    arrivals: DataFrame, delay_us: int = 500_000
) -> DataFrame:
    """Predicted per-host fetch start times under a serial politeness
    delay — the queueing simulation behind ETA dashboards and
    completion forecasting: fetch ``i`` of a host starts at
    ``max(arrival_i, start_{i-1} + delay)``.  That recurrence looks
    sequential, but substituting forward gives the closed form
    ``start_i = delay*i + max_{j<=i}(arrival_j - delay*j)`` — a plain
    RUNNING MAX over a derived column, so one per-host window computes
    the exact schedule with no fold state and no UDF (the same
    prefix-transform trick that makes parallel-prefix queueing sims
    work on GPUs).

    Input ``(host, seq, arrival_us)`` with ``seq`` the 0-based fetch
    index within the host queue; output adds exact ``start_us`` and
    ``wait_us``."""
    d = int(delay_us)
    w = Window.partitionBy("host").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, 0)
    base = F.col("arrival_us") - F.lit(d) * F.col("seq")
    return arrivals.select(
        "host", "seq", F.col("arrival_us").cast("long"),
        (F.lit(d) * F.col("seq") + F.max(base).over(w))
        .cast("long").alias("start_us"),
    ).withColumn(
        "wait_us", (F.col("start_us") - F.col("arrival_us")).cast("long"))


def fetch_fairness(fetches: DataFrame, host_col: str = "host") -> DataFrame:
    """Jain's fairness index over per-host fetch counts, in exact ppm:
    J = (Σx)^2 * 10^6 div (n * Σx^2) — 10^6 ppm when every host got
    the same share, -> 10^6/n as one host monopolizes the budget. The
    single-number observability row for the politeness plane: a round
    whose J drops is a round where hot hosts crowded out the tail
    (aging/budget knobs exist to push it back up).

    One (host) hash agg + a 1-row fold; Σx and Σx^2 go through
    DECIMAL(38,0) (HUGEINT in the twin) so the square never overflows
    BIGINT at web-scale counts."""
    per = fetches.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.sum("x").cast("long").alias("n_fetches"),
        F.expr(
            "cast(cast(sum(x) as decimal(38,0)) * sum(x) * 1000000"
            " div (count(*) * cast(sum(x * x) as decimal(38,0)))"
            " as bigint)"
        ).alias("jain_ppm"),
    )


def rendezvous_assign(
    hosts: DataFrame,
    n_workers: int,
    host_col: str = "host",
) -> DataFrame:
    """Rendezvous (highest-random-weight) fetcher assignment — which
    crawler worker owns which host (Thaler & Ravishankar 1998; the
    politeness plane needs hosts PINNED to workers so per-host rate
    limits are enforced by exactly one process, and HRW beats
    mod-hashing because adding a worker moves only ~1/(N+1) of hosts
    instead of reshuffling nearly all of them).

    weight(host, w) = md5-u32 of 'w:host'; owner = argmax weight, ties
    to the smaller worker id.  Row-local: the argmax folds over the
    bounded worker list inside one projection — no shuffle, no join;
    the oracle replays every weight."""
    scores = F.array(*[
        F.struct(
            F.conv(F.substring(F.md5(F.concat(
                F.lit(f"{w}:"), F.col(host_col))), 1, 8), 16, 10)
            .cast("long").alias("weight"),
            F.lit(w).alias("worker"),
        )
        for w in range(n_workers)
    ])
    best = F.aggregate(
        scores,
        F.struct(F.lit(-1).cast("long").alias("weight"),
                 F.lit(-1).alias("worker")),
        lambda acc, s: F.when(
            (s["weight"] > acc["weight"])
            | ((s["weight"] == acc["weight"])
               & (s["worker"] < acc["worker"])), s).otherwise(acc),
    )
    return hosts.select(
        F.col(host_col).alias("host"),
        best["worker"].cast("long").alias("worker"),
        best["weight"].alias("weight"),
    )
