"""Per-layer spans, recorded from outside the engine.

``patched(tracer)`` rebinds the layer functions that ``plans.crawl`` imports,
the snapshot operators ``run_refetch`` imports at call time, and
``ParquetManifestCatalog.commit``, to wrappers that force each layer's output
(persist + count) under its own Spark job group and time it. The originals
are restored on exit. Spans stay in memory; the runner writes them out at the
end. Forcing changes how the round executes (intermediate outputs are cached
instead of recomputed), so the traced wall differs from the untraced one;
``trace.overhead_s`` reports the difference.

Span names and what each one covers:

* ``frontier.dedup``   — ``dedup_frontier`` and the frontier half of
  ``links_to_frontier``. Its input is forced inside the span, so unwrapped
  work feeding it lands here too: the checkpoint re-read, the deferred
  anti-join, and on ``refetch`` the queue semi-join and seed routing;
* ``politeness.robots`` / ``politeness.select`` — ``apply_robots`` /
  ``select_politely``;
* ``seen.filter`` / ``seen.build`` — ``filter_unseen`` / ``build_segments``;
* ``extract.links``    — the ``links`` input of ``links_to_frontier``: the link
  UDF, and the fetch join when link-follow runs first;
* ``extract.items``    — ``page_texts`` forced at commit: the item UDF, and the
  fetch join when no link-follow ran before it (``refetch``);
* ``catalog.commit``   — the original ``commit`` (seven table writes);
* ``snapshot.diff``    — ``snapshot_diff`` and ``refetch_queue``;
* ``trace.counters``   — jobs the benchmark adds only to count (bloom
  positives, salted hosts); kept apart so no layer is charged for them.

Anything else in a round (frontier probe, checkpoint re-reads, the summary
count, lineage/metrics recomputed inside the writes' plans but not forced)
is ``crawl.round_overhead_s`` = round wall minus its spans.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

from biothings_crawler_spark.catalog import ParquetManifestCatalog
from biothings_crawler_spark.operators import snapshot as snapshot_ops
from biothings_crawler_spark.operators.seen import mark_maybe_seen
from biothings_crawler_spark.plans import crawl as crawl_plan

# (module or class, attribute) pairs the wrappers replace
PATCH_POINTS = (
    (crawl_plan, "dedup_frontier"),
    (crawl_plan, "links_to_frontier"),
    (crawl_plan, "apply_robots"),
    (crawl_plan, "select_politely"),
    (crawl_plan, "filter_unseen"),
    (crawl_plan, "build_segments"),
    (crawl_plan, "extract_items_udf"),
    (crawl_plan, "extract_links_udf"),
    (snapshot_ops, "snapshot_diff"),
    (snapshot_ops, "refetch_queue"),
    (ParquetManifestCatalog, "commit"),
)


@dataclass
class Span:
    name: str
    round: int
    start: float
    end: float
    group: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans and counters of one traced call."""

    def __init__(self, spark, call_group: str):
        self.spark = spark
        self.call_group = call_group
        self.spans: list[Span] = []
        self.counts: defaultdict = defaultdict(int)
        self.round = 0
        self.round_bounds: list[tuple[float, float]] = []  # (start, end) per round
        self._round_start = time.perf_counter()
        self._cached = []
        self._seq = 0

    def start(self) -> None:
        self._round_start = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        self._seq += 1
        group = f"{name}#{self._seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, self.round, t0, time.perf_counter(), group))
            sc.setJobGroup(self.call_group, "timed call")

    def force(self, df):
        """Persist *df*, materialise it, return (cached df, rows)."""
        df = df.persist()
        self._cached.append(df)
        return df, df.count()

    def end_round(self) -> None:
        now = time.perf_counter()
        self.round_bounds.append((self._round_start, now))
        self._round_start = now
        self.round += 1

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()

    # --- per-round accounting --------------------------------------------
    def round_table(self) -> list[dict]:
        """Per round: wall, seconds per span name, and the overhead that
        makes them add up to the wall."""
        rows = []
        for r, (start, end) in enumerate(self.round_bounds):
            per = defaultdict(float)
            for s in self.spans:
                if s.round == r:
                    per[s.name] += s.seconds
            wall = end - start
            rows.append({"round": r, "wall_s": wall, "spans_s": dict(per),
                         "overhead_s": wall - sum(per.values())})
        return rows


def _wrappers(t: Tracer, orig: dict) -> dict:
    c = t.counts

    def dedup_frontier(frontier):
        with t.span("frontier.dedup"):
            frontier, n_in = t.force(frontier)
            out, n_out = t.force(orig["dedup_frontier"](frontier))
        c["frontier.rows_in"] += n_in
        c["frontier.rows_out"] += n_out
        return out

    def links_to_frontier(links, round_no, *args, **kw):
        with t.span("extract.links"):
            links, n_links = t.force(links)
        with t.span("frontier.dedup"):
            out, n_out = t.force(orig["links_to_frontier"](links, round_no, *args, **kw))
        c["extract.links"] += n_links
        c["frontier.rows_in"] += n_links
        c["frontier.rows_out"] += n_out
        return out

    def apply_robots(candidates, robots, obey=True):
        with t.span("politeness.robots"):
            candidates, n_in = t.force(candidates)
            out, n_out = t.force(orig["apply_robots"](candidates, robots, obey))
        c["politeness.robots_blocked"] += n_in - n_out
        return out

    def select_politely(candidates, budgets, default_budget, salt_target=100_000,
                        *args, **kw):
        with t.span("politeness.select"):
            candidates, n_in = t.force(candidates)
            out, n_out = t.force(orig["select_politely"](
                candidates, budgets, default_budget, salt_target, *args, **kw))
        with t.span("trace.counters"):
            salted = (candidates.groupBy("host").count()
                      .filter(F.col("count") > salt_target).count())
        c["politeness.scheduled"] += n_out
        c["politeness.deferred"] += n_in - n_out
        c["politeness.salted_hosts"] += salted
        return out

    def filter_unseen(candidates, segments, exact_seen, n_segments):
        with t.span("seen.filter"):
            candidates, n_in = t.force(candidates)
            out, n_out = t.force(
                orig["filter_unseen"](candidates, segments, exact_seen, n_segments))
        c["seen.candidates"] += n_in
        c["seen.exact_hits"] += n_in - n_out
        if segments is not None:
            with t.span("trace.counters"):
                marked = mark_maybe_seen(candidates, segments, n_segments)
                c["seen.bloom_positive"] += marked.filter("maybe_seen").count()
                if exact_seen is not None:
                    keys = exact_seen.select("url_hash", "url_canon")
                    c["seen.bloom_false_negatives"] += (
                        marked.filter(~F.col("maybe_seen"))
                        .join(keys, ["url_hash", "url_canon"], "semi").count())
                    c["seen.exact_rows_scanned"] += keys.count()
        return out

    def build_segments(*args, **kw):
        with t.span("seen.build"):
            out, _ = t.force(orig["build_segments"](*args, **kw))
        return out

    def extract_items_udf(*cols):
        c["extract.items_udf_calls"] += 1
        return orig["extract_items_udf"](*cols)

    def extract_links_udf(*cols):
        c["extract.links_udf_calls"] += 1
        return orig["extract_links_udf"](*cols)

    def snapshot_diff(old, new, *args, **kw):
        with t.span("snapshot.diff"):
            out, n = t.force(orig["snapshot_diff"](old, new, *args, **kw))
        with t.span("trace.counters"):
            changed = out.filter(F.col("status") == snapshot_ops.CHANGED).count()
        c["snapshot.pages_compared"] += n
        c["snapshot.changed"] += changed
        return out

    def refetch_queue(diff):
        with t.span("snapshot.diff"):
            out, n = t.force(orig["refetch_queue"](diff))
        c["snapshot.queue"] += n
        return out

    def commit(self, round_no, tables):
        tables = dict(tables)
        for name, span in (("page_texts", "extract.items"),
                           ("next_frontier", "frontier.dedup"),
                           ("seen_segments", "seen.build")):
            with t.span(span):
                tables[name], _ = t.force(tables[name])
        with t.span("catalog.commit"):
            orig["commit"](self, round_no, tables)
        t.end_round()

    return {
        "dedup_frontier": dedup_frontier,
        "links_to_frontier": links_to_frontier,
        "apply_robots": apply_robots,
        "select_politely": select_politely,
        "filter_unseen": filter_unseen,
        "build_segments": build_segments,
        "extract_items_udf": extract_items_udf,
        "extract_links_udf": extract_links_udf,
        "snapshot_diff": snapshot_diff,
        "refetch_queue": refetch_queue,
        "commit": commit,
    }


@contextmanager
def patched(tracer: Tracer):
    """Install the wrappers for the duration of the block; always restore
    the originals and drop everything the wrappers cached."""
    orig = {attr: owner.__dict__[attr] for owner, attr in PATCH_POINTS}
    wrappers = _wrappers(tracer, orig)
    try:
        for owner, attr in PATCH_POINTS:
            setattr(owner, attr, wrappers[attr])
        yield tracer
    finally:
        for owner, attr in PATCH_POINTS:
            setattr(owner, attr, orig[attr])
        tracer.release()


# --- Spark event log ---------------------------------------------------------

def event_log_by_group(log_dir: str) -> dict[str, dict]:
    """Jobs and shuffle bytes written per job group, from the (closed)
    event log files in *log_dir*."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(lambda: {"jobs": 0, "shuffle_bytes": 0})
    for path in sorted(p for p in Path(log_dir).rglob("*") if p.is_file()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    metrics = ev.get("Task Metrics") or {}
                    written = (metrics.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    if group is not None:
                        out[group]["shuffle_bytes"] += written
    return dict(out)
