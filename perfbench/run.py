"""End-to-end crawl benchmark: ``run_crawl`` / ``run_refetch`` on a fresh
checkpoint, every call checked against the frozen oracle.

    python3 perfbench/run.py --workload harvest2 --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (see ``workloads.py`` and
``README.md``): ``harvest2``, ``refetch`` and, by hand only, ``harvest``
and ``discover``.

Set-up (session start, input generation and parquet write, the refetch base
checkpoint, one untimed warm-up call) is timed once as ``setup_s``. The
oracle is computed outside both timed windows. Timed calls repeat until
``--seconds`` have passed (at least one); each one is checked, and its
checkpoint is deleted after the checks. Metrics are medians over the timed
calls.

With ``--trace 1`` one more call runs with the layer wrappers of
``tracing.py`` installed and the Spark event log on, and the per-layer
metrics are printed instead; spans are written to
``.perfbench_work/traces/``. The last stdout line is the result JSON; the
line before it (``report ...``) carries the correctness counters and the
per-call figures.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import Counter, defaultdict
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parents[1]

# the end-to-end metrics BENCHMARK.json bounds
END_TO_END = ("wall_s", "urls_per_s", "round_p50_s", "checkpoint_mb", "setup_s")
UNITS = {
    "wall_s": "s", "urls_per_s": "1/s", "round_p50_s": "s", "round_max_s": "s",
    "checkpoint_mb": "MB", "setup_s": "s", "ops_failed_ratio": "ratio",
    "dup_scheduled": "count", "oracle_mismatch_rows": "count",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One benchmark process: a Spark session, one workload's inputs and
    expectations, and the figures of every call made."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed, self.trace = workload, seed, trace
        self.work = ROOT / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
        self.calls: list[dict] = []
        self.n_calls = 0

    # --- session --------------------------------------------------------
    def start_session(self):
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        # one core unless told otherwise: at this input size a round is bound
        # by its Spark jobs, not by cores (see results/scaling_harvest.json),
        # and more task threads on a shared host only add noise to the timings
        os.environ.setdefault("SPARK_GRAFT_CPUS", "1")
        # the session default is a 16g heap; the inputs here need far less
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        from biothings_crawler_spark.session import get_spark

        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.event_dir = self.work / "eventlog"
            self.event_dir.mkdir()
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": self.event_dir.as_uri(),
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        self.spark = get_spark(f"perfbench-{self.workload}", master=f"local[{cpus}]",
                               extra_conf=conf)
        from pyspark import SparkContext

        self.gateway = SparkContext._gateway
        self.jvm_pid = self.gateway.proc.pid

    def stop_session(self):
        """Stop Spark, then the JVM and its Python workers, and wait for them."""
        children = _children(self.jvm_pid)
        self.spark.stop()
        proc = self.gateway.proc
        self.gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in children:
            while _alive(pid) and time.time() < deadline:
                time.sleep(0.05)
            if _alive(pid):
                os.kill(pid, 9)

    # --- inputs -----------------------------------------------------------
    def write_inputs(self) -> float:
        """Generate the workload's rows and write them to parquet; return
        the seconds it took."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from biothings_crawler_spark.fixtures import corpus

        from perfbench import workloads

        t0 = time.perf_counter()
        inp = workloads.generate(self.workload, self.seed)
        d = self.work / "inputs"

        def write(rows, schema, name):
            # one parquet file per table, written by pyarrow: the engine reads
            # it back with spark.read.parquet either way, and set-up does not
            # pay for pickling every row into the JVM
            (d / name).mkdir(parents=True)
            struct = self.spark.createDataFrame([], schema).schema
            table = pa.Table.from_pylist(rows, schema=to_arrow_schema(struct))
            pq.write_table(table, str(d / name / "part-00000.parquet"))

        write(inp.pages, corpus.PAGES_SCHEMA, "pages")
        write(inp.seeds, corpus.SEEDS_SCHEMA, "seeds")
        write(corpus.gen_robots(), corpus.ROBOTS_SCHEMA, "robots")
        if inp.pages_v2 is not None:
            write(inp.pages_v2, corpus.PAGES_SCHEMA, "pages_v2")
        self.inputs, self.input_dir = inp, d
        return time.perf_counter() - t0

    def read(self, name):
        return self.spark.read.parquet(str(self.input_dir / name))

    # --- one engine call ------------------------------------------------------
    def call(self, checkpoint: Path, max_rounds: int | None = None) -> dict:
        from biothings_crawler_spark.fixtures import corpus
        from biothings_crawler_spark.plans.crawl import run_crawl, run_refetch

        from perfbench import workloads as w

        pol = corpus.gen_policies()
        if self.workload == "refetch":
            cfg = w.REFETCH_CFG
            return run_refetch(self.spark, self.read("pages"), self.read("pages_v2"),
                               str(self.base_checkpoint), corpus.fixture_seed_router,
                               self.read("robots"), pol, str(checkpoint), cfg)
        cfg = w.CRAWL_CFG[self.workload]
        if max_rounds is not None:
            cfg = w.CrawlConfig(**{**cfg.__dict__, "max_rounds": max_rounds})
        return run_crawl(self.spark, self.read("pages"), self.read("seeds"),
                         self.read("robots"), pol, str(checkpoint), cfg)

    def prepare(self):
        """Refetch base checkpoint and one untimed warm-up call."""
        from biothings_crawler_spark.fixtures import corpus
        from biothings_crawler_spark.plans.crawl import run_crawl

        from perfbench import workloads as w

        if self.workload == "refetch":
            self.base_checkpoint = self.work / "base"
            run_crawl(self.spark, self.read("pages"), self.read("seeds"),
                      self.read("robots"), corpus.gen_policies(),
                      str(self.base_checkpoint), w.REFETCH_BASE_CFG)
            self.call(self.work / "warmup")
        else:
            # one round exercises every layer; the timed calls run them all
            self.call(self.work / "warmup", max_rounds=1)
        shutil.rmtree(self.work / "warmup")

    # --- timed, checked call ------------------------------------------------
    def timed_call(self, tracer=None) -> dict:
        from perfbench import checks

        self.n_calls += 1
        cp = self.work / f"cp-{self.n_calls}"
        group = f"call-{self.n_calls}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, "timed call")
        rec: dict = {"traced": tracer is not None, "error": None}
        start = dt.datetime.now(dt.timezone.utc)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                self.call(cp)
            else:
                from perfbench.tracing import patched

                with patched(tracer):
                    tracer.start()
                    self.call(cp)
        except Exception as e:  # noqa: BLE001 - a failed call is a failed op
            rec["error"] = f"{type(e).__name__}: {e}"
        rec["wall_s"] = time.perf_counter() - t0
        sc.setJobGroup("bench", "checks")
        rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        if rec["error"] is None:
            try:
                manifest = checks.read_manifest(cp)
                rec["round_walls"] = checks.round_walls(manifest, start)
                rec["rounds"] = len(rec["round_walls"])
                nbytes, files = checks.dir_bytes(cp)
                rec["checkpoint_mb"], rec["files"] = nbytes / 1e6, files
                tables = self.collect(cp)
                res = checks.check_crawl(*tables, self.expected)
                rec.update(dup_scheduled=res.dup_scheduled,
                           oracle_mismatch_rows=res.oracle_mismatch_rows,
                           mismatch=res.mismatch, ok=res.ok)
                if tracer is not None:
                    rec["layer"] = self.layer_counters(cp, *tables)
                    rec["layer"].update({"catalog.write_mb": rec["checkpoint_mb"],
                                         "catalog.files": files})
            except Exception as e:  # noqa: BLE001 - a failed check is a failed op
                rec["error"] = f"check {type(e).__name__}: {e}"
        rec["ok"] = rec["error"] is None and rec.get("ok", False)
        shutil.rmtree(cp, ignore_errors=True)
        self.calls.append(rec)
        return rec

    def collect(self, cp: Path):
        """The committed tables as tuples; scheduled rows get the commit
        round from the directory they were committed under."""
        from pyspark.sql import functions as F

        from biothings_crawler_spark.catalog import ParquetManifestCatalog

        cat = ParquetManifestCatalog(cp)
        commit_round = F.regexp_extract(
            F.col("_metadata.file_path"), r"/scheduled/r(\d+)/", 1).cast("int")
        sched = [tuple(r) for r in cat.read(self.spark, "scheduled").select(
            commit_round, "host", "sched_rank", "url_canon").collect()]
        docs = [tuple(r) for r in cat.read(self.spark, "docs").select(
            "round", "url_canon", "doc_json").collect()]
        texts = [tuple(r) for r in cat.read(self.spark, "page_texts").select(
            "round", "url_canon", "text").collect()]
        return sched, docs, texts

    def layer_counters(self, cp: Path, sched, docs, texts) -> dict:
        """Per-layer counts read from the committed checkpoint (no tracing
        needed): extraction, politeness skew, fetch misses, segment fill.
        The catalog's bytes and files are the checkpoint's own size."""
        from biothings_crawler_spark.catalog import ParquetManifestCatalog
        from biothings_crawler_spark.operators.seen import segment_fill_report
        from biothings_crawler_spark.urlnorm import canonicalize_url

        pages = self.inputs.pages_v2 if self.workload == "refetch" else self.inputs.pages
        html_len = {canonicalize_url(p["url"]): len(p["html"]) for p in pages}
        fetched = [row[-1] for row in sched if row[-1] in html_len]
        cat = ParquetManifestCatalog(cp)
        fill = 0
        for r in cat.rounds("seen_segments"):
            segs = cat.read(self.spark, "seen_segments", r)
            fill = max([fill] + [row[0] for row in segment_fill_report(segs)
                                 .select("fill_ppm").collect()])
        per_host = Counter((row[0], row[1]) for row in sched)
        return {
            "extract.pages": len(texts),
            "extract.docs": len(docs),
            "extract.zero_item_pages": sum(1 for t in texts if t[2] == "[]"),
            "extract.html_mb": sum(html_len[u] for u in fetched) / 1e6,
            "politeness.max_per_host": max(per_host.values(), default=0),
            "crawl.fetch_miss": len(sched) - len(fetched),
            "seen.max_fill": fill / 1e6,
        }


# --- process helpers ---------------------------------------------------------

def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
    except (FileNotFoundError, ProcessLookupError):
        return False
    return state != "Z"


def _children(pid: int) -> list[int]:
    """Descendants of *pid* (the Python worker daemon and its workers)."""
    kids: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(p.name))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# --- metrics -----------------------------------------------------------------

def end_to_end(bench: Bench, setup_s: float) -> dict:
    """Every end-to-end metric: the bounded ones (``END_TO_END``) and the
    ones only reported — ``round_max_s`` (one slow round swings it) and the
    correctness counters, which are zero on a correct engine."""
    calls = bench.calls
    timed = [c for c in calls if not c["traced"] and "round_walls" in c]
    walls = [c["wall_s"] for c in timed]
    useful = bench.expected.useful_urls
    vals = {
        "wall_s": _median(walls),
        "urls_per_s": _median([useful / w for w in walls]),
        "round_p50_s": _median([x for c in timed for x in c["round_walls"]]),
        "round_max_s": _median([max(c["round_walls"]) for c in timed]),
        "checkpoint_mb": _median([c["checkpoint_mb"] for c in timed]),
        "setup_s": setup_s,
        "ops_failed_ratio": sum(not c["ok"] for c in calls) / len(calls),
        "dup_scheduled": max(c.get("dup_scheduled", 0) for c in calls),
        "oracle_mismatch_rows": max(c.get("oracle_mismatch_rows", 0) for c in calls),
    }
    return {k: {"value": v, "unit": UNITS[k]} for k, v in vals.items()}


def per_layer(bench: Bench, tracer, traced: dict, events: dict, e2e: dict) -> dict:
    """Every per-layer metric of the traced call (see ``PER_LAYER``), plus
    the correctness counters of all calls from *e2e*."""
    untraced = [c for c in bench.calls if not c["traced"]]
    span_s = defaultdict(float)
    for s in tracer.spans:
        span_s[s.name] += s.seconds
    c = dict(tracer.counts)
    layer = traced.get("layer", {})
    bp = c.get("seen.bloom_positive", 0)
    vals = {
        "frontier.dedup_s": span_s["frontier.dedup"],
        "politeness.robots_s": span_s["politeness.robots"],
        "politeness.select_s": span_s["politeness.select"],
        "seen.filter_s": span_s["seen.filter"],
        "seen.build_s": span_s["seen.build"],
        "extract.items_s": span_s["extract.items"],
        "extract.links_s": span_s["extract.links"],
        "catalog.commit_s": span_s["catalog.commit"],
        "seen.precision": c.get("seen.exact_hits", 0) / bp if bp else 1.0,
        "crawl.jobs_per_round": _median(
            [u["jobs"] / u["rounds"] for u in untraced if u.get("rounds")]),
        "crawl.round_overhead_s": sum(r["overhead_s"] for r in tracer.round_table()),
        "trace.overhead_s": traced["wall_s"] - _median([u["wall_s"] for u in untraced]),
        **{k: e2e[k]["value"] for k in ("ops_failed_ratio", "dup_scheduled",
                                        "oracle_mismatch_rows")},
    }
    for key in PER_LAYER:
        if key in vals:
            continue
        if key.endswith((".jobs", ".shuffle_mb")):
            span, _, what = key.rpartition(".")
            ev = [v for g, v in events.items() if g.rpartition("#")[0] == span]
            vals[key] = (sum(v["jobs"] for v in ev) if what == "jobs"
                         else sum(v["shuffle_bytes"] for v in ev) / 1e6)
        elif key in layer:
            vals[key] = layer[key]
        else:
            vals[key] = c.get(key, 0)
    return {k: {"value": vals[k], "unit": unit} for k, unit in PER_LAYER.items()}


# the spans of tracing.py, less the benchmark's own ``trace.counters``
_LAYER_SPANS = ("frontier.dedup", "politeness.robots", "politeness.select",
                "seen.filter", "seen.build", "extract.items", "extract.links",
                "catalog.commit", "snapshot.diff")

PER_LAYER = {
    "frontier.dedup_s": "s", "frontier.rows_in": "count", "frontier.rows_out": "count",
    "politeness.robots_s": "s", "politeness.robots_blocked": "count",
    "politeness.select_s": "s", "politeness.scheduled": "count",
    "politeness.deferred": "count", "politeness.max_per_host": "count",
    "politeness.salted_hosts": "count",
    "seen.filter_s": "s", "seen.build_s": "s", "seen.candidates": "count",
    "seen.bloom_positive": "count", "seen.exact_hits": "count",
    "seen.precision": "ratio", "seen.bloom_false_negatives": "count",
    "seen.exact_rows_scanned": "count", "seen.max_fill": "ratio",
    "extract.items_s": "s", "extract.links_s": "s", "extract.pages": "count",
    "extract.docs": "count", "extract.zero_item_pages": "count",
    "extract.links": "count", "extract.html_mb": "MB",
    "catalog.commit_s": "s", "catalog.write_mb": "MB", "catalog.files": "count",
    "crawl.jobs_per_round": "count", "crawl.round_overhead_s": "s",
    "crawl.fetch_miss": "count",
    "snapshot.pages_compared": "count", "snapshot.changed": "count",
    "snapshot.queue": "count",
    "trace.overhead_s": "s",
    "ops_failed_ratio": "ratio", "dup_scheduled": "count",
    "oracle_mismatch_rows": "count",
    **{f"{s}.jobs": "count" for s in _LAYER_SPANS},
    **{f"{s}.shuffle_mb": "MB" for s in _LAYER_SPANS},
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "biothings_crawler_spark" / "plans" / "crawl.py").is_file():
        print(f"perfbench: no biothings_crawler_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        return run(bench, args)
    finally:
        shutil.rmtree(bench.work, ignore_errors=True)


def run(bench: Bench, args) -> int:
    from perfbench import workloads

    bench.start_session()
    try:
        session_s = time.perf_counter() - T_START
        input_s = bench.write_inputs()
        bench.expected = workloads.expected(args.workload, bench.inputs)
        t0 = time.perf_counter()
        bench.prepare()
        setup_s = session_s + input_s + time.perf_counter() - t0

        deadline = time.perf_counter() + args.seconds
        while True:
            bench.timed_call()
            if time.perf_counter() >= deadline:
                break
        tracer = traced = None
        if args.trace:
            from perfbench.tracing import Tracer

            tracer = Tracer(bench.spark, f"call-{bench.n_calls + 1}")
            traced = bench.timed_call(tracer)
    finally:
        bench.stop_session()

    calls = bench.calls
    failed = sum(not c["ok"] for c in calls)
    e2e = end_to_end(bench, setup_s)
    report = {
        "workload": args.workload, "seed": args.seed,
        "session_s": session_s, "input_s": input_s,
        "metrics": e2e,
        "oracle": {"scheduled": len(bench.expected.ordering),
                   "extracted_pages": bench.expected.extracted_pages,
                   "docs": len(bench.expected.docs)},
        "calls": [{k: v for k, v in c.items() if k != "layer"} for c in calls],
    }
    if args.trace:
        from perfbench.tracing import event_log_by_group

        events = event_log_by_group(str(bench.event_dir))
        metrics = per_layer(bench, tracer, traced, events, e2e)
        _write_trace(args, tracer, traced, events, metrics)
    else:
        metrics = {k: e2e[k] for k in END_TO_END}
    print("report " + json.dumps(report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(calls),
                      "failed": failed, "metrics": metrics}))
    return 0


def _write_trace(args, tracer, traced, events, metrics) -> None:
    out = ROOT / ".perfbench_work" / "traces"
    out.mkdir(parents=True, exist_ok=True)
    doc = {
        "workload": args.workload, "seed": args.seed,
        "traced_wall_s": traced["wall_s"],
        "rounds": tracer.round_table(),
        "spans": [{"name": s.name, "round": s.round, "start": s.start,
                   "end": s.end, "seconds": s.seconds, "group": s.group}
                  for s in tracer.spans],
        "counts": dict(tracer.counts),
        "events_by_group": events,
        "metrics": metrics,
    }
    (out / f"{args.workload}-seed{args.seed}.json").write_text(
        json.dumps(doc, indent=1, default=str))


if __name__ == "__main__":
    sys.exit(main())
