"""Crawl-plane scaling datapoint in the EXECUTOR-PROCESS model — the
round-5 review's ask: the thread-based local[2]→local[8] harness
(scripts/scaling_bench.py) punishes sort-bearing plans with
single-JVM heap/GC contention that a real cluster does not have
(executors are separate JVMs).  This harness measures the same
crawl-scheduling plane as one 1-core JVM (N) vs four CONCURRENT
1-core JVMs (4N), aggregate throughput ratio.

The job per executor is the scheduling plane of one BFS round over
URLs synthesized from lineitem (x REPLICAS): canonicalize -> xxhash64
-> frontier-dedup aggregate -> seen anti-join -> salted politeness
window — identical to scaling_bench.py's job.  Determinism across
widths is asserted on BOTH the scheduled count and an
order-insensitive checksum of (url_canon, sched_rank): every executor
must schedule the byte-identical set.

Efficiency = aggregate_throughput(4 procs) / (4 * solo_throughput)
>= 0.8 (BASELINE.json north rule).  Results merge into
BENCH_SCALING.json under "crawl_executor_process_model", preserving
the existing thread-model sections.

Usage:
  python scripts/scaling_bench_crawl_procs.py            # parent
  python scripts/scaling_bench_crawl_procs.py --cores 1  # child
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = int(os.environ.get("SPARK_GRAFT_SCALING_REPLICAS", "4"))


def child(cores: int) -> None:
    from pyspark.sql import functions as F

    from biothings_crawler_spark.operators.frontier import (
        dedup_frontier,
        frontier_from_seeds,
    )
    from biothings_crawler_spark.operators.politeness import select_politely
    from biothings_crawler_spark.session import get_spark

    spark = get_spark(
        f"scaling-procs-{cores}", master=f"local[{cores}]",
        shuffle_partitions=max(cores * 2, 2),
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    reps = spark.range(REPLICAS).select(F.col("id").alias("rep"))
    seeds = (
        li.crossJoin(reps)
        .repartition(max(cores * 2, 2))
        .select(
            F.concat(
                F.lit("https://h"), (F.col("l_partkey") % 997).cast("string"),
                F.lit(".example.org/p/"), F.col("l_orderkey").cast("string"),
                F.lit("/"), F.col("l_linenumber").cast("string"),
                F.lit("r"), F.col("rep").cast("string"),
                F.lit("?b="), (F.col("l_suppkey") % 13).cast("string"),
                F.lit("&a=1"),
            ).alias("url"),
            (F.col("l_suppkey") % 5).cast("int").alias("priority"),
            F.lpad(F.col("l_orderkey").cast("string"), 12, "0").alias("seed_id"),
            F.lit("bench").alias("source"),
            F.lit("jsonld").alias("parser"),
        )
        .localCheckpoint(eager=True)  # input supply outside the timed region
    )
    t0 = time.time()
    frontier = dedup_frontier(frontier_from_seeds(seeds)).persist()
    seen = frontier.filter(F.col("url_hash") % 2 == 0).select(
        "url_hash", "url_canon")
    unseen = frontier.join(seen, ["url_hash", "url_canon"], "left_anti")
    budgets = spark.createDataFrame([], "host string, budget int")
    sched = select_politely(unseen, budgets, default_budget=400)
    row = sched.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(concat_ws('#', url_canon, "
               "cast(sched_rank as string))))").alias("checksum"),
    ).collect()[0]
    dt = time.time() - t0
    frontier.unpersist()
    print(json.dumps({
        "cores": cores, "seconds": round(dt, 3),
        "n_sched": int(row["n"]), "checksum": int(row["checksum"]),
        "urls_per_sec": round(row["n"] / dt, 1),
    }))
    spark.stop()


def main() -> None:
    if "--cores" in sys.argv:
        child(int(sys.argv[sys.argv.index("--cores") + 1]))
        return
    me = os.path.abspath(__file__)
    env = {**os.environ, "PYTHONPATH": REPO}

    def run_solo():
        out = subprocess.run(
            [sys.executable, me, "--cores", "1"],
            capture_output=True, text=True, check=True, env=env,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])

    solo = run_solo()

    t0 = time.time()
    procs = [
        subprocess.Popen(
            [sys.executable, me, "--cores", "1"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            env=env,
        )
        for _ in range(4)
    ]
    outs = [json.loads(p.communicate()[0].strip().splitlines()[-1])
            for p in procs]
    for o in outs:
        assert o["n_sched"] == solo["n_sched"], (o, solo)
        assert o["checksum"] == solo["checksum"], (o, solo)
    wall_4 = max(o["seconds"] for o in outs)

    solo_tput = solo["n_sched"] / solo["seconds"]
    agg_tput = 4 * solo["n_sched"] / wall_4
    speedup = agg_tput / solo_tput
    section = {
        "job": "crawl scheduling (canonicalize -> dedup -> seen anti-join "
               "-> salted politeness)",
        "sf": SF_DIR, "replicas": REPLICAS,
        "model": "executors as processes: 1 JVM x 1 core vs 4 concurrent "
                 "JVMs x 1 core",
        "determinism": "n_sched + order-insensitive (url_canon, sched_rank) "
                       "checksum identical across all 5 runs",
        "localN": solo,
        "local4N": {
            "executors": 4, "wall_seconds": round(wall_4, 3),
            "per_executor_seconds": [o["seconds"] for o in outs],
            "n_sched_total": 4 * solo["n_sched"],
            "urls_per_sec_aggregate": round(agg_tput, 1),
        },
        "speedup_N_to_4N": round(speedup, 2),
        "scaling_efficiency": round(speedup / 4, 3),
        "target": 0.8, "pass": speedup / 4 >= 0.8,
    }
    path = os.path.join(REPO, "BENCH_SCALING.json")
    try:
        with open(path) as f:
            doc = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        doc = {}
    doc["crawl_executor_process_model"] = section
    with open(path, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps(section))


if __name__ == "__main__":
    main()
