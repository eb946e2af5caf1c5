"""Control experiment for the sessionize 4N scaling shortfall: a pure
JVM sort job (no sessionize logic, no parquet, no Python) and a pure
hash-aggregation job, each run solo and as 4 concurrent 1-core JVMs
with barrier-aligned timed regions. If the sort degrades under
4-way concurrency while the hash agg doesn't — matching the
sessionize-vs-bm25 split BASELINE.md records — the shortfall is
the host memory subsystem under concurrent sort pressure, independent
of any engine code.

Usage:
  python scripts/sort_contention_control.py            # parent -> JSON line
  python scripts/sort_contention_control.py --child sort|hash --barrier DIR
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_ROWS = int(os.environ.get("SPARK_GRAFT_SORT_CONTROL_ROWS", "4000000"))

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from _bench_barrier import await_barrier, release_when_ready  # noqa: E402


def child(job: str, barrier: str | None) -> None:
    from pyspark.sql import functions as F

    from biothings_crawler_spark.session import get_spark

    local_dir = f"/dev/shm/sort-ctl-{os.getpid()}"
    os.makedirs(local_dir, exist_ok=True)
    spark = get_spark(
        "sort-control", master="local[1]", shuffle_partitions=4,
        extra_conf={"spark.local.dir": local_dir,
                    "spark.driver.extraJavaOptions":
                        "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"},
    )
    # same synthetic input for both jobs: shuffled keys + values
    base = spark.range(N_ROWS).select(
        F.xxhash64("id").alias("k"), (F.col("id") % 1000).alias("v")
    ).repartition(4).localCheckpoint(eager=True)
    base.count()

    if barrier:
        await_barrier(barrier)

    t0 = time.time()
    if job == "sort":
        # write to the noop sink so Catalyst's EliminateSorts cannot
        # drop the sort (an order-irrelevant aggregate above a sort
        # gets the Sort optimized away and measures a bare scan -
        # verified against the executed plan)
        sorted_df = base.sortWithinPartitions("k")
        assert " Sort " in (" " + sorted_df._jdf.queryExecution()
                            .executedPlan().toString()), "sort eliminated"
        sorted_df.write.mode("overwrite").format("noop").save()
        n = N_ROWS
    elif job == "window":
        # the sessionize shape without sessionize: keyed exchange +
        # lag window + running-sum window + grouped agg
        from pyspark.sql import Window

        w = Window.partitionBy(F.col("v")).orderBy("k")
        w2 = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        flagged = base.select(
            "v", "k",
            F.when(F.lag("k").over(w).isNull()
                   | (F.col("k") - F.lag("k").over(w) > 1000), 1)
            .otherwise(0).alias("b"),
        )
        n = (flagged.select("v", "k", F.sum("b").over(w2).alias("s"))
             .groupBy("v", "s").agg(F.count(F.lit(1)))).count()
    else:
        n = base.groupBy("v").agg(F.count(F.lit(1))).count()
    dt = time.time() - t0
    print(json.dumps({"job": job, "seconds": round(dt, 3), "check": int(n)}))
    spark.stop()
    import shutil

    shutil.rmtree(local_dir, ignore_errors=True)


def main() -> None:
    if "--child" in sys.argv:
        jb = sys.argv[sys.argv.index("--child") + 1]
        br = (sys.argv[sys.argv.index("--barrier") + 1]
              if "--barrier" in sys.argv else None)
        child(jb, br)
        return
    me = os.path.abspath(__file__)
    env = {**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_DRIVER_MEM": "6g"}
    result = {"n_rows": N_ROWS}
    for job in ("sort", "window", "hash"):
        solo = json.loads(subprocess.run(
            [sys.executable, me, "--child", job],
            capture_output=True, text=True, check=True, env=env,
        ).stdout.strip().splitlines()[-1])
        barrier = tempfile.mkdtemp(prefix="sortctl-")
        procs = [subprocess.Popen(
            [sys.executable, me, "--child", job, "--barrier", barrier],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, env=env,
        ) for _ in range(4)]
        release_when_ready(barrier, procs, 4)
        outs = [json.loads(p.communicate()[0].strip().splitlines()[-1])
                for p in procs]
        wall4 = max(o["seconds"] for o in outs)
        result[job] = {
            "solo_seconds": solo["seconds"],
            "concurrent4_per_child_seconds": [o["seconds"] for o in outs],
            "slowdown_x4": round(wall4 / solo["seconds"], 2),
        }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
