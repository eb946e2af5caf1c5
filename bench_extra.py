"""Per-query isolation bench (guide §1.4): times individual suite
queries with the noop sink (computes every column, no driver
materialization) AND with bench.py's count() methodology, and captures
.explain("formatted") into plans/r06/.

Usage:
  python bench_extra.py q_site_families q_frontier_dedup          # time + plan
  python bench_extra.py --plan-only --tag before q_frontier_dedup # just plans
  python bench_extra.py --top N                                   # N slowest from BENCH_LAST.json

This file is NOT part of the frozen measurement surface (bench.py is);
its numbers are cited in OPTIMIZATION_r06.md as isolation evidence.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--plan-only", action="store_true")
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--tag", default=None, help="before|after; write plans/r06/<q>_<tag>.txt")
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    names = list(args.queries)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    from biothings_crawler_spark.plans import driver_queries as dq
    from biothings_crawler_spark.session import get_spark

    if args.top:
        d = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                        "BENCH_LAST.json")))
        ranked = sorted(d["queries"].items(), key=lambda kv: -kv[1])
        # BENCH_LAST.json may still time entries since deleted from the registry
        names += [k for k, _ in ranked if k in dq.QUERIES][: args.top]

    spark = get_spark("bench_extra", master=f"local[{cpus}]")
    spark.range(1000).select(F.xxhash64("id")).count()  # warm

    os.makedirs(PLANS_DIR, exist_ok=True)
    out: dict[str, dict] = {}
    for name in names:
        fn = dq.QUERIES[name]
        if args.tag:
            df = fn(spark, SF_DIR)
            with open(os.path.join(PLANS_DIR, f"{name}_{args.tag}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        if args.plan_only:
            continue
        spark.sparkContext.setJobDescription(f"noop:{name}")
        best_noop = None
        for _ in range(args.reps):
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best_noop = min(best_noop or 1e9, time.time() - t0)
        spark.sparkContext.setJobDescription(f"count:{name}")
        best_cnt = None
        n = None
        for _ in range(args.reps):
            t0 = time.time()
            n = fn(spark, SF_DIR).count()
            best_cnt = min(best_cnt or 1e9, time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        out[name] = {"noop": round(best_noop, 3), "count": round(best_cnt, 3),
                     "rows": n}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf": SF_DIR, "results": out}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
