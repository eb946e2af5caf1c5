"""Data-size linearity of the composed release pipeline (bench.py
release_pipeline): run the identical job at 1x and 4x input replicas
on the same sf dir and report pages/sec at both — the 100-TB question
is "does doubling the corpus double the wall", and the composition
(license gate + hash-agg dedup + trigram-df novelty + bucketed
manifest) should be near linear because nothing in it is super-linear
in rows at fixed key cardinality growth.

Usage: PYTHONPATH=. python scripts/mega_linearity.py [sf_dir]
Appends a row to stdout as one JSON line; record it in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from biothings_crawler_spark.session import get_spark
    import bench

    spark = get_spark("mega-linearity", master="local[32]")
    spark.range(1000).count()  # warm

    out = {"sf": SF_DIR, "job": "release", "legs": {}}
    for label, replicas in (("1x", 2), ("4x", 8)):
        pages = bench.mega_input(spark, SF_DIR, replicas=replicas)
        n_pages = pages.count()  # untimed materialization
        best = None
        for _ in range(2):
            t0 = time.time()
            counts = bench.release_pipeline_job(spark, pages)
            best = min(best or 1e9, time.time() - t0)
        pages.unpersist()
        out["legs"][label] = {
            "replicas": replicas, "pages": n_pages,
            "seconds": round(best, 3),
            "pages_per_sec": round(n_pages / best, 1),
            **counts,
        }
    r1, r4 = out["legs"]["1x"], out["legs"]["4x"]
    out["throughput_ratio_4x_vs_1x"] = round(
        r4["pages_per_sec"] / r1["pages_per_sec"], 3)
    out["wall_ratio_4x_vs_1x"] = round(r4["seconds"] / r1["seconds"], 3)
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
