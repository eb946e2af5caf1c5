"""Core-scaling datapoint: the same benchmark run at local[1] and local[N].

    python3 perfbench/scaling.py --workload harvest --seed 1 --cpus 1 4

Runs ``run.py`` once per core count (``SPARK_GRAFT_CPUS``), each in its own
process, and prints one JSON line with every run's end-to-end metrics and the
wall-time speed-up of each count over the first. Reported, not gated.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="harvest")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--cpus", type=int, nargs="+", default=[1, 4])
    args = ap.parse_args()
    runs = {}
    for cpus in args.cpus:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        out = subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload",
             args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", "0"],
            cwd=ROOT, env=env, check=True, capture_output=True, text=True).stdout
        result = json.loads(out.strip().splitlines()[-1])
        runs[cpus] = {k: v["value"] for k, v in result["metrics"].items()}
        runs[cpus]["correct"] = result["correct"]
    base = runs[args.cpus[0]]["wall_s"]
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "runs": runs,
        "speedup": {c: base / r["wall_s"] for c, r in runs.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
