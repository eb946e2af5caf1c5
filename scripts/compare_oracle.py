"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB at a given sf,
compare row count, column names, and an order-insensitive value hash.
Ends with one summary line, ``N/M exact``, followed by the failing
names.

Usage: python scripts/compare_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb

from biothings_crawler_spark.plans.driver_queries import ORACLES, QUERIES, TABLES
from biothings_crawler_spark.testing import frame_digest, norm_cell


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(QUERIES)

    from biothings_crawler_spark.session import get_spark

    spark = get_spark("oracle-compare")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failed: list[str] = []
    n_exact = 0
    for name in names:
        t0 = time.time()
        try:
            spdf = QUERIES[name](spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
            continue
        if name not in ORACLES:
            print(f"SKIP {name}: rows-only ({len(spdf)} rows) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(ORACLES[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {type(e).__name__}: {str(e)[:300]}")
            failed.append(name)
            continue
        problems = []
        if len(spdf) != len(odf):
            problems.append(f"rows {len(spdf)} vs {len(odf)}")
        if sorted(spdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(spdf.columns)} vs {sorted(odf.columns)}")
        hs, ho = frame_digest(spdf), frame_digest(odf)
        if hs != ho:
            problems.append(f"hash {hs} vs {ho}")
        if problems:
            failed.append(name)
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            if len(spdf) and len(odf) and sorted(spdf.columns) == sorted(odf.columns):
                cols = sorted(spdf.columns)
                a = spdf[cols].sort_values(cols).reset_index(drop=True)
                b = odf[cols].sort_values(cols).reset_index(drop=True)
                for i in range(min(len(a), len(b))):
                    ra = [norm_cell(v) for v in a.iloc[i]]
                    rb = [norm_cell(v) for v in b.iloc[i]]
                    if ra != rb:
                        print(f"  first diff row {i}:\n   spark={ra}\n   duck ={rb}")
                        break
        else:
            n_exact += 1
            print(f"OK   {name}: {len(spdf)} rows, hash {hs} [{time.time()-t0:.1f}s]")
    spark.stop()
    print(f"{n_exact}/{len(names)} exact", *failed)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
