"""Driver simulation: run every registered query at sf0.01 against its
DuckDB oracle with the driver-style *pandas* normalization (the path
where DuckDB HUGEINT renders as float64 — the round-1 failure mode).

Usage: python scripts/driver_sim.py [sf_dir]
Exits non-zero and lists failing queries if any compare fails.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

import duckdb  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

sys.path.insert(0, os.path.join(REPO, "tests"))
from oracle_utils import compare_query, duckdb_con  # noqa: E402

import __spark_entry__ as e  # noqa: E402


def main() -> int:
    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb_con(SF_DIR)
    qs, osql = e.queries(), e.oracle_sql()
    print(f"{len(qs)} queries registered, {len(osql)} with oracles")
    assert len(e.entry(spark).collect()) > 0
    bad, no_oracle = [], []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            if name not in osql:
                n = sdf.count()
                no_oracle.append(name)
                status = f"rows-only ({n} rows)"
            else:
                compare_query(sdf, con, osql[name])
                status = "ok"
        except Exception as ex:  # noqa: BLE001
            bad.append(name)
            status = f"FAIL: {str(ex)[:300]}"
        print(f"  {name:34s} {time.time() - t0:6.1f}s  {status}", flush=True)
    if no_oracle:
        print("rows-only (no oracle):", no_oracle)
    print("driver-sim FAILED:", bad or "none")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
