"""Round-13 optimization profiler: per-query timing + plan capture.

Usage:
    python scripts/opt_profile.py q1_pricing_summary d2_minhash_lsh ...
    python scripts/opt_profile.py --headline            # the bench HEADLINE tier
    python scripts/opt_profile.py --plans-to plans/r13 --suffix _before q1...

Methodology mirrors bench.py exactly (warm-up collect, then min of 3
cache-cleared runs) so numbers are comparable with BENCH_r*.json lines;
additionally captures .explain('formatted') per query so plan claims in
OPTIMIZATION_r13.md are checkable offline.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from orc_release_hdp_2_6_5_99_1_tag_spark import catalog, engine_clear_caches, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("--plans-to", default=None, help="dir for explain output")
    ap.add_argument("--suffix", default="", help="plan file suffix, e.g. _before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--all-graded", action="store_true",
                    help="profile every graded-window query")
    args = ap.parse_args()

    names = list(args.names)
    if args.headline:
        names = HEADLINE + [n for n in names if n not in HEADLINE]

    spark = get_spark("opt-profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**catalog.queries(), **catalog.extra_queries()}
    if args.all_graded:
        names = list(catalog.queries()) + [n for n in names if n not in catalog.queries()]
    results: dict[str, list[float]] = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        df = fn(spark, SF_DIR)
        if args.plans_to:
            os.makedirs(args.plans_to, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(args.plans_to, f"{name}{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)
        if args.runs == 0:
            print(f"{name}: plan captured", flush=True)
            spark.sparkContext.setJobDescription(None)
            continue
        df.collect()  # warm-up (materializes one-time inputs)
        samples = []
        for _ in range(args.runs):
            engine_clear_caches(spark)
            t0 = time.time()
            fn(spark, SF_DIR).collect()
            samples.append(round(time.time() - t0, 3))
        samples.sort()
        results[name] = samples
        print(f"{name:36s} min={samples[0]:7.3f}  all={samples}", flush=True)
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({k: v[0] for k, v in results.items()}, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
