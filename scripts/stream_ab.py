"""Round-14 streaming-tier A/B harness.

Times the r* streaming queries COLD (stream scratch + CDC dir cleared
per rep, shared topic staging untimed — exactly bench.py's extended-
tier methodology) so a state-store / micro-batch knob can be paired-
measured without running the whole bench.

Usage:
    python scripts/stream_ab.py                      # default r-tier, 3 reps
    python scripts/stream_ab.py r3_stateful_running_totals r5_session_windows
    STREAM_AB_PROVIDER=rocksdb python scripts/stream_ab.py   # RocksDB state store

Env:
    STREAM_AB_PROVIDER=rocksdb  -> set the RocksDB state store provider
    STREAM_AB_REPS=N            -> cold reps per query (default 3)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTENDED
from orc_release_hdp_2_6_5_99_1_tag_spark import catalog, get_spark
from orc_release_hdp_2_6_5_99_1_tag_spark.streaming.ingest import stage_shared_topics
from orc_release_hdp_2_6_5_99_1_tag_spark.tables import scratch_dir

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

DEFAULT = [n for n in EXTENDED if n.startswith("r")]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    reps = int(os.environ.get("STREAM_AB_REPS", "3"))
    spark = get_spark("stream-ab")
    spark.sparkContext.setLogLevel("ERROR")
    provider = os.environ.get("STREAM_AB_PROVIDER", "")
    if provider == "rocksdb":
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    qs = {**catalog.queries(), **catalog.extra_queries()}
    out: dict[str, list[float]] = {}
    stage_times: list[float] = []
    for _ in range(reps):
        shutil.rmtree(os.path.join(scratch_dir(SF_DIR), "stream"), ignore_errors=True)
        shutil.rmtree(
            os.path.join(scratch_dir(SF_DIR), "acid", "users_cdc"), ignore_errors=True
        )
        t0 = time.time()
        stage_shared_topics(spark, SF_DIR)
        stage_times.append(round(time.time() - t0, 3))
        for name in names:
            spark.sparkContext.setJobDescription(f"stream-ab:{name}")
            t0 = time.time()
            qs[name](spark, SF_DIR).collect()
            out.setdefault(name, []).append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    for name, samples in out.items():
        print(f"{name:36s} min={min(samples):7.3f}  all={sorted(samples)}", flush=True)
    print(
        json.dumps(
            {
                "provider": provider or "default",
                "staging": stage_times,
                "mins": {k: min(v) for k, v in out.items()},
                "total_min": round(sum(min(v) for v in out.values()), 3),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
