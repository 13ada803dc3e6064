"""Round-14 scaling fixture: a multi-row-group / multi-file copy of an
SF dir, so the low-core-vs-high-core bench ratio can actually measure
scan parallelism (r13-verdict Next #2: the shipped sf0.1 testdata is
single-row-group parquet, so every scan is ONE task and the 8-vs-32
ratios sit at the job-launch floor — the scaling block could not
falsify the at-scale parallelism claims).

Rewrites every table of $SPARK_GRAFT_SF_DIR (default /root/testdata/
sf0.1) into <out>/ as `files` physical files x `row_groups_per_file`
row groups each (default 4x4 = 16 independently-schedulable splits for
the big tables), preserving the pyarrow schema, row order (sequential
slices), and parquet version 2.6 (ns/us timestamp units unchanged) —
so every query computes the identical result and only the SPLIT
STRUCTURE changes. Tiny dimension tables (< 10k rows) are copied as
one file/one row group: splitting 25-row nation.parquet would only add
per-file open overhead.

Usage:
    python scripts/make_mrg_fixture.py [--out <checkout>/.scratch/fixtures/mrg0.1]
    SPARK_GRAFT_SF_DIR=<checkout>/.scratch/fixtures/mrg0.1 \
        SPARK_GRAFT_CPUS=8 python scripts/opt_profile.py --headline
"""

from __future__ import annotations

import argparse
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from orc_release_hdp_2_6_5_99_1_tag_spark.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
_SMALL = 10_000  # tables below this stay single-file/single-group


def main() -> None:
    import pyarrow.parquet as pq

    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(_REPO, ".scratch", "fixtures", "mrg0.1"))
    ap.add_argument("--files", type=int, default=4)
    ap.add_argument("--row-groups-per-file", type=int, default=4)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    for name in TABLE_NAMES:
        src = os.path.join(SF_DIR, f"{name}.parquet")
        t = pq.read_table(src)
        n = t.num_rows
        dest_dir = os.path.join(args.out, f"{name}.parquet")
        # a DIRECTORY of part files: both tables.load_table (Spark
        # reads a dir natively) and the DuckDB oracle helpers (glob)
        # handle directories; tables.read_spec takes the schema from
        # the first part and the ts max over every part, and the
        # events stream stages one link per part.
        if os.path.isdir(dest_dir):
            for f in os.listdir(dest_dir):
                os.remove(os.path.join(dest_dir, f))
        elif os.path.exists(dest_dir):
            os.remove(dest_dir)
        os.makedirs(dest_dir, exist_ok=True)
        files = 1 if n < _SMALL else args.files
        rgs = 1 if n < _SMALL else args.row_groups_per_file
        for i in range(files):
            lo, hi = i * n // files, (i + 1) * n // files
            part = t.slice(lo, hi - lo)
            rg_rows = max(1, (part.num_rows + rgs - 1) // rgs)
            pq.write_table(
                part,
                os.path.join(dest_dir, f"part-{i:02d}.parquet"),
                version="2.6",
                row_group_size=rg_rows,
            )
        print(
            f"{name:12s} rows={n:9d} -> {files} file(s) x {rgs} row group(s)",
            flush=True,
        )
    print(f"fixture ready: {args.out}")


if __name__ == "__main__":
    main()
