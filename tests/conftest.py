from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from orc_release_hdp_2_6_5_99_1_tag_spark import get_spark

    s = get_spark("engine-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sargs_fuzz_df(spark):
    """Tiny cached table (with NULLs) for sarg property fuzzing."""
    rows = [(i, None if i % 7 == 3 else i % 10) for i in range(50)]
    df = spark.createDataFrame(rows, "id int, n int").cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def range_lake(spark, tmp_path_factory):
    """A range-partitioned 4-file lake (ids 0..39999, sorted within each
    file, stride 1000, 4 KiB zlib chunks so the planned IO is
    sub-stream): columns id, v = id % 97, s = md5(id)."""
    import glob

    import pyspark.sql.functions as F

    out = str(tmp_path_factory.mktemp("range_lake") / "lake")
    df = (
        spark.range(40000)
        .select(
            "id",
            (F.col("id") % 97).cast("int").alias("v"),
            # high-entropy payload so streams span many chunks and
            # partial IO is visible at this scale
            F.md5(F.col("id").cast("string")).alias("s"),
        )
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    (
        df.write.mode("overwrite")
        .option("orc.row.index.stride", "1000")
        .option("compression", "zlib")
        # small chunks so the plan is sub-stream (256 KiB default would
        # make every stream one chunk -> chunk-granular whole-stream IO)
        .option("orc.compress.size", "4096")
        .orc(out)
    )
    return {"lake": out, "files": sorted(glob.glob(os.path.join(out, "*.orc")))}
