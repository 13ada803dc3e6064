"""Randomized ORC write→read round-trips (the reference's
`TestVectorOrcFile` seeded-random strategy, SURVEY §5.3) via
hypothesis: arbitrary rows of the mixed scalar schema must survive the
ORC round trip exactly. Also covers orc_meta against pyarrow's own
footer reader."""

from __future__ import annotations

import math
import os

import pyspark.sql.types as T
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# the suite's single most expensive test (~15s at 12 examples, each a
# full ORC write+read+meta pass): the default battery runs 5 examples,
# the nightly/full mode (same flag as the golden-corpus sweep) all 12
_EXAMPLES = 12 if os.environ.get("SPARK_GRAFT_FULL_SWEEP") == "1" else 5

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.meta import orc_meta
from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import orc_copy, read_orc, write_orc

_SCHEMA = T.StructType(
    [
        T.StructField("b", T.BooleanType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("bin", T.BinaryType()),
    ]
)

_ROW = st.tuples(
    st.none() | st.booleans(),
    st.none() | st.integers(min_value=-(2**31), max_value=2**31 - 1),
    st.none() | st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.none() | st.floats(allow_nan=True, allow_infinity=True, width=64),
    st.none() | st.text(max_size=40),
    st.none() | st.binary(max_size=20),
)


def _norm(rows):
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                vals.append("nan" if math.isnan(v) else repr(v))
            elif isinstance(v, (bytes, bytearray)):
                vals.append(bytes(v).hex())
            else:
                vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out)


@settings(max_examples=_EXAMPLES, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=st.lists(_ROW, min_size=1, max_size=30))
def test_random_scalar_roundtrip(spark, tmp_path_factory, rows):
    dest = str(tmp_path_factory.mktemp("rt"))
    df = spark.createDataFrame(rows, _SCHEMA)
    write_orc(df.coalesce(1), dest)
    back = read_orc(spark, dest)
    assert back.schema == _SCHEMA
    assert _norm([tuple(r) for r in back.collect()]) == _norm(rows)


def test_orc_meta_matches_pyarrow_footers(spark, sf_dir):
    """orc_meta's per-file rows are the footer facts pyarrow.orc.ORCFile
    reports for each file of the copy."""
    from pyarrow import orc as pa_orc

    path = orc_copy(spark, sf_dir, "lineitem")
    want = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".orc") or name.startswith(("_", ".")):
            continue
        o = pa_orc.ORCFile(os.path.join(path, name))
        want.append(
            (name, o.nrows, o.nstripes, str(o.compression), o.compression_size,
             o.row_index_stride, str(o.writer), o.content_length, len(o.schema))
        )  # fmt: skip
    got = sorted(map(tuple, orc_meta(spark, path).collect()))
    assert got == want and len(got) >= 1
