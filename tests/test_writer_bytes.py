"""Byte-identity pins for the native ORC writer (`sources/orc_encode`).

Every case writes one file and compares its sha256 with the digest the
per-value (scalar) encoder produced at commit b5055e3, the last commit
before the encoder went columnar. A changed digest means the writer
now emits different bytes for the same input: a different run
boundary, bit width, statistic, bloom bit or chunk split.

The cases cover the benchmark's `native_orc` slice at seeds 1 and 9173
(`perfbench.datagen`, imported read-only), a typed file with every
primitive kind and its edge values, nested struct/list/map/union
columns, the v0.11 (RLEv1) format, each codec, and a three-stripe
`NativeOrcAppender` file with a `publish()` between stripes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import random
from decimal import Decimal

import numpy as np
import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import (
    NativeOrcAppender,
    write_orc_native,
)

EPOCH = dt.datetime(1970, 1, 1)


def _sha(path) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def _native_orc_slice(seed: int) -> dict:
    """The first write slice of the `native_orc` benchmark workload."""
    from perfbench import datagen
    from perfbench.workloads import NATIVE_COLUMNS, NATIVE_ROWS

    t = datagen.make_table("lineitem", 2 * NATIVE_ROWS / 6_000_000, seed)
    source = t.select(NATIVE_COLUMNS).sort_by("l_orderkey")
    rng = np.random.default_rng([seed, 41])
    n = source.num_rows // 2
    part = source.slice(int(rng.integers(0, source.num_rows - n)), n)
    return {c: part[c].to_pylist() for c in NATIVE_COLUMNS}


TYPED_SCHEMA = (
    "b boolean, t tinyint, sm smallint, i int, big bigint, pb bigint, "
    "f float, d double, s string, u string, c char(4), v varchar(3), "
    "bin binary, dt date, ts timestamp, dec decimal(12,3)"
)
TYPED_BLOOMS = ("i", "big", "f", "d", "s", "c", "v", "dt", "ts", "dec")


def _typed_columns(n: int = 7_500, seed: int = 5) -> dict:
    """Every primitive kind with NULLs and edge values. `s` switches
    from a low-cardinality (dictionary) to a unique (direct) column at
    row 4000, the first stripe boundary of the typed cases; `pb` is
    mostly narrow with rare wide outliers (PATCHED_BASE); `big` holds
    the int64 bounds, so its sums overflow."""
    r = random.Random(seed)
    nul = lambda k, m, v: None if k % m == m // 2 else v  # noqa: E731
    words = ["", "a", "zz", "ümlaut", "日本語", "emoji 🎉", "x" * 40]
    floats = [0.1, -0.0, 0.0, math.nan, math.inf, -math.inf, 1e-40, 3.4e38]
    doubles = [math.nan, -0.0, 0.0, math.inf, -math.inf, 5e-324, -1.7e308]
    big_edges = [-(2**63), 2**63 - 1, -1, 0, 1, 2**62, -(2**62)]
    cols: dict[str, list] = {k: [] for k in (
        "b", "t", "sm", "i", "big", "pb", "f", "d", "s", "u", "c", "v",
        "bin", "dt", "ts", "dec")}  # fmt: skip
    for k in range(n):
        cols["b"].append(nul(k, 9, r.random() < 0.3 if k % 200 < 150 else True))
        cols["t"].append(nul(k, 11, (k // 7) % 256 - 128 if k % 3 else 5))
        cols["sm"].append(nul(k, 13, -32768 if k % 1000 == 1 else (k * 37) % 65536 - 32768))
        if k % 500 < 100:
            iv = 7  # constant runs
        elif k % 500 < 250:
            iv = 1_000 - 3 * k  # fixed delta
        else:
            iv = r.randrange(-(2**31), 2**31)
        cols["i"].append(nul(k, 17, iv))
        cols["big"].append(
            big_edges[k % len(big_edges)] if k % 10 == 0 else r.randrange(-(2**40), 2**40)
        )
        pbv = -50 + (k * k * 7919) % 500
        if k % 777 == 3:
            pbv = 2**40 + k
        cols["pb"].append(pbv)
        cols["f"].append(nul(k, 19, floats[k % len(floats)] if k % 4 == 0 else r.uniform(-1e3, 1e3)))
        cols["d"].append(nul(k, 23, doubles[k % len(doubles)] if k % 5 == 0 else r.random() * 1e6 - 5e5))
        if k < 4_000:
            sv = words[k % len(words)] if k % 2 else f"w{r.randrange(40)}"
        else:
            sv = f"uniq-{k}-{r.randrange(10**9)}"
        cols["s"].append(nul(k, 29, sv))
        cols["u"].append(f"u{k:06d}" if k % 31 else words[k % len(words)])
        cols["c"].append(nul(k, 7, words[k % len(words)] + ("ab" if k % 3 else "")))
        cols["v"].append(nul(k, 8, ("é" * (k % 4)) + "xyz"[: k % 4]))
        cols["bin"].append(nul(k, 6, bytes(r.randrange(256) for _ in range(k % 9))))
        cols["dt"].append(nul(k, 14, dt.date(1969, 12, 25) + dt.timedelta(days=(k * 3) % 900 - 400)))
        micros = [0, 1, 10, 123_000, 999_999, 500_000][k % 6]
        cols["ts"].append(nul(k, 15, EPOCH + dt.timedelta(seconds=(k * 7919) % 10**9 - 5 * 10**8, microseconds=micros)))
        cols["dec"].append(nul(k, 12, Decimal(r.randrange(-10**11, 10**11)) / 1000 if k % 5 else Decimal(k % 7 - 3)))
    return cols


NESTED_SCHEMA = (
    "k int, st struct<a:int,b:string>, tup struct<x:double,y:date>, "
    "arr array<int>, mp map<string,int>, md map<int,array<string>>, "
    "nested struct<inner:array<struct<p:bigint,q:double>>>, "
    "un uniontype<int,string,array<bigint>>, decs array<decimal(6,2)>"
)


def _nested_columns(n: int = 3_100) -> dict:
    return {
        "k": list(range(n)),
        "st": [
            None if v % 19 == 4 else {"a": None if v % 7 == 2 else v, "b": f"s{v % 5}"}
            for v in range(n)
        ],
        # Row/tuple structs are read by position
        "tup": [
            None if v % 10 == 0 else (v / 8, dt.date(1960, 1, 1) + dt.timedelta(days=v))
            for v in range(n)
        ],
        "arr": [None if v % 23 == 3 else list(range(v % 4)) for v in range(n)],
        "mp": [
            None if v % 29 == 6 else [(f"k{j}", v + j) for j in range(v % 3)]
            for v in range(n)
        ],
        "md": [
            None if v % 13 == 1 else {v: [f"e{j}" for j in range(v % 3)], -v: None}
            for v in range(n)
        ],
        "nested": [
            {"inner": [{"p": v * 2, "q": None if v % 11 == 5 else float(v)}] * (v % 3)}
            for v in range(n)
        ],
        "un": [
            None if v % 17 == 7 else (
                {"_tag": 0, "f0": v, "f1": None, "f2": None} if v % 3 == 0
                else {"_tag": 1, "f0": None, "f1": f"u{v}", "f2": None} if v % 3 == 1
                else {"_tag": 2, "f0": None, "f1": None, "f2": [v, -v, 2**40]}
            )
            for v in range(n)
        ],
        "decs": [
            None if v % 9 == 0 else [Decimal(v) / 4, None, Decimal(-v) / 100]
            for v in range(n)
        ],
    }


# ---------------------------------------------------------------------------
# cases: name -> (writer, digest at b5055e3)
# ---------------------------------------------------------------------------


def _write_slice(seed):
    def go(path):
        from perfbench.workloads import NATIVE_SCHEMA

        write_orc_native(
            path, _native_orc_slice(seed), NATIVE_SCHEMA, row_index_stride=1000,
            bloom_filter_columns=("l_orderkey",),
        )  # fmt: skip

    return go


def _write_typed(path):
    write_orc_native(
        path, _typed_columns(), TYPED_SCHEMA, stripe_rows=4_000,
        row_index_stride=999, bloom_filter_columns=TYPED_BLOOMS,
    )  # fmt: skip


def _write_nested(path):
    write_orc_native(
        path, _nested_columns(), NESTED_SCHEMA, stripe_rows=2_000,
        row_index_stride=700, bloom_filter_columns=("k", "st.b", "arr._elem"),
    )  # fmt: skip


def _write_v011(path):
    cols = _typed_columns(3_000)
    nested = _nested_columns(3_000)
    cols.update({k: nested[k] for k in ("arr", "mp")})
    write_orc_native(
        path, cols, TYPED_SCHEMA + ", arr array<int>, mp map<string,int>",
        row_index_stride=1_000, bloom_filter_columns=("i", "s"),
        version="0.11",
    )  # fmt: skip


def _write_codec(codec):
    def go(path):
        cols = _typed_columns(2_500, seed=11)
        write_orc_native(
            path, cols, TYPED_SCHEMA, compression=codec, row_index_stride=600,
            compression_block_size=4_096, bloom_filter_columns=("s",),
        )  # fmt: skip

    return go


def _write_appender(path):
    cols = _typed_columns(4_500, seed=3)
    ap = NativeOrcAppender(
        path, TYPED_SCHEMA, row_index_stride=500, bloom_filter_columns=("i", "s"),
    )  # fmt: skip
    for lo, hi in ((0, 1_000), (1_000, 3_200), (3_200, 4_500)):
        ap.add_stripe({k: v[lo:hi] for k, v in cols.items()})
        ap.publish()
    ap.close()


CASES = {
    "native_orc_seed1": (_write_slice(1), "8961a6b3747c549c954cd40f038e1e206ecc8ca4ec8c6083a0daa19cd4c5fd69"),
    "native_orc_seed9173": (_write_slice(9173), "674c75d0805402a657ae4a14b7fd533ad4d0fd08e98e0f054389eef7bf1d42dd"),
    "typed": (_write_typed, "a4673657099bea511a03aee3ef761beb867dea862f370dc851693b083ca4fa07"),
    "nested": (_write_nested, "0622679a9efe119f2597fcea68460bf52b4b67e53b79db02e7fc57da22fefd13"),
    "v011": (_write_v011, "a929084b5aff43af922199112b9ee900a51f3705ed6e222d94753c81441c2347"),
    "codec_none": (_write_codec("none"), "a2fe9a0e6035b829608ccd8774cfcbe86ab3c306528fdf46e2b5c406246aaa75"),
    "codec_zlib": (_write_codec("zlib"), "849e22bc9fb256d3be189b4dca94619bdf39f3a9c18e589d52bc56ef0fc162a5"),
    "codec_snappy": (_write_codec("snappy"), "d0c056d4391d5cc37b091be25fbf9327a8ddaee82993abc3d6a55b97d29fb2fa"),
    "codec_lz4": (_write_codec("lz4"), "190ea5cfb7901aceec9e0c5d3a5a108ee3d1f5c1338633c942593c1c3bc541af"),
    "codec_zstd": (_write_codec("zstd"), "0fcbc41bb4b45a2f0e0aea8424947d0454742104f4ab794c1e1f793fb738a19b"),
    "appender_three_stripes": (_write_appender, "411bfa0e119d87ed257e81d13d94b6503e0ef5dc2a8ca674d0699f26e096d0c9"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_writer_bytes_unchanged(case, tmp_path):
    write, digest = CASES[case]
    path = str(tmp_path / f"{case}.orc")
    write(path)
    assert _sha(path) == digest
