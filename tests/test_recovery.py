"""S13 recovery job: salvage readable files from a directory with a
torn member; recovered dir reads cleanly WITHOUT ignoreCorruptFiles."""

from __future__ import annotations

import os

import pytest

from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import (
    read_orc,
    recover_orc_dir,
    write_orc,
)
from orc_release_hdp_2_6_5_99_1_tag_spark.tables import load_table


def test_recover_orc_dir(spark, sf_dir, tmp_path):
    src = str(tmp_path / "src")
    dest = str(tmp_path / "recovered")
    n = load_table(spark, sf_dir, "nation")
    write_orc(n, src)
    with open(os.path.join(src, "part-torn.orc"), "wb") as fh:
        fh.write(b"ORC\x01garbage" * 100)
    result = recover_orc_dir(spark, src, dest)
    assert result["skipped_corrupt"] == 1
    assert result["recovered"] >= 1
    assert read_orc(spark, dest).count() == n.count()


def _torn(d: str) -> str:
    """The torn member of test_recover_orc_dir: noise behind an ORC
    header, no tail."""
    path = os.path.join(d, "part-torn.orc")
    with open(path, "wb") as fh:
        fh.write(b"ORC\x01garbage" * 100)
    return path


def _bad_magic(d: str) -> str:
    """A real file whose postscript magic reads XYZ."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_encode import write_orc_native

    path = os.path.join(d, "part-xyz.orc")
    write_orc_native(path, {"k": list(range(3000))}, "k bigint", row_index_stride=1000)
    with open(path, "rb") as fh:
        data = fh.read()
    assert data[-4:-1] == b"ORC"  # the magic closes the postscript
    with open(path, "wb") as fh:
        fh.write(data[:-4] + b"XYZ" + data[-1:])
    return path


def _orc_meta(spark, d, path):
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.meta import orc_meta

    orc_meta(spark, d).collect()


def _orc_meta_source(spark, d, path):
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.pyds import register_orc_meta

    register_orc_meta(spark)
    spark.read.format("orc_meta").option("path", d).load().collect()


def _plan_file_scan(spark, d, path):
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.stream_decode import plan_file_scan

    plan_file_scan(path, None, ["k"])


def _stripe_footers(spark, d, path):
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import parse_stripe_footers

    parse_stripe_footers(path)


def _row_index(spark, d, path):
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.footer_tail import parse_row_index

    parse_row_index(path, 1)


@pytest.mark.parametrize(
    "read", [_orc_meta, _orc_meta_source, _plan_file_scan, _stripe_footers, _row_index]
)
@pytest.mark.parametrize("make", [_torn, _bad_magic])
def test_tail_readers_reject_a_file_without_orc_magic(spark, tmp_path, make, read):
    """ReaderImpl.ensureOrcFooter: a postscript whose magic is not ORC
    is not an ORC file, however its bytes happen to parse. orc_meta,
    the orc_meta DataSource, the planned scan, and the stripe-footer
    and row-index reads all refuse it rather than report a 0-row (or
    3,000-row) file: each reads through the one checked tail parse."""
    d = str(tmp_path / "bad")
    os.makedirs(d)
    path = make(d)
    with pytest.raises(Exception, match="postscript magic"):
        read(spark, d, path)
