"""Structural invariants for the temporal/warehouse operators beyond
oracle parity: SCD2 histories must tile each key's timeline, and the
incremental MV must actually be incremental."""

from __future__ import annotations

import pyspark.sql.functions as F


def test_scd2_intervals_tile_timeline(spark, sf_dir):
    """Per user: exactly one open (current) row, no overlaps, no gaps —
    each row's valid_to equals the next row's valid_from, and
    consecutive rows always change the attribute."""
    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.temporal import w7_scd2_history

    rows = w7_scd2_history(spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user) >= 10
    for uid, hist in by_user.items():
        assert sum(1 for r in hist if r["is_current"]) == 1
        assert hist[-1]["valid_to_us"] is None
        for a, b in zip(hist, hist[1:]):
            assert a["valid_to_us"] == b["valid_from_us"], (uid, a, b)
            assert a["tier"] != b["tier"], (uid, a, b)


def test_mv1_uses_cached_base_not_history_rescan(spark, sf_dir, tmp_path):
    """Second invocation must read the stored base partials, not
    recompute them: poison the cached view and check the poison
    propagates (proof the stored partials are what gets merged)."""
    import os

    from orc_release_hdp_2_6_5_99_1_tag_spark.operators.incremental import (
        mv1_incremental_agg,
    )
    from orc_release_hdp_2_6_5_99_1_tag_spark.sources.orc_io import read_orc, write_orc
    from orc_release_hdp_2_6_5_99_1_tag_spark.tables import scratch_dir

    base_df = mv1_incremental_agg(spark, sf_dir)
    clean = {(r["day"], r["event_type"]): r["cnt"] for r in base_df.collect()}
    dest = os.path.join(scratch_dir(sf_dir), "orc", "mv1_daily_agg")
    stored = read_orc(spark, dest)
    poisoned = stored.withColumn("cnt", F.col("cnt") + F.lit(1000))
    write_orc(poisoned, str(tmp_path / "poison"))
    # swap the poisoned partials in (fingerprint marker stays valid)
    import shutil

    shutil.rmtree(dest)
    shutil.copytree(str(tmp_path / "poison"), dest)
    try:
        bumped = {(r["day"], r["event_type"]): r["cnt"] for r in mv1_incremental_agg(spark, sf_dir).collect()}
        changed = [k for k in clean if bumped[k] == clean[k] + 1000]
        assert changed, "poisoned base partials were ignored — MV is rescanning history"
    finally:
        shutil.rmtree(dest, ignore_errors=True)
        marker = dest + "._done"
        if os.path.exists(marker):
            os.remove(marker)
