"""Regression pins for the r12 storage/streaming review closures: the
live-writer recovery gate, full-depth layout assertion, merge_update
delta-uniqueness, swap-wreckage-free
layout audits, bucketed-table compaction refusal, and the
foreign-history verdict re-audit."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from briefly_spark.storage import Warehouse


def _wh(spark, tmp_path, name="wh"):
    return Warehouse(spark, str(tmp_path / name))


def test_recover_leaves_live_writers_swap_alone(spark, tmp_path):
    """A reader must not commit a LIVE rival writer's half-staged swap;
    once the lock clears, recovery rolls it forward."""
    wh = _wh(spark, tmp_path)
    wh.overwrite(
        spark.createDataFrame([(1, "a")], "id LONG, p STRING"), "t",
        partition_by=["p"],
    )
    # stage a half-finished swap by hand: new version of partition p=a
    swap = os.path.join(wh.path("t"), ".swap-test")
    new_dir = os.path.join(swap, "new", "p=a")
    os.makedirs(new_dir)
    spark.createDataFrame([(2,)], "id LONG").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "stage"))
    for f in os.listdir(str(tmp_path / "stage")):
        if f.endswith(".parquet"):
            os.rename(str(tmp_path / "stage" / f), os.path.join(new_dir, f))
    # a LIVE foreign lock (the test runner's parent pid is alive ≠ ours)
    with open(wh.path(".t.lock"), "w") as fh:
        fh.write(str(os.getppid()))
    assert [r["id"] for r in wh.read("t").collect()] == [1]  # pre-swap view
    assert os.path.isdir(swap)  # NOT completed under the live lock
    os.unlink(wh.path(".t.lock"))
    assert [r["id"] for r in wh.read("t").collect()] == [2]  # rolled forward
    assert not os.path.isdir(swap)


def test_layout_assert_checks_full_depth(spark, tmp_path):
    """A ['date','hour'] merge against a ['date'] table must refuse (the
    depth-1 probe passed it and produced mixed partition depths)."""
    wh = _wh(spark, tmp_path)
    wh.overwrite(
        spark.createDataFrame([(1, "d1", "h1")], "id LONG, date STRING, hour STRING"),
        "t", partition_by=["date"],
    )
    with pytest.raises(ValueError, match="not hive-partitioned"):
        wh.merge_upsert(
            spark.createDataFrame(
                [(2, "d1", "h2")], "id LONG, date STRING, hour STRING"
            ),
            "t", ["id"], partition_by=["date", "hour"],
        )
    # matching depth still works
    wh.merge_upsert(
        spark.createDataFrame([(2, "d1", "h2")], "id LONG, date STRING, hour STRING"),
        "t", ["id"], partition_by=["date"],
    )
    assert wh.read("t").count() == 2


def test_merge_update_refuses_duplicate_delta_keys(spark, tmp_path):
    """The guard is IN-LINEAGE (raise_error — no extra action per merge),
    so it surfaces as Spark's runtime error during the write; the failed
    side-write never swaps in and recovery leaves the table untouched."""
    wh = _wh(spark, tmp_path)
    wh.overwrite(spark.createDataFrame([(1, "x")], "id LONG, v STRING"), "t")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id LONG, v STRING")
    with pytest.raises(Exception, match="delta keys must be unique"):
        wh.merge_update(dup, "t", ["id"], ["v"])
    assert [(r["id"], r["v"]) for r in wh.read("t").collect()] == [(1, "x")]


def test_table_files_skips_swap_wreckage(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.overwrite(spark.createDataFrame([(1,)], "id LONG"), "t")
    before = wh.table_files("t")
    wreck = os.path.join(wh.path("t"), ".swap-x", "new", "leaf")
    os.makedirs(wreck)
    with open(os.path.join(wreck, "junk.parquet"), "wb") as fh:
        fh.write(b"not real")
    assert wh.table_files("t") == before  # staged copies never counted


def test_compact_refuses_bucketed_and_worklist_excludes(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    df = spark.range(200).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    wh.write_bucketed(df, "bkt_t", ["k"], buckets=4)
    try:
        assert wh._is_bucketed("bkt_t")
        with pytest.raises(ValueError, match="bucketed"):
            wh.compact("bkt_t", target_rows_per_file=10)
        assert "bkt_t" not in wh.compaction_worklist(
            small_file_bytes=1 << 30, min_files=1, min_small_frac=0.0
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_t")


def test_foreign_history_rows_do_not_pin_a_verdict(spark, tmp_path):
    """A colliding run_id written by a DIFFERENT check configuration must
    not be borrowed as this stream's admission verdict — the batch is
    re-audited (and here, quarantined)."""
    import time

    from briefly_spark.operators.expectations import in_range
    from briefly_spark.streaming.incremental import (
        audited_merge_stream,
        read_parquet_stream,
    )

    wh = _wh(spark, tmp_path)
    # foreign history: run_id 0, some OTHER check, claiming clean
    wh.overwrite(
        spark.createDataFrame(
            [(0, "other_table", "other_check", 10, 0)],
            "run_id LONG, table STRING, check STRING, n_rows LONG, n_violations LONG",
        ),
        "hist",
    )
    src = tmp_path / "amsrc"
    src.mkdir()
    spark.createDataFrame([(1, -5)], "id LONG, v LONG").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "b0"))
    time.sleep(0.2)
    wh.overwrite(spark.createDataFrame([], "id LONG, v LONG"), "live")
    wh.overwrite(
        spark.createDataFrame([], "id LONG, v LONG, batch_id LONG"), "quar"
    )
    audited_merge_stream(
        read_parquet_stream(spark, str(src) + "/*/"),
        wh, "live", ["id"],
        checks=[in_range("live", "v", 0, 100)],  # -5 violates
        checkpoint=str(tmp_path / "amckpt"),
        quarantine_table="quar",
        history_table="hist",
    )
    assert wh.read("live").count() == 0  # NOT admitted on the foreign verdict
    assert wh.read("quar").count() == 1  # re-audited and quarantined
    # and this stream's own rows now hold run_id 0 (group-replace)
    hist = wh.read("hist").collect()
    assert {r["check"] for r in hist} != {"other_check"}
