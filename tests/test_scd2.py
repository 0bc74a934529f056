"""SCD2 versioned dimension history (storage.py merge_scd2 /
read_scd2_asof) — change/close/insert semantics, NULL-safe change
detection, replay idempotence, as-of reads, key-unique contract."""

from __future__ import annotations

import pytest

from briefly_spark.storage import Warehouse


def _wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh_scd2"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "id LONG, city STRING, tier LONG")


def _state(wh):
    rows = [
        (r["id"], r["city"], r["tier"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in wh.read("dim").collect()
    ]
    return sorted(rows, key=lambda t: tuple((x is None, x) for x in t))


def test_scd2_change_close_insert_and_asof(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.merge_scd2(_df(spark, [(1, "hanoi", 1), (2, "hue", 2)]), "dim", ["id"], version=1)
    assert _state(wh) == [
        (1, "hanoi", 1, 1, None, True),
        (2, "hue", 2, 1, None, True),
    ]
    # v2: id 1 changes, id 2 unchanged, id 3 new
    wh.merge_scd2(
        _df(spark, [(1, "saigon", 1), (2, "hue", 2), (3, "danang", 3)]),
        "dim",
        ["id"],
        version=2,
    )
    assert _state(wh) == [
        (1, "hanoi", 1, 1, 2, False),   # closed at v2
        (1, "saigon", 1, 2, None, True),
        (2, "hue", 2, 1, None, True),   # untouched — no spurious version
        (3, "danang", 3, 2, None, True),
    ]
    asof1 = sorted((r["id"], r["city"]) for r in wh.read_scd2_asof("dim", 1).collect())
    assert asof1 == [(1, "hanoi"), (2, "hue")]
    asof2 = sorted((r["id"], r["city"]) for r in wh.read_scd2_asof("dim", 2).collect())
    assert asof2 == [(1, "saigon"), (2, "hue"), (3, "danang")]


def test_scd2_replay_is_noop(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.merge_scd2(_df(spark, [(1, "hanoi", 1)]), "dim", ["id"], version=1)
    batch = _df(spark, [(1, "saigon", 1), (2, "hue", 2)])
    wh.merge_scd2(batch, "dim", ["id"], version=2)
    before = _state(wh)
    wh.merge_scd2(batch, "dim", ["id"], version=2)  # crash-replay
    assert _state(wh) == before
    # and replaying at a LATER version with identical values is also a
    # no-op — change detection is value-based, not version-based
    wh.merge_scd2(batch, "dim", ["id"], version=3)
    assert _state(wh) == before


def test_scd2_null_safe_change_detection(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.merge_scd2(_df(spark, [(1, None, 1), (2, "hue", None)]), "dim", ["id"], version=1)
    # NULL -> NULL unchanged; NULL -> value and value -> NULL both close
    wh.merge_scd2(_df(spark, [(1, "hanoi", 1), (2, "hue", None)]), "dim", ["id"], version=2)
    st = _state(wh)
    assert (1, None, 1, 1, 2, False) in st and (1, "hanoi", 1, 2, None, True) in st
    assert (2, "hue", None, 1, None, True) in st
    wh.merge_scd2(_df(spark, [(2, None, None)]), "dim", ["id"], version=3)
    st = _state(wh)
    assert (2, "hue", None, 1, 3, False) in st and (2, None, None, 3, None, True) in st


def test_scd2_change_cols_subset(spark, tmp_path):
    # tracked columns only: a tier-only change with change_cols=["city"]
    # is NOT a new version
    wh = _wh(spark, tmp_path)
    wh.merge_scd2(_df(spark, [(1, "hanoi", 1)]), "dim", ["id"], version=1)
    wh.merge_scd2(
        _df(spark, [(1, "hanoi", 9)]), "dim", ["id"], version=2, change_cols=["city"]
    )
    assert _state(wh) == [(1, "hanoi", 1, 1, None, True)]


def test_scd2_rejects_key_duplicate_batch(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    with pytest.raises(ValueError, match="key-unique"):
        wh.merge_scd2(
            _df(spark, [(1, "a", 1), (1, "b", 2)]), "dim", ["id"], version=1
        )


def test_scd2_rejects_lineage_columns_in_batch(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    wh.merge_scd2(_df(spark, [(1, "a", 1)]), "dim", ["id"], version=1)
    with pytest.raises(ValueError, match="lineage"):
        wh.merge_scd2(wh.read("dim"), "dim", ["id"], version=2)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _batches = st.lists(
        st.dictionaries(
            st.integers(1, 4),                       # keys
            st.one_of(st.none(), st.sampled_from("abc")),  # city value
            min_size=1,
            max_size=4,
        ),
        min_size=1,
        max_size=4,
    )

    @given(_batches)
    @settings(max_examples=8, deadline=None)
    def test_scd2_matches_pure_python_simulator(batches):
        """Random update sequences through merge_scd2 equal a dict-based
        SCD2 simulator: same current rows, same closed intervals, and
        as-of reads reconstruct every historical version exactly."""
        import tempfile

        from briefly_spark.session import get_spark

        spark = get_spark("scd2-property")
        # simulator: key -> list of [value, valid_from, valid_to]
        sim: dict[int, list] = {}
        with tempfile.TemporaryDirectory(prefix="scd2prop_") as root:
            wh = Warehouse(spark, f"{root}/wh")
            for v, batch in enumerate(batches, start=1):
                rows = [(k, val) for k, val in sorted(batch.items())]
                wh.merge_scd2(
                    spark.createDataFrame(rows, "id LONG, city STRING"),
                    "dim",
                    ["id"],
                    version=v,
                )
                for k, val in batch.items():
                    vers = sim.setdefault(k, [])
                    if vers and vers[-1][2] is None:
                        if vers[-1][0] == val:
                            continue  # unchanged
                        vers[-1][2] = v  # close current
                    vers.append([val, v, None])
            got = sorted(
                ((r["id"], r["city"], r["valid_from"], r["valid_to"]) for r in
                 wh.read("dim").collect()),
                key=lambda t: (t[0], t[2]),
            )
            want = sorted(
                ((k, val, vf, vt) for k, vers in sim.items() for val, vf, vt in vers),
                key=lambda t: (t[0], t[2]),
            )
            assert got == want
            for v in range(1, len(batches) + 1):
                asof = {
                    (r["id"], r["city"]) for r in wh.read_scd2_asof("dim", v).collect()
                }
                simof = {
                    (k, val)
                    for k, vers in sim.items()
                    for val, vf, vt in vers
                    if vf <= v and (vt is None or vt > v)
                }
                assert asof == simof, v

except ImportError:  # pragma: no cover - hypothesis always shipped here
    pass


def test_scd2_stream_matches_sequential_batches(spark, tmp_path):
    """The streaming twin: micro-batches through scd2_stream produce the
    same history as sequential merge_scd2 calls with version = batch id,
    and a checkpoint re-run with no new files is a no-op."""
    import time

    from briefly_spark.streaming import read_parquet_stream, scd2_stream

    batches = [
        [(1, "hanoi", 1), (2, "hue", 2)],
        [(1, "saigon", 1), (3, "danang", 3)],
        [(1, "saigon", 9), (2, "hue", 2)],
    ]
    src = tmp_path / "scd2_batches"
    src.mkdir()
    for j, rows in enumerate(batches):
        _df(spark, rows).coalesce(1).write.mode("overwrite").parquet(
            str(src / f"b{j}")
        )
        time.sleep(1.1)  # file source orders micro-batches by mod time

    wh = _wh(spark, tmp_path)
    ckpt = str(tmp_path / "scd2_ckpt")
    run = lambda: scd2_stream(  # noqa: E731
        read_parquet_stream(spark, str(src) + "/*/", max_files_per_trigger=1),
        wh,
        "dim",
        ["id"],
        checkpoint=ckpt,
    )
    run()
    got = _state(wh)
    # reference: the batch merges with version = batch id (0, 1, 2)
    ref = Warehouse(spark, str(tmp_path / "wh_ref"))
    for v, rows in enumerate(batches):
        ref.merge_scd2(_df(spark, rows), "dim", ["id"], version=v)
    want = sorted(
        ((r["id"], r["city"], r["tier"], r["valid_from"], r["valid_to"],
          r["is_current"]) for r in ref.read("dim").collect()),
        key=lambda t: tuple((x is None, x) for x in t),
    )
    assert got == want
    # id 1: two closed versions + one current
    vers = [t for t in got if t[0] == 1]
    assert len(vers) == 3 and sum(1 for t in vers if t[5]) == 1
    run()  # checkpoint re-run: nothing new
    assert _state(wh) == got
