"""Storage (merge semantics) and jobs-layer (incremental pipeline) tests.

The contract under test is SURVEY §2.2/§2.10: keyed merges are idempotent,
field-level updates touch only their columns, and the job loop converges
with every lifecycle column filled — backfill = re-run.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from briefly_spark.catalog import load_table
from briefly_spark.jobs import (
    ARTICLES,
    EMBEDDINGS,
    embed_batch,
    ingest_documents,
    relate_batch,
    run_until_drained,
    summarize_batch,
)
from briefly_spark.storage import Warehouse


def _wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_merge_upsert_insert_and_replace(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    wh.merge_upsert(df1, "t", ["id"])
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "id long, v string")
    wh.merge_upsert(df2, "t", ["id"])
    got = {r["id"]: r["v"] for r in wh.read("t").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # idempotent: re-merge the same batch changes nothing
    wh.merge_upsert(df2, "t", ["id"])
    assert {r["id"]: r["v"] for r in wh.read("t").collect()} == got


def test_merge_upsert_group_replace_on_nonunique_key(spark, tmp_path):
    """The GROUP-REPLACE contract (storage.py merge_upsert docstring): a
    key matching MULTIPLE target rows drops them ALL and inserts ALL
    update rows for it — not a per-row overwrite.  heavy_hitter_stream
    keys on batch_id alone and relies on exactly this to make replays
    replace a batch's entire prior contribution; a future MERGE INTO
    reimplementation with one-row-per-key WHEN MATCHED semantics would
    break here first."""
    wh = _wh(spark, tmp_path)
    df1 = spark.createDataFrame(
        [(7, "a", 1), (7, "b", 2), (7, "c", 3), (8, "x", 9)],
        "grp long, term string, cnt long",
    )
    wh.merge_upsert(df1, "t", ["grp"])
    # replay of group 7 with a DIFFERENT (smaller, disjoint) row set
    df2 = spark.createDataFrame([(7, "z", 5)], "grp long, term string, cnt long")
    wh.merge_upsert(df2, "t", ["grp"])
    got = sorted((r.grp, r.term, r.cnt) for r in wh.read("t").collect())
    assert got == [(7, "z", 5), (8, "x", 9)]


def test_merge_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    """Partition-scoped merge (the 100 TB K1 path): a batch touching one
    partition must leave every other partition's FILES byte-identical
    (never read, never rewritten), while merge semantics inside the
    touched partition are the usual replace+insert."""
    import hashlib
    import os

    wh = _wh(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "d1", "a"), (2, "d1", "b"), (3, "d2", "c"), (4, "d3", "d")],
        "id long, day string, v string",
    )
    wh.merge_upsert(base, "t", ["id"], partition_by=["day"])

    def fingerprint(day):
        out = {}
        root = os.path.join(wh.path("t"), f"day={day}")
        for r, _, files in os.walk(root):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(r, f)
                out[os.path.relpath(p, root)] = hashlib.md5(open(p, "rb").read()).hexdigest()
        return out

    d1_before, d2_before = fingerprint("d1"), fingerprint("d2")
    updates = spark.createDataFrame(
        [(4, "d3", "D"), (5, "d3", "e")], "id long, day string, v string"
    )
    wh.merge_upsert(updates, "t", ["id"], partition_by=["day"])
    got = {r["id"]: (r["day"], r["v"]) for r in wh.read("t").collect()}
    assert got == {
        1: ("d1", "a"), 2: ("d1", "b"), 3: ("d2", "c"), 4: ("d3", "D"), 5: ("d3", "e"),
    }
    # untouched partitions byte-identical
    assert fingerprint("d1") == d1_before and fingerprint("d2") == d2_before
    # idempotent re-merge: still correct, untouched partitions still intact
    wh.merge_upsert(updates, "t", ["id"], partition_by=["day"])
    assert {r["id"]: (r["day"], r["v"]) for r in wh.read("t").collect()} == got
    assert fingerprint("d1") == d1_before


def test_merge_upsert_partitioned_multi_level(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "d1", "x", 1.0), (2, "d1", "y", 2.0), (3, "d2", "x", 3.0)],
        "id long, day string, grp string, v double",
    )
    wh.merge_upsert(base, "t2", ["id"], partition_by=["day", "grp"])
    updates = spark.createDataFrame(
        [(2, "d1", "y", 20.0)], "id long, day string, grp string, v double"
    )
    wh.merge_upsert(updates, "t2", ["id"], partition_by=["day", "grp"])
    got = {r["id"]: r["v"] for r in wh.read("t2").collect()}
    assert got == {1: 1.0, 2: 20.0, 3: 3.0}


def test_merge_update_partitioned_scopes_to_delta_partitions(spark, tmp_path):
    import hashlib
    import os

    import pytest

    wh = _wh(spark, tmp_path)
    base = spark.createDataFrame(
        [(1, "d1", "a", 1.0), (2, "d2", "b", 2.0), (3, "d3", "c", 3.0)],
        "id long, day string, v string, score double",
    )
    wh.overwrite(base, "t3", partition_by=["day"])

    def fingerprint(day):
        out = {}
        root = os.path.join(wh.path("t3"), f"day={day}")
        for r, _, files in os.walk(root):
            for f in files:
                if not f.startswith((".", "_")):
                    p = os.path.join(r, f)
                    out[os.path.relpath(p, root)] = hashlib.md5(open(p, "rb").read()).hexdigest()
        return out

    d1_before = fingerprint("d1")
    delta = spark.createDataFrame([(3, "d3", "C")], "id long, day string, v string")
    wh.merge_update(delta, "t3", ["id"], ["v"], partition_by=["day"])
    got = {r["id"]: (r["v"], r["score"]) for r in wh.read("t3").collect()}
    assert got == {1: ("a", 1.0), 2: ("b", 2.0), 3: ("C", 3.0)}
    assert fingerprint("d1") == d1_before  # untouched partition byte-identical
    # delta missing the partition column is rejected loudly
    with pytest.raises(ValueError, match="partition cols"):
        wh.merge_update(
            spark.createDataFrame([(3, "x")], "id long, v string"),
            "t3", ["id"], ["v"], partition_by=["day"],
        )
    with pytest.raises(ValueError, match="partition cols"):
        wh.merge_upsert(
            spark.createDataFrame([(3, "x")], "id long, v string"),
            "t3", ["id"], partition_by=["day"],
        )


def test_merge_update_only_touches_set_cols(spark, tmp_path):
    wh = _wh(spark, tmp_path)
    base = spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "id long, v string, score long")
    wh.overwrite(base, "t")
    delta = spark.createDataFrame([(2, "B"), (99, "zz")], "id long, v string")
    wh.merge_update(delta, "t", ["id"], ["v"])
    got = {r["id"]: (r["v"], r["score"]) for r in wh.read("t").collect()}
    # id=2 updated in v only; id=99 (no target match) dropped, not inserted
    assert got == {1: ("a", 10), 2: ("B", 20)}


def test_ingest_is_idempotent_and_validates(spark, sf_dir, tmp_path):
    wh = _wh(spark, tmp_path)
    docs = load_table(spark, sf_dir, "documents")
    r1 = ingest_documents(wh, docs)
    assert r1.processed > 0
    r2 = ingest_documents(wh, docs)  # re-ingest: anti-join drops everything
    assert r2.processed == 0
    arts = wh.read(ARTICLES)
    assert arts.filter(F.length("content") < 20).count() == 0
    assert arts.count() == r1.processed


def test_pipeline_drains_and_fills_lifecycle(spark, sf_dir, tmp_path):
    wh = _wh(spark, tmp_path)
    docs = load_table(spark, sf_dir, "documents").limit(60)
    ingest_documents(wh, docs)
    results = run_until_drained(wh, batch_size=25)
    arts = wh.read(ARTICLES)
    n = arts.count()
    # every lifecycle column filled
    assert arts.filter(F.col("summary_status").isNull()).count() == 0
    assert arts.filter(F.col("embedding_status") != "completed").count() == 0
    assert arts.filter(F.col("related_ids").isNull()).count() == 0
    assert wh.read(EMBEDDINGS).count() == n
    # summaries honor the 4-point contract (or tagged fallback)
    bad = arts.filter(
        ~((F.col("summary_status") == "fallback") | (F.size("summary") <= 4))
    ).count()
    assert bad == 0
    # validation scores clamped to [3, 10]
    assert arts.filter((F.col("validation_score") < 3) | (F.col("validation_score") > 10)).count() == 0
    # tts leg: both audio ids filled, distinct per gender, voice-prefixed
    from briefly_spark.jobs import tts_batch

    assert arts.filter(
        F.col("male_audio_id").isNull() | F.col("female_audio_id").isNull()
    ).count() == 0
    assert arts.filter(F.col("male_audio_id") == F.col("female_audio_id")).count() == 0
    # drained: one more full round finds zero work
    assert summarize_batch(wh, 25).processed == 0
    assert tts_batch(wh, 25).processed == 0
    assert embed_batch(wh, 25).processed == 0
    assert relate_batch(wh, batch_size=25).processed == 0
    # batching happened (more than one summarize round for 60 docs @ 25)
    n_summary_rounds = sum(1 for r in results if r.job == "summarize" and r.processed > 0)
    assert n_summary_rounds >= 2


def test_tts_batch_partial_fill_and_determinism(spark, sf_dir, tmp_path):
    """The reference's per-gender skip (text_to_speech.py:39-43,76-80):
    an article missing only ONE audio id re-enters the work-list and gets
    (re)filled; already-complete rows are untouched; the refill is
    byte-identical to the first (deterministic ids), so replay is a
    no-op in value space."""
    from briefly_spark.jobs import tts_batch

    wh = _wh(spark, tmp_path)
    docs = load_table(spark, sf_dir, "documents").limit(10)
    ingest_documents(wh, docs)
    summarize_batch(wh, 100)
    assert tts_batch(wh, 100).processed > 0
    before = {
        r["url"]: (r["male_audio_id"], r["female_audio_id"])
        for r in wh.read(ARTICLES).collect()
    }
    assert all(m and f and m != f for m, f in before.values())
    # drained
    assert tts_batch(wh, 100).processed == 0
    # null out one row's female id -> exactly that row re-enters
    # (merge_update coalesces — it can never null a field — so simulate
    # the reference's partially-filled article by rewriting table state)
    victim = sorted(before)[0]
    arts_now = wh.read(ARTICLES)
    doctored = arts_now.withColumn(
        "female_audio_id",
        F.when(F.col("url") == victim, F.lit(None).cast("string")).otherwise(
            F.col("female_audio_id")
        ),
    )
    doctored = spark.createDataFrame(doctored.collect(), schema=doctored.schema)
    wh.overwrite(doctored, ARTICLES, partition_by=["source"])
    assert tts_batch(wh, 100).processed == 1
    after = {
        r["url"]: (r["male_audio_id"], r["female_audio_id"])
        for r in wh.read(ARTICLES).collect()
    }
    assert after == before  # refilled to the same deterministic ids


def test_sensor_cycle_end_to_end_byte_stable(spark, sf_dir, tmp_path):
    """The reference's full sensor loop demonstrated live (VERDICT r03 #5):
    streaming ingest over merge_stream (availableNow, checkpointed) feeds
    the predicate work-list jobs to quiescence; a SECOND cycle with no new
    input performs zero writes — every warehouse file byte-identical.
    Then a new file arrives and only the delta is processed."""
    import hashlib
    import os

    from briefly_spark.jobs import sensor_cycle

    src = tmp_path / "docs_inbox"
    src.mkdir()
    docs = load_table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") < 40).coalesce(1).write.parquet(str(src / "drop1"))

    wh = _wh(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")

    def fingerprint():
        out = {}
        for root, _, files in os.walk(wh.root):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, wh.root)] = hashlib.md5(fh.read()).hexdigest()
        return out

    # cycle 1: ingest 40 docs, drain enrichment to quiescence
    r1 = sensor_cycle(wh, spark, str(src) + "/*/", checkpoint=ckpt, batch_size=25)
    arts = wh.read(ARTICLES)
    n1 = arts.count()
    assert n1 > 0 and any(r.processed > 0 for r in r1)
    assert arts.filter(F.col("summary_status").isNull()).count() == 0
    assert arts.filter(F.col("related_ids").isNull()).count() == 0
    fp1 = fingerprint()

    # cycle 2: nothing new — no job finds work, no file is rewritten
    r2 = sensor_cycle(wh, spark, str(src) + "/*/", checkpoint=ckpt, batch_size=25)
    assert all(r.processed == 0 for r in r2)
    assert fingerprint() == fp1

    # cycle 3: a new drop overlapping the first (20 old + 20 new): only the
    # 20 genuinely-new articles are ingested and enriched
    docs.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 60)).coalesce(1).write.parquet(
        str(src / "drop2")
    )
    sensor_cycle(wh, spark, str(src) + "/*/", checkpoint=ckpt, batch_size=25)
    n_new = docs.filter(
        (F.col("doc_id") >= 40) & (F.col("doc_id") < 60) & (F.length("text") >= 20)
    ).count()
    assert n_new > 0
    arts3 = wh.read(ARTICLES)
    assert arts3.count() == n1 + n_new
    assert arts3.filter(F.col("summary_status").isNull()).count() == 0
    assert arts3.select("url").distinct().count() == n1 + n_new


def test_relate_threshold_gate(spark, sf_dir, tmp_path):
    wh = _wh(spark, tmp_path)
    docs = load_table(spark, sf_dir, "documents").limit(10)
    ingest_documents(wh, docs)
    summarize_batch(wh, 100)
    embed_batch(wh, 100)
    assert relate_batch(wh, min_eligible=50).processed == 0  # T5 gate holds
    assert relate_batch(wh, min_eligible=0).processed > 0


def test_bucketed_point_lookup_prunes_buckets(spark, sf_dir, tmp_path):
    """S6's 100 TB shape: an equality predicate on the bucket key of a
    K6-bucketed table scans ONE bucket, not the table (the storage.py
    docstring's bucket-pruning claim, plan-verified)."""
    import re

    wh = Warehouse(spark, str(tmp_path / "wh_lookup"))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    wh.write_bucketed(orders, "orders_pt", ["o_orderkey"], buckets=8)
    try:
        # the auto-bucketed-scan heuristic DISABLES bucketed reads (and with
        # them bucket pruning) when no join/agg would benefit — point-lookup
        # workloads must pin it off (storage.py write_bucketed docstring)
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        some_key = orders.limit(1).collect()[0]["o_orderkey"]
        lookup = wh.read_catalog("orders_pt").filter(F.col("o_orderkey") == some_key)
        plan = lookup._jdf.queryExecution().executedPlan().toString()
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert (int(m.group(1)), int(m.group(2))) == (1, 8)
        assert lookup.count() >= 1
    finally:
        spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
        spark.sql("DROP TABLE IF EXISTS orders_pt")


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path):
    from briefly_spark.catalog import load_table

    wh = Warehouse(spark, str(tmp_path / "wh_bucketed"))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    wh.write_bucketed(orders, "orders_b", ["o_orderkey"], buckets=8)
    wh.write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b",
                      ["o_orderkey"], buckets=8)
    try:
        # forbid broadcast so the join must be sort-merge — the bucketed
        # layout should make it exchange-free on BOTH sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = wh.read_catalog("orders_b").join(wh.read_catalog("lineitem_b"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_write_training_shards_even_layout(spark, tmp_path):
    import os

    wh = _wh(spark, tmp_path)
    df = spark.range(1000).withColumn("payload", F.md5(F.col("id").cast("string")))
    shards = wh.write_training_shards(df, "shards", rows_per_shard=100)
    assert shards == 10
    files = [
        f for f in os.listdir(wh.path("shards"))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]
    assert len(files) == 10
    back = wh.read("shards")
    assert back.count() == 1000
    # every shard within the cap and reasonably even (round-robin)
    import pyarrow.parquet as pq

    sizes = [pq.read_metadata(os.path.join(wh.path("shards"), f)).num_rows for f in files]
    assert max(sizes) <= 100 and min(sizes) >= 90


def test_jobs_layer_rewrites_only_touched_source_partitions(spark, sf_dir, tmp_path):
    """End-to-end partition scoping: after a full drain, ingesting and
    draining a SINGLE-source delta must leave every other source's
    articles/embeddings partition files byte-identical — the jobs layer's
    per-cycle write cost is bounded by the batch's sources."""
    import hashlib
    import os

    wh = _wh(spark, tmp_path)
    docs = load_table(spark, sf_dir, "documents")
    ingest_documents(wh, docs.filter(F.col("doc_id") < 40))
    run_until_drained(wh, batch_size=50)

    def fingerprints(table):
        out = {}
        root = wh.path(table)
        for r, _, files in os.walk(root):
            for f in files:
                if not f.startswith((".", "_")):
                    p = os.path.join(r, f)
                    out[os.path.relpath(p, root)] = hashlib.md5(open(p, "rb").read()).hexdigest()
        return out

    before_articles = fingerprints(ARTICLES)
    before_emb = fingerprints(EMBEDDINGS)

    delta = docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)).filter(
        F.col("source") == "src1"
    )
    assert delta.count() > 0
    ingest_documents(wh, delta)
    run_until_drained(wh, batch_size=50)

    after_articles = fingerprints(ARTICLES)
    after_emb = fingerprints(EMBEDDINGS)
    # src1 partitions changed...
    assert any(k.startswith("source=src1/") and after_articles.get(k) != before_articles.get(k)
               for k in after_articles)
    # ...every other source's files are byte-identical
    for table_before, table_after in ((before_articles, after_articles), (before_emb, after_emb)):
        others_before = {k: v for k, v in table_before.items() if not k.startswith("source=src1/")}
        others_after = {k: v for k, v in table_after.items() if not k.startswith("source=src1/")}
        assert others_after == others_before
    # correctness: the delta is fully enriched
    arts = wh.read(ARTICLES)
    assert arts.filter(F.col("summary_status").isNull()).count() == 0


# -- crash safety / single-writer contract (SURVEY §2.2 write protocol) ------


def _rows_by_source(wh, table):
    out = {}
    for r in wh.read(table).collect():
        out.setdefault(r["source"], set()).add((r["id"], r["v"]))
    return out


def test_partition_swap_crash_at_every_step_is_recoverable(spark, tmp_path):
    """Kill the swap at every os.rename call site in turn; after recovery
    (the next read) the table must be readable and every partition either
    fully-old or fully-new — never absent, never mixed."""
    import briefly_spark.storage as storage_mod
    from briefly_spark.storage import Warehouse

    base = spark.createDataFrame(
        [(1, "old", "a"), (2, "old", "a"), (3, "old", "b"), (4, "old", "c")],
        "id long, v string, source string",
    )
    batch = spark.createDataFrame(
        [(1, "new", "a"), (3, "new", "b"), (9, "new", "b")],
        "id long, v string, source string",
    )
    old_state = {
        "a": {(1, "old"), (2, "old")},
        "b": {(3, "old")},
        "c": {(4, "old")},
    }
    new_state = {
        "a": {(1, "new"), (2, "old")},
        "b": {(3, "new"), (9, "new")},
        "c": {(4, "old")},
    }
    real_rename = storage_mod.os.rename
    crash_at = 1
    while True:
        wh = Warehouse(spark, str(tmp_path / f"wh_crash_{crash_at}"))
        wh.overwrite(base, "t", partition_by=["source"])
        calls = {"n": 0}

        def exploding(src, dst, *, _limit=crash_at, _calls=calls):
            _calls["n"] += 1
            if _calls["n"] >= _limit:
                raise OSError("injected crash")
            return real_rename(src, dst)

        storage_mod.os.rename = exploding
        crashed = True
        try:
            wh.merge_upsert(batch, "t", ["id"], partition_by=["source"])
            crashed = False
        except OSError:
            pass
        finally:
            storage_mod.os.rename = real_rename

        got = _rows_by_source(wh, "t")  # read() runs recovery
        assert set(got) == {"a", "b", "c"}, f"crash_at={crash_at}: {got}"
        for src in got:
            assert got[src] in (old_state[src], new_state[src]), (
                f"crash_at={crash_at}, partition {src} mixed: {got[src]}"
            )
        # a re-run of the same merge must now converge to fully-new
        wh.merge_upsert(batch, "t", ["id"], partition_by=["source"])
        assert _rows_by_source(wh, "t") == new_state
        if not crashed:  # every rename ran uninjected -> all sites covered
            break
        crash_at += 1
    assert crash_at > 3  # sanity: multiple distinct crash points exercised


def test_full_overwrite_crash_rolls_forward_or_back(spark, tmp_path):
    import os

    import briefly_spark.storage as storage_mod
    from briefly_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_full_crash"))
    v1 = spark.createDataFrame([(1, "v1")], "id long, v string")
    v2 = spark.createDataFrame([(1, "v2")], "id long, v string")
    wh.overwrite(v1, "t")

    # crash between retire(final->old) and commit(tmp->final): the side
    # write carries _SUCCESS, so recovery rolls FORWARD to v2
    real_rename = storage_mod.os.rename
    calls = {"n": 0}

    def crash_on_second(src, dst):
        calls["n"] += 1
        if calls["n"] >= 2:
            raise OSError("injected crash")
        return real_rename(src, dst)

    storage_mod.os.rename = crash_on_second
    try:
        import pytest

        with pytest.raises(OSError):
            wh.overwrite(v2, "t")
    finally:
        storage_mod.os.rename = real_rename
    assert [r["v"] for r in wh.read("t").collect()] == ["v2"]

    # hand-built rollback wreckage: retired copy only, side write has no
    # _SUCCESS marker -> recovery rolls BACK to the retired version
    wh2 = Warehouse(spark, str(tmp_path / "wh_full_crash2"))
    wh2.overwrite(v1, "t")
    os.rename(wh2.path("t"), wh2.path(".t.old-dead"))
    os.makedirs(wh2.path(".t.tmp-dead"))  # incomplete write, no _SUCCESS
    assert [r["v"] for r in wh2.read("t").collect()] == ["v1"]
    assert not os.path.isdir(wh2.path(".t.tmp-dead"))  # wreckage swept


def test_writer_completes_crashed_full_swap_before_writing(spark, tmp_path):
    """Recovery runs when a writer takes the lock, not only on read: a
    crashed full-table swap (table dir retired, committed side write left
    behind) is rolled forward and swept by the next overwrite itself."""
    import os

    wh = Warehouse(spark, str(tmp_path / "wh_writer_recover"))
    wh.overwrite(spark.createDataFrame([(1, "v1")], "id long, v string"), "t")
    spark.createDataFrame([(1, "v2")], "id long, v string").write.parquet(
        wh.path(".t.tmp-dead")
    )  # committed: carries _SUCCESS
    os.rename(wh.path("t"), wh.path(".t.old-dead"))
    wh.overwrite(spark.createDataFrame([(1, "v3")], "id long, v string"), "t")
    assert not [
        d for d in os.listdir(wh.root) if d.startswith((".t.tmp-", ".t.old-"))
    ]
    assert [r["v"] for r in wh.read("t").collect()] == ["v3"]


def test_partition_merge_refuses_flat_layout(spark, tmp_path):
    import pytest

    from briefly_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_flat"))
    flat = spark.createDataFrame([(1, "x", "a")], "id long, v string, source string")
    wh.overwrite(flat, "t")  # no partition_by: flat files at the root
    with pytest.raises(ValueError, match="not hive-partitioned"):
        wh.merge_upsert(flat, "t", ["id"], partition_by=["source"])
    with pytest.raises(ValueError, match="not hive-partitioned"):
        wh.merge_update(flat, "t", ["id"], ["v"], partition_by=["source"])


def test_writer_lock_blocks_live_holder_steals_dead(spark, tmp_path):
    import pytest

    from briefly_spark.storage import TableLockedError, Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_lock"))
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    wh.overwrite(df, "t")

    lock = wh.path(".t.lock")
    with open(lock, "w") as fh:
        fh.write("1")  # pid 1: always alive
    with pytest.raises(TableLockedError, match="locked by live pid 1"):
        wh.merge_upsert(df, "t", ["id"])

    with open(lock, "w") as fh:
        fh.write("999999999")  # dead pid: stale lock is stolen
    wh.merge_upsert(df, "t", ["id"])  # succeeds
    import os

    assert not os.path.exists(lock)  # released after the merge


def test_sequential_merge_updates_different_columns_compose(spark, tmp_path):
    """The single-writer contract serializes writers; serialized
    merge_update calls on DIFFERENT columns must compose (each rides the
    other's values along), matching the reference's 4 stages writing
    disjoint fields of the same collection."""
    from briefly_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_compose"))
    base = spark.createDataFrame(
        [(1, None, None, "a"), (2, None, None, "a")],
        "id long, summary string, score string, source string",
    )
    wh.overwrite(base, "t", partition_by=["source"])
    d1 = spark.createDataFrame([(1, "s1", "a")], "id long, summary string, source string")
    d2 = spark.createDataFrame([(1, "9.5", "a")], "id long, score string, source string")
    wh.merge_update(d1, "t", ["id"], ["summary"], partition_by=["source"])
    wh.merge_update(d2, "t", ["id"], ["score"], partition_by=["source"])
    got = {r["id"]: (r["summary"], r["score"]) for r in wh.read("t").collect()}
    assert got == {1: ("s1", "9.5"), 2: (None, None)}


def test_training_shards_write_aside_allows_self_reshard(spark, tmp_path):
    from briefly_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_reshard"))
    df = spark.createDataFrame([(i, f"r{i}") for i in range(100)], "id long, v string")
    wh.write_training_shards(df, "shards", rows_per_shard=10)
    before = sorted((r["id"], r["v"]) for r in wh.read("shards").collect())
    # re-shard a frame DERIVED FROM THE SAME TABLE into the same table:
    # only safe because the write lands aside and swaps in afterwards
    wh.write_training_shards(wh.read("shards"), "shards", rows_per_shard=25)
    after = sorted((r["id"], r["v"]) for r in wh.read("shards").collect())
    assert after == before


def test_curate_batch_trims_across_batches_via_registry(spark, sf_dir, tmp_path):
    """The curate stage: keep-first span trim composes across bounded
    batches through the span registry, wholesale copies curate to empty,
    the kept-span set is globally duplicate-free, and re-run is a no-op."""
    from briefly_spark.jobs import SPAN_REGISTRY, curate_batch

    wh = Warehouse(spark, str(tmp_path / "wh_curate"))
    docs = load_table(spark, sf_dir, "documents").orderBy("doc_id").limit(40)
    # plant a wholesale copy with the HIGHEST id: it must curate to empty
    first = docs.orderBy("doc_id").limit(1).collect()[0]
    dup = spark.createDataFrame(
        [(99999, first["text"], first["lang"], first["source"], first["n_chars"])],
        docs.schema,
    )
    ingest_documents(wh, docs.unionByName(dup))

    total = 0
    for _ in range(20):  # small batches force registry round-trips
        n = curate_batch(wh, batch_size=15).processed
        total += n
        if n == 0:
            break
    arts = wh.read(ARTICLES)
    assert arts.filter(F.col("curated_status").isNull()).count() == 0
    assert total == arts.count()

    dup_row = arts.filter(F.col("article_id") == 99999).collect()[0]
    assert dup_row["curated_status"] == "empty"
    assert dup_row["curated_content"] == ""
    assert dup_row["n_spans_trimmed"] > 0

    # conservation: re-chunking every curated content reproduces the kept
    # spans (kept non-tail spans are 8-aligned, tails are doc-final), and
    # the kept set is globally duplicate-free and matches the registry
    kept = []
    for r in arts.filter(F.col("curated_status") == "curated").collect():
        toks = r["curated_content"].split(" ")
        kept.extend(
            " ".join(toks[i : i + 8]) for i in range(0, len(toks), 8)
        )
    assert len(kept) == len(set(kept))
    assert wh.read(SPAN_REGISTRY).count() == len(kept)

    # idempotence: nothing left to curate
    assert curate_batch(wh).processed == 0


def test_write_zorder_envelopes_and_content(spark, tmp_path):
    """Z-order layout: content is preserved exactly, and per-file min-max
    envelopes stay narrow on BOTH clustered columns — the property that
    makes dual-dimension file skipping work (a single-column sort leaves
    the other column's envelope at the full domain in every file)."""
    import itertools

    wh = Warehouse(spark, str(tmp_path / "wh_z"))
    n = 64
    rows = [(x, y, x * n + y) for x, y in itertools.product(range(n), range(n))]
    df = spark.createDataFrame(rows, "x int, y int, payload long")
    wh.write_zorder(df, "zt", ["x", "y"], bits=6, files=16)

    back = wh.read("zt")
    assert back.count() == n * n
    assert {tuple(r) for r in back.collect()} == set(rows)

    env = (
        back.withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(
            (F.max("x") - F.min("x")).alias("wx"),
            (F.max("y") - F.min("y")).alias("wy"),
        )
        .agg(F.avg("wx").alias("ax"), F.avg("wy").alias("ay"), F.count(F.lit(1)).alias("nf"))
        .collect()[0]
    )
    assert env["nf"] > 1
    # both envelopes well under the full domain (64); a y-ignorant layout
    # would put ay at ~63
    assert env["ax"] < n / 2 and env["ay"] < n / 2, dict(env.asDict())


def test_compact_shrinks_files_preserves_rows(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh_c"))
    df = spark.range(0, 10_000).withColumn("v", F.col("id") * 3)
    # simulate merge-fragmented layout: many tiny files
    wh.overwrite(df.repartition(64), "t")
    import glob

    files_before = glob.glob(str(tmp_path / "wh_c" / "t" / "*.parquet"))
    assert len(files_before) >= 32

    n_files = wh.compact("t", target_rows_per_file=5_000)
    files_after = glob.glob(str(tmp_path / "wh_c" / "t" / "*.parquet"))
    assert n_files == 2
    assert len(files_after) <= 4  # maxRecordsPerFile may split a stray file
    back = wh.read("t")
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == sum(i * 3 for i in range(10_000))


def test_maintain_warehouse_compacts_only_fragmented(spark, tmp_path):
    from briefly_spark.jobs import maintain_warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_m"))
    # fragmented: 10k rows in ~64 files; healthy: 10k rows in 1 file
    wh.overwrite(spark.range(0, 10_000).repartition(64), "frag")
    wh.overwrite(spark.range(0, 10_000).coalesce(1), "ok")

    out = maintain_warehouse(
        wh, ["frag", "ok", "missing"], target_rows_per_file=10_000
    )
    assert out == {"frag": 1}
    assert wh.read("frag").count() == 10_000

    # idempotent: the follow-up sweep finds nothing fragmented
    assert maintain_warehouse(wh, ["frag", "ok"], target_rows_per_file=10_000) == {}


def test_merge_upsert_schema_evolution_both_directions(spark, tmp_path):
    """The merge's unionByName(allowMissingColumns=True) contract, pinned:
    a batch carrying a NEW column evolves the table (old rows NULL-fill);
    a batch MISSING a column NULL-fills its own rows; existing rows'
    values survive both."""
    wh = Warehouse(spark, str(tmp_path / "wh_evo"))
    wh.overwrite(
        spark.createDataFrame([(1, "a"), (2, "b")], "id LONG, v STRING"), "t"
    )
    # batch adds a column
    wh.merge_upsert(
        spark.createDataFrame([(2, "b2", 99)], "id LONG, v STRING, extra LONG"),
        "t",
        ["id"],
    )
    got = {r["id"]: (r["v"], r["extra"]) for r in wh.read("t").collect()}
    assert got == {1: ("a", None), 2: ("b2", 99)}
    # batch misses a column
    wh.merge_upsert(
        spark.createDataFrame([(3,)], "id LONG"), "t", ["id"]
    )
    got = {r["id"]: (r["v"], r["extra"]) for r in wh.read("t").collect()}
    assert got == {1: ("a", None), 2: ("b2", 99), 3: (None, None)}


def test_recover_sweeps_dead_lock_sidecars_keeps_live(spark, tmp_path):
    """ADVICE r12 #3: pid-stamped sidecars of crashed writers and orphaned
    steal wrecks are swept by _recover; a LIVE writer's sidecar (and the
    lock itself) survive."""
    import os

    from briefly_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_sweep"))
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    wh.overwrite(df, "t")
    dead = wh.path(".t.lock.999999999.abc123")
    live = wh.path(f".t.lock.{os.getpid()}.def456")
    wreck = wh.path(".t.lock.stale.0f0f0f")
    for p, pid in ((dead, "999999999"), (live, str(os.getpid())), (wreck, "999999999")):
        with open(p, "w") as fh:
            fh.write(pid)
    wh.read("t")  # triggers _recover
    assert not os.path.exists(dead), "dead-pid sidecar must be swept"
    assert not os.path.exists(wreck), "orphaned steal wreck must be swept"
    assert os.path.exists(live), "live writer's sidecar must survive"
    os.unlink(live)


def test_lock_release_is_identity_checked(spark, tmp_path):
    """ADVICE r12 #1 (release half): if the lock path no longer holds OUR
    inode when we release, leave it alone — a blind unlink would strip a
    rival's fresh lock."""
    import os

    from briefly_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_rel"))
    lock = wh.path(".t.lock")
    with wh._writer_lock("t"):
        # simulate a pathological steal: replace our lock with a rival's
        os.unlink(lock)
        with open(lock, "w") as fh:
            fh.write("424242")
        rival_ino = os.stat(lock).st_ino
    # release must NOT have removed the rival's lock
    assert os.path.exists(lock) and os.stat(lock).st_ino == rival_ino
    os.unlink(lock)


def test_recover_keeps_inflight_wreck_of_live_stealer(spark, tmp_path):
    """Review r13: a .stale wreck whose CONTENT names a live pid is a
    mistaken-rename in some live stealer's restore window — sweeping it
    by name alone would strip the rival's lock; it must survive."""
    import os

    from briefly_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_wreck"))
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    wh.overwrite(df, "t")
    live_wreck = wh.path(".t.lock.stale.aaaaaa")
    with open(live_wreck, "w") as fh:
        fh.write(str(os.getpid()))  # live pid in CONTENT
    wh.read("t")
    assert os.path.exists(live_wreck), "live-content wreck must survive"
    os.unlink(live_wreck)


def test_recover_treats_unopenable_lock_as_live(spark, tmp_path, monkeypatch):
    """ADVICE r14: _recover used to map an unreadable lock (OSError) to
    live=False, letting the sidecar sweep and swap completion run under
    a writer whose lock merely cannot be opened — inconsistent with the
    acquire path, which fails fast (TableLockedError) on exactly that
    state.  An unopenable-but-present lock must now be treated as LIVE
    (recovery skipped); a VANISHED lock stays live=False."""
    import builtins
    import os

    from briefly_spark.storage import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_recover_live"))
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    wh.overwrite(df, "t")
    lock = wh.path(".t.lock")
    with open(lock, "w") as fh:
        fh.write("999999999")  # dead pid — readable path WOULD recover
    sidecar = wh.path(".t.lock.999999999.abcdef")
    with open(sidecar, "w") as fh:
        fh.write("999999999")  # dead-pid sidecar — sweep target
    real_open = builtins.open

    def deny_lock(path, *a, **kw):
        if str(path) == lock:
            raise PermissionError(13, "denied", str(path))
        return real_open(path, *a, **kw)

    monkeypatch.setattr(builtins, "open", deny_lock)
    wh._recover("t")
    assert os.path.exists(sidecar), (
        "sidecar swept under an unopenable (possibly live) lock"
    )
    monkeypatch.setattr(builtins, "open", real_open)
    wh._recover("t")  # readable again: dead pid -> not live -> swept
    assert not os.path.exists(sidecar)
    os.unlink(lock)


def test_unopenable_lock_raises_instead_of_spinning(spark, tmp_path):
    """Review r13 pass 2: a lock that EXISTS but cannot be opened must
    raise TableLockedError (operator intervention) — not hot-spin, and
    never steal blind (an unverified steal re-opens the identity race)."""
    import os

    import pytest

    from briefly_spark.storage import TableLockedError, Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_noperm"))
    df = spark.createDataFrame([(1, "x")], "id long, v string")
    wh.overwrite(df, "t")
    lock = wh.path(".t.lock")
    with open(lock, "w") as fh:
        fh.write("999999999")
    os.chmod(lock, 0)
    if os.getuid() == 0:
        # root bypasses mode bits — the EACCES branch is unreachable
        # here; assert the readable-path behavior (dead pid -> stolen)
        os.chmod(lock, 0o644)
        wh.merge_upsert(df, "t", ["id"])
        assert not os.path.exists(lock)
    else:
        with pytest.raises(TableLockedError, match="unreadable lock"):
            wh.merge_upsert(df, "t", ["id"])
        os.chmod(lock, 0o644)
        os.unlink(lock)
