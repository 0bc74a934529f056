"""Streaming tests: batch/stream agreement for windowed aggregates, and
exactly-once table state via checkpoint + idempotent merge."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from briefly_spark.catalog import load_table, table_path
from briefly_spark.storage import Warehouse
from briefly_spark.streaming import (
    available_now_to_memory,
    merge_stream,
    read_parquet_stream,
    windowed_counts,
)


def _events_dir(sf_dir, tmp_path):
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(table_path(sf_dir, "events"), d / "part-0.parquet")
    return str(d)


def test_stream_window_agg_matches_batch(spark, sf_dir, tmp_path):
    src = _events_dir(sf_dir, tmp_path)
    sdf = read_parquet_stream(spark, src)
    got = available_now_to_memory(
        windowed_counts(sdf, window="1 hour", by=["event_type"]), output_mode="complete"
    )
    batch = load_table(spark, sf_dir, "events")
    expected = windowed_counts(batch, window="1 hour", by=["event_type"])
    key = lambda r: (r["win_start"], r["event_type"])  # noqa: E731
    g = {key(r): (r["n_events"], r["total_value"]) for r in got.collect()}
    e = {key(r): (r["n_events"], r["total_value"]) for r in expected.collect()}
    assert g == e
    assert len(g) > 100


def test_merge_stream_exactly_once_table_state(spark, sf_dir, tmp_path):
    src = tmp_path / "docs_stream"
    src.mkdir()
    docs = load_table(spark, sf_dir, "documents")
    docs.limit(30).write.mode("overwrite").parquet(str(src / "batch1"))

    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")
    stream = lambda: merge_stream(  # noqa: E731
        read_parquet_stream(spark, str(src) + "/*/"),
        wh,
        "docs",
        ["doc_id"],
        checkpoint=ckpt,
        transform=lambda df: df.select("doc_id", "text", "source"),
    )
    stream()
    n1 = wh.read("docs").count()
    assert n1 == 30

    # re-run with nothing new: checkpoint skips processed files
    stream()
    assert wh.read("docs").count() == 30

    # second batch overlaps the first (20 old + 20 new): merge dedups
    docs.filter(F.col("doc_id") < 40).write.mode("overwrite").parquet(str(src / "batch2"))
    stream()
    got = wh.read("docs")
    assert got.count() == got.select("doc_id").distinct().count()
    assert got.count() >= 40


def test_stateful_dedup_across_microbatches(spark, sf_dir, tmp_path):
    from briefly_spark.streaming import stateful_dedup

    src = tmp_path / "dedup_stream"
    src.mkdir()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    # batch1: ids 0..19; batch2: ids 10..29 (10 duplicate keys) — one file
    # per micro-batch via maxFilesPerTrigger=1
    docs.filter(F.col("doc_id") < 20).coalesce(1).write.parquet(str(src / "b1"))
    docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 30)).coalesce(1).write.parquet(
        str(src / "b2")
    )
    sdf = read_parquet_stream(spark, str(src) + "/*/", max_files_per_trigger=1)
    out = available_now_to_memory(
        stateful_dedup(sdf, "doc_id"), query_name="dedup_t", output_mode="append"
    )
    rows = out.collect()
    ids = [r.doc_id for r in rows]
    # every key exactly once despite appearing in two micro-batches
    assert sorted(ids) == list(range(30))
    assert all(r.n_dups_prior == 0 for r in rows)


def test_watermark_finalizes_and_evicts_state(spark, tmp_path):
    """The GUARANTEED watermark semantics, verified across real
    micro-batches (append mode):

    - data within the watermark delay is never dropped (a within-delay
      late row still lands in its window),
    - a window is emitted exactly once, only after the watermark passes
      its end (append finalization),
    - finalized windows leave the state store (state stays bounded by the
      open-window count).

    Dropping of data later than the delay is deliberately NOT asserted:
    the spec guarantees only the keep-direction, and this Spark version
    aggregates beyond-delay rows into fresh state when the old window's
    state is already gone (see windowed_counts docstring)."""
    import datetime as dt
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "wm_stream"
    d.mkdir()
    base = dt.datetime(2024, 1, 1, 10, 0, 0)

    def write(name, rows):
        ts, vals = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array(list(ts), pa.timestamp("us", tz="UTC")),
                    "value": pa.array(list(vals), pa.float64()),
                }
            ),
            str(d / name),
        )

    # batch 0: five rows 10:00..10:24 → watermark after batch = 10:14
    write("f1.parquet", [(base + dt.timedelta(minutes=6 * i), 1.0) for i in range(5)])
    time.sleep(1.1)  # file source orders batches by modification time (ms)
    # batch 1: a within-delay late row (10:20 ≥ watermark 10:14 — MUST be
    # kept) and a fresh row at 12:30 that pushes the watermark past 11:00
    write(
        "f2.parquet",
        [(base + dt.timedelta(minutes=20), 1.0), (base + dt.timedelta(hours=2, minutes=30), 1.0)],
    )
    os.utime(d / "f1.parquet", (time.time() - 60, time.time() - 60))

    sdf = read_parquet_stream(spark, str(d), max_files_per_trigger=1)
    name = "wm_final"
    q = (
        windowed_counts(sdf, window="1 hour", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(f"SELECT * FROM {name}").collect()

    # multi-batch run actually happened (maxFilesPerTrigger honored)
    assert len(q.recentProgress) >= 2
    # [10:00, 11:00) finalized EXACTLY once, within-delay late row included
    tens = [r for r in got if r["win_start"] == base]
    assert len(tens) == 1 and tens[0]["n_events"] == 6
    # the still-open [12:00, 13:00) window is not emitted in append mode
    assert all(r["win_start"].hour != 12 for r in got)
    # finalized window state was evicted: only the open window remains
    assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 1


def test_stream_session_windows_match_batch_up_to_watermark(spark, sf_dir, tmp_path):
    """Streaming session windows (q72's twin): sessions finalized by the
    final committed watermark must agree EXACTLY with the batch sessions;
    later sessions are still open state, not wrong answers.  Multi-batch
    run (maxFilesPerTrigger) so the watermark actually advances between
    micro-batches."""
    import datetime as dt
    import os
    import time

    from briefly_spark.streaming import session_counts

    # Files must be roughly time-ordered (how ingest actually lands data):
    # arbitrary event-time disorder across micro-batches would exceed any
    # finite watermark and legitimately fragment sessions.  Slice events
    # into 4 time quartiles, one file each, mtime-ordered (the file source
    # orders batches by modification time).
    src = tmp_path / "events_sessions"
    src.mkdir()
    batch = load_table(spark, sf_dir, "events")
    mn, mx = batch.agg(F.min("ts"), F.max("ts")).collect()[0]
    cuts = [mn + (mx - mn) * i / 4 for i in range(5)]
    bounds = list(zip(cuts, cuts[1:]))
    for i, (a, b) in enumerate(bounds):
        part = batch.filter(
            (F.col("ts") >= a) & ((F.col("ts") <= b) if i == 3 else (F.col("ts") < b))
        )
        part.coalesce(1).write.parquet(str(src / f"slice{i}"))
        t = time.time() - 60 + i
        for root, _, files in os.walk(src / f"slice{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))

    sdf = read_parquet_stream(spark, str(src) + "/*/", max_files_per_trigger=1)
    name = "sess_stream"
    q = (
        session_counts(sdf, gap="30 minutes", watermark="1 hour", by=["user_id"])
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert len(q.recentProgress) >= 2  # watermark advanced across batches

    wm = dt.datetime.fromisoformat(
        q.lastProgress["eventTime"]["watermark"].replace("Z", "+00:00")
    ).replace(tzinfo=None)
    expected_all = {
        (r.user_id, r.session_start, r.session_end): (r.n_events, r.total_value)
        for r in session_counts(batch, gap="30 minutes", watermark="1 hour", by=["user_id"]).collect()
    }
    expected = {k: v for k, v in expected_all.items() if k[2] <= wm}
    # the finalized prefix agrees exactly and is substantial
    assert got == expected
    assert len(got) > 100
    # only still-open sessions were withheld
    assert all(k[2] > wm for k in expected_all.keys() - got.keys())


def test_streaming_summarize_twin_matches_batch_job(spark, sf_dir, tmp_path):
    """Streaming twin of the reference's core sensor loop (T1 worklist →
    summarize transform → K3 merge, sensors/article_sensors.py:35-44):
    the same summarize delta computed per micro-batch through
    merge_stream must leave the articles table identical to one
    summarize_batch run over the same work."""
    from briefly_spark.jobs import ARTICLES, ingest_documents, summarize_batch
    from briefly_spark.operators.summarize import (
        factcheck_score,
        summary_bullets,
        summary_status,
    )
    from briefly_spark.storage import Warehouse
    from briefly_spark.streaming.incremental import merge_stream, read_parquet_stream

    docs = load_table(spark, sf_dir, "documents").limit(60)

    wh_batch = Warehouse(spark, str(tmp_path / "wh_batch"))
    ingest_documents(wh_batch, docs)
    summarize_batch(wh_batch, batch_size=10_000)  # covers the whole worklist

    wh_stream = Warehouse(spark, str(tmp_path / "wh_stream"))
    ingest_documents(wh_stream, docs)
    # the stream source is the T1 worklist itself (summary missing),
    # multiple files -> multiple micro-batches under maxFilesPerTrigger
    work_dir = str(tmp_path / "summarize_work")
    (
        wh_stream.read(ARTICLES)
        .filter(F.col("summary_status").isNull())
        .repartition(4)
        .write.mode("overwrite")
        .parquet(work_dir)
    )

    def summarize_transform(batch):
        cols = [c for c in batch.columns if c not in
                ("summary", "summary_status", "validation_score")]
        return batch.select(
            *cols,
            summary_bullets(F.col("content")).alias("summary"),
            summary_status(F.col("content")).alias("summary_status"),
            factcheck_score(F.col("content")).alias("validation_score"),
        )

    merge_stream(
        read_parquet_stream(spark, work_dir, max_files_per_trigger=1),
        wh_stream,
        ARTICLES,
        ["url"],
        checkpoint=str(tmp_path / "ckpt_summarize"),
        transform=summarize_transform,
        partition_by=["source"],
    )

    def snapshot(wh):
        rows = wh.read(ARTICLES).collect()
        cols = sorted(rows[0].asDict()) if rows else []
        return sorted(tuple(str(r[c]) for c in cols) for r in rows)

    b, s = snapshot(wh_batch), snapshot(wh_stream)
    assert b and b == s
    # and the batch job now finds nothing left to do on the streamed table
    assert summarize_batch(wh_stream, batch_size=10_000).processed == 0


def test_span_dedup_stream_matches_one_shot(spark, tmp_path):
    """Streaming curation twin: monotone-id batches through the registry
    stream must reproduce the one-shot span_dedup output, and a checkpoint
    re-run must be a no-op on both tables."""
    import random
    import time

    from briefly_spark.operators.curation import span_dedup
    from briefly_spark.streaming import span_dedup_stream

    rng = random.Random(86)
    alphabet = ["a", "b", "c", "d"]
    rows = [
        (i, " ".join(rng.choice(alphabet) for _ in range(rng.randint(2, 10))))
        for i in range(24)
    ]
    all_docs = spark.createDataFrame(rows, "id long, text string")
    expect = {
        r["id"]: (r["n_spans"], r["n_kept"], r["clean_text"])
        for r in span_dedup(
            all_docs, id_col="id", text_col="text", span_tokens=2
        ).collect()
    }

    src = tmp_path / "doc_batches"
    src.mkdir()
    for j, (lo, hi) in enumerate(((0, 8), (8, 16), (16, 24))):
        spark.createDataFrame(rows[lo:hi], "id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"b{j}"))
        time.sleep(1.1)  # file source orders micro-batches by mod time

    wh = Warehouse(spark, str(tmp_path / "wh_stream_spans"))
    wh.overwrite(
        spark.createDataFrame([], "id long, n_spans long, n_kept long, clean_text string"),
        "clean_docs",
    )
    wh.overwrite(
        spark.createDataFrame([], "span string, first_key long"), "span_registry"
    )
    ckpt = str(tmp_path / "span_ckpt")
    run = lambda: span_dedup_stream(  # noqa: E731
        read_parquet_stream(spark, str(src) + "/*/", max_files_per_trigger=1),
        wh,
        clean_table="clean_docs",
        registry_table="span_registry",
        checkpoint=ckpt,
        id_col="id",
        text_col="text",
        span_tokens=2,
    )
    run()
    got = {
        r["id"]: (r["n_spans"], r["n_kept"], r["clean_text"])
        for r in wh.read("clean_docs").collect()
    }
    assert got == expect
    n_reg = wh.read("span_registry").count()
    assert n_reg == sum(v[1] for v in expect.values())

    # checkpoint re-run: nothing new → both tables unchanged
    run()
    assert wh.read("clean_docs").count() == len(expect)
    assert wh.read("span_registry").count() == n_reg


def test_substring_dedup_stream_matches_one_shot(spark, tmp_path):
    """Streaming ExactSubstr twin: monotone-id micro-batches through the
    shingle-registry stream must reproduce the one-shot keep-first
    substring dedup, and a checkpoint re-run must be a no-op."""
    import random
    import time

    from briefly_spark.operators.curation import substring_dedup_keepfirst
    from briefly_spark.streaming import substring_dedup_stream

    rng = random.Random(131)
    alphabet = ["a", "b", "c", "d", "e"]
    rows = [
        (i, " ".join(rng.choice(alphabet) for _ in range(rng.randint(2, 14))))
        for i in range(24)
    ]
    all_docs = spark.createDataFrame(rows, "id long, text string")
    cols = ("n_tokens", "n_dup_windows", "n_runs", "n_covered", "max_run_len", "clean_text")
    expect = {
        r["id"]: tuple(r[c] for c in cols)
        for r in substring_dedup_keepfirst(
            all_docs, id_col="id", text_col="text", min_tokens=3
        ).collect()
    }

    src = tmp_path / "sub_batches"
    src.mkdir()
    for j, (lo, hi) in enumerate(((0, 8), (8, 16), (16, 24))):
        spark.createDataFrame(rows[lo:hi], "id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"b{j}"))
        time.sleep(1.1)  # file source orders micro-batches by mod time

    wh = Warehouse(spark, str(tmp_path / "wh_stream_sub"))
    wh.overwrite(
        spark.createDataFrame(
            [],
            "id long, n_tokens long, n_dup_windows long, n_runs long, "
            "n_covered long, max_run_len long, clean_text string",
        ),
        "clean_docs",
    )
    wh.overwrite(
        spark.createDataFrame([], "h string, first_key long"), "sub_registry"
    )
    ckpt = str(tmp_path / "sub_ckpt")
    run = lambda: substring_dedup_stream(  # noqa: E731
        read_parquet_stream(spark, str(src) + "/*/", max_files_per_trigger=1),
        wh,
        clean_table="clean_docs",
        registry_table="sub_registry",
        checkpoint=ckpt,
        id_col="id",
        text_col="text",
        min_tokens=3,
    )
    run()
    got = {
        r["id"]: tuple(r[c] for c in cols)
        for r in wh.read("clean_docs").collect()
    }
    assert got == expect
    n_reg = wh.read("sub_registry").count()
    assert n_reg > 0

    # checkpoint re-run: nothing new → both tables unchanged
    run()
    assert wh.read("clean_docs").count() == len(expect)
    assert wh.read("sub_registry").count() == n_reg


def test_heavy_hitter_stream_matches_batch_query(spark, sf_dir, tmp_path):
    """Streaming MG accumulation over micro-batches + exact resolve must
    equal the one-shot batch heavy-hitters query on the same corpus —
    the MG merge bound is batch-boundary-independent.  A checkpointed
    re-run is a no-op (no new files), and replaying a batch REPLACES its
    entire prior contribution (merge keyed on batch_id alone), so a
    replay that partitioned differently leaves no stale candidate
    rows."""
    from briefly_spark.queries import load_registry
    from briefly_spark.storage import Warehouse
    from briefly_spark.streaming.incremental import (
        heavy_hitter_stream,
        heavy_hitters_resolve,
        read_parquet_stream,
    )

    src = tmp_path / "hh_stream"
    src.mkdir()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # three micro-batches of different sizes
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.parquet(str(src / "b1"))
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.parquet(str(src / "b2"))
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.parquet(str(src / "b3"))

    wh = Warehouse(spark, str(tmp_path / "wh_hh"))
    ckpt = str(tmp_path / "ckpt_hh")
    run = lambda: heavy_hitter_stream(  # noqa: E731
        read_parquet_stream(spark, str(src) + "/*/", max_files_per_trigger=1),
        wh,
        candidates_table="hh_cand",
        checkpoint=ckpt,
        text_col="text",
    )
    run()
    reg_rows = wh.read("hh_cand").count()
    # sentinel total equals the corpus token count
    total = (
        wh.read("hh_cand").filter(F.col("term") == "").agg(F.sum("cnt")).collect()[0][0]
    )
    n_tokens = docs.select(
        F.explode(F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != ""))
    ).count()
    assert total == n_tokens

    streamed = heavy_hitters_resolve(
        docs, wh, candidates_table="hh_cand", text_col="text", phi_den=100
    )
    batch = load_registry()["q28_heavy_hitters"].fn(spark, sf_dir)
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, batch.collect())
    )

    # checkpointed re-run: no new batches, registry unchanged
    run()
    assert wh.read("hh_cand").count() == reg_rows

    # at-least-once replay with a DIFFERENT candidate set: merging a batch
    # id that already has rows must drop every stale row of that batch,
    # not just overwrite overlapping (batch_id, term) keys
    some_batch = wh.read("hh_cand").agg(F.min("batch_id")).collect()[0][0]
    replay = spark.createDataFrame(
        [("zzz_only_term", 7, some_batch), ("", 7, some_batch)],
        "term STRING, cnt LONG, batch_id LONG",
    )
    wh.merge_upsert(replay, "hh_cand", ["batch_id"])
    after = wh.read("hh_cand").filter(F.col("batch_id") == some_batch)
    assert sorted(r.term for r in after.collect()) == ["", "zzz_only_term"]


def test_nb_counts_stream_matches_one_shot_trainer(spark, tmp_path):
    """Streaming NB model maintenance: micro-batched count partials folded
    into a (batch_id, lab, j)-keyed registry must yield EXACTLY the
    one-shot q141 trainer's confusion matrix, and a checkpoint re-run
    must leave the registry unchanged (replay-idempotence by keying)."""
    import random
    import time

    from briefly_spark.operators.classifier import (
        nb_confusion,
        nb_confusion_from_registry,
    )
    from briefly_spark.streaming.incremental import nb_counts_stream

    rng = random.Random(141)
    words = {"en": ["the", "cat", "dog", "ran"], "fr": ["le", "chat", "vite"],
             "de": ["der", "hund", "wald"]}
    rows = []
    for i in range(30):
        lab = ["en", "fr", "de"][i % 3]
        rows.append(
            (i, " ".join(rng.choice(words[lab]) for _ in range(rng.randint(1, 9))), lab)
        )
    all_docs = spark.createDataFrame(rows, "id long, text string, lab string")
    expect = {
        (r.true_lab, r.pred_lab): r.n_docs
        for r in nb_confusion(
            spark, all_docs, id_col="id", text_col="text", label_col="lab",
            n_buckets=8,
        ).collect()
    }

    src = tmp_path / "nb_batches"
    src.mkdir()
    for j, (lo, hi) in enumerate(((0, 10), (10, 20), (20, 30))):
        spark.createDataFrame(rows[lo:hi], "id long, text string, lab string").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"b{j}"))
        time.sleep(1.1)
    wh = Warehouse(spark, str(tmp_path / "wh_nb"))
    wh.overwrite(
        spark.createDataFrame([], "batch_id long, lab string, j long, x long"),
        "nb_registry",
    )
    ckpt = str(tmp_path / "nb_ckpt")
    run = lambda: nb_counts_stream(  # noqa: E731
        read_parquet_stream(spark, str(src) + "/*/", max_files_per_trigger=1),
        wh,
        registry_table="nb_registry",
        checkpoint=ckpt,
        id_col="id",
        text_col="text",
        label_col="lab",
        n_buckets=8,
    )
    run()
    reg = wh.read("nb_registry")
    n_reg = reg.count()
    got = {
        (r.true_lab, r.pred_lab): r.n_docs
        for r in nb_confusion_from_registry(
            spark, reg, all_docs, id_col="id", text_col="text", label_col="lab",
            n_buckets=8,
        ).collect()
    }
    assert got == expect
    # doc-count rows (j = -1) must total the corpus
    assert reg.filter("j = -1").groupBy().sum("x").collect()[0][0] == 30

    # checkpoint re-run: nothing new -> registry byte-stable
    run()
    assert wh.read("nb_registry").count() == n_reg


def test_audited_merge_stream_quarantines_poisoned_batch(spark, tmp_path):
    """Admission control (X116 → streaming): three micro-batches, the
    middle one poisoned (NULL key + an unknown customer fk); good batches
    merge into the live table, the poisoned batch lands WHOLE in
    quarantine, the metrics history records every batch, and a checkpoint
    re-run is a no-op."""
    import time

    from briefly_spark.operators.expectations import (
        expectation_anomalies,
        fk,
        not_null,
        unique,
    )
    from briefly_spark.streaming import audited_merge_stream

    customers = spark.createDataFrame([(1,), (2,), (3,)], "cust_id long")
    wh = Warehouse(spark, str(tmp_path / "wh_adm"))
    wh.overwrite(customers, "customers")
    wh.overwrite(
        spark.createDataFrame([], "ev_id long, cust_id long, v long"), "events_live"
    )

    src = tmp_path / "adm_batches"
    src.mkdir()
    batches = [
        [(1, 1, 10), (2, 2, 20)],                  # clean
        [(3, None, 30), (4, 99, 40), (4, 1, 41)],  # NULL key, unknown fk, dup id
        [(5, 3, 50)],                              # clean
    ]
    for j, rows in enumerate(batches):
        spark.createDataFrame(rows, "ev_id long, cust_id long, v long").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"b{j}"))
        time.sleep(1.1)  # file source orders micro-batches by mod time

    checks = [
        unique("events_live", "ev_id"),
        not_null("events_live", "cust_id"),
        fk("events_live", "cust_id", "customers", "cust_id", dim=True),
    ]
    ckpt = str(tmp_path / "adm_ckpt")
    run = lambda: audited_merge_stream(  # noqa: E731
        read_parquet_stream(spark, str(src) + "/*/", max_files_per_trigger=1),
        wh,
        "events_live",
        ["ev_id"],
        checks=checks,
        checkpoint=ckpt,
        quarantine_table="events_quarantine",
        history_table="events_audit_history",
    )
    run()
    live = {r["ev_id"] for r in wh.read("events_live").collect()}
    assert live == {1, 2, 5}  # poisoned batch kept out wholesale
    quar = wh.read("events_quarantine").collect()
    assert {r["ev_id"] for r in quar} == {3, 4}
    assert len({r["batch_id"] for r in quar}) == 1
    hist = wh.read("events_audit_history")
    assert hist.select("run_id").distinct().count() == 3  # every batch recorded
    # the history feeds anomaly detection directly
    anom = expectation_anomalies(hist, min_history=1).collect()
    assert {r["check"] for r in anom} == {c for (_, c) in
        ((r["table"], r["check"]) for r in hist.collect())}
    # checkpoint re-run: no new files -> byte-identical state everywhere
    before = {
        t: sorted(map(tuple, wh.read(t).collect()))
        for t in ("events_live", "events_quarantine", "events_audit_history")
    }
    run()
    after = {
        t: sorted(map(tuple, wh.read(t).collect()))
        for t in ("events_live", "events_quarantine", "events_audit_history")
    }
    assert after == before


def test_audited_stream_replay_verdict_pinned_and_admit_sweep(spark, tmp_path):
    """ADVICE r10 #1: fk checks against LIVE parents can flip a batch's
    verdict between an attempt and its replay.  (a) Verdict pinning: with
    a history table, the first audit is the verdict of record — a
    checkpoint-wiped replay run AFTER the missing parent appeared must
    NOT flip the quarantined batch to admission.  (b) Admit-side sweep:
    a batch admitted on (re)play clears its batch_id from the quarantine,
    so a flip the other way never leaves rows in BOTH tables."""
    import time

    from briefly_spark.operators.expectations import fk
    from briefly_spark.streaming import audited_merge_stream

    wh = Warehouse(spark, str(tmp_path / "wh_pin"))
    wh.overwrite(spark.createDataFrame([(1,)], "cust_id long"), "customers")
    wh.overwrite(
        spark.createDataFrame([], "ev_id long, cust_id long"), "events_live"
    )
    src = tmp_path / "pin_batches"
    src.mkdir()
    for j, rows in enumerate([[(1, 1)], [(2, 99)]]):  # b1: unknown fk
        spark.createDataFrame(rows, "ev_id long, cust_id long").coalesce(
            1
        ).write.mode("overwrite").parquet(str(src / f"b{j}"))
        time.sleep(1.1)
    checks = [fk("events_live", "cust_id", "customers", "cust_id", dim=True)]
    ckpt = tmp_path / "pin_ckpt"
    run = lambda: audited_merge_stream(  # noqa: E731
        read_parquet_stream(spark, str(src) + "/*/", max_files_per_trigger=1),
        wh, "events_live", ["ev_id"], checks=checks, checkpoint=str(ckpt),
        quarantine_table="q", history_table="h",
    )
    run()
    assert {r["ev_id"] for r in wh.read("events_live").collect()} == {1}
    assert {r["ev_id"] for r in wh.read("q").collect()} == {2}
    # the unknown parent appears, then the whole stream replays from
    # scratch (checkpoint wiped — same files, same batch ids)
    wh.overwrite(spark.createDataFrame([(1,), (99,)], "cust_id long"), "customers")
    shutil.rmtree(ckpt)
    run()
    # pinned: batch 1 stays quarantined even though a fresh audit would
    # now pass; live and quarantine are byte-identical to the first run
    assert {r["ev_id"] for r in wh.read("events_live").collect()} == {1}
    assert {r["ev_id"] for r in wh.read("q").collect()} == {2}
    assert wh.read("h").select("run_id").distinct().count() == 2

    # (b) admit-side sweep, no history (fresh audits every replay): a
    # batch quarantined under an OLD parent state readmits on replay and
    # must leave the quarantine
    wh2 = Warehouse(spark, str(tmp_path / "wh_sweep"))
    wh2.overwrite(spark.createDataFrame([(99,)], "cust_id long"), "customers")
    wh2.overwrite(
        spark.createDataFrame([], "ev_id long, cust_id long"), "events_live"
    )
    wh2.overwrite(  # as if batch 0 was quarantined before cust 99 existed
        spark.createDataFrame([(2, 99, 0)], "ev_id long, cust_id long, batch_id long"),
        "q",
    )
    src2 = tmp_path / "sweep_batches"
    src2.mkdir()
    spark.createDataFrame([(2, 99)], "ev_id long, cust_id long").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src2 / "b0"))
    audited_merge_stream(
        read_parquet_stream(spark, str(src2) + "/*/", max_files_per_trigger=1),
        wh2, "events_live", ["ev_id"], checks=checks,
        checkpoint=str(tmp_path / "sweep_ckpt"), quarantine_table="q",
    )
    assert {r["ev_id"] for r in wh2.read("events_live").collect()} == {2}
    assert wh2.read("q").count() == 0  # swept on admit — not in both tables


def test_requeue_quarantine_readmits_repaired_batches(spark, tmp_path):
    """The repair loop on X120's quarantine: a caller repair that drops
    unknown-fk rows makes one batch admissible (merged + removed from
    quarantine); a batch the repair cannot fix (an in-batch duplicate
    key, untouched by the fk row-drop) stays quarantined; a second
    identical run is a no-op on the already-admitted batch."""
    from briefly_spark.operators.expectations import fk, not_null, unique
    from briefly_spark.streaming.incremental import requeue_quarantine

    wh = Warehouse(spark, str(tmp_path / "wh_rq"))
    wh.overwrite(spark.createDataFrame([(1,), (2,)], "cust_id long"), "customers")
    wh.overwrite(
        spark.createDataFrame([(1, 1, 10)], "ev_id long, cust_id long, v long"),
        "events_live",
    )
    wh.overwrite(
        spark.createDataFrame(
            [
                (7, 2, 70, 4),   # batch 4: fixable — row 8 has unknown fk
                (8, 99, 80, 4),
                (9, 1, 90, 5),   # batch 5: duplicate ev_id — the fk
                (9, 2, 91, 5),   # row-drop repair cannot fix this
            ],
            "ev_id long, cust_id long, v long, batch_id long",
        ),
        "events_quarantine",
    )
    checks = [
        unique("events_live", "ev_id"),
        not_null("events_live", "cust_id"),
        fk("events_live", "cust_id", "customers", "cust_id", dim=True),
    ]
    known = wh.read("customers")
    repair = lambda df: df.join(  # noqa: E731 - drop unknown-customer rows
        known, "cust_id", "left_semi"
    )
    verdicts = requeue_quarantine(
        wh, "events_live", ["ev_id"], checks=checks,
        quarantine_table="events_quarantine", repair=repair,
    )
    assert verdicts == {4: True, 5: False}
    assert {r["ev_id"] for r in wh.read("events_live").collect()} == {1, 7}
    left = wh.read("events_quarantine").collect()
    assert sorted((r["ev_id"], r["v"], r["batch_id"]) for r in left) == [
        (9, 90, 5), (9, 91, 5)
    ]
    # idempotent second pass: batch 5 still refused, nothing else changes
    verdicts2 = requeue_quarantine(
        wh, "events_live", ["ev_id"], checks=checks,
        quarantine_table="events_quarantine", repair=repair,
    )
    assert verdicts2 == {5: False}
    assert {r["ev_id"] for r in wh.read("events_live").collect()} == {1, 7}


def test_requeue_quarantine_crash_between_merge_and_rewrite(spark, tmp_path):
    """Crash injection on X121's documented window: the process dies AFTER
    the live merge of an admitted batch but BEFORE the quarantine rewrite.
    The re-run must re-admit idempotently (keyed merge — no duplicate
    rows) and then complete the removal."""
    from briefly_spark.operators.expectations import not_null, unique
    from briefly_spark.streaming.incremental import requeue_quarantine

    class CrashingWarehouse(Warehouse):
        def __init__(self, spark, root):
            super().__init__(spark, root)
            self.crash_armed = False

        def overwrite(self, df, table, **kw):
            if self.crash_armed and table == "q":
                self.crash_armed = False
                raise RuntimeError("injected crash before quarantine rewrite")
            super().overwrite(df, table, **kw)

    wh = CrashingWarehouse(spark, str(tmp_path / "wh_crash"))
    wh.overwrite(
        spark.createDataFrame([(1, 10)], "ev_id long, v long"), "events_live"
    )
    wh.overwrite(
        spark.createDataFrame([(2, 20, 7)], "ev_id long, v long, batch_id long"), "q"
    )
    checks = [unique("events_live", "ev_id"), not_null("events_live", "v")]
    wh.crash_armed = True
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected"):
        requeue_quarantine(wh, "events_live", ["ev_id"], checks=checks,
                           quarantine_table="q")
    # crash window state: batch admitted to live, still present in quarantine
    assert {r["ev_id"] for r in wh.read("events_live").collect()} == {1, 2}
    assert wh.read("q").count() == 1
    # re-run completes: no duplicates in live, quarantine drained
    verdicts = requeue_quarantine(wh, "events_live", ["ev_id"], checks=checks,
                                  quarantine_table="q")
    assert verdicts == {7: True}
    rows = wh.read("events_live").collect()
    assert sorted((r["ev_id"], r["v"]) for r in rows) == [(1, 10), (2, 20)]
    assert wh.read("q").count() == 0


def test_registry_sinks_merge_persisted_blocks(spark, tmp_path, monkeypatch):
    """The histq, top-k and HLL sinks probe their block before merging it;
    the block must be persisted, or the probe and the merge each evaluate
    its aggregation (one micro-batch per sink)."""
    from briefly_spark.operators.histq import histq_counts_stream
    from briefly_spark.operators.sketches import hll_counts_stream, topk_stream

    src = tmp_path / "registry_src"
    spark.createDataFrame(
        [(i % 3, i, i * 7 % 10) for i in range(30)], "g long, v long, score long"
    ).coalesce(1).write.parquet(str(src / "b0"))
    seen = []
    merge_upsert = Warehouse.merge_upsert

    def recording(self, df, table, *args, **kwargs):
        seen.append((table, df.is_cached))
        return merge_upsert(self, df, table, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "merge_upsert", recording)
    wh = Warehouse(spark, str(tmp_path / "wh"))

    def source():
        return read_parquet_stream(spark, str(src) + "/*/")

    histq_counts_stream(
        source(), wh, registry_table="histq_reg", checkpoint=str(tmp_path / "c_h"),
        group_cols=["g"], value_col="v",
    )
    topk_stream(
        source(), wh, registry_table="topk_reg", checkpoint=str(tmp_path / "c_t"),
        score_col="score", id_col="v", k=5,
    )
    hll_counts_stream(
        source(), wh, registry_table="hll_reg", checkpoint=str(tmp_path / "c_l"),
        group_cols=["g"], value_col="v",
    )
    assert sorted(seen) == [
        ("histq_reg", True), ("hll_reg", True), ("topk_reg", True)
    ]
