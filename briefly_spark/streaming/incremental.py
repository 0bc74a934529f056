"""Streaming primitives: file-source streams, watermarked windows, and the
foreachBatch → idempotent-merge sink.

Scale design: a file-source stream with ``maxFilesPerTrigger`` is the T6
rate limiter; the state store holds only open windows (watermark bounds
state); and the merge sink rewrites only the target table's matched keys —
the same single-merge-per-stage discipline as the batch jobs.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from briefly_spark.catalog import normalize_event_ts
from briefly_spark.storage import Warehouse


def read_parquet_stream(
    spark: SparkSession, path: str, *, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a parquet directory.  Schema is inferred
    from the existing files via a batch read (file streams require an
    explicit schema); the events nanos→micros normalization matches
    catalog.load_table."""
    batch = spark.read.parquet(path)
    reader = spark.readStream.schema(batch.schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    sdf = reader.parquet(path)
    # Long (Spark 3.x nanosAsLong) or TIMESTAMP_NTZ (Spark 4.x) → TimestampType;
    # watermarks hard-reject NTZ, so this must happen before withWatermark.
    return normalize_event_ts(sdf)


def windowed_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
    by: list[str] | None = None,
) -> DataFrame:
    """Watermarked windowed count/sum — the streaming twin of q70/q71
    (same `window()` expression; only the watermark is stream-specific).

    Watermark contract (per the Structured Streaming spec, VERIFIED against
    this Spark version in tests/test_streaming.py): the guarantee is
    one-directional — data within ``watermark`` delay of max event time is
    NEVER dropped, and windows older than the watermark are finalized
    (append mode emits them exactly once) and their state EVICTED, so state
    size is O(open windows × groups) independent of stream length.  Data
    later than the delay is not guaranteed to be dropped: if its window's
    state was already evicted, Spark may aggregate it into fresh state
    (observed: numRowsDroppedByWatermark stays 0 for aggregations).
    Downstream consumers needing strict late-row rejection must filter
    ``ts`` explicitly or deduplicate on (window, key) at the sink merge."""
    w = F.window("ts", window, slide) if slide else F.window("ts", window)
    grouped = events.withWatermark("ts", watermark).groupBy(w, *(by or []))
    return grouped.agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.floor(F.col("value") * 100)) / 100.0).alias("total_value"),
    ).select(
        F.col("window.start").alias("win_start"),
        F.col("window.end").alias("win_end"),
        *(by or []),
        "n_events",
        "total_value",
    )


def session_counts(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    by: list[str] | None = None,
) -> DataFrame:
    """Watermarked SESSION windows — the streaming twin of q72 (identical
    ``session_window`` expression and fixed-point aggregation; only the
    watermark is stream-specific).  Session state merges as events arrive
    (adjacent sessions within ``gap`` coalesce); a session is finalized and
    emitted (append mode) once the watermark passes its end, then its
    state is evicted — state size is O(open sessions), independent of
    stream length."""
    sw = F.session_window("ts", gap)
    grouped = events.withWatermark("ts", watermark).groupBy(sw, *(by or []))
    return grouped.agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(F.floor(F.col("value") * 100)) / 100.0).alias("total_value"),
    ).select(
        *(by or []),
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "total_value",
    )


def available_now_to_memory(
    sdf: DataFrame, *, query_name: str | None = None, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming DataFrame to completion with Trigger.AvailableNow
    into a memory sink and return the result as a batch DataFrame — the
    reference's periodic sweep (T3) as one checkpointed pass."""
    name = query_name or f"q_{uuid.uuid4().hex[:8]}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.sql(f"SELECT * FROM {name}")


def run_available_now(
    source: DataFrame, sink: Callable[[DataFrame, int], None], checkpoint: str
) -> None:
    """Run ``source`` through the foreachBatch ``sink`` once and wait for it
    to finish — the trigger and checkpoint policy of every merge stream:
    ``Trigger.AvailableNow`` drains whatever arrived since the last run
    (the reference's periodic sweep), and the checkpoint at ``checkpoint``
    is the cursor that makes source progress exactly-once across runs."""
    (
        source.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def merge_block(
    wh: Warehouse, block: DataFrame, table: str, key: list[str], *,
    partition_by: list[str] | None = None,
) -> None:
    """The streaming sinks' probe-and-merge: persist ``block`` (so the
    probe and the merge share one evaluation), probe it with ONE action,
    ``merge_upsert`` it when non-empty, and always unpersist it.  The
    probe is ``take(1)`` for a flat target and, for a partitioned one, a
    groupBy-count over ``partition_by`` (the jobs layer's count phase)
    whose rows go to the merge as ``partition_rows=``."""
    block = block.persist()
    try:
        if partition_by:
            rows = block.groupBy(*partition_by).count().collect()
            if rows:
                wh.merge_upsert(
                    block, table, key,
                    partition_by=partition_by, partition_rows=rows,
                )
        elif block.take(1):
            wh.merge_upsert(block, table, key)
    finally:
        block.unpersist()


def merge_stream(
    source: DataFrame,
    wh: Warehouse,
    table: str,
    key: list[str],
    *,
    checkpoint: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Stream → idempotent keyed merge (T2's exactly-once intent without a
    partition registry): every micro-batch is optionally transformed then
    MERGEd on ``key``.  Checkpointing makes progress exactly-once at the
    source; the idempotent merge makes replays harmless at the sink —
    re-delivery of a batch leaves the table unchanged.  ``partition_by``
    passes through to the storage layer's partition-scoped merge, so each
    micro-batch rewrites only the partitions it touches."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        df = (transform(batch_df) if transform else batch_df).dropDuplicates(key)
        merge_block(wh, df, table, key, partition_by=partition_by)

    run_available_now(source, sink, checkpoint)


def audited_merge_stream(
    source: DataFrame,
    wh: Warehouse,
    table: str,
    key: list[str],
    *,
    checks: list,
    checkpoint: str,
    quarantine_table: str,
    history_table: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """Admission-controlled stream ingest — :func:`merge_stream` with a
    data-quality gate (operators/expectations.py) in front of the merge:
    every micro-batch is audited against ``checks`` BEFORE it may touch
    the live table.  A batch failing ANY check routes WHOLE to
    ``quarantine_table`` (tagged with its batch_id) instead of merging —
    the expectation-suite twin of the jobs layer's dead-letter rows (T9):
    a poisoned upstream delivery never contaminates the lake, and the
    quarantined batch stays queryable for repair + manual re-ingest.

    ``checks`` name the batch as ``table``; fk checks may reference LIVE
    warehouse tables as parents (read per batch — referential admission:
    "don't accept events for customers we don't know").  When
    ``history_table`` is set, every batch's report — admitted or
    quarantined — also records into the metrics history keyed by
    run_id = batch_id, so :func:`~briefly_spark.operators.expectations.
    expectation_anomalies` watches the ingest stream's quality drift for
    free.

    Replay safety (foreachBatch is at-least-once): the audit is a
    deterministic function of the batch for self-contained check suites —
    but fk checks against LIVE warehouse parents can flip verdicts
    between an original attempt and a crash-replay (ADVICE r10 #1: a
    parent merge may land in between).  Two mechanisms keep replays
    convergent anyway:

    - **Verdict pinning**: with ``history_table`` set, the first audit's
      per-check report is the verdict of record — a replayed batch whose
      run_id already has history rows REUSES that verdict instead of
      re-auditing, so the branch is deterministic across replays by
      construction (the admission decision is made once).
    - **Admit-side quarantine sweep**: the admit branch also clears any
      quarantine rows carrying this batch_id, so a batch quarantined
      under an earlier parent state cannot stay in BOTH the live table
      and the quarantine after a flip to admission.

    Without a history table, the admit→quarantine flip remains visible
    by design: the original merge is not unwound (later batches may have
    overwritten its rows), and the replayed batch lands in quarantine as
    a conservative flag for operator review.

    Scale: the audit adds one aggregate pass (+ one join per fk) over the
    MICRO-BATCH, not the table; the report is check-bounded; the verdict
    reuse reads only run_id-filtered history rows (check-bounded) and
    the admit-side sweep only runs when the quarantine actually holds
    the batch_id; quarantine writes are quarantine-sized."""
    from briefly_spark.operators.expectations import (
        expectation_history_merge,
        expectation_report,
    )

    spark = source.sparkSession
    parents = sorted({c.parent for c in checks if c.parent and c.parent != table})

    def _pinned_verdict(batch_id: int) -> bool | None:
        """Admission verdict recorded by a previous attempt at this
        batch_id, or None on first sight (check-bounded collect).

        The verdict is only borrowed when the prior rows' (table, check)
        identity set EQUALS this stream's configured checks — run_id alone
        is not a safe key (review r12: batch ids restart at 0 per
        checkpoint, so a shared history table would hand one stream
        another's verdict and admit an unaudited batch).  A mismatched
        block means a foreign or differently-configured writer: re-audit
        (fail-safe) rather than reuse.  The history table should still be
        EXCLUSIVE to one audited stream — group-replace on run_id makes
        sharing lossy regardless."""
        if not history_table or not wh.exists(history_table):
            return None
        prior = (
            wh.read(history_table)
            .filter(F.col("run_id") == int(batch_id))
            .select("table", "check", "n_violations")
            .collect()
        )
        if not prior:
            return None
        from briefly_spark.operators.expectations import _check_name

        want = {(c.table, _check_name(c)) for c in checks}
        got = {(r["table"], r["check"]) for r in prior}
        if got != want:
            return None
        return all(r["n_violations"] == 0 for r in prior)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        df = transform(batch_df) if transform else batch_df
        df = df.persist()
        try:
            if not df.take(1):
                return
            admitted = _pinned_verdict(batch_id)
            if admitted is None:
                tabs = {table: df, **{p: wh.read(p) for p in parents}}
                report = expectation_report(spark, tabs, checks).persist()
                try:
                    admitted = not report.filter(~F.col("passed")).take(1)
                    if history_table:
                        expectation_history_merge(
                            wh, report, history_table, run_id=batch_id
                        )
                finally:
                    report.unpersist()
            if admitted:
                wh.merge_upsert(
                    df.dropDuplicates(key), table, key, partition_by=partition_by
                )
                if wh.exists(quarantine_table):
                    quar = wh.read(quarantine_table)
                    mine = F.col("batch_id") == int(batch_id)
                    if quar.filter(mine).take(1):
                        wh.overwrite(quar.filter(~mine), quarantine_table)
            else:
                wh.merge_upsert(
                    df.withColumn(
                        "batch_id", F.lit(int(batch_id)).cast("long")
                    ),
                    quarantine_table,
                    ["batch_id"],
                )
        finally:
            df.unpersist()

    run_available_now(source, sink, checkpoint)


def scd2_stream(
    source: DataFrame,
    wh: Warehouse,
    table: str,
    key: list[str],
    *,
    checkpoint: str,
    change_cols: list[str] | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Streaming SCD2 maintenance — the ingestion twin of
    :meth:`~briefly_spark.storage.Warehouse.merge_scd2`, completing the
    batch/stream pair for versioned dimensions the way every other
    operator family has one: each micro-batch closes changed current
    rows and inserts new versions, with ``version = batch_id`` (the
    monotone epoch foreachBatch already provides — never wall clock).

    Replay safety comes from merge_scd2's own value-based change
    detection: a replayed batch at the same batch_id finds its rows
    already current and unchanged, so the merge is a byte-identical
    no-op — no extra keying needed.  Batches must be key-unique after
    ``transform`` (merge_scd2 raises otherwise — dedupe upstream or in
    the transform; an SCD2 batch with two versions of one key has no
    defined order)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # persist: the probe, the key-uniqueness check and the merge share it
        df = (transform(batch_df) if transform else batch_df).persist()
        try:
            if df.take(1):
                wh.merge_scd2(
                    df, table, key, version=int(batch_id), change_cols=change_cols
                )
        finally:
            df.unpersist()

    run_available_now(source, sink, checkpoint)


def requeue_quarantine(
    wh: Warehouse,
    table: str,
    key: list[str],
    *,
    checks: list,
    quarantine_table: str,
    repair: Callable[[DataFrame], DataFrame] | None = None,
) -> dict[int, bool]:
    """Repair-and-readmit pass over :func:`audited_merge_stream`'s
    quarantine: each quarantined batch (optionally run through the
    caller's ``repair`` transform) is re-audited against the SAME check
    suite; batches that now pass merge into the live table and leave the
    quarantine, batches that still fail stay put.  Returns
    {batch_id: admitted}.

    Readmission OVERWRITES on key (ADVICE r10 #4, explicit by design):
    the live merge is the same keyed group-replace every admitted batch
    gets, so a readmitted row replaces any live row sharing its key —
    exactly as if the batch had passed admission late.  Each batch is
    re-audited in ISOLATION: ``unique`` checks validate the batch
    against itself, not against batch ∪ live, because key collision
    with live rows is the merge's documented update path, not a
    violation.  Consequence for ``repair`` authors: a transform that
    REWRITES KEY COLUMNS can make a repaired row land on (and replace) an
    unrelated live row — keep repairs key-stable, or run them through a
    staging table when key surgery is intended.

    Crash safety: the live merge runs BEFORE the quarantine rewrite, so
    a crash between the two leaves the batch in quarantine and a re-run
    re-admits it idempotently (keyed merge) before removing it — never
    lost, never double-applied.  Driver state is the batch-id list
    (quarantine-bounded); the quarantine rewrite is quarantine-sized."""
    from briefly_spark.operators.expectations import expectation_report

    if not wh.exists(quarantine_table):
        return {}
    quar = wh.read(quarantine_table).persist()
    try:
        batch_ids = sorted(
            r["batch_id"] for r in quar.select("batch_id").distinct().collect()
        )
        spark = quar.sparkSession
        parents = sorted({c.parent for c in checks if c.parent and c.parent != table})
        verdicts: dict[int, bool] = {}
        admitted: list[int] = []
        for bid in batch_ids:
            batch = quar.filter(F.col("batch_id") == bid).drop("batch_id")
            fixed = repair(batch) if repair else batch
            tabs = {table: fixed, **{p: wh.read(p) for p in parents}}
            report = expectation_report(spark, tabs, checks)
            ok = not report.filter(~F.col("passed")).take(1)
            verdicts[int(bid)] = ok
            if ok:
                wh.merge_upsert(fixed.dropDuplicates(key), table, key)
                admitted.append(bid)
        if admitted:
            # self-derived overwrite is safe: Warehouse.overwrite is
            # write-aside + swap (the side write reads the still-live
            # table; the swap happens after it commits) — no driver
            # collect of the quarantine needed.
            wh.overwrite(
                quar.filter(~F.col("batch_id").isin(admitted)), quarantine_table
            )
        return verdicts
    finally:
        quar.unpersist()


def span_dedup_stream(
    source: DataFrame,
    wh: Warehouse,
    *,
    clean_table: str,
    registry_table: str,
    checkpoint: str,
    id_col: str,
    text_col: str,
    span_tokens: int = 8,
) -> None:
    """Streaming keep-first span dedup — the ingestion twin of the batch
    operator (operators/curation.py X50/X53): each micro-batch is trimmed
    against the persisted span registry via
    :func:`~briefly_spark.operators.curation.span_dedup_incremental`, the
    cleaned documents MERGE into ``clean_table`` and the batch's claims
    into ``registry_table``.

    Crash-replay safety (the foreachBatch at-least-once window): the clean
    merge runs BEFORE the registry delta merge, and the incremental
    operator recognizes a batch's OWN claims, so replaying a batch from
    any crash point reproduces byte-identical merges — both sinks are
    idempotent.  Keep-first follows ARRIVAL order (earlier-arriving
    content claims the span), which is the streaming contract; the batch
    equivalence to one-shot :func:`span_dedup` under monotone ids is
    pinned in tests."""
    from briefly_spark.operators.curation import span_dedup_incremental

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        clean, delta = span_dedup_incremental(
            batch_df,
            wh.read(registry_table),
            id_col=id_col,
            text_col=text_col,
            span_tokens=span_tokens,
        )
        # persist both: the probe and the merges share one evaluation
        clean = clean.persist()
        delta = delta.persist()
        try:
            # claims nonempty ⟺ kept nonempty ⟺ clean nonempty: one guard
            if clean.take(1):
                wh.merge_upsert(clean, clean_table, ["id"])
                wh.merge_upsert(delta, registry_table, ["span"])
        finally:
            clean.unpersist()
            delta.unpersist()

    run_available_now(source, sink, checkpoint)


def substring_dedup_stream(
    source: DataFrame,
    wh: Warehouse,
    *,
    clean_table: str,
    registry_table: str,
    checkpoint: str,
    id_col: str,
    text_col: str,
    min_tokens: int = 8,
) -> None:
    """Streaming ANY-length keep-first substring dedup — the ingestion
    twin of :func:`~briefly_spark.operators.curation.
    substring_dedup_keepfirst`, completing the batch ≡ incremental ≡
    stream triple for the ExactSubstr rung exactly as
    :func:`span_dedup_stream` does for fixed spans: each micro-batch is
    trimmed against the persisted SHINGLE registry via
    ``substring_dedup_incremental``, the per-doc coverage surface MERGEs
    into ``clean_table`` and the batch's shingle claims into
    ``registry_table``.

    Crash-replay safety: clean merge BEFORE registry merge + own-claim
    recognition in the incremental operator ⇒ replaying a batch from any
    crash point reproduces byte-identical merges.  Keep-first follows
    ARRIVAL order (earlier-arriving content claims the shingle); the
    equivalence to the one-shot keep-first under monotone ids is
    pytest-pinned."""
    from briefly_spark.operators.curation import substring_dedup_incremental

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        clean, delta = substring_dedup_incremental(
            batch_df,
            wh.read(registry_table),
            id_col=id_col,
            text_col=text_col,
            min_tokens=min_tokens,
        )
        # clean holds EVERY batch doc (zero-coverage docs are full
        # survivors), so the guard is on the batch, not the claims.
        # Persist both frames (delta inside merge_block): the emptiness
        # probes and the two merges would otherwise re-run the shared
        # shingle-explode + registry-join lineage up to four times per
        # micro-batch (the heavy_hitter_stream one-pass discipline).
        clean = clean.persist()
        try:
            if clean.take(1):
                wh.merge_upsert(clean, clean_table, ["id"])
                merge_block(wh, delta, registry_table, ["h"])
        finally:
            clean.unpersist()

    run_available_now(source, sink, checkpoint)


def heavy_hitter_stream(
    source: DataFrame,
    wh: Warehouse,
    *,
    candidates_table: str,
    checkpoint: str,
    text_col: str,
) -> None:
    """Streaming heavy-hitter candidate accumulation — the ingestion twin
    of the batch q28 (operators/frequency.py): each micro-batch runs the
    bounded Misra–Gries pass and MERGEs its summary (plus a
    total-token sentinel row, term='') into a persisted candidates table.

    Replay safety (foreachBatch is at-least-once): the merge keys on
    ``batch_id`` ALONE, so re-delivering a batch replaces its ENTIRE
    prior contribution — stale (batch_id, term) rows from a replay that
    partitioned differently (and so surfaced different MG candidates)
    are dropped, not merely overwritten per key.  The MG merge bound
    survives batching: every token belongs to
    exactly one partition of one batch, so the accumulated undercount
    stays ≤ N/k over the whole stream and the candidate set remains a
    superset of every φ-heavy term, whatever the batch boundaries.  The
    table holds ≤ (k+1)·partitions rows per batch — compaction
    (Warehouse.compact) applies when batches pile up."""
    from briefly_spark.operators.frequency import mg_partition
    from briefly_spark.operators.search import tokens_of

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        terms = batch_df.select(
            F.explode(tokens_of(F.col(text_col))).alias("term")
        )
        summary = (
            terms.mapInPandas(mg_partition, schema="term string, cnt long")
            .withColumn("term", F.coalesce(F.col("term"), F.lit("")))
            .groupBy("term")
            .agg(F.sum("cnt").alias("cnt"))
            .withColumn("batch_id", F.lit(batch_id))
        )
        merge_block(wh, summary, candidates_table, ["batch_id"])

    run_available_now(source, sink, checkpoint)


def heavy_hitters_resolve(
    corpus: DataFrame,
    wh: Warehouse,
    *,
    candidates_table: str,
    text_col: str,
    phi_den: int = 100,
) -> DataFrame:
    """Exact heavy hitters from the streamed candidate registry: restrict
    an exact counting pass over ``corpus`` to the accumulated candidate
    terms (broadcast semi-join — never a full-vocabulary shuffle) and
    threshold on the sentinel-row total.  Returns (term, freq), identical
    to the one-shot batch query when the stream processed the same
    corpus."""
    from briefly_spark.operators.search import tokens_of

    reg = wh.read(candidates_table)
    candidates = reg.filter(F.col("term") != "").select("term").distinct()
    total = reg.filter(F.col("term") == "").agg(F.sum("cnt").alias("total"))
    terms = corpus.select(F.explode(tokens_of(F.col(text_col))).alias("term"))
    return (
        terms.join(F.broadcast(candidates), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("freq") * phi_den >= F.col("total"))
        .select("term", "freq")
    )


def nb_counts_stream(
    source: DataFrame,
    wh: Warehouse,
    *,
    registry_table: str,
    checkpoint: str,
    id_col: str,
    text_col: str,
    label_col: str,
    n_buckets: int = 32,
) -> None:
    """Streaming Naive-Bayes model maintenance — the ingestion twin of the
    q141 one-shot trainer: each micro-batch's ADDITIVE count partials
    (operators/classifier.nb_batch_counts) merge into a registry table
    whose rows are identified by (batch_id, lab, j), so the live model is
    always ``nb_confusion_from_registry`` over the table — no retrain-
    from-scratch as the corpus grows.  Note the merge itself deliberately
    group-replaces on batch_id ALONE (not the full row identity) — see
    the replay-safety paragraph below.

    Crash-replay safety is BY KEYING (the q120 heavy-hitter discipline):
    the merge keys on batch_id ALONE, so replaying micro-batch k REPLACES
    its entire prior contribution (group-replace) — counts never double,
    and rows a differently-composed replay no longer produces cannot
    linger.  The batch ≡ fold ≡ stream equivalence is pytest-pinned
    against the one-shot trainer."""
    from briefly_spark.operators.classifier import nb_batch_counts

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        delta = nb_batch_counts(
            batch_df,
            id_col=id_col,
            text_col=text_col,
            label_col=label_col,
            n_buckets=n_buckets,
            batch_id=batch_id,
        )
        # batch_id ALONE: the group-replace contract (storage.py) makes a
        # replayed micro-batch replace its ENTIRE prior contribution — a
        # (batch_id, lab, j) key would let stale rows whose keys the
        # replay no longer produces survive and corrupt the count sums
        merge_block(wh, delta, registry_table, ["batch_id"])

    run_available_now(source, sink, checkpoint)


def neardup_stream(
    source: DataFrame,
    wh: Warehouse,
    *,
    clean_table: str,
    band_table: str,
    sig_table: str,
    rejects_table: str,
    checkpoint: str,
    id_col: str,
    text_col: str,
    n: int = 3,
    k: int = 8,
    bands: int = 4,
    min_agree: int = 6,
    materialize: str = "local_checkpoint",
) -> None:
    """Streaming near-dup admission (X145) — the MinHash twin of
    span_dedup_stream: each micro-batch is admitted against the persisted
    band/signature registries via
    :func:`~briefly_spark.operators.dedup.neardup_incremental`; admitted
    docs MERGE into ``clean_table``, verdicts into ``rejects_table``, and
    the batch's bands/signatures into the registries keyed on batch_id
    (group-replace).

    Crash-replay safety (the foreachBatch at-least-once window): admitted
    docs never verify against each other, so a replay that sees its own
    already-merged registry block reproduces byte-identical verdicts (the
    operator's ``old_id != id`` self-guard); every sink is an idempotent
    keyed merge.  Arrival order is SEMANTIC (earlier batches claim
    content) — the contract of any online dedup; the pure-Python
    simulator equivalence is pinned in tests.

    First use needs no pre-seeded registries (ADVICE r12 #4: the sink
    used to fail with a path-not-found unless the caller seeded empty
    band/sig tables): an absent registry reads as an EMPTY frame of the
    registry schema, and the first merge creates the table.

    ``materialize`` is forwarded to the admission operator's internal
    boundary (ADVICE r13): the ``"local_checkpoint"`` default is fastest
    but an executor loss mid-batch fails the stream query (non-replicated
    blocks, truncated lineage — availableNow restarts cleanly from the
    checkpoint, replay is byte-identical); pass ``"persist"`` for
    production-style long drains where executor loss during the
    admission COMPUTATION recomputes instead of failing.  Scope of that
    protection (review r14): once the four outputs are re-bounded for
    the merge phase, the re-bind is necessarily a lineage CUT
    (localCheckpoint — lineage kept across the merge would recompute
    from registry files the merge itself replaces), so an executor loss
    during the merges still fails the batch; those frames are
    micro-batch-sized, and the availableNow restart replays the batch
    idempotently.  The operator's persisted internals are unpersisted
    after the re-bind, so a long drain does not accumulate cache
    entries."""
    from briefly_spark.operators.dedup import neardup_incremental

    def _read_or_empty(table: str, schema: str) -> DataFrame:
        if wh.exists(table):
            return wh.read(table)
        return wh.spark.createDataFrame([], schema)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        id_type = dict(batch_df.dtypes).get(id_col, "bigint")
        to_release: list = []
        admitted, band_delta, sig_delta, rejects = neardup_incremental(
            batch_df,
            _read_or_empty(
                band_table,
                f"batch_id BIGINT, band INT, key STRING, id {id_type}",
            ),
            _read_or_empty(
                sig_table, f"batch_id BIGINT, id {id_type}, sig ARRAY<STRING>"
            ),
            id_col=id_col,
            text_col=text_col,
            batch_id=batch_id,
            n=n,
            k=k,
            bands=bands,
            min_agree=min_agree,
            materialize=materialize,
            persisted_out=to_release,
        )
        # Materialize ALL four frames before the first registry merge: the
        # deltas' lineage reads the registry files a prior merge in this
        # very sink replaces (FILE_NOT_EXIST otherwise); every frame is
        # micro-batch-sized by construction.  This re-bind is a lineage
        # CUT by requirement, regardless of ``materialize`` (see the
        # docstring's scope note).  The unpersist lives in finally: a
        # batch that dies mid-checkpoint/merge must not leak its cached
        # internals across availableNow restart attempts (review r14
        # pass 2).
        try:
            admitted = admitted.localCheckpoint(eager=True)
            band_delta = band_delta.localCheckpoint(eager=True)
            sig_delta = sig_delta.localCheckpoint(eager=True)
            rejects = rejects.localCheckpoint(eager=True)
            if admitted.take(1):
                wh.merge_upsert(admitted, clean_table, [id_col])
                wh.merge_upsert(band_delta, band_table, ["batch_id"])
                wh.merge_upsert(sig_delta, sig_table, ["batch_id"])
            if rejects.take(1):
                wh.merge_upsert(rejects, rejects_table, ["id"])
        finally:
            for f in to_release:
                f.unpersist()

    run_available_now(source, sink, checkpoint)
