"""Pipelined drain (r16 optimization, guide §2.6) — the overlapped
prefetch of the three column-disjoint successor batches must be
invisible: same per-round JobResults, same final table state as the
plain sequential stage loop, and a prefetch failure must degrade to the
sequential recompute, never to a different batch.
"""

from __future__ import annotations

import threading
import time
import uuid

import pytest
from pyspark import InheritableThread
from pyspark.sql import functions as F

import briefly_spark.jobs as J
from briefly_spark.catalog import load_table
from briefly_spark.storage import Warehouse

SF = "/root/testdata/sf0.001"

#: timestamp column is current_timestamp() — schedule-identical but not
#: clock-identical between two drains
_TS = "related_ids_updated_at"


def _drain_sequential(wh, batch_size, max_rounds=100):
    """The pre-r16 drain loop, verbatim: five sequential stages per round,
    stop when every stage under-fills."""
    results = []
    for _ in range(max_rounds):
        rr = [
            J.curate_batch(wh, batch_size),
            J.summarize_batch(wh, batch_size),
            J.tts_batch(wh, batch_size),
            J.embed_batch(wh, batch_size),
            J.relate_batch(wh, batch_size=batch_size),
        ]
        results.extend(rr)
        if all(r.processed < batch_size for r in rr):
            break
    return results


def _final_state(wh):
    arts = (
        wh.read(J.ARTICLES)
        .drop(_TS)
        .orderBy("url")
        .collect()
    )
    emb = wh.read(J.EMBEDDINGS).orderBy("url").collect()
    return arts, emb


def _ingest(spark, tmp_path, name):
    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") % 5 == 0)
    wh = Warehouse(spark, str(tmp_path / name))
    J.ingest_documents(wh, docs)
    return wh


def _cached_ids(sc):
    return {
        rdd_info.id()
        for rdd_info in sc._jsc.sc().getRDDStorageInfo()
        if rdd_info.numCachedPartitions() > 0
    }


def _leaked(sc, before):
    """RDDs cached now that were not cached at ``before``; unpersist is
    async, so poll up to ~5 s for them to go."""
    leaked = set()
    for _ in range(50):
        leaked = _cached_ids(sc) - before
        if not leaked:
            break
        time.sleep(0.1)
    return leaked


def test_pipelined_drain_matches_sequential(spark, tmp_path):
    wh_p = _ingest(spark, tmp_path, "wh_pipelined")
    wh_s = _ingest(spark, tmp_path, "wh_sequential")
    n = wh_p.table_rows(J.ARTICLES)
    batch = max(1, n // 2 + 1)  # the q128 shape: 2 rounds, second under-fills
    rp = J.run_until_drained(wh_p, batch_size=batch)
    rs = _drain_sequential(wh_s, batch_size=batch)
    assert [(r.job, r.processed) for r in rp] == [
        (r.job, r.processed) for r in rs
    ], "pipelining changed batch composition"
    ap, ep = _final_state(wh_p)
    as_, es = _final_state(wh_s)
    assert ap == as_, "articles fixed point differs under pipelining"
    assert ep == es, "embeddings fixed point differs under pipelining"


def test_prefetch_failure_degrades_to_sequential(spark, tmp_path, monkeypatch):
    """A prefetch thread that dies (any reason) must leave the drain
    correct: _Prefetch.take() returns None and the stage recomputes its
    batch synchronously — same rows by the work-lists' total order."""
    wh_f = _ingest(spark, tmp_path, "wh_failing")
    wh_s = _ingest(spark, tmp_path, "wh_reference")
    n = wh_f.table_rows(J.ARTICLES)
    batch = max(1, n // 2 + 1)

    real = J._materialize

    def exploding(*a, **kw):  # the summarize/embed prefetches die mid-flight
        raise RuntimeError("prefetch thread killed (test)")

    monkeypatch.setattr(J, "_materialize", exploding)
    try:
        rf = J.run_until_drained(wh_f, batch_size=batch)
    finally:
        monkeypatch.setattr(J, "_materialize", real)
    rs = _drain_sequential(wh_s, batch_size=batch)
    assert [(r.job, r.processed) for r in rf] == [
        (r.job, r.processed) for r in rs
    ]
    assert _final_state(wh_f) == _final_state(wh_s)


def test_prefetch_discard_on_convergence(spark, tmp_path):
    """A one-round drain leaves an unconsumed next-round curate prefetch;
    run_until_drained must discard (unpersist) it, not leak it."""
    wh = _ingest(spark, tmp_path, "wh_oneround")
    n = wh.table_rows(J.ARTICLES)
    sc = wh.spark.sparkContext
    before = _cached_ids(sc)  # the session is shared — diff, don't assert empty
    J.run_until_drained(wh, batch_size=n + 10)  # everything in round 1
    leaked = _leaked(sc, before)
    assert not leaked, f"persisted batches leaked past the drain: {leaked}"


def test_stage_failure_discards_pending_prefetch(spark, tmp_path, monkeypatch):
    """A stage that raises mid-round must not strand the prefetch started
    for a later stage: tts raising leaves embed's batch materializing on
    its thread, and run_until_drained must join and unpersist it while the
    error propagates."""
    wh = _ingest(spark, tmp_path, "wh_tts_fails")
    n = wh.table_rows(J.ARTICLES)
    sc = wh.spark.sparkContext

    def failing(*a, **kw):
        raise RuntimeError("tts failed (test)")

    monkeypatch.setattr(J, "tts_batch", failing)
    before = _cached_ids(sc)
    threads = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="tts failed"):
        J.run_until_drained(wh, batch_size=n // 2 + 1)
    # let a stranded prefetch finish caching its batch before looking
    for t in set(threading.enumerate()) - threads:
        if isinstance(t, InheritableThread):
            t.join(timeout=120)
            assert not t.is_alive(), "prefetch thread still running"
    leaked = _leaked(sc, before)
    assert not leaked, f"a failed drain leaked persisted batches: {leaked}"


#: Spark jobs of one two-round drain of the ``_ingest`` slice, prefetch
#: threads included (local[4]); lower it when a change removes actions
DRAIN_SPARK_JOBS = 155


def test_drain_spark_job_count(spark, tmp_path):
    """Pin the Spark actions a drain runs: a refactor that adds one shows
    here.  The drain runs under its own job group, which the prefetch
    threads inherit (``InheritableThread``), so their jobs count too."""
    wh = _ingest(spark, tmp_path, "wh_jobcount")
    n = wh.table_rows(J.ARTICLES)
    sc = spark.sparkContext
    group = f"drain-job-count-{uuid.uuid4().hex[:8]}"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        J.run_until_drained(wh, batch_size=n // 2 + 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    # job-start events reach the status tracker through the async
    # listener bus — read until the count holds still
    counts = [-1]
    for _ in range(50):
        counts.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        if counts[-1] == counts[-2]:
            break
        time.sleep(0.1)
    assert 0 < counts[-1] <= DRAIN_SPARK_JOBS, counts[-1]
