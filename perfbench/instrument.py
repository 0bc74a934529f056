"""Wrap the engine's public layer entry points in tracer spans.

Everything is patched from outside, on the objects the engine resolves at
call time: the stage functions and ``stream_ingest`` on the
``briefly_spark.jobs`` module (the drain loop and the sensor cycle look
them up as module globals) and the ``Warehouse`` methods on the class.
The drain loop also builds the next stage's work list ahead of time on a
prefetch thread; the module-level builders it calls there are spanned as
``jobs.<stage>.worklist``, so that work counts towards its stage.
Registered queries are spanned by the harness around the query function
AND the action that runs it, because a query function only builds a lazy
DataFrame.  :func:`install` returns the undo.
"""

from __future__ import annotations

import functools
import time

from perfbench.tracer import Tracer

STAGES = ("ingest", "curate", "summarize", "tts", "embed", "relate")
_STAGE_FNS = {
    "ingest": "ingest_documents",
    "curate": "curate_batch",
    "summarize": "summarize_batch",
    "tts": "tts_batch",
    "embed": "embed_batch",
    "relate": "relate_batch",
}
MERGE_METHODS = ("merge_upsert", "merge_update", "overwrite")
#: suffix of the spans of a stage's work list built off the stage call
WORKLIST = ".worklist"
#: lazy work-list builders, keyed by the stage that consumes them; the
#: drain loop materializes their frames with ``_materialize``
_LAZY_WORKLISTS = {"summarize": "_summarize_delta", "embed": "_embed_delta"}


def _wrap(tracer: Tracer, name: str, fn, after=None):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name) as s:
            out = fn(*args, **kwargs)
            if after is not None:
                after(s, out)
            return out

    return traced


def _merge_wrapper(tracer: Tracer, fn):
    """A merge span that also records the bytes of the data files the call
    added to its table (new file paths; a swap writes fresh part names)."""

    @functools.wraps(fn)
    def traced(wh, df, table, *args, **kwargs):
        t0 = time.perf_counter()
        before = dict(wh.table_files(table)) if wh.exists(table) else {}
        walked = time.perf_counter() - t0
        with tracer.span("storage.merge") as s:
            out = fn(wh, df, table, *args, **kwargs)
        t1 = time.perf_counter()
        s.attrs["bytes_written"] = sum(b for f, b in wh.table_files(table) if f not in before)
        tracer.add_overhead(walked + time.perf_counter() - t1)
        return out

    return traced


class _StreamRuns:
    """Collects the run ids of streaming queries as they start: a stream's
    own jobs run under its run id as their job group."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        runs = self.runs = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                runs.append(str(event.runId))

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def install(tracer: Tracer, spark):
    from briefly_spark import jobs
    from briefly_spark.storage import Warehouse

    undo: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def rows(s, result):
        s.attrs["rows"] = result.processed

    for stage, fn_name in _STAGE_FNS.items():
        patch(jobs, fn_name, _wrap(tracer, f"jobs.{stage}", getattr(jobs, fn_name), rows))

    def rounds(s, results):
        s.attrs["rounds"] = len(results) // 5

    patch(jobs, "run_until_drained", _wrap(tracer, "jobs.drain", jobs.run_until_drained, rounds))

    # the lazy builders only plan a frame; its jobs run where the frame is
    # materialized, so the frame is tagged with its stage and the
    # materialization spanned under that stage's name
    planned: dict[int, tuple[object, str]] = {}

    def tagging(stage, fn):
        @functools.wraps(fn)
        def tagged(*args, **kwargs):
            df = fn(*args, **kwargs)
            planned[id(df)] = (df, stage)
            return df

        return tagged

    for stage, fn_name in _LAZY_WORKLISTS.items():
        patch(jobs, fn_name, tagging(stage, getattr(jobs, fn_name)))
    materialize = jobs._materialize

    @functools.wraps(materialize)
    def traced_materialize(batch, *args, **kwargs):
        tag = planned.pop(id(batch), None)
        if tag is None:
            return materialize(batch, *args, **kwargs)
        with tracer.span(f"jobs.{tag[1]}{WORKLIST}"):
            return materialize(batch, *args, **kwargs)

    patch(jobs, "_materialize", traced_materialize)
    patch(
        jobs,
        "_curate_work_materialized",
        _wrap(tracer, f"jobs.curate{WORKLIST}", jobs._curate_work_materialized),
    )
    patch(jobs, "sensor_cycle", _wrap(tracer, "jobs.cycle", jobs.sensor_cycle))

    streams = _StreamRuns()
    spark.streams.addListener(streams.listener)
    sc = spark.sparkContext
    stream_ingest = jobs.stream_ingest

    @functools.wraps(stream_ingest)
    def traced_stream_ingest(*args, **kwargs):
        with tracer.span("streaming.ingest") as s:
            seen = len(streams.runs)
            try:
                return stream_ingest(*args, **kwargs)
            finally:
                tracker = sc.statusTracker()
                s.attrs["stream_jobs"] = sum(
                    len(tracker.getJobIdsForGroup(r)) for r in streams.runs[seen:]
                )

    patch(jobs, "stream_ingest", traced_stream_ingest)

    for m in MERGE_METHODS:
        patch(Warehouse, m, _merge_wrapper(tracer, getattr(Warehouse, m)))
    patch(Warehouse, "read", _wrap(tracer, "storage.read", Warehouse.read))

    def uninstall():
        for owner, attr, old in reversed(undo):
            setattr(owner, attr, old)
        planned.clear()
        spark.streams.removeListener(streams.listener)

    return uninstall
