"""Self-tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import threading

import pytest

from perfbench import corpus
from perfbench.tracer import LocalProps, Span, Tracer, self_times
from perfbench.workloads import fingerprint, layer_metrics, percentile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- generated inputs --------------------------------------------------------
def _write(tmp, seed: int) -> bytes:
    path = os.path.join(tmp, f"docs-{seed}.parquet")
    corpus.write_parquet(corpus.Corpus(seed).take(300), corpus.DOC_SCHEMA, path)
    with open(path, "rb") as fh:
        return fh.read()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    assert _write(str(a), 11) == _write(str(b), 11)
    assert _write(str(a), 11) != _write(str(a), 12)
    events = [corpus.make_events(5, 100) for _ in range(2)]
    assert events[0] == events[1]
    emb = [corpus.make_embeddings(5, 20) for _ in range(2)]
    assert emb[0] == emb[1] != corpus.make_embeddings(6, 20)
    assert all(len(r["embedding"]) == corpus.EMBED_DIMS for r in emb[0])


def test_corpus_shape():
    rows = corpus.Corpus(3).take(2000)
    lengths = [r["n_chars"] for r in rows]
    assert all(r["n_chars"] == len(r["text"]) for r in rows)
    assert corpus.MIN_CHARS <= min(lengths) and max(lengths) <= corpus.MAX_CHARS
    assert len({r["source"] for r in rows}) == corpus.N_SOURCES
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(set(ids)) and all(i % corpus.DOC_ID_STEP == 0 for i in ids)
    # about one document in ten opens with the shared boilerplate span
    opener = " ".join(rows[0]["text"].split()[: corpus.BOILERPLATE_TOKENS])
    heads = {}
    for r in rows:
        head = " ".join(r["text"].split()[: corpus.BOILERPLATE_TOKENS])
        heads[head] = heads.get(head, 0) + 1
    top = max(heads.values())
    assert 0.07 * len(rows) < top < 0.13 * len(rows), opener
    # Zipf-like: the most frequent word is far more common than the median
    counts: dict[str, int] = {}
    for r in rows:
        for w in r["text"].split():
            counts[w] = counts.get(w, 0) + 1
    freq = sorted(counts.values(), reverse=True)
    assert freq[0] > 20 * freq[len(freq) // 2]


def test_landing_write_leaves_no_partial_file(tmp_path):
    path = tmp_path / "land" / "batch-00001.parquet"
    size = corpus.write_parquet(corpus.Corpus(1).take(5), corpus.DOC_SCHEMA, str(path))
    assert os.listdir(tmp_path / "land") == ["batch-00001.parquet"]
    assert size == path.stat().st_size > 0


# -- self-time arithmetic ----------------------------------------------------
def test_self_time_nested():
    spans = [
        Span(1, "root", None, None, 0.0, 10.0),
        Span(2, "child", 1, None, 1.0, 4.0),
        Span(3, "grandchild", 2, None, 2.0, 3.0),
        Span(4, "child", 1, None, 6.0, 7.5),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - 3.0 - 1.5)
    assert own[2] == pytest.approx(3.0 - 1.0)
    assert own[3] == pytest.approx(1.0)
    assert own[4] == pytest.approx(1.5)


def test_self_time_cross_thread_children_overlap_and_outlive_parent():
    # two children on other threads overlap each other, one ends after
    # its parent: only the union inside the parent's interval is removed
    spans = [
        Span(1, "drain", None, None, 0.0, 10.0),
        Span(2, "prefetch", 1, None, 2.0, 6.0),
        Span(3, "stage", 1, None, 4.0, 8.0),
        Span(4, "late", 1, None, 9.0, 12.0),
    ]
    own = self_times(spans)
    assert own[1] == pytest.approx(10.0 - (8.0 - 2.0) - (10.0 - 9.0))
    assert own[4] == pytest.approx(3.0)


def test_tracer_follows_threads_through_inherited_properties():
    """A thread that copies its starter's local properties when it starts
    (as pyspark.InheritableThread does) parents its spans correctly."""
    props = LocalProps()
    tracer = Tracer(props)
    seen = {}

    with tracer.span("drain") as drain:
        snap = props.snapshot()

        def worker():
            props.adopt(snap)
            with tracer.span("prefetch") as s:
                seen["prefetch"] = s.parent
                with tracer.span("read") as r:
                    seen["read"] = r.parent

        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
        with tracer.span("stage") as stage:
            pass
    assert seen["prefetch"] == drain.id
    by_name = {s.name: s for s in tracer.spans}
    assert seen["read"] == by_name["prefetch"].id
    assert stage.parent == drain.id
    assert props.get("spark.jobGroup.id") is None  # restored after the root


def test_tracer_adopts_an_open_span_for_unknown_threads():
    tracer = Tracer(LocalProps())
    with tracer.span("cycle") as cycle:
        out = {}

        def callback():  # no inherited properties, e.g. a streaming sink
            with tracer.span("merge") as m:
                out["parent"] = m.parent

        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=10)
    assert out["parent"] == cycle.id


# -- metrics and reporting ---------------------------------------------------
def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_well_formed_and_unique():
    b = _benchmark()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    for n in names + [w["name"] for w in b["workloads"]]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n), n


def test_layer_metrics_cover_the_declared_per_layer_metrics():
    details = {
        "session_start_s": 1.0,
        "warmup_s": 2.0,
        "stored_bytes_per_input_byte": 0.0,
        "warehouse_files": 0,
        "samples": 0,
        "steal_pct": 0.0,
    }
    m = layer_metrics(Tracer(LocalProps()), details, 0)
    assert set(m) == {x["name"] for x in _benchmark()["per_layer"]}


def test_stage_figures_include_work_lists_built_on_prefetch_threads():
    tracer = Tracer(LocalProps())
    tracer.spans = [
        Span(1, "jobs.drain", None, None, 0.0, 10.0, jobs=1),
        # summarize's batch, prefetched while curate runs
        Span(2, "jobs.summarize.worklist", 1, None, 1.0, 3.0, jobs=2),
        Span(3, "jobs.curate", 1, None, 1.0, 4.0, jobs=3, attrs={"rows": 5}),
        # curate's own work list, built inside the stage call
        Span(4, "jobs.curate.worklist", 3, None, 1.5, 2.0, jobs=4),
        Span(5, "storage.merge", 3, None, 2.5, 3.5, jobs=5),
        Span(6, "jobs.summarize", 1, None, 4.0, 6.0, jobs=6, attrs={"rows": 5}),
        # next round's curate batch, prefetched
        Span(7, "jobs.curate.worklist", 1, None, 6.0, 9.0, jobs=7),
    ]
    details = {
        "session_start_s": 0.0, "warmup_s": 0.0, "stored_bytes_per_input_byte": 0.0,
        "warehouse_files": 0, "samples": 2, "steal_pct": 0.0,
    }
    m = layer_metrics(tracer, details, 100)
    assert m["jobs.curate.calls"] == 0.5  # per operation, two operations
    assert m["jobs.curate.spark_jobs"] == (3 + 4 + 5 + 7) / 2
    assert m["jobs.curate.self_s"] == pytest.approx(((3.0 - 0.5 - 1.0) + 0.5 + 3.0) / 2)
    assert m["jobs.summarize.spark_jobs"] == (2 + 6) / 2
    assert m["jobs.summarize.self_s"] == pytest.approx((2.0 + 2.0) / 2)
    assert m["jobs.empty_call_ratio"] == 0.0


def test_percentile_is_nearest_rank():
    xs = list(range(1, 201))
    assert percentile(xs, 0.95) == 190  # ten samples lie above it
    assert percentile(xs, 0.5) == 100
    assert percentile([7.0], 0.95) == 7.0


def test_fingerprint_ignores_row_and_column_order():
    a = fingerprint(["b", "a"], [(1, "x"), (2, None)])
    b = fingerprint(["a", "b"], [(None, 2), ("x", 1)])
    assert a == b
    assert fingerprint(["a"], [(1.0,)]) == fingerprint(["a"], [(1,)])
    assert fingerprint(["a"], [(1,)]) != fingerprint(["a"], [(2,)])
