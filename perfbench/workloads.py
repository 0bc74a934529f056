"""The benchmark's workloads.

Each workload is a sequence of operations a user waits for, measured after
a set-up that starts Spark and warms the paths the operations take:

- ``backfill``: one operation, a burst of documents ingested into an empty
  warehouse with ``jobs.ingest_documents`` and drained with large batches.
  Per-document work dominates.
- ``trickle``: batches of 25 documents land as parquet files, one at a
  time, in a drained base warehouse; each landing is followed by one
  ``jobs.sensor_cycle``.  One operation per batch, from its landing until
  the cycle that gives its articles ``related_ids`` returns.  Fixed
  per-stage cost dominates.
- ``serve``: one closed-loop reader over the warehouse the pipeline left
  behind.  Article pages (point read by url, then hydrate its
  ``related_ids``) and source feed pages (the 20 newest rows of one
  source partition), read through the ``Warehouse``.
- ``analytics``: repeated report refreshes, each running a fixed mix of
  registered queries over seeded documents, reader events and
  embeddings.

Every operation is checked: ingest operations by the articles they must
fill and, at the end, by the whole warehouse against the registry's
one-shot DuckDB restatement of the jobs DAG; requests by the rows they
must return; queries by their DuckDB oracle.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import random
import statistics
import sys
import time
import traceback

from perfbench import corpus
from perfbench.hostinfo import cpu_ticks, load_avg, steal_pct, vm_hwm_mb
from perfbench.instrument import STAGES, WORKLIST, install
from perfbench.tracer import SparkProps, Tracer, self_times

WORKLOADS = ("backfill", "trickle", "serve", "analytics")

#: documents in the base warehouse (trickle, serve) or the warm-up
#: warehouse (backfill), built through the same ingest path the measured
#: operations take, so that path is warm before anything is timed
BASE_DOCS = 120
#: backfill: documents per second of ``--seconds``, drained with batches
#: of BURST_BATCH rows per stage call
BURST_DOCS_PER_S = 30
BURST_BATCH = 500
#: trickle: a batch of TRICKLE_DOCS documents per sensor cycle; a cycle
#: takes at most TRICKLE_TICK_LIMIT rows per stage (the reference's 10-50
#: per-tick limits).  The reference's sensors tick every 60-300 s, several
#: times the cycle time measured here (12-13 s on a 4-core host), so
#: at its cadence a batch never waits for an earlier cycle; the next batch
#: therefore lands as soon as the previous cycle returns, which leaves out
#: the idle time between ticks and changes no batch's freshness
TRICKLE_DOCS = 25
TRICKLE_TICK_LIMIT = 50
#: trickle and analytics repeat their operation until ``--seconds`` have
#: passed, and at least this often, so the median is of several samples
MIN_OPS = 3
#: serve: requests per run (enough for ten samples above the 95th
#: percentile) and the share of them that are article pages
SERVE_REQUESTS = 200
ARTICLE_SHARE = 0.5
FEED_ROWS = 20
#: analytics: the row counts of the reference's sf0.01 tables (a tenth of
#: sf0.1's 5,000 documents and 100,000 events; sf0.1 has 2,000 embeddings)
ANALYTICS_DOCS = 500
EVENTS = 10_000
EMBEDDINGS = 500
#: one query per non-pipeline operator family the time budget allows:
#: related-article top-k, lexical search, language model, event-time
#: windows.  Warm on a 4-core host they take about 1.2-1.8 s each; the
#: dedup family (q30_exact_dedup 1.4 s, q37_dup_clusters 7 s) and
#: q42_lsh_ann (4.6 s) and q87_curation_funnel (2.3 s) would not fit a
#: run's budget beside the trickle workload
QUERY_MIX = (
    "q41_related_articles",
    "q47_bm25_search",
    "q48_lm_perplexity",
    "q70_tumbling_window",
)
JOBS_DAG_QUERY = "q128_jobs_dag_resolve"


class _NoTrace:
    """Stands in for a Tracer in untraced runs."""

    op = None

    def span(self, name):
        return contextlib.nullcontext()


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 1]."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


# ---------------------------------------------------------------------------
# result digests: order-insensitive, the rule the registry's oracle gate uses
# ---------------------------------------------------------------------------
def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(cols: list[str], rows: list[tuple]) -> tuple[int, list[str], str]:
    """(row count, sorted column names, hash of the sorted rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), [cols[i] for i in order], h


def _oracle_digest(con, sql: str) -> tuple[int, list[str], str]:
    res = con.execute(sql)
    return fingerprint([c[0] for c in res.description], res.fetchall())


def _urls(rows: list[dict]) -> list[str]:
    return [f"https://ex/{r['doc_id']}" for r in rows]


class Run:
    """One run of one workload, with everything it writes under ``work``."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        if workload not in WORKLOADS:
            raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.land = os.path.join(work, "landing")
        self.catalog = os.path.join(work, "catalog")
        self.tracer = _NoTrace()
        self.ops: list[list] = []  # [kind, ok] per operation attempted
        self.waits: list[float] = []  # per operation: arrival -> done
        self.details: dict = {}
        self.wh = None  # the warehouse the checks compare
        self.docs: list[dict] = []  # documents ingested into self.wh
        self.measured_docs: list[dict] = []  # ... by the measured operations
        self._n_files = 0

        # every input is a function of the seed: the base documents, then
        # the measured batches in the order the corpus yields them
        self.gen = corpus.Corpus(seed)
        self.base = self.gen.take(ANALYTICS_DOCS if workload == "analytics" else BASE_DOCS)
        if workload == "analytics":
            for name, rows, schema in (
                ("documents", self.base, corpus.DOC_SCHEMA),
                ("events", corpus.make_events(seed, EVENTS), corpus.EVENT_SCHEMA),
                ("embeddings", corpus.make_embeddings(seed, EMBEDDINGS), corpus.EMBED_SCHEMA),
            ):
                corpus.write_parquet(rows, schema, os.path.join(self.catalog, f"{name}.parquet"))

    # -- plumbing ------------------------------------------------------------
    def _op(self, kind: str, ok: bool) -> None:
        self.ops.append([kind, ok])

    def _frame(self, rows: list[dict]):
        self._n_files += 1
        path = os.path.join(self.work, "inputs", f"{self._n_files:05d}.parquet")
        corpus.write_parquet(rows, corpus.DOC_SCHEMA, path)
        return self.spark.read.parquet(path)

    def _land(self, land: str, rows: list[dict]) -> None:
        self._n_files += 1
        corpus.write_parquet(
            rows, corpus.DOC_SCHEMA, os.path.join(land, f"batch-{self._n_files:05d}.parquet")
        )

    def _warehouse(self, name: str):
        from briefly_spark.storage import Warehouse

        return Warehouse(self.spark, os.path.join(self.work, name))

    def _build(self, wh, rows: list[dict], land: str | None = None) -> None:
        """Ingest ``rows`` into ``wh`` and drain it in large batches: landed
        as a file for a sensor cycle when ``land`` is given, else through
        ``ingest_documents`` and the drain loop."""
        if land is None:
            self.jobs.ingest_documents(wh, self._frame(rows))
            self.jobs.run_until_drained(wh, batch_size=BURST_BATCH)
        else:
            self._land(land, rows)
            self.jobs.sensor_cycle(
                wh, self.spark, land, checkpoint=land + ".ckpt", batch_size=BURST_BATCH
            )

    # -- set-up --------------------------------------------------------------
    def setup(self) -> None:
        from briefly_spark import jobs
        from briefly_spark.queries import load_registry
        from briefly_spark.session import get_spark

        self.jobs = jobs
        self.registry = load_registry()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        if self.workload == "analytics":
            for q in QUERY_MIX:
                self.registry[q].fn(self.spark, self.catalog).collect()
                self.spark.catalog.clearCache()
        elif self.workload == "backfill":
            self._build(self._warehouse("warmup"), self.base)
            self.wh = self._warehouse("warehouse")
        else:
            self.wh = self._warehouse("warehouse")
            self._build(self.wh, self.base, self.land)
            self.docs.extend(self.base)
            if self.workload == "serve":
                self._serve(10, random.Random(~self.seed))
                if not all(ok for _, ok in self.ops):
                    raise RuntimeError("a warm-up request failed its check")
                self.ops.clear()
        t2 = time.perf_counter()
        self.details["session_start_s"] = t1 - t0
        self.details["warmup_s"] = t2 - t1
        self.setup_s = t2 - t0

    # -- ingest workloads ----------------------------------------------------
    def _related_filled(self, urls: list[str]) -> set[str]:
        """The subset of ``urls`` whose articles carry ``related_ids``."""
        from pyspark.sql import functions as F

        arts = self.wh.read(self.jobs.ARTICLES)
        return {
            r["url"]
            for r in arts.filter(F.col("url").isin(urls) & F.col("related_ids").isNotNull())
            .select("url")
            .collect()
        }

    def backfill(self) -> None:
        rows = self.gen.take(BURST_DOCS_PER_S * self.seconds)
        frame = self._frame(rows)
        self.tracer.op = "backfill"
        ok = False
        t0 = time.perf_counter()
        try:
            with self.tracer.span("harness.backfill"):
                self.jobs.ingest_documents(self.wh, frame)
                self.jobs.run_until_drained(self.wh, batch_size=BURST_BATCH)
            dt = time.perf_counter() - t0
            ok = len(self._related_filled(_urls(rows))) == len(rows)
        except Exception:
            dt = time.perf_counter() - t0
            _log(traceback.format_exc())
        self._op("ingest", ok)
        self.docs.extend(rows)
        self.measured_docs.extend(rows)
        self.waits.append(dt)  # every document arrived with the burst
        self.details["backfill_docs_per_s"] = len(rows) / dt

    def trickle(self) -> None:
        """One batch lands, one sensor cycle runs; repeated until
        ``--seconds`` have passed and at least MIN_OPS batches ran."""
        start = time.perf_counter()
        while len(self.waits) < MIN_OPS or time.perf_counter() - start < self.seconds:
            rows = self.gen.take(TRICKLE_DOCS)
            self._land(self.land, rows)
            self.tracer.op = f"cycle-{len(self.waits) + 1}"
            ok = False
            t0 = time.perf_counter()
            try:
                self.jobs.sensor_cycle(
                    self.wh, self.spark, self.land,
                    checkpoint=self.land + ".ckpt", batch_size=TRICKLE_TICK_LIMIT,
                )
                t1 = time.perf_counter()
                ok = len(self._related_filled(_urls(rows))) == len(rows)
            except Exception:
                t1 = time.perf_counter()
                _log(traceback.format_exc())
            self._op("ingest", ok)
            self.waits.append(t1 - t0)
            self.docs.extend(rows)
            self.measured_docs.extend(rows)
        self.details["fresh_p50_s"] = statistics.median(self.waits)

    # -- serve ---------------------------------------------------------------
    def _article_page(self, url: str) -> bool:
        """The article, then one card per related article."""
        from pyspark.sql import functions as F

        arts = self.wh.read(self.jobs.ARTICLES)
        page = (
            arts.filter(F.col("url") == url)
            .select("url", "source", "summary", "related_ids", "male_audio_id")
            .collect()
        )
        if len(page) != 1 or page[0]["url"] != url:
            return False
        related = page[0]["related_ids"]
        if not related:
            return related is not None
        cards = arts.filter(F.col("url").isin(related)).select("url", "summary").collect()
        return sorted(c["url"] for c in cards) == sorted(related)

    def _feed_page(self, source: str, expected: list[int]) -> bool:
        from pyspark.sql import functions as F

        page = (
            self.wh.read(self.jobs.ARTICLES)
            .filter(F.col("source") == source)
            .orderBy(F.desc("article_id"))
            .limit(FEED_ROWS)
            .select("url", "article_id", "summary")
            .collect()
        )
        return [r["article_id"] for r in page] == expected

    def _serve(self, n: int, rng: random.Random) -> list[float]:
        feeds: dict[str, list[int]] = {}
        for r in self.docs:
            feeds.setdefault(r["source"], []).append(r["doc_id"])
        feeds = {s: sorted(ids, reverse=True)[:FEED_ROWS] for s, ids in feeds.items()}
        sources = sorted(feeds)
        lat = []
        for i in range(n):
            if rng.random() < ARTICLE_SHARE:
                kind, arg = "article", f"https://ex/{rng.choice(self.docs)['doc_id']}"
            else:
                kind, arg = "feed", rng.choice(sources)
            self.tracer.op = f"request-{i}"
            ok = False
            t0 = time.perf_counter()
            try:
                with self.tracer.span(f"harness.{kind}"):
                    if kind == "article":
                        ok = self._article_page(arg)
                    else:
                        ok = self._feed_page(arg, feeds[arg])
            except Exception:
                _log(traceback.format_exc())
            lat.append(time.perf_counter() - t0)
            if not ok:
                _log(f"serve check failed: {kind} {arg}")
            self._op("request", ok)
        return lat

    def serve(self) -> None:
        lat = self._serve(SERVE_REQUESTS, random.Random(self.seed))
        self.waits.extend(lat)
        self.details.update(
            serve_p50_ms=1000 * statistics.median(lat),
            serve_p95_ms=1000 * percentile(lat, 0.95),
        )

    # -- analytics -----------------------------------------------------------
    def analytics(self) -> None:
        """Report refreshes, each running the whole mix to completion;
        repeated until ``--seconds`` have passed and at least MIN_OPS
        refreshes ran."""
        self.refreshes: list[dict] = []  # per refresh: query -> digest
        per_query: dict[str, list[float]] = {q: [] for q in QUERY_MIX}
        start = time.perf_counter()
        while len(self.waits) < MIN_OPS or time.perf_counter() - start < self.seconds:
            digests, total = {}, 0.0
            for q in QUERY_MIX:
                self.tracer.op = f"refresh-{len(self.waits) + 1}"
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"queries.{q}"):
                        df = self.registry[q].fn(self.spark, self.catalog)
                        rows = df.collect()
                    dt = time.perf_counter() - t0
                    digests[q] = fingerprint(df.columns, [tuple(r) for r in rows])
                except Exception:
                    dt = time.perf_counter() - t0
                    digests[q] = None
                    _log(traceback.format_exc())
                # off the clock: persisted frames must not pile up across queries
                self.spark.catalog.clearCache()
                total += dt
                per_query[q].append(dt)
            self.refreshes.append(digests)
            self.waits.append(total)
        self.details.update(
            {f"{q}_s": statistics.median(ts) for q, ts in per_query.items()},
            analytics_s=statistics.median(self.waits),
        )

    # -- checks (off the clock) ----------------------------------------------
    def check_analytics(self, con) -> None:
        """A refresh succeeds when every query ran and matches its DuckDB
        oracle."""
        want = {q: _oracle_digest(con, self.registry[q].oracle) for q in QUERY_MIX}
        for digests in self.refreshes:
            bad = [q for q in QUERY_MIX if digests[q] != want[q]]
            for q in bad:
                _log(f"analytics check failed: {q}: spark={digests[q]} duckdb={want[q]}")
            self._op("refresh", not bad)

    def check_warehouse(self, con) -> bool:
        """The drained articles table against the registry's one-shot
        restatement of the jobs DAG: every lifecycle column that does not
        depend on batch boundaries, one row per distinct valid url, a
        filled ``related_ids`` and its refresh stamp on every row."""
        from pyspark.sql import functions as F

        from briefly_spark.operators.tts import gender_voice

        arts = self.wh.read(self.jobs.ARTICLES)
        surface = arts.select(
            "url",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            "summary_status",
            F.size("summary").cast("long").alias("n_points"),
            F.floor(F.col("validation_score") * 10000).cast("long").alias("validation_fp"),
            "embedding_status",
            "curated_status",
            F.col("n_spans_trimmed").cast("long").alias("n_spans_trimmed"),
            F.md5(F.col("curated_content")).alias("curated_md5"),
            (F.col("related_ids").isNotNull() & (F.size("related_ids") > 0))
            .cast("long")
            .alias("has_related"),
            gender_voice(F.col("url"), "male").alias("male_voice"),
            gender_voice(F.col("url"), "female").alias("female_voice"),
            "male_audio_id",
            "female_audio_id",
        )
        got = fingerprint(surface.columns, [tuple(r) for r in surface.collect()])
        want = _oracle_digest(con, self.registry[JOBS_DAG_QUERY].oracle)
        unstamped = arts.filter(F.col("related_ids_updated_at").isNull()).count()
        n_valid = len({r["doc_id"] for r in self.docs if len(r["text"]) >= 20})
        ok = got == want and got[0] == n_valid and unstamped == 0
        if not ok:
            _log(f"warehouse check failed: spark={got} duckdb={want} unstamped={unstamped}")
        return ok

    def check(self) -> None:
        import duckdb

        if self.workload != "analytics":
            # the one-shot restatement reads every document the warehouse got
            corpus.write_parquet(
                self.docs, corpus.DOC_SCHEMA, os.path.join(self.catalog, "documents.parquet")
            )
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.catalog)):
                path = os.path.join(self.catalog, f)
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{path}'")
            if self.workload == "analytics":
                self.check_analytics(con)
            elif not self.check_warehouse(con):
                # a wrong table makes every operation's output wrong
                for op in self.ops:
                    op[1] = False
        finally:
            con.close()

    # -- the run -------------------------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        self.setup()
        uninstall = None
        if self.trace:
            self.tracer = Tracer(SparkProps(self.spark.sparkContext))
            uninstall = install(self.tracer, self.spark)
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            getattr(self, self.workload)()
        finally:
            if uninstall is not None:
                uninstall()
        measured = time.perf_counter() - t0
        steal = steal_pct(ticks0, cpu_ticks())
        jvm_rss = vm_hwm_mb(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        py_rss = vm_hwm_mb("self")
        files: list = []
        if self.wh is not None:
            files = [f for t in self.wh.tables() for f in self.wh.table_files(t)]
        self.check()

        failed = sum(1 for _, ok in self.ops if not ok)
        self.details.update(
            workload=self.workload,
            seed=self.seed,
            measured_s=measured,
            steal_pct=steal,
            loadavg=load_avg(),
            cpus=os.environ.get("SPARK_GRAFT_CPUS"),
            attempted=len(self.ops),
            failed=failed,
            error_rate=failed / len(self.ops),
            samples=len(self.waits),
            waits_s=self.waits if len(self.waits) <= 10 else [],
            jvm_rss_mb=jvm_rss,
            driver_rss_mb=py_rss,
            warehouse_files=len(files),
            stored_bytes_per_input_byte=(
                sum(b for _, b in files) / corpus.text_bytes(self.docs) if files else 0.0
            ),
        )
        if self.trace:
            self.details["trace_overhead_s"] = self.tracer.overhead_s
            measured_bytes = corpus.text_bytes(self.measured_docs)
            return layer_metrics(self.tracer, self.details, measured_bytes), self.details
        return {
            "setup_s": self.setup_s,
            "wait_p50_s": statistics.median(self.waits),
            "peak_rss_mb": jvm_rss + py_rss,
        }, self.details


def layer_metrics(tracer: Tracer, details: dict, input_bytes: int) -> dict:
    """Per-layer metrics from the spans of a traced run.  Counts and times
    are per measured operation (cycle, refresh, request or backfill), so
    they do not depend on how many operations fit in ``--seconds``."""
    spans = tracer.spans
    per_op = 1.0 / max(1, details["samples"])
    own = self_times(spans)
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent in by_id:
            kids.setdefault(s.parent, []).append(s.id)

    def jobs(sid: int) -> int:
        """Spark jobs of a span and all its descendants."""
        s = by_id[sid]
        return s.jobs + s.attrs.get("stream_jobs", 0) + sum(jobs(k) for k in kids.get(sid, ()))

    def named(name: str):
        return [s for s in spans if s.name == name]

    def outermost(prefix: str):
        """Spans named ``prefix*`` with no ancestor of the same prefix, so
        a read nested in a merge is not counted twice."""
        out = []
        for s in spans:
            if not s.name.startswith(prefix):
                continue
            p = by_id.get(s.parent)
            while p is not None and not p.name.startswith(prefix):
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    m: dict[str, float] = {
        "session.start_s": details["session_start_s"],
        "session.warmup_s": details["warmup_s"],
    }
    calls = empty = 0
    for stage in STAGES:
        ss = named(f"jobs.{stage}")
        # a work list built on a prefetch thread is the stage's work too;
        # built inside the stage call it is already within the stage span
        work = outermost(f"jobs.{stage}")
        m[f"jobs.{stage}.calls"] = len(ss) * per_op
        m[f"jobs.{stage}.rows"] = sum(s.attrs.get("rows", 0) for s in ss) * per_op
        m[f"jobs.{stage}.self_s"] = (
            sum(own[s.id] for s in ss + named(f"jobs.{stage}{WORKLIST}")) * per_op
        )
        m[f"jobs.{stage}.spark_jobs"] = sum(jobs(s.id) for s in work) * per_op
        calls += len(ss)
        empty += sum(1 for s in ss if not s.attrs.get("rows"))
    m["jobs.drain_rounds"] = sum(s.attrs.get("rounds", 0) for s in named("jobs.drain")) * per_op
    m["jobs.empty_call_ratio"] = empty / calls if calls else 0.0
    cycles = named("jobs.cycle") or named("harness.backfill")
    m["jobs.spark_jobs_per_cycle"] = sum(jobs(s.id) for s in cycles) / max(1, len(cycles))

    merges = named("storage.merge")
    top = outermost("storage.")
    written = sum(s.attrs.get("bytes_written", 0) for s in merges)
    m["storage.merge_calls"] = len(merges) * per_op
    m["storage.merge_s"] = sum(s.duration for s in merges) * per_op
    m["storage.bytes_written"] = written * per_op
    m["storage.write_amp"] = written / input_bytes if input_bytes else 0.0
    m["storage.stored_bytes_per_input_byte"] = details["stored_bytes_per_input_byte"]
    m["storage.files"] = details["warehouse_files"]
    m["storage.read_calls"] = len(named("storage.read")) * per_op
    m["storage.read_s"] = sum(s.duration for s in top if s.name == "storage.read") * per_op
    m["storage.spark_jobs"] = sum(jobs(s.id) for s in top) * per_op

    ingests = named("streaming.ingest")
    m["streaming.ingest_s"] = sum(s.duration for s in ingests) * per_op
    m["streaming.spark_jobs"] = sum(jobs(s.id) for s in ingests) * per_op

    for q in QUERY_MIX:
        m[f"queries.{q}_s"] = sum(s.duration for s in named(f"queries.{q}")) * per_op
    m["queries.spark_jobs"] = sum(jobs(s.id) for s in outermost("queries.")) * per_op
    m["harness.steal_pct"] = details["steal_pct"]
    m["harness.trace_overhead_s"] = tracer.overhead_s
    return m
