"""Dataset release datasheet (X133) — the one-frame summary a training
run's data card is built from (Gebru et al. 2021, "Datasheets for
Datasets", CACM 64(12); public concept): volume, composition (language /
source mix), exact-duplication rate, and length distribution of a
document collection, as ONE tidy (section, metric, k, value) frame.

A 100 TB release ships with this frame computed ON the release: it is
the number the mixture queries (q58/q114), the packing budget (q59),
and the governance audits (X130) are reconciled against, and appending
it to the metrics history (X119) watches composition drift across
releases for free.

Exactness: counts and integer sums only — no floats, no approximations
(near-dup rates come from the dedup family q30–q37; this frame records
the EXACT legs).  Fully SQL-expressible: :func:`sql_dataset_datasheet`
is the DuckDB mirror, value-identical — the operator is an r12+
registry-slot candidate in the same single-query shape as X124/X125.

Scale: four aggregation passes over the collection (volume+dup in one,
language mix, source mix, length histogram), each a single
hash-aggregate shuffle with map-side partials; output is
(languages + sources + histogram buckets + constants)-bounded.  Token
counts use the corpus-wide whitespace tokenization (the q50/q88/BPE
convention).  The length histogram buckets by floor(n_tokens / width)
— value-bounded (the q101/q119 histogram discipline), never a global
sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from briefly_spark.streaming.incremental import run_available_now

#: output schema of the datasheet frame
SHEET_COLS = ("section", "metric", "k", "value")


def dataset_datasheet(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    lang_col: str | None = None,
    source_col: str | None = None,
    length_bucket: int = 100,
) -> DataFrame:
    """The release datasheet frame: (section, metric, k, value BIGINT).

    Sections emitted:
      volume      — n_docs, n_tokens, n_chars, n_distinct_texts,
                    n_exact_dup_docs (docs minus distinct text bodies)
      language    — per-language doc counts (when ``lang_col``)
      source      — per-source doc counts (when ``source_col``)
      length_hist — doc count per token-length bucket
                    (k = bucket lower bound, width ``length_bucket``)
    """
    from briefly_spark.operators.textstats import tokens

    # the shared whitespace tokenizer (q50/q88 convention) — the earlier
    # inline copy also lower()ed first, pure wasted per-row compute for a
    # token COUNT (review r12); the mirror dropped its lower() in step
    toks = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("id"),
        F.size(toks).cast("long").alias("n_toks"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.md5(F.col(text_col)).alias("text_h"),
        *([F.col(lang_col).alias("lang")] if lang_col else []),
        *([F.col(source_col).alias("source")] if source_col else []),
    )
    vol = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.countDistinct("text_h").cast("long").alias("n_distinct_texts"),
    )
    parts = [
        vol.selectExpr(
            "stack(5, "
            "'volume', 'n_docs', '', n_docs, "
            "'volume', 'n_tokens', '', n_tokens, "
            "'volume', 'n_chars', '', n_chars, "
            "'volume', 'n_distinct_texts', '', n_distinct_texts, "
            "'volume', 'n_exact_dup_docs', '', n_docs - n_distinct_texts"
            ") AS (section, metric, k, value)"
        )
    ]
    if lang_col:
        parts.append(
            base.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("v"))
            .select(
                F.lit("language").alias("section"),
                F.lit("n_docs").alias("metric"),
                F.col("lang").cast("string").alias("k"),
                F.col("v").alias("value"),
            )
        )
    if source_col:
        parts.append(
            base.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("v"))
            .select(
                F.lit("source").alias("section"),
                F.lit("n_docs").alias("metric"),
                F.col("source").cast("string").alias("k"),
                F.col("v").alias("value"),
            )
        )
    parts.append(
        base.select(
            (F.floor(F.col("n_toks") / length_bucket) * length_bucket)
            .cast("long").alias("b")
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
        .select(
            F.lit("length_hist").alias("section"),
            F.lit("n_docs").alias("metric"),
            F.col("b").cast("string").alias("k"),
            F.col("v").alias("value"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(*SHEET_COLS)


# -- X137: the INCREMENTAL datasheet — a standing registry across ingest -----
#
# Every leg of the release card is mergeable: the count/sum legs (volume,
# language/source mix, length histogram) are associative integer adds
# (the X131 discipline — EXACT fold ≡ one-shot), and the distinct-texts
# leg rides an HLL sketch per batch (the X128 discipline — register-level
# deterministic union, so fold ≡ one-shot holds exactly for the ESTIMATE
# too).  Metric names carry the evidence class: the folded distinct leg
# is `n_distinct_texts_est` / `n_exact_dup_docs_est` — the exact
# one-shot :func:`dataset_datasheet` remains the release-of-record
# surface; the registry is the always-on monitor between releases.

_SKETCH_METRIC = "n_distinct_texts_sketch"


def datasheet_batch_block(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    lang_col: str | None = None,
    source_col: str | None = None,
    length_bucket: int = 100,
    batch_id: int,
    lg_k: int = 12,
) -> DataFrame:
    """One ingest batch's datasheet contribution: the
    :func:`dataset_datasheet` rows (minus the distinct/dup legs, which
    don't sum) plus one HLL sketch row over md5(text) — keyed by
    batch_id for the group-replace replay discipline."""
    sheet = dataset_datasheet(
        docs,
        id_col=id_col,
        text_col=text_col,
        lang_col=lang_col,
        source_col=source_col,
        length_bucket=length_bucket,
    ).filter(~F.col("metric").isin("n_distinct_texts", "n_exact_dup_docs"))
    rows = sheet.select(
        F.lit(int(batch_id)).cast("long").alias("batch_id"),
        *SHEET_COLS,
        F.lit(None).cast("binary").alias("sketch"),
    )
    sk = docs.agg(
        F.hll_sketch_agg(F.md5(F.col(text_col)), F.lit(lg_k)).alias("sketch")
    ).select(
        F.lit(int(batch_id)).cast("long").alias("batch_id"),
        F.lit("volume").alias("section"),
        F.lit(_SKETCH_METRIC).alias("metric"),
        F.lit("").alias("k"),
        F.lit(None).cast("long").alias("value"),
        "sketch",
    )
    return rows.unionByName(sk)


def datasheet_batch_blocks(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    lang_col: str | None = None,
    source_col: str | None = None,
    length_bucket: int = 100,
    batch_col,
    lg_k: int = 12,
) -> DataFrame:
    """Every batch's :func:`datasheet_batch_block` rows in ONE pass per
    leg (guide §2.1 — combine shuffles): ``batch_col`` is a Column
    expression partitioning ``docs`` into batches, and each leg's
    aggregation groups by (batch_id, leg key) instead of re-scanning the
    collection once per batch — 4 scans + 1 sketch pass total, however
    many batches.  Row-identical to unioning ``datasheet_batch_block``
    over the per-batch filters for NON-EMPTY batches; an empty batch
    contributes no rows here (vs. the per-batch call's zero-count volume
    + empty-sketch rows) — the same sums either way through
    :func:`datasheet_registry_fold`, so use the per-batch form when a
    registry must record that an empty batch was absorbed.  The
    countDistinct legs are skipped outright: the per-batch form filters
    those rows out (they don't sum), so computing them per batch was
    dead work."""
    from briefly_spark.operators.textstats import tokens

    toks = tokens(F.col(text_col))
    base = docs.select(
        batch_col.cast("long").alias("batch_id"),
        F.size(toks).cast("long").alias("n_toks"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        F.md5(F.col(text_col)).alias("text_h"),
        *([F.col(lang_col).alias("lang")] if lang_col else []),
        *([F.col(source_col).alias("source")] if source_col else []),
    )
    vol = base.groupBy("batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    parts = [
        vol.selectExpr(
            "batch_id",
            "stack(3, "
            "'volume', 'n_docs', '', n_docs, "
            "'volume', 'n_tokens', '', n_tokens, "
            "'volume', 'n_chars', '', n_chars"
            ") AS (section, metric, k, value)",
        )
    ]
    if lang_col:
        parts.append(
            base.groupBy("batch_id", "lang")
            .agg(F.count(F.lit(1)).cast("long").alias("v"))
            .select(
                "batch_id",
                F.lit("language").alias("section"),
                F.lit("n_docs").alias("metric"),
                F.col("lang").cast("string").alias("k"),
                F.col("v").alias("value"),
            )
        )
    if source_col:
        parts.append(
            base.groupBy("batch_id", "source")
            .agg(F.count(F.lit(1)).cast("long").alias("v"))
            .select(
                "batch_id",
                F.lit("source").alias("section"),
                F.lit("n_docs").alias("metric"),
                F.col("source").cast("string").alias("k"),
                F.col("v").alias("value"),
            )
        )
    parts.append(
        base.select(
            "batch_id",
            (F.floor(F.col("n_toks") / length_bucket) * length_bucket)
            .cast("long").alias("b"),
        )
        .groupBy("batch_id", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
        .select(
            "batch_id",
            F.lit("length_hist").alias("section"),
            F.lit("n_docs").alias("metric"),
            F.col("b").cast("string").alias("k"),
            F.col("v").alias("value"),
        )
    )
    rows = parts[0]
    for p in parts[1:]:
        rows = rows.unionByName(p)
    rows = rows.select(
        "batch_id", *SHEET_COLS, F.lit(None).cast("binary").alias("sketch")
    )
    sk = base.groupBy("batch_id").agg(
        F.hll_sketch_agg(F.col("text_h"), F.lit(lg_k)).alias("sketch")
    ).select(
        "batch_id",
        F.lit("volume").alias("section"),
        F.lit(_SKETCH_METRIC).alias("metric"),
        F.lit("").alias("k"),
        F.lit(None).cast("long").alias("value"),
        "sketch",
    )
    return rows.unionByName(sk)


def datasheet_registry_fold(registry: DataFrame) -> DataFrame:
    """The datasheet over everything the registry has absorbed — exact
    legs fold by SUM (bit-identical to a one-shot over the ingested
    union, pinned), the distinct leg by sketch union (estimate identical
    to a one-shot sketch, pinned; emitted as *_est metrics).  Output is
    the :data:`SHEET_COLS` shape."""
    exact = (
        registry.filter(F.col("sketch").isNull())
        .groupBy("section", "metric", "k")
        .agg(F.sum("value").cast("long").alias("value"))
        .select(*SHEET_COLS)
    )
    est = (
        registry.filter(F.col("sketch").isNotNull())
        .agg(F.hll_union_agg("sketch").alias("u"))
        .select(F.hll_sketch_estimate("u").cast("long").alias("d"))
    )
    n_docs = exact.filter(
        (F.col("section") == "volume") & (F.col("metric") == "n_docs")
    ).select(F.col("value").alias("nd"))
    est_rows = est.crossJoin(n_docs).selectExpr(
        "stack(2, "
        "'volume', 'n_distinct_texts_est', '', d, "
        "'volume', 'n_exact_dup_docs_est', '', nd - d"
        ") AS (section, metric, k, value)"
    )
    return exact.unionByName(est_rows)


def datasheet_stream(
    source: DataFrame,
    wh,
    *,
    registry_table: str,
    checkpoint: str,
    id_col: str,
    text_col: str,
    lang_col: str | None = None,
    source_col: str | None = None,
    length_bucket: int = 100,
    lg_k: int = 12,
) -> None:
    """Streaming maintenance of the datasheet registry — per-batch block,
    group-replace on batch_id alone (the X128/X131 replay discipline)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        block = datasheet_batch_block(
            batch_df,
            id_col=id_col,
            text_col=text_col,
            lang_col=lang_col,
            source_col=source_col,
            length_bucket=length_bucket,
            batch_id=batch_id,
            lg_k=lg_k,
        )
        # no emptiness probe: the block ALWAYS carries the volume +
        # sketch rows (even for an empty batch), and an uncached take(1)
        # re-ran the whole multi-leg aggregation before the merge re-ran
        # it again (review r12)
        wh.merge_upsert(block, registry_table, ["batch_id"])

    run_available_now(source, sink, checkpoint)


def sql_dataset_datasheet(
    table: str,
    *,
    id_col: str,
    text_col: str,
    lang_col: str | None = None,
    source_col: str | None = None,
    length_bucket: int = 100,
) -> str:
    """DuckDB mirror of :func:`dataset_datasheet` — identical tokenization
    (the shared whitespace-split convention) and identical surfaces."""
    ntoks = (
        rf"CAST(len(list_filter(string_split_regex({text_col}, "
        rf"'\s+'), x -> x <> '')) AS BIGINT)"
    )
    legs = [
        f"""SELECT 'volume' AS section, m AS metric, '' AS k, v AS value
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum({ntoks}) AS BIGINT) AS n_tokens,
         CAST(sum(length({text_col})) AS BIGINT) AS n_chars,
         CAST(count(DISTINCT md5({text_col})) AS BIGINT) AS n_distinct_texts
  FROM {table}
), LATERAL (VALUES
  ('n_docs', n_docs), ('n_tokens', n_tokens), ('n_chars', n_chars),
  ('n_distinct_texts', n_distinct_texts),
  ('n_exact_dup_docs', n_docs - n_distinct_texts)) AS t(m, v)"""
    ]
    if lang_col:
        legs.append(
            f"SELECT 'language', 'n_docs', CAST({lang_col} AS VARCHAR), "
            f"CAST(count(*) AS BIGINT) FROM {table} GROUP BY {lang_col}"
        )
    if source_col:
        legs.append(
            f"SELECT 'source', 'n_docs', CAST({source_col} AS VARCHAR), "
            f"CAST(count(*) AS BIGINT) FROM {table} GROUP BY {source_col}"
        )
    legs.append(
        f"""SELECT 'length_hist', 'n_docs', CAST(b AS VARCHAR),
       CAST(count(*) AS BIGINT)
FROM (SELECT ({ntoks} // {length_bucket}) * {length_bucket} AS b FROM {table})
GROUP BY b"""
    )
    return "\nUNION ALL\n".join(legs)
