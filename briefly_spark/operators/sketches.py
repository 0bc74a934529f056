"""Mergeable distinct-count sketch registry — incremental cardinality
over continuous ingest (Apache DataSketches HLL, exposed by Spark's
``hll_sketch_agg`` / ``hll_union_agg``; public method: Heule et al.
HLL++, the Datasketches library's sketch algebra).

q74 audits one-shot approximate distincts against exact counts; this
module is the INCREMENTAL form a 100 TB lake actually operates: each
ingest batch contributes one binary sketch row per group, the registry
table accumulates batch blocks, and "distinct users per event_type over
any ingested window" is a sketch UNION over the registry — no
reprocessing of history, ever.  The same shape as the other long-lived
registries (heavy-hitter X69, NB X115, claims X101/X117):

- partials are per-(batch, group) and MERGEABLE (sketch union is
  associative + commutative + idempotent at the register level, so the
  estimate is independent of batch boundaries AND of row order —
  HLL registers take a max per bucket);
- the registry merge keys on batch_id ALONE (group-replace): a replayed
  batch replaces its entire block, counts never double;
- registry size is (batches × groups) sketch rows, ≤ ~1.5 KB each at
  the default lg_k — corpus-independent;
- compaction = re-union blocks into one sentinel block
  (:func:`hll_registry_compact`), exact at the register level, same
  committed-state caveat as the other compactors.

Determinism: sketch binaries and estimates are deterministic functions
of the VALUE SET (order-independence is the register-max property), so
batch ≡ fold ≡ stream pins hold exactly, not approximately.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from briefly_spark.streaming.incremental import merge_block, run_available_now

#: default log2(registers) — ~1.6% relative error, ≤ 1.5 KB per sketch
DEFAULT_LG_K = 12


def hll_batch_sketches(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    batch_id: int,
    lg_k: int = DEFAULT_LG_K,
) -> DataFrame:
    """One batch's contribution: (batch_id, *group_cols, sketch) — a
    map-side-combinable aggregation; NULL values are ignored (a NULL is
    not a distinct member, matching count(DISTINCT) semantics)."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols)
        .agg(F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch"))
        .select(
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            *group_cols,
            "sketch",
        )
    )


def hll_registry_estimate(
    registry: DataFrame, *, group_cols: list[str]
) -> DataFrame:
    """Distinct-count estimates over everything the registry has absorbed:
    one sketch union per group (partial-aggregating — blocks union
    map-side), estimate emitted as BIGINT."""
    return (
        registry.groupBy(*group_cols)
        .agg(F.hll_union_agg("sketch").alias("u"))
        .select(
            *group_cols,
            F.hll_sketch_estimate("u").cast("long").alias("n_distinct_est"),
        )
    )


def hll_registry_compact(registry: DataFrame, *, into_batch_id: int = -1) -> DataFrame:
    """Re-union a grown registry into ONE block per group — register-level
    exact (union is associative/idempotent), so estimates before and
    after compaction are identical (pytest-pinned).  Same caveat as the
    other registry compactors: only compact batches whose replay window
    has passed; the NEGATIVE sentinel cannot collide with foreachBatch
    ids (≥ 0) after a checkpoint reset."""
    group_cols = [c for c in registry.columns if c not in ("batch_id", "sketch")]
    return (
        registry.groupBy(*group_cols)
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .select(
            F.lit(int(into_batch_id)).cast("long").alias("batch_id"),
            *group_cols,
            "sketch",
        )
    )


def topk_batch(
    df: DataFrame,
    *,
    score_col: str,
    id_col: str,
    k: int,
    batch_id: int,
) -> DataFrame:
    """One batch's top-k block (X139) — unlike the HLL rows this is an
    EXACT mergeable summary: top-k of IDS under a TOTAL order is a
    semilattice (top-k of a union = top-k of the per-part top-ks), so
    the registry fold loses nothing.  Two requirements make the argument
    rigorous, both enforced here:

    - the order is total — (score DESC, id ASC); a score-only order
      would make block boundaries visible through tie selection;
    - the block holds the best appearance PER ID, deduplicated BEFORE
      the head: with raw rows, duplicates of one id could crowd the
      k slots and drop an id that belongs in the global top-k by ids
      (k rows better than x need not be k IDS better than x).

    If an id is in the global top-k, fewer than k ids beat it in its own
    batch, so it survives the per-id per-batch head — exactness follows.
    Plans as TakeOrdered over the deduped frame — k-bounded, never a
    global sort."""
    payload = [x for x in df.columns if x not in (id_col, score_col)]
    best = df.groupBy(id_col).agg(
        F.max(F.struct(score_col, *payload)).alias("__best")
    )
    flat = best.select(
        id_col,
        F.col(f"__best.{score_col}").alias(score_col),
        *[F.col(f"__best.{x}").alias(x) for x in payload],
    )
    return (
        flat.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        .limit(int(k))
        .select(
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            "*",
        )
    )


def topk_registry_resolve(
    registry: DataFrame, *, score_col: str, id_col: str, k: int
) -> DataFrame:
    """The exact global top-k over everything the registry has absorbed:
    TakeOrdered over the (batches × k)-bounded block union — bit-equal
    to a one-shot top-k over the ingested union (pinned).  Duplicate ids
    across blocks (a replayed row in two blocks, or an entity re-scored
    in a later batch) resolve to their best-scoring appearance via a
    keyed max before the final head, so re-delivery never double-fills
    the list."""
    payload = [
        x for x in registry.columns if x not in ("batch_id", id_col, score_col)
    ]
    best = registry.groupBy(id_col).agg(
        F.max(F.struct(score_col, *payload)).alias("__best")
    )
    flat = best.select(
        id_col,
        F.col(f"__best.{score_col}").alias(score_col),
        *[F.col(f"__best.{x}").alias(x) for x in payload],
    )
    return flat.orderBy(F.col(score_col).desc(), F.col(id_col).asc()).limit(int(k))


def topk_stream(
    source: DataFrame,
    wh,
    *,
    registry_table: str,
    checkpoint: str,
    score_col: str,
    id_col: str,
    k: int,
) -> None:
    """Streaming maintenance of the top-k registry — per-batch block,
    group-replace on batch_id alone (the X69/X115/X128 replay
    discipline).  Registry size is (batches × k) rows; compact by
    resolving into a sentinel block when batches pile up (resolve IS the
    compactor — exactness is the semilattice property)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        block = topk_batch(
            batch_df, score_col=score_col, id_col=id_col, k=k, batch_id=batch_id
        )
        merge_block(wh, block, registry_table, ["batch_id"])

    run_available_now(source, sink, checkpoint)


def hll_counts_stream(
    source: DataFrame,
    wh,
    *,
    registry_table: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    lg_k: int = DEFAULT_LG_K,
) -> None:
    """Streaming maintenance: each micro-batch's sketch block merges into
    the registry keyed on batch_id alone (group-replace — the X69/X115
    replay discipline: a re-delivered batch replaces its entire block,
    so registers never absorb a batch twice under a different
    partitioning)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        block = hll_batch_sketches(
            batch_df,
            group_cols=group_cols,
            value_col=value_col,
            batch_id=batch_id,
            lg_k=lg_k,
        )
        merge_block(wh, block, registry_table, ["batch_id"])

    run_available_now(source, sink, checkpoint)


# ---------------------------------------------------------------------------
# X149 — grouped standing top-k (the per-group form of X139)
# ---------------------------------------------------------------------------
def _grouped_head(
    df: DataFrame,
    *,
    group_cols: list[str],
    score_col: str,
    id_col: str,
    k: int,
    drop_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Shared X149 core: dedup to the best appearance per (group, id)
    under the total order (score DESC, id ASC), then the per-group
    k-head as a window rank (group-bounded, never a global sort)."""
    payload = [
        x
        for x in df.columns
        if x not in (id_col, score_col, *group_cols, *drop_cols)
    ]
    best = df.groupBy(*group_cols, id_col).agg(
        F.max(F.struct(score_col, *payload)).alias("__best")
    )
    flat = best.select(
        *group_cols,
        id_col,
        F.col(f"__best.{score_col}").alias(score_col),
        *[F.col(f"__best.{x}").alias(x) for x in payload],
    )
    w = Window.partitionBy(*group_cols).orderBy(F.desc(score_col), F.asc(id_col))
    return (
        flat.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(k))
        .drop("__rn")
    )


def topk_batch_grouped(
    df: DataFrame,
    *,
    group_cols: list[str],
    score_col: str,
    id_col: str,
    k: int,
    batch_id: int,
) -> DataFrame:
    """Per-GROUP top-k block — X139's semilattice argument holds within
    each group independently (top-k of a union = top-k of the per-part
    top-ks, under the total order (score DESC, id ASC), on blocks
    deduplicated to the best appearance per id), so "best k docs PER
    SOURCE over everything ever ingested" folds exactly.  Separate from
    :func:`topk_batch` so the gated global path stays byte-identical;
    the head is a per-group window over the deduped frame (group-bounded
    rank, never a global sort) instead of TakeOrdered."""
    if not group_cols:
        raise ValueError("topk_batch_grouped: use topk_batch for the global form")
    head = _grouped_head(
        df, group_cols=group_cols, score_col=score_col, id_col=id_col, k=k
    )
    return head.select(
        F.lit(int(batch_id)).cast("long").alias("batch_id"),
        "*",
    )


def topk_registry_resolve_grouped(
    registry: DataFrame,
    *,
    group_cols: list[str],
    score_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """The exact per-group top-k over everything the grouped registry has
    absorbed — dedup to the best appearance per (group, id), then the
    per-group head.  Resolve IS the compactor (re-block the result with
    a sentinel batch_id), bit-stable under re-resolution."""
    return _grouped_head(
        registry,
        group_cols=group_cols,
        score_col=score_col,
        id_col=id_col,
        k=k,
        drop_cols=("batch_id",),
    )
