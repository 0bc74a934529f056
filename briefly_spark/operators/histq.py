"""Mergeable log-bin histogram quantile registry (X142) — incremental
per-group quantiles over continuous ingest, the missing leg of the
registry family (HLL distinct X128, exact top-k X139, OLS trend sums
X131, datasheet X137).

Public method: HdrHistogram-style log-linear binning (Gil Tene's
HdrHistogram; same bounded-relative-error idea as DDSketch, Masson et
al. VLDB 2019).  Values land in deterministic integer bins — unit bins
below 2^S, then M = 2^S sub-buckets per power of two — so a bin bracket
is never wider than 1/M of its magnitude (6.25 % at the default S = 4).
Quantiles come back as EXACT-RANK brackets: the rank arithmetic over the
merged counts is integer-exact, only the VALUE is bracketed to [lo, hi].
That split is what makes the sketch registry-safe:

- partials are per-(batch, group, bin) COUNTS — additive, mergeable,
  order-independent, so batch ≡ fold ≡ stream pins hold exactly, not
  approximately (the HLL register-max argument, here trivially by
  commutativity of +);
- the registry merge keys on batch_id alone (group-replace): a replayed
  batch replaces its entire block, counts never double (the X69/X115/
  X128/X131 replay discipline);
- registry size is (batches × groups × occupied bins) rows with at most
  ~16·64 bins per group over the full BIGINT range — corpus-independent;
- compaction = re-sum blocks into one sentinel block, exact.

Integer contract: values must be integer-typed (rank, count, bytes,
fixed-point score — trends.require_int_column); the bin index, the
bounds, and the rank formula ``1 + (n-1)·p div 100`` (the lower /
type-1 empirical quantile) are all BIGINT arithmetic, identical in
Spark and the DuckDB mirror, so the surfaces value-match bit-for-bit.
The one excluded input is LONG_MIN (abs() overflows in both engines —
it is a sentinel, not a measurement).

Scale shape: ONE hash-aggregate shuffle builds the counts (map-side
combinable: rows collapse to bins before the exchange); every later
stage — cumulative window, percent cross-join, bracket argmin — runs on
the (groups × bins)-bounded frame, never on the corpus.  The percents
frame is a broadcast literal.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from briefly_spark.operators.trends import require_int_column
from briefly_spark.streaming.incremental import merge_block, run_available_now

#: sub-bucket resolution: M = 2^S bins per octave → ≤ 1/M relative
#: bracket width.  Part of the registry's on-disk contract — changing it
#: invalidates stored bin indexes, so it is a parameter, not a config.
S_DEFAULT = 4

#: default report percentiles (integer percents, exact-rank semantics)
DEFAULT_PERCENTS = (1, 25, 50, 75, 99)

#: the registry block schema tail (after the group columns)
BLOCK_COLS = ("bin_idx", "cnt")


def bin_index(col: Column, *, s: int = S_DEFAULT) -> Column:
    """Deterministic log-linear bin index, monotone in the value and
    sign-aware (negatives mirror to ``-1 - index(|v|)``).

    For a = |v|: unit bins ``a`` below M = 2^S; above, the index is
    ``(e - S)·M + (a >> (e - S))`` with e the MSB position.  Both legs
    are exact integer arithmetic — the top S+1 bits come from
    ``conv(substr(bin(a), 1, S+1), 2, 10)`` (string-of-bits, no float
    log2 whose boundary rounding would misbin powers of two)."""
    m = 1 << s
    a = F.abs(col).cast("long")
    e = F.length(F.bin(a)) - F.lit(1)
    sub = F.conv(F.substring(F.bin(a), 1, s + 1), 2, 10).cast("long")
    pos = F.when(a < m, a).otherwise((e - s).cast("long") * m + sub)
    return F.when(col < 0, -1 - pos).otherwise(pos).alias("bin_idx")


def _bounds_sql(idx: str, s: int, *, dialect: str) -> tuple[str, str]:
    """(lo, hi) SQL expressions reconstructing a bin's value bracket from
    its index — same integer formulas in both engines; only the integer-
    division spelling differs (Spark ``div``, DuckDB ``//``).  ``hi`` is
    ``lo + 2^shift - 1`` (not ``(sub+1)<<shift - 1``) so the top octave
    of BIGINT never overflows."""
    m = 1 << s
    intdiv = "//" if dialect == "duckdb" else "div"
    j = f"(CASE WHEN {idx} < 0 THEN -1 - {idx} ELSE {idx} END)"
    shift = f"(({j} {intdiv} {m}) - 1)"
    if dialect == "duckdb":
        plo = f"(CASE WHEN {j} < {m} THEN {j} ELSE (({j} % {m}) + {m}) << {shift} END)"
        phi = f"(CASE WHEN {j} < {m} THEN {j} ELSE {plo} + ((1::BIGINT << {shift}) - 1) END)"
    else:
        plo = (
            f"(CASE WHEN {j} < {m} THEN {j} "
            f"ELSE shiftleft(({j} % {m}) + {m}, {shift}) END)"
        )
        phi = (
            f"(CASE WHEN {j} < {m} THEN {j} "
            f"ELSE {plo} + (shiftleft(CAST(1 AS BIGINT), {shift}) - 1) END)"
        )
    lo = f"CAST(CASE WHEN {idx} < 0 THEN -{phi} ELSE {plo} END AS BIGINT)"
    hi = f"CAST(CASE WHEN {idx} < 0 THEN -{plo} ELSE {phi} END AS BIGINT)"
    return lo, hi


def _bin_counts(
    df: DataFrame, *, group_cols: list[str], value_col: str, s: int
) -> DataFrame:
    """(group..., bin_idx, cnt) — the one corpus-sized aggregation.
    NULLs are excluded (a NULL is not an observation, count(col)
    semantics, matching the mirror's WHERE)."""
    require_int_column(df, value_col, ctx="histq")
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*group_cols, bin_index(F.col(value_col), s=s))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _quantiles_from_counts(
    counts: DataFrame,
    *,
    group_cols: list[str],
    percents: tuple[int, ...],
    s: int,
) -> DataFrame:
    """Exact-rank bracket extraction over a (groups × bins)-bounded counts
    frame: cumulative window → broadcast percents cross-join → first bin
    whose cumulative count reaches the rank (min-struct, no second
    window).  Output: (group..., p, n, rank, bin_idx, lo, hi)."""
    if not percents or any(not (0 <= int(p) <= 100) for p in percents):
        raise ValueError(f"histq: percents must be in [0, 100], got {percents!r}")
    spark = counts.sparkSession
    cum_w = (
        Window.partitionBy(*group_cols)
        .orderBy("bin_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy(*group_cols)
    cum = counts.withColumn("cum", F.sum("cnt").over(cum_w)).withColumn(
        "n", F.sum("cnt").over(tot_w)
    )
    ps = spark.createDataFrame([(int(p),) for p in percents], "p INT")
    probe = (
        cum.crossJoin(F.broadcast(ps))
        # lower empirical quantile: 1-based rank 1 + floor((n-1)·p/100),
        # integer division — exact in both engines
        .withColumn("rank", F.expr("1 + ((n - 1) * p) div 100"))
        .filter(F.col("cum") >= F.col("rank"))
        .groupBy(*group_cols, "p", "n", "rank")
        .agg(F.min("bin_idx").alias("bin_idx"))
    )
    lo, hi = _bounds_sql("bin_idx", s, dialect="spark")
    return probe.select(
        *group_cols,
        F.col("p").cast("int").alias("p"),
        F.col("n").cast("long").alias("n"),
        F.col("rank").cast("long").alias("rank"),
        F.col("bin_idx").cast("long").alias("bin_idx"),
        F.expr(lo).alias("lo"),
        F.expr(hi).alias("hi"),
    )


def group_quantiles(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    percents: tuple[int, ...] = DEFAULT_PERCENTS,
    s: int = S_DEFAULT,
) -> DataFrame:
    """One-shot per-group quantile brackets: exact rank, value bracketed
    to the bin (lo ≤ true quantile ≤ hi, width ≤ |value|/2^s)."""
    counts = _bin_counts(df, group_cols=group_cols, value_col=value_col, s=s)
    return _quantiles_from_counts(counts, group_cols=group_cols, percents=tuple(percents), s=s)


# ---------------------------------------------------------------------------
# the mergeable registry (X128/X131/X139 shape)
# ---------------------------------------------------------------------------
def histq_batch_blocks(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    batch_id: int,
    s: int = S_DEFAULT,
) -> DataFrame:
    """One batch's contribution: (batch_id, group..., bin_idx, cnt) —
    map-side combinable; additive, so fold ≡ one-shot by construction."""
    counts = _bin_counts(df, group_cols=group_cols, value_col=value_col, s=s)
    return counts.select(
        F.lit(int(batch_id)).cast("long").alias("batch_id"),
        *group_cols,
        "bin_idx",
        "cnt",
    )


def histq_registry_quantiles(
    registry: DataFrame,
    *,
    group_cols: list[str],
    percents: tuple[int, ...] = DEFAULT_PERCENTS,
    s: int = S_DEFAULT,
) -> DataFrame:
    """Quantile brackets over everything the registry has absorbed: sum
    blocks per (group, bin) — a (blocks)-bounded aggregation — then the
    same extraction as the one-shot path."""
    folded = registry.groupBy(*group_cols, "bin_idx").agg(F.sum("cnt").alias("cnt"))
    return _quantiles_from_counts(
        folded, group_cols=group_cols, percents=tuple(percents), s=s
    )


def histq_registry_compact(registry: DataFrame, *, into_batch_id: int = -1) -> DataFrame:
    """Re-sum a grown registry into ONE sentinel block per group — exact
    (counts are additive), quantiles before ≡ after (pytest-pinned).
    Same caveat as the other registry compactors: only compact batches
    whose replay window has passed; the negative sentinel cannot collide
    with foreachBatch ids (≥ 0) after a checkpoint reset."""
    group_cols = [
        c for c in registry.columns if c not in ("batch_id", "bin_idx", "cnt")
    ]
    return (
        registry.groupBy(*group_cols, "bin_idx")
        .agg(F.sum("cnt").alias("cnt"))
        .select(
            F.lit(int(into_batch_id)).cast("long").alias("batch_id"),
            *group_cols,
            "bin_idx",
            "cnt",
        )
    )


def histq_counts_stream(
    source: DataFrame,
    wh,
    *,
    registry_table: str,
    checkpoint: str,
    group_cols: list[str],
    value_col: str,
    s: int = S_DEFAULT,
) -> None:
    """Streaming maintenance: each micro-batch's block merges into the
    registry keyed on batch_id alone (group-replace replay discipline —
    a re-delivered batch replaces its entire block)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        block = histq_batch_blocks(
            batch_df,
            group_cols=group_cols,
            value_col=value_col,
            batch_id=batch_id,
            s=s,
        )
        merge_block(wh, block, registry_table, ["batch_id"])

    run_available_now(source, sink, checkpoint)


# ---------------------------------------------------------------------------
# DuckDB mirror
# ---------------------------------------------------------------------------
def sql_group_quantiles(
    table: str,
    *,
    group_cols: list[str],
    value_col: str,
    percents: tuple[int, ...] = DEFAULT_PERCENTS,
    s: int = S_DEFAULT,
) -> str:
    """DuckDB mirror of :func:`group_quantiles` — identical integer bin,
    rank, and bounds formulas (BIGINT throughout), value-identical to
    the Spark surface."""
    m = 1 << s
    g = ", ".join(group_cols)
    plist = ", ".join(str(int(p)) for p in percents)
    lo, hi = _bounds_sql("bin_idx", s, dialect="duckdb")
    return f"""WITH binned AS (
  SELECT {g},
         CASE WHEN {value_col} < 0 THEN -1 - (
           CASE WHEN abs({value_col}) < {m} THEN abs({value_col})
                ELSE (length(bin(abs({value_col}))) - 1 - {s}) * {m}
                     + (abs({value_col}) >> (length(bin(abs({value_col}))) - 1 - {s}))
           END)
         ELSE (
           CASE WHEN {value_col} < {m} THEN {value_col}
                ELSE (length(bin({value_col})) - 1 - {s}) * {m}
                     + ({value_col} >> (length(bin({value_col})) - 1 - {s}))
           END)
         END AS bin_idx
  FROM {table}
  WHERE {value_col} IS NOT NULL
),
counts AS (
  SELECT {g}, bin_idx, CAST(count(*) AS BIGINT) AS cnt
  FROM binned GROUP BY {g}, bin_idx
),
cum AS (
  SELECT {g}, bin_idx, cnt,
         sum(cnt) OVER (PARTITION BY {g} ORDER BY bin_idx) AS cum,
         sum(cnt) OVER (PARTITION BY {g}) AS n
  FROM counts
),
probe AS (
  SELECT {g}, p, CAST(n AS BIGINT) AS n,
         CAST(1 + ((n - 1) * p) // 100 AS BIGINT) AS rank,
         min(bin_idx) AS bin_idx
  FROM cum CROSS JOIN (SELECT unnest([{plist}]) AS p)
  WHERE cum >= 1 + ((n - 1) * p) // 100
  GROUP BY {g}, p, n
)
SELECT {g}, CAST(p AS INT) AS p, n, rank, CAST(bin_idx AS BIGINT) AS bin_idx,
       {lo} AS lo, {hi} AS hi
FROM probe"""
