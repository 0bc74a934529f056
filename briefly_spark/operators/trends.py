"""Per-group OLS trend regression (X129) — exact integer least squares
over grouped data, the drift-DETECTION companion to the drift-MEASURING
operators (X125 PSI, X119 anomaly history): PSI says two snapshots
differ, the trend says how a metric moves WITHIN a table ("does document
length decay over ingest order for this source?", "is this feed's
quality score sliding?").

Reference parity: beyond-reference (the reference has no analytics over
its own corpus) — part of the SURVEY §2.10 training-data surface, same
tier as the profiling/expectation operators it composes with.

Exactness — no division, no floats, anywhere:

- Inputs must be INTEGER-typed columns (raise otherwise — a DOUBLE
  metric has no engine-exact sum).
- The closed-form OLS solution is emitted as exact integer FRACTIONS:
  ``slope = slope_num / slope_den`` and
  ``intercept = icept_num / slope_den`` with

      slope_num = n·Σxy − Σx·Σy
      slope_den = n·Σxx − (Σx)²
      icept_num = Σy·Σxx − Σx·Σxy
      vary_num  = n·Σyy − (Σy)²      (r² = slope_num² / (slope_den·vary_num))

  All sums and products are computed in DECIMAL(38,0) on the Spark side
  and HUGEINT (int128) in the DuckDB mirror — both exact integer
  arithmetic, so the surfaces agree bit-for-bit.  A constant-x group
  (or n = 1) surfaces as ``slope_den = 0`` rather than a NULL-masked
  guess — the caller decides what an undefined trend means.

Scale (100 TB): ONE hash-aggregate shuffle on the group key with
map-side partial sums; the output is group-bounded.  Capacity: with x
pre-ranked or bucketed to 1..n the largest intermediate is
n·Σxx ≈ n⁴/3 — DECIMAL(38,0) holds exact results up to roughly n ≈ 10⁹
rows PER GROUP; for hotter groups, bucket x (e.g. by day) so n counts
buckets, not rows.  Pass x as a bounded ordinal (rank, epoch-day,
bucket id), never an unbounded surrogate id.

Rows with a NULL x or y are excluded on both sides (a point without
both coordinates is not an observation).

X131 — incremental form: the sufficient statistics are associative
integer adds, so :func:`trend_batch_sums` / :func:`trend_registry_fit`
/ :func:`trend_sums_stream` / :func:`trend_registry_compact` give the
standing-registry shape (HLL X128's discipline: per-batch blocks,
group-replace on batch_id for replay safety, group-bounded fold on
read, bit-stable compaction) with EXACT batch ≡ fold ≡ stream pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from briefly_spark.streaming.incremental import merge_block, run_available_now

_INT_TYPES = {"tinyint", "smallint", "int", "integer", "bigint", "long"}

#: exact integer fraction surface emitted per group
TREND_COLS = ("n", "x_sum", "y_sum", "slope_num", "slope_den", "icept_num",
              "vary_num")


def require_int_column(df: DataFrame, col: str, *, ctx: str = "group_trend") -> None:
    """Shared integer-input contract of the exact fixed-point operators
    (OLS trends here, Poisson bootstrap in operators/bootstrap.py): the
    two engines' division/rounding semantics only provably agree on
    integer inputs, so non-integer columns are refused loudly."""
    t = dict(df.dtypes).get(col)
    if t is None:
        raise ValueError(f"{ctx}: unknown column {col!r}")
    if t not in _INT_TYPES:
        raise ValueError(
            f"{ctx}: {col!r} is {t} — exact integer arithmetic needs an "
            f"integer column (rank, bucket, count, fixed-point score); "
            f"cast or quantize first"
        )


def _require_int(df: DataFrame, col: str) -> None:
    require_int_column(df, col, ctx="group_trend")


_DEC = "decimal(38,0)"

#: the mergeable sufficient statistics a trend is derived from
SUM_COLS = ("n", "x_sum", "y_sum", "xx_sum", "xy_sum", "yy_sum")


def _group_sums(
    df: DataFrame, *, group_cols: list[str], x_col: str, y_col: str
) -> DataFrame:
    """The sufficient statistics per group — rows with a NULL x or y are
    dropped (a point without both coordinates is not an observation, and
    sum/count must agree on n)."""
    for c in (x_col, y_col):
        _require_int(df, c)
    x = F.col(x_col).cast(_DEC)
    y = F.col(y_col).cast(_DEC)
    return (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(x).cast(_DEC).alias("x_sum"),
            F.sum(y).cast(_DEC).alias("y_sum"),
            F.sum(x * x).cast(_DEC).alias("xx_sum"),
            F.sum(x * y).cast(_DEC).alias("xy_sum"),
            F.sum(y * y).cast(_DEC).alias("yy_sum"),
        )
    )


def _fit_from_sums(sums: DataFrame, *, group_cols: list[str]) -> DataFrame:
    n = F.col("n").cast(_DEC)
    return sums.select(
        *group_cols,
        "n",
        "x_sum",
        "y_sum",
        (n * F.col("xy_sum") - F.col("x_sum") * F.col("y_sum"))
        .cast(_DEC).alias("slope_num"),
        (n * F.col("xx_sum") - F.col("x_sum") * F.col("x_sum"))
        .cast(_DEC).alias("slope_den"),
        (F.col("y_sum") * F.col("xx_sum") - F.col("x_sum") * F.col("xy_sum"))
        .cast(_DEC).alias("icept_num"),
        (n * F.col("yy_sum") - F.col("y_sum") * F.col("y_sum"))
        .cast(_DEC).alias("vary_num"),
    )


def group_trend(
    df: DataFrame, *, group_cols: list[str], x_col: str, y_col: str
) -> DataFrame:
    """Exact per-group OLS fit of ``y_col`` against ``x_col`` — one
    aggregation pass, output = ``group_cols`` + :data:`TREND_COLS`
    (DECIMAL(38,0) fractions, see module doc).  The DuckDB mirror is
    :func:`sql_group_trend`."""
    return _fit_from_sums(
        _group_sums(df, group_cols=group_cols, x_col=x_col, y_col=y_col),
        group_cols=group_cols,
    )


# -- X131: the INCREMENTAL form — a mergeable sufficient-statistics registry
#
# The sums (n, Σx, Σy, Σxx, Σxy, Σyy) are associative + commutative
# integer adds, so the registry shape the lake's other long-lived state
# uses (HLL X128, heavy-hitter X69, NB X115) applies with EXACT — not
# approximate — batch ≡ fold ≡ stream agreement: each ingest batch
# contributes one sums block keyed by batch_id (group-replace on replay,
# so a re-delivered batch never double-counts), the fit at any moment is
# one group-bounded fold over the registry, and compaction re-sums
# blocks into a sentinel block without changing a single output bit.


def trend_batch_sums(
    df: DataFrame,
    *,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    batch_id: int,
) -> DataFrame:
    """One batch's contribution: (batch_id, *group_cols, *SUM_COLS)."""
    return _group_sums(
        df, group_cols=group_cols, x_col=x_col, y_col=y_col
    ).select(
        F.lit(int(batch_id)).cast("long").alias("batch_id"),
        *group_cols,
        *SUM_COLS,
    )


def trend_sums_by_batch(
    df: DataFrame,
    *,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    batch_col,
) -> DataFrame:
    """Every batch's :func:`trend_batch_sums` block in ONE aggregation
    pass (guide §2.1 — combine shuffles): ``batch_col`` is a Column
    expression partitioning ``df`` into batches; grouping by
    (batch_id, *group_cols) yields rows identical to unioning
    ``trend_batch_sums`` over the per-batch filters — one scan + one
    hash-aggregate instead of one of each per batch.  (An empty batch
    contributes no rows under either form: the per-batch call's
    group-by also emits nothing on an empty slice.)"""
    return _group_sums(
        df.withColumn("batch_id", batch_col.cast("long")),
        group_cols=["batch_id", *group_cols],
        x_col=x_col,
        y_col=y_col,
    ).select("batch_id", *group_cols, *SUM_COLS)


def trend_registry_fit(registry: DataFrame, *, group_cols: list[str]) -> DataFrame:
    """The exact OLS fit over everything the registry has absorbed — one
    group-bounded fold of the sums blocks, then the same fraction
    derivation as :func:`group_trend`: output is bit-identical to a
    one-shot ``group_trend`` over the union of the ingested batches."""
    folded = registry.groupBy(*group_cols).agg(
        F.sum("n").cast("long").alias("n"),
        *[F.sum(c).cast(_DEC).alias(c) for c in SUM_COLS if c != "n"],
    )
    return _fit_from_sums(folded, group_cols=group_cols)


def trend_registry_compact(
    registry: DataFrame, *, into_batch_id: int = -1
) -> DataFrame:
    """Re-sum a grown registry into ONE block per group — exact (integer
    adds are associative), so fits before and after compaction are
    bit-identical (pytest-pinned).  Same caveat as the other registry
    compactors: only compact batches whose replay window has passed; the
    NEGATIVE sentinel cannot collide with foreachBatch ids (≥ 0)."""
    group_cols = [
        c for c in registry.columns if c != "batch_id" and c not in SUM_COLS
    ]
    return registry.groupBy(*group_cols).agg(
        F.sum("n").cast("long").alias("n"),
        *[F.sum(c).cast(_DEC).alias(c) for c in SUM_COLS if c != "n"],
    ).select(
        F.lit(int(into_batch_id)).cast("long").alias("batch_id"),
        *group_cols,
        *SUM_COLS,
    )


def trend_sums_stream(
    source: DataFrame,
    wh,
    *,
    registry_table: str,
    checkpoint: str,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> None:
    """Streaming maintenance: each micro-batch's sums block merges into
    the registry keyed on batch_id alone (group-replace — the X69/X115/
    X128 replay discipline: a re-delivered batch replaces its entire
    block, so sums never absorb a batch twice)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        block = trend_batch_sums(
            batch_df,
            group_cols=group_cols,
            x_col=x_col,
            y_col=y_col,
            batch_id=batch_id,
        )
        merge_block(wh, block, registry_table, ["batch_id"])

    run_available_now(source, sink, checkpoint)


def sql_group_trend(
    table: str, *, group_cols: list[str], x_col: str, y_col: str
) -> str:
    """DuckDB mirror of :func:`group_trend` — HUGEINT (int128) arithmetic,
    value-identical to the Spark DECIMAL(38,0) surface."""
    g = ", ".join(group_cols)
    return f"""WITH sums AS (
  SELECT {g},
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST({x_col} AS HUGEINT)) AS x_sum,
         sum(CAST({y_col} AS HUGEINT)) AS y_sum,
         sum(CAST({x_col} AS HUGEINT) * CAST({x_col} AS HUGEINT)) AS xx_sum,
         sum(CAST({x_col} AS HUGEINT) * CAST({y_col} AS HUGEINT)) AS xy_sum,
         sum(CAST({y_col} AS HUGEINT) * CAST({y_col} AS HUGEINT)) AS yy_sum
  FROM {table}
  WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
  GROUP BY {g}
)
SELECT {g}, n, x_sum, y_sum,
       CAST(n AS HUGEINT) * xy_sum - x_sum * y_sum AS slope_num,
       CAST(n AS HUGEINT) * xx_sum - x_sum * x_sum AS slope_den,
       y_sum * xx_sum - x_sum * xy_sum AS icept_num,
       CAST(n AS HUGEINT) * yy_sum - y_sum * y_sum AS vary_num
FROM sums"""
