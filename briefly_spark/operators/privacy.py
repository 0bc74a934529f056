"""Re-identification risk audits (X130) — k-anonymity and l-diversity
over quasi-identifier columns, plus the suppression work-list that makes
the audit actionable: the governance step a training-data pipeline runs
AFTER PII scrubbing (q56) and BEFORE release ("every row must be hidden
in a crowd of at least k on the attributes an attacker could link").

Definitions (public literature): a table is k-anonymous on a
quasi-identifier (QI) column set when every distinct QI combination
occurs at least k times (Sweeney 2002, "k-anonymity: a model for
protecting privacy"); it is l-diverse when every QI group contains at
least l distinct values of the sensitive attribute (Machanavajjhala et
al. 2007, "l-diversity: privacy beyond k-anonymity") — k-anonymity
alone fails when a small group is homogeneous in the secret.

Reference parity: beyond-reference (SURVEY §2.10 training-data
surface); composes with the expectation suite — feed
:func:`k_anonymity_summary` rows into the metrics history (X119) to
watch release risk drift across snapshots.

Exactness: counts only — no floats anywhere; every surface has a DuckDB
mirror (:func:`sql_k_anonymity_report`, :func:`sql_k_anonymity_summary`).

Scale (100 TB): the report is ONE hash-aggregate shuffle on the QI key
(map-side combine; group-bounded output).  The summary folds the report
with a second group-bounded aggregate.  The work-list joins the
violating-group frame back to the table on the QI key — AQE plans the
join side (the violating frame is usually small but CAN be huge when k
is aggressive; never force a broadcast — the fk dim=True lesson, and why
merge_scd2 leaves its batch join to AQE).  NULL QI values group together
(SQL GROUP BY semantics) — "unknown" is itself a linkable crowd, so this
is the conservative reading; the work-list and release joins therefore
use NULL-SAFE equality (``<=>``) so a NULL-keyed sub-k crowd is flagged
and suppressed exactly like any other (plain ``=`` would silently drop
it — ADVICE r11 #1).  Spark plans ``EqualNullSafe`` as a hash-join key,
so the null-safe condition costs nothing over the equi-join."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _nullsafe_key_join(
    left: DataFrame, keys: DataFrame, cols: list[str], how: str
) -> DataFrame:
    """Semi/anti join on QI columns with NULL-SAFE equality — the crowd
    semantics of GROUP BY (NULLs form a group) carried into the join
    (ADVICE r11 #1: plain column-equality semi/anti joins drop NULL
    keys, so NULL-keyed sub-k rows escaped both the work-list and the
    release suppression).  ``how`` ∈ {left_semi, left_anti}; output
    columns are the left frame's, so no aliasing leaks."""
    l, r = left.alias("__l"), keys.alias("__r")
    cond = None
    for c in cols:
        e = F.col(f"__l.{c}").eqNullSafe(F.col(f"__r.{c}"))
        cond = e if cond is None else cond & e
    return l.join(r, cond, how)


def k_anonymity_report(
    df: DataFrame, *, quasi_cols: list[str], sensitive_col: str | None = None
) -> DataFrame:
    """Per-QI-combination crowd size: ``quasi_cols`` + ``group_size``
    (+ ``l_distinct`` distinct-sensitive-values when ``sensitive_col``
    is given — the l-diversity surface).  One aggregation pass."""
    aggs = [F.count(F.lit(1)).cast("long").alias("group_size")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col)).cast("long").alias("l_distinct")
        )
    return df.groupBy(*quasi_cols).agg(*aggs)


def k_anonymity_summary(
    df: DataFrame,
    *,
    quasi_cols: list[str],
    k: int,
    sensitive_col: str | None = None,
    l: int | None = None,
) -> DataFrame:
    """One-row release-risk verdict: ``k_min`` (the table's actual
    anonymity level), ``n_groups``, ``n_rows``, ``n_violating_groups``
    and ``n_suppressed_rows`` (groups/rows below ``k`` — what a
    suppression release would drop), plus ``l_min`` /
    ``n_l_violating_groups`` when a sensitive column and ``l`` are
    given.  Report pass + one group-bounded fold."""
    rep = k_anonymity_report(
        df, quasi_cols=quasi_cols, sensitive_col=sensitive_col
    )
    viol = F.col("group_size") < int(k)
    aggs = [
        F.min("group_size").cast("long").alias("k_min"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("group_size").cast("long").alias("n_rows"),
        F.sum(viol.cast("long")).cast("long").alias("n_violating_groups"),
        F.sum(F.when(viol, F.col("group_size")).otherwise(F.lit(0)))
        .cast("long").alias("n_suppressed_rows"),
    ]
    if sensitive_col is not None and l is not None:
        lviol = F.col("l_distinct") < int(l)
        aggs += [
            F.min("l_distinct").cast("long").alias("l_min"),
            F.sum(lviol.cast("long")).cast("long").alias("n_l_violating_groups"),
        ]
    return rep.groupBy().agg(*aggs)


def suppression_worklist(
    df: DataFrame, *, quasi_cols: list[str], k: int
) -> DataFrame:
    """The rows that must be suppressed or generalized before a
    k-anonymous release: every row whose QI combination occurs fewer
    than ``k`` times.  Report pass + one equi-join back on the QI key
    (AQE-planned side; see module doc)."""
    small = (
        k_anonymity_report(df, quasi_cols=quasi_cols)
        .filter(F.col("group_size") < int(k))
        .select(*quasi_cols)
    )
    return _nullsafe_key_join(df, small, quasi_cols, "left_semi")


def generalize_to_k(
    df: DataFrame,
    *,
    ladders: dict[str, list],
    k: int,
    suppress_remainder: bool = True,
) -> tuple[DataFrame, dict]:
    """Greedy full-domain generalization until the table is k-anonymous
    (Samarati 2001 / Sweeney 2002's generalization+suppression model,
    greedy instead of lattice search): each QI column gets a caller-
    supplied LADDER of coarsenings (e.g. age → decade → NULL, zip →
    3-digit prefix → NULL), and each round promotes
    the ONE column whose next level leaves the fewest rows in
    sub-``k`` crowds, until the table is k-anonymous or every ladder is
    exhausted.  Rows still in small crowds at the end are dropped when
    ``suppress_remainder`` (the standard suppression step) — the
    returned table is therefore ALWAYS k-anonymous on the generalized
    QI columns.

    ``ladders[col]`` lists the coarsenings for levels 1..L in order
    (level 0 — the raw column — is implicit); each entry is a Column
    expression over the BASE dataframe.  Returns (released_df, audit)
    where audit records the chosen level per column, rounds taken, and
    the suppressed-row count.

    Determinism: candidate evaluation order is the caller's dict order;
    ties break on that order (first wins) — no randomness, same inputs
    → same levels, same release.

    Scale: each round evaluates ≤ |QI| candidate aggregations (one
    crowd-size pass each — the X130 report shape, one shuffle per
    candidate, all group-bounded); driver state is the level vector +
    one scalar per candidate.  Rounds ≤ Σ ladder depths (typically < 10).
    The final release is one anti-join against the small-crowd frame."""
    levels = {c: 0 for c in ladders}

    def _qi_expr(col: str, level: int):
        return F.col(col) if level == 0 else ladders[col][level - 1]

    def _suppressed_rows(lv: dict[str, int]) -> int:
        rep = (
            df.select(*[_qi_expr(c, lv[c]).alias(f"__qi_{c}") for c in ladders])
            .groupBy(*[f"__qi_{c}" for c in ladders])
            .agg(F.count(F.lit(1)).alias("group_size"))
        )
        row = rep.agg(
            F.sum(
                F.when(F.col("group_size") < int(k), F.col("group_size"))
                .otherwise(F.lit(0))
            ).alias("s")
        ).collect()[0]
        return int(row["s"] or 0)

    rounds = 0
    bad = _suppressed_rows(levels)
    while bad > 0:
        candidates = [c for c, lad in ladders.items() if levels[c] < len(lad)]
        if not candidates:
            break
        best_col, best_bad = None, None
        for c in candidates:
            trial = dict(levels)
            trial[c] += 1
            b = _suppressed_rows(trial)
            if best_bad is None or b < best_bad:  # strict: ties keep first
                best_col, best_bad = c, b
        levels[best_col] += 1
        bad = best_bad
        rounds += 1
    out_cols = [c for c in df.columns if c not in ladders]
    released = df.select(
        *[_qi_expr(c, levels[c]).alias(c) for c in ladders],
        *out_cols,
    )
    suppressed = 0
    if bad > 0 and suppress_remainder:
        small = (
            released.groupBy(*ladders)
            .agg(F.count(F.lit(1)).alias("group_size"))
            .filter(F.col("group_size") < int(k))
            .select(*ladders)
        )
        released = _nullsafe_key_join(released, small, list(ladders), "left_anti")
        suppressed = bad
    return released, {
        "levels": dict(levels),
        "rounds": rounds,
        "suppressed_rows": suppressed,
        "k": int(k),
    }


def sql_k_anonymity_report(
    table: str, *, quasi_cols: list[str], sensitive_col: str | None = None
) -> str:
    """DuckDB mirror of :func:`k_anonymity_report`."""
    g = ", ".join(quasi_cols)
    l_item = (
        f", CAST(count(DISTINCT {sensitive_col}) AS BIGINT) AS l_distinct"
        if sensitive_col is not None
        else ""
    )
    return (
        f"SELECT {g}, CAST(count(*) AS BIGINT) AS group_size{l_item} "
        f"FROM {table} GROUP BY {g}"
    )


def sql_k_anonymity_summary(
    table: str,
    *,
    quasi_cols: list[str],
    k: int,
    sensitive_col: str | None = None,
    l: int | None = None,
) -> str:
    """DuckDB mirror of :func:`k_anonymity_summary`."""
    rep = sql_k_anonymity_report(
        table, quasi_cols=quasi_cols, sensitive_col=sensitive_col
    )
    l_items = (
        f""",
       CAST(min(l_distinct) AS BIGINT) AS l_min,
       CAST(sum(CASE WHEN l_distinct < {int(l)} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_l_violating_groups"""
        if sensitive_col is not None and l is not None
        else ""
    )
    return f"""WITH rep AS ({rep})
SELECT CAST(min(group_size) AS BIGINT) AS k_min,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(group_size) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN group_size < {int(k)} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(sum(CASE WHEN group_size < {int(k)} THEN group_size ELSE 0 END)
            AS BIGINT) AS n_suppressed_rows{l_items}
FROM rep"""
