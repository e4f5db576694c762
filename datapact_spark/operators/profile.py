"""Single-pass stats profile — the engine's core aggregation.

The reference folds row count, per-column null counts, distinct counts
for uniqueness, and every configured SUM/AVG/MIN/MAX into ONE scan per
table side (validation.sql.j2:121-187; CHANGELOG §2.8.1 calls this out
as the key cost optimization). Catalyst will NOT merge separate
``df.agg()`` actions, so we assemble one wide ``agg(*exprs)`` ourselves.

At 100 TB this means: one parquet scan per side, all measures computed
with map-side partial aggregation, a single-row result. Column pruning
is free — only referenced columns reach the scan (verify via
``.explain`` ReadSchema).

The one ``COUNT(DISTINCT struct)`` is planned by Catalyst's
single-distinct rewrite — no Expand: a partial aggregate on (group
keys ⊕ distinct key), an exchange on that high-cardinality key, then a
partial aggregate on the group keys below their own exchange. A hot
group key (a mega-repo) therefore reaches its reducer as one partial
row per upstream partition, never as its raw rows.
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapact_spark.config import ValidationTask
from datapact_spark.functions.exprs import DEC6
from datapact_spark.operators.constraints import foldable_checks, violation_exprs
from datapact_spark.operators.freshness import foldable_freshness, max_ts_exprs

# relative standard deviation of uniqueness_strategy='approx' (HLL++)
APPROX_DISTINCT_RSD = 0.01


def profile_exprs(
    task: ValidationTask, side: str, exact_distinct: bool = False
) -> list[Column]:
    """Aggregate expressions for one side ('source'|'target').

    Output column names follow the reference CTE contract
    (validation.sql.j2:127-151): ``<side>_count``,
    ``<side>_nulls_<col>``, ``<side>_distinct_uniqs``,
    ``<side>_value_<col>_<AGG>``.

    ``<side>_distinct_uniqs`` is ``COUNT(DISTINCT struct(cols))``, or
    HyperLogLog++ (~1% rsd, no key shuffle) under
    ``uniqueness_strategy='approx'`` unless ``exact_distinct``.
    """
    exprs: list[Column] = [F.count(F.lit(1)).alias(f"{side}_count")]
    nulls_use_table_counts = (
        task.null_validation_columns
        and task.null_validation_tolerance is not None
        and not task.primary_keys
    )
    if nulls_use_table_counts:
        for col in task.null_validation_columns:
            exprs.append(
                F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias(
                    f"{side}_nulls_{col}"
                )
            )
    if task.uniqueness_columns and task.uniqueness_tolerance is not None:
        key = F.struct(*[F.col(c) for c in task.uniqueness_columns])
        if task.uniqueness_strategy == "approx" and not exact_distinct:
            distinct = F.approx_count_distinct(key, APPROX_DISTINCT_RSD)
        else:
            distinct = F.count_distinct(key)
        exprs.append(distinct.alias(f"{side}_distinct_uniqs"))
    for av in task.agg_validations or []:
        for v in av.validations:
            agg = v.agg.upper()
            fn = {
                "SUM": F.sum,
                "AVG": F.avg,
                "MIN": F.min,
                "MAX": F.max,
                "COUNT": F.count,
            }[agg]
            exprs.append(
                fn(F.col(av.column))
                # TRY_CAST(... AS DECIMAL(38,6)), j2:146 — try_cast so an
                # overflow/invalid value yields NULL (reference semantics)
                # instead of throwing under Spark 4's default ANSI mode
                .try_cast(DEC6)
                .alias(f"{side}_value_{av.column}_{agg}")
            )
    return exprs


def stats_needed(task: ValidationTask) -> bool:
    """Whether the profile scan is required (validation.sql.j2:31-35)."""
    nulls_use_table_counts = (
        task.null_validation_columns
        and task.null_validation_tolerance is not None
        and not task.primary_keys
    )
    return bool(
        task.count_tolerance is not None
        or task.agg_validations
        or (task.uniqueness_columns and task.uniqueness_tolerance is not None)
        or nulls_use_table_counts
    )


class SideFolds(NamedTuple):
    """Constraint and freshness checks per side: ``*_by_side`` holds the
    checks configured (enforced) on a side, ``*_fold`` the checks whose
    aggregates ride that side's profile scan."""

    con_by_side: dict[str, list]
    con_fold: dict[str, list]
    fresh_by_side: dict[str, list]
    fresh_fold: dict[str, list]

    def exprs(self, side: str) -> list[Column]:
        """The side's constraint SUMs and freshness MAX(ts)s."""
        return violation_exprs(self.con_fold[side], side) + max_ts_exprs(
            self.fresh_fold[side], side
        )


def side_folds(
    task: ValidationTask, source: DataFrame, target: DataFrame
) -> SideFolds:
    """Split the task's constraint and freshness checks by side.

    Symmetric fold (see constraints.foldable_checks): both profiles carry
    the same constraint SUMs and freshness MAX(ts)s, in config order,
    wherever the predicate or column resolves, so the two plans stay
    structurally identical and AQE can reuse one scan+exchange under
    self-validation; verdicts read only the configured side's columns."""
    sides = {"source": source, "target": target}
    all_cons = list(task.constraint_checks or [])
    all_fresh = list(task.freshness_checks or [])
    con_by_side: dict[str, list] = {s: [] for s in sides}
    fresh_by_side: dict[str, list] = {s: [] for s in sides}
    for checks, by_side in ((all_cons, con_by_side), (all_fresh, fresh_by_side)):
        for c in checks:
            for s in sides if c.side == "both" else (c.side,):
                by_side[s].append(c)
    return SideFolds(
        con_by_side=con_by_side,
        con_fold={
            s: foldable_checks(df, all_cons, con_by_side[s]) for s, df in sides.items()
        },
        fresh_by_side=fresh_by_side,
        fresh_fold={
            s: foldable_freshness(df, all_fresh, fresh_by_side[s])
            for s, df in sides.items()
        },
    )


def profile_df(
    df: DataFrame,
    task: ValidationTask,
    side: str,
    group_cols: Sequence[str] = (),
    extra_exprs: list[Column] | None = None,
) -> DataFrame:
    """Stats profile for one side — a single scan: one row, or one row
    per group of ``group_cols`` (the per-partition verdict key, e.g.
    repo, lang) with exact distinct counts whatever the task's
    uniqueness strategy. Grouped, it is one shuffle on the group key
    with partial aggregation map-side.

    ``extra_exprs`` folds additional commutative aggregates (constraint
    sums, freshness MAX(ts), the row-hash group fingerprint) into the
    SAME scan."""
    return df.groupBy(*[F.col(c) for c in group_cols]).agg(
        *profile_exprs(task, side, exact_distinct=bool(group_cols)),
        *(extra_exprs or []),
    )
