"""Referential-integrity checks via anti-joins (north-star J8).

The reference can only express FK checks through custom-SQL EXCEPT
diffs; BASELINE.json's north rule requires explicit broadcast /
sort-merge LEFT ANTI joins with violation-row materialization.

Strategy:
  * ``broadcast`` — hint ``F.broadcast(parent_keys)``; right for
    dimension-sized parents (no shuffle of the child at all).
  * ``shuffle`` — force sort-merge via the merge hint; right when the
    parent is also huge.
  * ``auto`` — let Catalyst/AQE pick (it converts to broadcast at
    runtime when the built side is small).

The parent side is pre-projected to its distinct key columns, so the
broadcast payload is minimal and the anti-join never multiplies rows.
NULL FK semantics follow SQL FK convention: rows with any NULL key are
not violations (they're counted separately).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapact_spark.config import ReferentialCheck


def _parent_keys(parent: DataFrame, check: ReferentialCheck) -> DataFrame:
    keys = parent.select(
        *[F.col(rc).alias(fk) for fk, rc in zip(check.fk_columns, check.ref_columns)]
    ).dropDuplicates()
    if check.strategy == "broadcast":
        keys = F.broadcast(keys)
    elif check.strategy == "shuffle":
        keys = keys.hint("merge")
    return keys


def referential_violations(
    child: DataFrame, parent: DataFrame, check: ReferentialCheck
) -> DataFrame:
    """Child rows whose FK columns have no match in the parent."""
    non_null = child
    for fk in check.fk_columns:
        non_null = non_null.where(F.col(fk).isNotNull())
    return non_null.join(_parent_keys(parent, check), on=check.fk_columns, how="left_anti")


def referential_metrics(
    child: DataFrame,
    parent: DataFrame,
    check: ReferentialCheck,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group..., child_count_<name>, violation_count_<name>): one row
    per group of ``group_cols``, one row in all over no keys.

    Single pass over the child: LEFT join against the deduped parent
    keys (multiplicity 1 by construction) and count null-matches —
    instead of a separate count + anti-join, which scans the child
    twice — so groups with zero violations still appear. NULL-FK rows
    count toward child_count but are never violations (SQL FK
    convention)."""
    name = check.name
    keys = _parent_keys(parent, check).withColumn("__matched", F.lit(1))
    non_null_pred = F.lit(True)
    for fk in check.fk_columns:
        non_null_pred = non_null_pred & F.col(fk).isNotNull()
    joined = child.join(keys, on=check.fk_columns, how="left")
    return joined.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias(f"child_count_{name}"),
        # an empty child over no keys sums to NULL
        F.coalesce(
            F.sum(
                F.when(non_null_pred & F.col("__matched").isNull(), 1).otherwise(0)
            ),
            F.lit(0),
        ).alias(f"violation_count_{name}"),
    )
