"""Row-level CHECK-constraint operators (config.ConstraintCheck).

The "constraint" half of the north star's "schema + constraint
validation engine". No reference counterpart — the reference
(/root/reference/datapact) expresses row predicates only through
hand-written custom SQL tests (sql_generator.py:26-83); here they are
first-class config objects with tolerance verdicts and materialized
violation rows, compiled into the engine's existing single-pass plan.

Scale shape: a constraint is one commutative ``SUM(CASE WHEN ...)``
over the side's slice. ``violation_exprs`` returns plain aggregate
Columns so the compiler folds ALL constraints for a side into the
side's existing single-pass stats profile (operators/profile.py) —
N constraints ⇒ zero extra scans, zero extra shuffles, map-side
partials absorb any skew. Violation materialization re-uses the same
predicate as a filter, which Catalyst pushes into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapact_spark.config import ConstraintCheck


def violation_flag(check: ConstraintCheck) -> Column:
    """Boolean Column: True when the row VIOLATES the constraint.

    ``null_passes=True`` (ANSI CHECK): a NULL predicate is not a
    violation; ``null_passes=False``: a NULL predicate is one.
    """
    pred = F.expr(check.predicate)
    return ~F.coalesce(pred, F.lit(bool(check.null_passes)))


def violation_exprs(checks: list[ConstraintCheck], side: str) -> list[Column]:
    """One ``SUM`` aggregate per constraint, named
    ``constraint_violations_<name>_<side>`` — fold these into the
    side's profile scan."""
    return [
        F.sum(F.when(violation_flag(c), 1).otherwise(0))
        .cast("long")
        .alias(f"constraint_violations_{c.name}_{side}")
        for c in checks
    ]


def foldable_checks(
    df: DataFrame,
    all_checks: list[ConstraintCheck],
    configured: list[ConstraintCheck],
) -> list[ConstraintCheck]:
    """The checks to fold into ONE side's profile scan: every check
    configured for that side, plus any other check whose predicate
    resolves against the side's schema — in the global config order.

    Why fold more than the configured side: the source and target
    profiles are separate aggregates, and AQE reuses one scan+exchange
    for both ONLY if the plans are structurally identical
    (``sameResult`` on the canonicalized plans). Folding an asymmetric
    constraint set broke that identity and re-ran the full profile scan
    twice under self-validation / clean-steady-state fingerprint mode —
    a measured 2.6× wall-time regression at 16M files (BENCH.md
    constraint-cost A/B). With the symmetric fold both sides carry the
    same expressions whenever their schemas allow, the verdict simply
    ignores the unconfigured side's columns, and the marginal cost is
    one codegen'd SUM per extra check.
    """
    configured_ids = {id(c) for c in configured}
    out: list[ConstraintCheck] = []
    for c in all_checks:
        if id(c) in configured_ids:
            out.append(c)
            continue
        try:
            df.select(violation_flag(c))  # eager analysis probe
        except Exception:
            continue  # predicate doesn't resolve on this side's schema
        out.append(c)
    return out


def constraint_violations(df: DataFrame, check: ConstraintCheck) -> DataFrame:
    """The violating rows themselves (for ``materialize_violations``),
    tagged with the constraint name. The predicate filter pushes down
    to the scan; no shuffle."""
    return df.where(violation_flag(check)).select(
        F.lit(check.name).alias("__constraint"), "*"
    )
