"""Data-freshness (SLA) checks (config.FreshnessCheck).

The staleness staple of validation engines (dbt source freshness,
Great Expectations ``expect_column_max_to_be_between`` on a timestamp):
fail the task when ``now - MAX(ts_column)`` exceeds ``max_age_hours``.
No reference counterpart — the reference records ``expected_sla_hours``
as dashboard metadata only.

Scale shape: each check is ONE commutative ``MAX`` folded into the
side's single-pass stats profile scan (operators/profile.py), exactly
like constraint-violation sums — zero extra scans, zero extra
shuffles, and the same symmetric-fold rule (fold on both sides
wherever the column resolves, in config order) so the two profile
plans stay structurally identical and AQE scan reuse survives (see
constraints.foldable_checks for the measured why).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapact_spark.config import FreshnessCheck


def max_ts_exprs(checks: list[FreshnessCheck], side: str) -> list[Column]:
    """One ``MAX(ts)`` aggregate per freshness check, named
    ``freshness_max_<column>_<side>`` — fold these into the side's
    profile scan."""
    return [
        F.max(F.col(c.column).cast("timestamp")).alias(
            f"freshness_max_{c.column}_{side}"
        )
        for c in checks
    ]


def foldable_freshness(
    df: DataFrame,
    all_checks: list[FreshnessCheck],
    configured: list[FreshnessCheck],
) -> list[FreshnessCheck]:
    """Symmetric-fold selection — same contract as
    ``constraints.foldable_checks``: every configured check, plus any
    other whose column resolves on this side, in config order."""
    configured_ids = {id(c) for c in configured}
    out: list[FreshnessCheck] = []
    for c in all_checks:
        if id(c) in configured_ids:
            out.append(c)
            continue
        try:
            df.select(F.col(c.column).cast("timestamp"))
        except Exception:
            continue
        out.append(c)
    return out
