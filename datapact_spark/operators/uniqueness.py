"""Uniqueness violations — the duplicated keys behind a failed check.

The duplicate COUNT itself is not computed here: the single-pass
profile (operators/profile.py) carries ``COUNT(DISTINCT struct(cols))``
exactly like validation.sql.j2:135-141. One distinct aggregate plans no
Expand — Catalyst's single-distinct rewrite shuffles the distinct key
once, then the partial counts — so it costs the same two exchanges a
separate ``groupBy(keys).count()`` would, without a second scan.

Here: ``groupBy(keys).count()`` filtered to keys seen more than once,
for materialized violation rows and report samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_groups(df: DataFrame, key_columns: list[str]) -> DataFrame:
    """(key..., dup_count) for every key appearing more than once."""
    return (
        df.groupBy(*[F.col(c) for c in key_columns])
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )


def uniqueness_violations(df: DataFrame, key_columns: list[str]) -> DataFrame:
    """Violation rows: the duplicated keys with their multiplicities.
    Unordered — parquet output has no ordering contract, and a global
    sort would add a full range-partition shuffle; order at read time
    (or use ``top_duplicates``) when a human-facing sample is needed."""
    return duplicate_groups(df, key_columns)


def top_duplicates(df: DataFrame, key_columns: list[str], n: int = 100) -> DataFrame:
    """Worst offenders for reports: top-n duplicated keys
    (TakeOrderedAndProject — no full sort)."""
    return (
        duplicate_groups(df, key_columns)
        .orderBy(F.col("dup_count").desc(), *[F.col(c) for c in key_columns])
        .limit(n)
    )
