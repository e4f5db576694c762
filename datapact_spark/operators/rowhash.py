"""PK-join comparison: row hashes and null parity (validation.sql.j2:190-241).

One inner equi-join on the exact primary-key values feeds both the
row-hash compare (j2:190-221) and the PK null-parity compare (j2:224-241),
for a task-level verdict (no group columns ⇒ one row) and for
per-partition verdicts (one row per source-side group) alike. Violation
rows (the mismatching keys) are materialized on demand — the reference
only counts (j2:195-197); the north star requires the rows.

Scale notes:
  * the join shuffles both sides on the PK — AQE skew-join splitting is
    on (session.py); for a dimension-sized side Catalyst broadcasts, and
    inputs co-bucketed on the PKs join with no exchange at all.
  * each side is projected before the join to (PKs, group columns,
    digest, null-checked columns), so the shuffle carries the digest,
    never the hashed content — the dominant saving at wide schemas.
  * the join key is the PK tuple itself, not a hash fold of it: SQL
    equality never matches a NULL key component, exactly as the
    reference join does.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapact_spark.functions import hashing


def _side(
    df: DataFrame,
    tag: str,
    primary_keys: Sequence[str],
    group_cols: Sequence[str],
    row_hash: bool,
    hash_columns: list[str] | None,
    algo: str,
    serialization: str,
    null_columns: Sequence[str],
) -> DataFrame:
    """Project one side to (PKs, group cols, digest ``__{tag}h``, null
    columns ``__{tag}_{c}``); ``hash_columns=None`` hashes all of the
    side's own columns."""
    cols = [F.col(pk) for pk in primary_keys]
    cols += [F.col(g) for g in group_cols if g not in primary_keys]
    if row_hash:
        hcols = hash_columns if hash_columns else df.columns
        cols.append(
            hashing.row_hash([F.col(c) for c in hcols], algo, serialization)
            .alias(f"__{tag}h")
        )
    cols += [F.col(c).alias(f"__{tag}_{c}") for c in null_columns]
    return df.select(*cols)


def pk_join_metrics(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    group_cols: Sequence[str] = (),
    row_hash: bool = True,
    hash_columns: list[str] | None = None,
    algo: str = "md5",
    serialization: str = "json",
    null_columns: Sequence[str] = (),
) -> DataFrame:
    """PK-join metrics, one row per group (one row in all when
    ``group_cols`` is empty). Group columns come from the source side.

    Columns: ``group_cols…``, then with ``row_hash``
    ``(total_compared_rows, mismatch_count)``, then per null column
    ``(source_nulls_{c}, target_nulls_{c})``. ``mismatch_count`` is
    coalesced to 0; the null sums are not (NULL over an empty join, as
    in the reference).
    """
    s = _side(source, "s", primary_keys, group_cols, row_hash, hash_columns,
              algo, serialization, null_columns)
    t = _side(target, "t", primary_keys, (), row_hash, hash_columns,
              algo, serialization, null_columns)
    exprs = []
    if row_hash:
        exprs.append(F.count(F.lit(1)).alias("total_compared_rows"))
        exprs.append(
            F.coalesce(
                F.sum(F.when(F.col("__sh") != F.col("__th"), 1).otherwise(0)),
                F.lit(0),
            ).alias("mismatch_count")
        )
    for c in null_columns:
        exprs.append(
            F.sum(F.when(F.col(f"__s_{c}").isNull(), 1).otherwise(0)).alias(
                f"source_nulls_{c}"
            )
        )
        exprs.append(
            F.sum(F.when(F.col(f"__t_{c}").isNull(), 1).otherwise(0)).alias(
                f"target_nulls_{c}"
            )
        )
    joined = s.join(t, on=primary_keys, how="inner")
    return joined.groupBy(*[F.col(g) for g in group_cols]).agg(*exprs)


def row_hash_violations(
    source: DataFrame,
    target: DataFrame,
    primary_keys: list[str],
    hash_columns: list[str] | None = None,
    algo: str = "md5",
) -> DataFrame:
    """Violation rows: PKs whose hashes differ, with both hashes."""
    s = _side(source, "s", primary_keys, (), True, hash_columns, algo, "json", ())
    t = _side(target, "t", primary_keys, (), True, hash_columns, algo, "json", ())
    return (
        s.join(t, on=primary_keys, how="inner")
        .where(F.col("__sh") != F.col("__th"))
        .select(
            *primary_keys,
            F.col("__sh").alias("source_hash"),
            F.col("__th").alias("target_hash"),
        )
    )
