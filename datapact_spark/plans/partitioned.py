"""Per-partition verdicts — the north-star execution mode.

Instead of one verdict per task, emit one verdict row per partition
group (e.g. ``(repo, lang)`` on the code table): the group keys, every
check's metric columns, one ``*_passed`` column per pass condition and
their AND, ``overall_validation_passed``. The checks are the task
verdict's own (``plans.compiler.walk``, grouped by ``partition_by``);
what only the grouped level has is below.

Missing groups: the two sides' profiles are full-outer joined on the
keys, so a group present in source but absent in target (or vice versa)
gets zeroed counts on the missing side and the count check fails it
(rel diff 100%, or a phantom group: source 0, target > 0) rather than
silently dropping it.

Skew: a hot group key (a mega-repo) needs no salting. The grouped
profile runs a partial HashAggregate map-side below its group-key
exchange, so the hot key's reducer reads one partial row per upstream
partition. Its one COUNT(DISTINCT) plans no Expand: the distinct
combinations shuffle on the high-cardinality (group ⊕ uniqueness) key
first, then the per-group count is partially aggregated the same way.

Fingerprint row-hash modes (``row_hash_mode``): each group's commutative
(pk, row_hash) fingerprint rides the profile scan; only groups whose
counts or fingerprints differ enter the exact PK join, scoped by a
broadcast semi-join that dynamic partition pruning carries into the
detail re-scan. Clean groups cost no join at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from datapact_spark.config import ValidationTask
from datapact_spark.functions.exprs import conjunction, ident
from datapact_spark.plans.compiler import walk
from datapact_spark.sources.loader import TableResolver

# the per-group verdict columns, family by family: the order checkpointed
# verdict tables carry
_FAMILY_ORDER = (
    "count", "null", "agg", "uniqueness", "row_hash",
    "referential", "drift", "constraint", "freshness",
)


def compile_partition_verdicts(
    spark: SparkSession,
    task: ValidationTask,
    resolver: TableResolver,
) -> DataFrame:
    """Per-group verdict DataFrame for one task.

    May persist the joined profile (fingerprint mode with constraint or
    freshness folds): materialize the verdicts inside a ``cache_scope``.
    """
    group_cols = task.partition_by
    if not group_cols:
        raise ValueError("task.partition_by is required for per-partition verdicts")
    w = walk(spark, task, resolver, group_cols)
    checks = sorted(w.checks, key=lambda c: _FAMILY_ORDER.index(c.family))
    enforced = [c for c in checks if c.passed]
    if not enforced:
        raise ValueError(f"task {task.task_key} has no groupable checks configured")
    columns = [
        *[(ident(c), c) for c in group_cols],
        (ident("source_count"), "source_count"),
        (ident("target_count"), "target_count"),
        *[m for c in checks for m in c.metrics],
        *[(c.ok, c.passed) for c in enforced],
        (conjunction([c.ok for c in enforced]), "overall_validation_passed"),
    ]
    return w.relation.selectExpr(*[f"{text} AS {ident(name)}" for text, name in columns])
