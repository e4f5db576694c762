"""Ad-hoc table diff: ``python -m datapact_spark diff`` — compare two
tables NOW, no config file, human-readable summary, exit 1 on any
difference.

The interactive workflow in front of the declarative engine (the
data-diff/"are these two tables the same?" question every migration
asks). Reuses the engine's own operators, so the numbers agree with
what a configured validation would report:

* schema diff (missing / extra / retyped columns — metadata only),
* row counts per side,
* with ``keys``: per-key presence (missing in target / missing in
  source via compact anti-join counts) and row-hash mismatches over the
  common keys, plus a bounded sample of differing keys.

Scale shape: one count aggregate per side, anti-joins and the hash
join shuffle only (key, 64-bit hash) columns, and the sample is a
``limit(n)`` — never a full collect.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class DiffResult:
    source_count: int
    target_count: int
    schema_missing_in_target: list[str]
    schema_extra_in_target: list[str]
    schema_type_mismatches: list[str]
    missing_in_target: int | None = None
    missing_in_source: int | None = None
    hash_mismatches: int | None = None
    compared_rows: int | None = None
    sample_mismatches: list[dict[str, Any]] = field(default_factory=list)

    @property
    def identical(self) -> bool:
        return (
            self.source_count == self.target_count
            and not self.schema_missing_in_target
            and not self.schema_extra_in_target
            and not self.schema_type_mismatches
            and not self.missing_in_target
            and not self.missing_in_source
            and not self.hash_mismatches
        )

    def render(self) -> str:
        lines = [
            f"rows: source={self.source_count:,} target={self.target_count:,}"
            + ("" if self.source_count == self.target_count else "  << DIFFER"),
        ]
        if (
            self.schema_missing_in_target
            or self.schema_extra_in_target
            or self.schema_type_mismatches
        ):
            if self.schema_missing_in_target:
                lines.append(
                    "schema: missing in target: "
                    + ", ".join(self.schema_missing_in_target)
                )
            if self.schema_extra_in_target:
                lines.append(
                    "schema: extra in target: "
                    + ", ".join(self.schema_extra_in_target)
                )
            if self.schema_type_mismatches:
                lines.append(
                    "schema: type mismatches: "
                    + "; ".join(self.schema_type_mismatches)
                )
        else:
            lines.append("schema: identical")
        if self.compared_rows is not None:
            lines.append(
                f"keys: {self.missing_in_target:,} missing in target, "
                f"{self.missing_in_source:,} missing in source"
            )
            lines.append(
                f"content: {self.hash_mismatches:,} of {self.compared_rows:,} "
                "common rows differ"
            )
            for s in self.sample_mismatches:
                lines.append(f"  e.g. {s}")
        lines.append("verdict: " + ("IDENTICAL" if self.identical else "DIFFERENT"))
        return "\n".join(lines)


def diff_tables(
    source: DataFrame,
    target: DataFrame,
    keys: list[str] | None = None,
    hash_columns: list[str] | None = None,
    algo: str = "md5",
    sample: int = 5,
) -> DiffResult:
    """Compute the diff summary. ``keys`` enables the per-row compare;
    without them only counts + schema are checked."""
    s_fields = {f.name: f.dataType.simpleString() for f in source.schema.fields}
    t_fields = {f.name: f.dataType.simpleString() for f in target.schema.fields}
    res = DiffResult(
        source_count=source.count(),
        target_count=target.count(),
        schema_missing_in_target=sorted(set(s_fields) - set(t_fields)),
        schema_extra_in_target=sorted(set(t_fields) - set(s_fields)),
        schema_type_mismatches=sorted(
            f"{c}: {s_fields[c]} vs {t_fields[c]}"
            for c in set(s_fields) & set(t_fields)
            if s_fields[c] != t_fields[c]
        ),
    )
    if not keys:
        return res

    from datapact_spark.operators.rowhash import pk_join_metrics, row_hash_violations

    s_keys = source.select(*keys)
    t_keys = target.select(*keys)
    res.missing_in_target = s_keys.join(t_keys, keys, "left_anti").count()
    res.missing_in_source = t_keys.join(s_keys, keys, "left_anti").count()
    # hash compare only makes sense over the common column set
    common = [
        c
        for c in source.columns
        if c in set(target.columns) and c not in set(keys)
    ]
    hcols = hash_columns or common
    m = pk_join_metrics(
        source, target, keys, hash_columns=hcols, algo=algo
    ).collect()[0]
    res.compared_rows = m["total_compared_rows"]
    res.hash_mismatches = m["mismatch_count"]
    if res.hash_mismatches:
        res.sample_mismatches = [
            r.asDict()
            for r in row_hash_violations(source, target, keys, hcols, algo)
            .limit(sample)
            .collect()
        ]
    return res


def diff_partitions(
    spark,
    resolver,
    source: str,
    target: str,
    keys: list[str],
    partition_by: list[str],
    hash_columns: list[str] | None = None,
    algo: str = "md5",
    sample: int = 10,
) -> tuple[int, int, list[dict[str, Any]]]:
    """Grouped diff: WHICH partitions differ, via the engine's
    per-partition verdict compiler in fingerprint mode — clean groups
    verify with zero join work, only dirty groups pay the exact
    compare. Returns (total_groups, failing_groups, worst ``sample``
    failing groups by mismatch count)."""
    from datapact_spark.config import ValidationTask
    from datapact_spark.plans.partitioned import compile_partition_verdicts
    from datapact_spark.session import cache_scope, persist_scoped

    task = ValidationTask(
        task_key="adhoc_diff",
        source=source,
        target=target,
        primary_keys=keys,
        partition_by=partition_by,
        count_tolerance=0.0,
        pk_row_hash_check=True,
        pk_hash_tolerance=0.0,
        hash_columns=hash_columns,
        hash_algo=algo,
        row_hash_mode="fingerprint_multiset",
    )
    with cache_scope():
        v = persist_scoped(compile_partition_verdicts(spark, task, resolver))
        n_groups = v.count()
        failing = v.where(~F.col("overall_validation_passed"))
        n_fail = failing.count()
        rows = [
            r.asDict()
            for r in failing.select(
                *partition_by, "source_count", "target_count", "mismatch_count"
            )
            .orderBy(F.col("mismatch_count").desc(), *partition_by)
            .limit(sample)
            .collect()
        ]
    return n_groups, n_fail, rows
