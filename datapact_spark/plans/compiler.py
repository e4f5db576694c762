"""Verdict compiler: one walk over a task's checks, rendered per task
or per partition group.

``walk`` emits, per check, its pass condition, its per-group metric
columns and its payload struct as SQL text (``functions.exprs``) over
the task's metric relations. ``compile_task`` renders it as the one-row
``result_payload``, one ``to_json(named_struct(...))`` expression
(dynamic keys and formatted strings match the reference contract
byte-for-byte: FORMAT_NUMBER, '%.2f%%', PASS/FAIL), plus
``overall_validation_passed``; ``plans.partitioned`` renders it per
group. Plan shape (the reference's CTE DAG, validation.sql.j2:
101-486, as native DataFrames):

    source profile (single-pass agg) ─┐  task level: 1-row relations,
    target profile (single-pass agg) ─┤  crossJoined (free over
    src ⋈ tgt on PKs: pk_join_metrics ┤  singletons) ─► one action
    custom SQL ×n (task level only) ──┤
    child ⟕̸ parent: referential ─────┤  per group: the profiles full-
    sketches: drift metrics ──────────┘  outer joined on the keys, then
                                         the rest left-joined on them

Only these branch on the group keys: (a) the count check fails a
phantom group (source 0, target > 0); (b) a metric of a side or relation
missing from a group reads 0; (c) grouped profiles count distinct keys
exactly, whatever ``uniqueness_strategy`` says; (d) the fingerprint
row-hash modes (``fp_in_profile``); (e) grouped hash columns leave out
the group columns; (f) schema and custom-SQL checks are task-level only.
Grouped drift is two-sample: no baseline store reaches the grouped walk.
"""

from __future__ import annotations

import calendar
import datetime as dt
import functools
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from datapact_spark.config import ValidationTask
from datapact_spark.functions import exprs as E
from datapact_spark.ledger import LEDGER_COLUMNS
from datapact_spark.operators import constraints as CK
from datapact_spark.operators import profile as P
from datapact_spark.operators import referential as R
from datapact_spark.operators import rowhash as H
from datapact_spark.operators.custom_sql import custom_sql_metrics, render_custom_sql
from datapact_spark.operators.drift import drift_metrics
from datapact_spark.session import persist_scoped
from datapact_spark.sources.loader import TableResolver


@dataclass
class CompiledTask:
    task: ValidationTask
    # one row: result_payload + overall_validation_passed. Run and task
    # metadata are attached on the driver (ledger_row), never in the
    # plan: Spark inlines long/timestamp literals into generated Java,
    # so a run_id or timestamp in the plan would make every task's final
    # stage a new class to compile on every run
    metrics_df: DataFrame
    # driver clock at compile time: the ledger's validation_begin_ts and
    # the reference instant of freshness checks
    begin_ts: dt.datetime
    violation_dfs: dict[str, DataFrame] = field(default_factory=dict)
    # snapshot-mode drift checks with no stored baseline yet: the engine
    # bootstraps (writes) these after the run — compile stays side-effect
    # free so `plan` remains a true dry run
    bootstrap_drift: list = field(default_factory=list)  # [(check, source_df)]

    def ledger_row(
        self,
        verdict: Row,
        run_id: int,
        job_id: int,
        job_name: str,
        job_start_ts: dt.datetime,
    ) -> Row:
        """The task's ledger row (validation.sql.j2:489-491), in
        LEDGER_SCHEMA order: the collected ``metrics_df`` row plus run
        and task metadata. Call right after the collect —
        ``validation_complete_ts`` is the driver clock now."""
        task = self.task
        values = [
            task.task_key,
            "SUCCESS" if verdict["overall_validation_passed"] else "FAILURE",
            run_id,
            job_id,
            job_name,
            job_start_ts,
            self.begin_ts,
            dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
            *task.source_parts(),
            *task.target_parts(),
            task.business_domain,
            task.business_owner,
            task.business_priority,
            task.expected_sla_hours,
            task.estimated_impact_usd,
            verdict["result_payload"],
        ]
        return Row(**dict(zip(LEDGER_COLUMNS, values)))


class Check(NamedTuple):
    """One check's share of a verdict, as SQL text (``functions.exprs``):
    its family (the per-group column order), the name of its per-group
    ``*_passed`` column (None when the check only observes a side), its
    pass condition, its per-group metric columns as (text, name), and
    its payload struct's key and (name, text) fields; the renderer
    appends ``status``."""

    family: str
    passed: str | None
    ok: str
    metrics: list[tuple[str, str]]
    key: str
    fields: list[tuple[str, str]]


class Walk(NamedTuple):
    """A task's checks over its joined metric relations (``relation`` is
    None when no check needs a scan)."""

    relation: DataFrame | None
    checks: list[Check]
    begin_ts: dt.datetime
    # materialized violation frames, built only when called
    violations: dict[str, Callable[[], DataFrame]]
    bootstrap_drift: list


def _metric(name: str, group_cols: Sequence[str]) -> str:
    # (b) per group, a side or relation missing from the group reads 0
    c = E.ident(name)
    return f"coalesce({c}, 0)" if group_cols else c


def walk(
    spark: SparkSession,
    task: ValidationTask,
    resolver: TableResolver,
    group_cols: Sequence[str] = (),
    baseline_store=None,
) -> Walk:
    """Every check of ``task`` over its metric relations, one row per
    group of ``group_cols`` (one row in all when empty).

    ``baseline_store`` (ledger.BaselineStore) enables snapshot-mode
    drift checks; without it they degrade to two-sample mode.
    """
    begin_ts = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    source_raw = resolver.resolve(task.source_ref)
    target_raw = resolver.resolve(task.target_ref)
    # Filtered slices computed once and reused by every builtin check
    # (validation.sql.j2:104-118). Catalyst pushes the predicate into
    # both scans (PushedFilters), so the slice costs nothing extra.
    if task.filter:
        source = source_raw.where(F.expr(task.filter))
        target = target_raw.where(F.expr(task.filter))
    else:
        source, target = source_raw, target_raw
    sides = (("source", source), ("target", target))
    rels: list[DataFrame] = []
    checks: list[Check] = []
    violations: dict[str, Callable[[], DataFrame]] = {}

    # ---- schema validation (f): metadata-only, zero scans ------------
    if task.schema_check and not group_cols:
        checks.append(_schema_check(task, source, target))

    # ---- single-pass stats profiles -------------------------------
    # Row count, measures and the uniqueness distinct count share one
    # scan per side. Row constraints and freshness MAX(ts) fold into the
    # same scans; at task level a side with those but no profiled stats
    # gets its own standalone 1-row aggregate. Per group the profiles
    # always run: joined, they are the spine listing every group.
    pk_hash = bool(task.pk_row_hash_check and task.primary_keys)
    fp_in_profile = bool(  # (d)
        group_cols
        and pk_hash
        and task.row_hash_mode in ("fingerprint", "fingerprint_multiset")
    )
    hash_cols = task.hash_columns
    if group_cols and not hash_cols:  # (e)
        hash_cols = [c for c in source.columns if c not in group_cols]
    folds = P.side_folds(task, source, target)
    con_by_side, con_fold, fresh_by_side, fresh_fold = folds
    profile_built = bool(group_cols) or P.stats_needed(task)
    if profile_built:
        profiles = [
            P.profile_df(
                df, task, side, group_cols,
                extra_exprs=(
                    _fingerprint_exprs(task, hash_cols, side) if fp_in_profile else []
                ) + folds.exprs(side),
            )
            for side, df in sides
        ]
        if group_cols:
            spine = profiles[0].join(profiles[1], on=list(group_cols), how="full_outer")
            # (a)/(b) a group one side lacks has 0 rows there
            spine = spine.withColumn(
                "source_count", F.coalesce(F.col("source_count"), F.lit(0))
            ).withColumn("target_count", F.coalesce(F.col("target_count"), F.lit(0)))
            if fp_in_profile and (any(con_fold.values()) or any(fresh_fold.values())):
                # The fingerprint dirty-group scope below re-consumes the
                # spine pruned down to the group keys; with constraint
                # sums folded in, the pruned copy no longer canonicalizes
                # equal to the full-width profiles, so AQE stops
                # deduplicating the profile scans and the full table is
                # scanned twice (measured +65% at 16M files). Caching the
                # spine — one row per group — restores single-scan
                # behavior: the scope's broadcast stage materializes the
                # cache first and every later consumer reads it. The
                # caller's cache_scope releases it.
                spine = persist_scoped(spine)
            profiles = [spine]
        rels += profiles
    else:
        for side, df in sides:
            if con_by_side[side] or fresh_by_side[side]:
                rels.append(
                    df.agg(
                        F.count(F.lit(1)).cast("long").alias(f"constraint_rows_{side}"),
                        *folds.exprs(side),
                    )
                )

    # ---- count ------------------------------------------------------
    if task.count_tolerance is not None:
        checks.append(_count_check(task, group_cols))

    # ---- PK join: row hash and PK null parity ----------------------
    null_configured = bool(
        task.null_validation_columns and task.null_validation_tolerance is not None
    )
    pk_nulls = task.null_validation_columns if null_configured and task.primary_keys else ()
    fp_equal = None
    if fp_in_profile:
        # (d) the per-group (pk, row_hash) fingerprints came along with
        # the profile scan: groups whose counts AND fingerprints match
        # are exactly equal → (source_pk_rows, 0) with NO join at all;
        # only fingerprint-unequal groups enter the exact join, scoped
        # by a broadcast semi-join. Clean data ⇒ the row-hash check
        # costs zero extra scans and ~zero shuffle. Null parity takes
        # its own join over all rows.
        if pk_nulls:
            rels.append(
                H.pk_join_metrics(
                    source, target, task.primary_keys, group_cols,
                    row_hash=False, null_columns=pk_nulls,
                )
            )
        fp_equal = _fingerprint_equal(task)
        failing_keys = spine.where(f"NOT ({fp_equal})").select(*[F.col(g) for g in group_cols])
        # broadcast (default) vs AQE-decided join for the scoping —
        # see config.fingerprint_scope_join
        if task.fingerprint_scope_join == "broadcast":
            failing_keys = F.broadcast(failing_keys)
        rels.append(
            H.pk_join_metrics(
                source.join(failing_keys, on=list(group_cols), how="left_semi"),
                target.join(failing_keys, on=list(group_cols), how="left_semi"),
                task.primary_keys, group_cols,
                hash_columns=hash_cols, algo=task.hash_algo,
            )
        )
    elif pk_hash or pk_nulls:
        rels.append(
            H.pk_join_metrics(
                source, target, task.primary_keys, group_cols, row_hash=pk_hash,
                hash_columns=hash_cols, algo=task.hash_algo, null_columns=pk_nulls,
            )
        )

    # ---- row hash ---------------------------------------------------
    if pk_hash:
        checks.append(_row_hash_check(task, group_cols, fp_equal))
        if task.materialize_violations:
            violations["row_hash"] = functools.partial(
                H.row_hash_violations,
                source, target, task.primary_keys, task.hash_columns, task.hash_algo,
            )

    # ---- nulls, aggregates, uniqueness ------------------------------
    if null_configured:
        checks += [_null_check(task, c, group_cols) for c in task.null_validation_columns]
    checks += [
        _agg_check(av.column, v.agg.upper(), v.tolerance)
        for av in task.agg_validations or []
        for v in av.validations
    ]
    if task.uniqueness_columns and task.uniqueness_tolerance is not None:
        checks.append(_uniqueness_check(task, group_cols))
        if task.materialize_violations:
            from datapact_spark.operators.uniqueness import uniqueness_violations

            for side, df in sides:
                violations[f"uniqueness_{side}"] = functools.partial(
                    uniqueness_violations, df, task.uniqueness_columns
                )

    # ---- custom SQL (f) -------------------------------------------------
    if task.custom_sql_tests and not group_cols:
        import hashlib

        from datapact_spark.config import make_identifier

        # slug + raw-key digest: task_keys are unique but their slugs may
        # collide ('Orders_Daily' vs 'orders-daily'), and tasks run
        # concurrently — colliding temp views would make one task's
        # custom SQL silently read another task's tables
        digest = hashlib.md5(task.task_key.encode()).hexdigest()[:8]
        slug = f"{make_identifier(task.task_key, prefix='task')}_{digest}"
        src_view = f"__dp_src_{slug}"
        tgt_view = f"__dp_tgt_{slug}"
        source_raw.createOrReplaceTempView(src_view)
        target_raw.createOrReplaceTempView(tgt_view)
        for test in task.custom_sql_tests:
            rendered = render_custom_sql(task, test, src_view, tgt_view)
            rels.append(custom_sql_metrics(spark, rendered))
            checks.append(_custom_sql_check(rendered))

    # ---- referential integrity (north-star) ---------------------------
    for check in task.referential_checks or []:
        parent = resolver.resolve(check.ref_table)
        rels.append(R.referential_metrics(source, parent, check, group_cols))
        checks.append(_referential_check(check, group_cols))
        if task.materialize_violations:
            violations[f"referential_{check.name}"] = functools.partial(
                R.referential_violations, source, parent, check
            )

    # ---- row constraints and freshness (north-star) --------------------
    # Every folded (check, side) pair is reported — the unconfigured
    # side's pair carries enforced=false and never gates the verdict.
    # Reporting it keeps the symmetric-fold aggregate alive in the plan
    # (Catalyst would otherwise prune it from one side's aggregate and
    # break the profile plans' structural identity — see
    # CK.foldable_checks) and observes the other side for free.
    for side, df in sides:
        if not (profile_built or con_by_side[side]):
            continue  # side has no metrics relation carrying the sums
        total = E.ident(f"{side}_count" if profile_built else f"constraint_rows_{side}")
        enforced = {id(c) for c in con_by_side[side]}
        for cc in con_fold[side]:
            checks.append(
                _constraint_check(cc, side, total, id(cc) in enforced, group_cols)
            )
            if id(cc) in enforced and task.materialize_violations:
                violations[f"constraint_{cc.name}_{side}"] = functools.partial(
                    CK.constraint_violations, df, cc
                )
    for side, _ in sides:
        if not (profile_built or con_by_side[side] or fresh_by_side[side]):
            continue
        enforced = {id(c) for c in fresh_by_side[side]}
        checks += [
            _freshness_check(fc, side, id(fc) in enforced, begin_ts)
            for fc in fresh_fold[side]
        ]

    # ---- distribution drift (north-star) -------------------------------
    bootstrap_drift: list = []
    for dcheck in task.drift_checks or []:
        if dcheck.baseline == "snapshot" and baseline_store is not None:
            if baseline_store.exists(task.task_key, dcheck.column):
                snap = baseline_store.read(task.task_key, dcheck.column)
                rels.append(drift_metrics(None, source, dcheck, snapshot=snap))
            else:
                # bootstrap run: no baseline yet — vacuous 0 drift now,
                # engine persists the snapshot after the run
                rels.append(
                    spark.range(0, 1, 1, 1).select(
                        F.lit(0.0).alias(f"drift_{dcheck.metric}_{dcheck.column}")
                    )
                )
                bootstrap_drift.append((dcheck, source))
        else:
            rels.append(drift_metrics(source, target, dcheck, group_cols))
        checks.append(_drift_check(dcheck))

    # ---- combine: crossJoin of 1-row relations, or left joins per group
    relation = rels[0] if rels else None
    for rel in rels[1:]:
        relation = (
            relation.join(rel, on=list(group_cols), how="left")
            if group_cols
            else relation.crossJoin(rel)
        )
    return Walk(relation, checks, begin_ts, violations, bootstrap_drift)


def compile_task(
    spark: SparkSession,
    task: ValidationTask,
    resolver: TableResolver,
    baseline_store=None,
) -> CompiledTask:
    """Compile one validation task into its single-row verdict plan.

    ``baseline_store`` (ledger.BaselineStore) enables snapshot-mode
    drift checks; without it they degrade to two-sample mode.
    """
    w = walk(spark, task, resolver, baseline_store=baseline_store)
    fields = [
        ("applied_filter", E.string(task.filter)),
        (
            "configured_primary_keys",
            E.string(", ".join(task.primary_keys) if task.primary_keys else None),
        ),
    ]
    if task.has_any_check():
        fields += [
            (c.key, E.named_struct([*c.fields, ("status", E.pass_fail(c.ok))]))
            for c in w.checks
        ]
        conds = [c.ok for c in w.checks if c.passed]
    else:
        fields.append(
            ("message", E.string(f"No validations configured for task {task.task_key}"))
        )
        conds = ["true"]
    # a metadata-only task (e.g. just a schema check) scans nothing
    relation = w.relation if w.relation is not None else spark.range(0, 1, 1, 1)
    metrics = relation.selectExpr(
        f"to_json({E.named_struct(fields)}) AS result_payload",
        f"{E.conjunction(conds)} AS overall_validation_passed",
    )
    return CompiledTask(
        task=task,
        metrics_df=metrics,
        begin_ts=w.begin_ts,
        violation_dfs={kind: build() for kind, build in w.violations.items()},
        bootstrap_drift=w.bootstrap_drift,
    )


# ---------------------------------------------------------------------------
# one function per check: its pass rule, metric columns and payload struct,
# as SQL text (functions.exprs)
# ---------------------------------------------------------------------------


def _schema_check(task: ValidationTask, source: DataFrame, target: DataFrame) -> Check:
    """Compared from the DataFrame schemas — zero scans, zero Spark jobs;
    the verdict is embedded as plan literals."""
    sch = task.schema_check

    def _sig(f) -> str:
        t = f.dataType.simpleString()
        if not sch.ignore_nullability:
            t += "" if f.nullable else " not null"
        return t

    s_fields = {f.name: _sig(f) for f in source.schema.fields}
    t_fields = {f.name: _sig(f) for f in target.schema.fields}
    missing = sorted(set(s_fields) - set(t_fields))
    extra = sorted(set(t_fields) - set(s_fields))
    mismatches = sorted(
        f"{c}: {s_fields[c]} vs {t_fields[c]}"
        for c in set(s_fields) & set(t_fields)
        if sch.mode != "names" and s_fields[c] != t_fields[c]
    )
    order_ok = True
    if sch.mode == "exact" and not sch.ignore_order:
        order_ok = [f.name for f in source.schema.fields] == [
            f.name for f in target.schema.fields
        ]
    if sch.mode == "subset":
        schema_ok = not missing and not mismatches
    elif sch.mode == "names":
        schema_ok = not missing and not extra
    else:  # exact
        schema_ok = not missing and not extra and not mismatches and order_ok

    def _opt(values: list[str]) -> str:
        return E.string(", ".join(values) if values else None)

    return Check(
        "schema", "schema_passed", E.num(bool(schema_ok)), [],
        "schema_validation",
        [
            ("mode", E.string(sch.mode)),
            ("missing_in_target", _opt(missing)),
            ("extra_in_target", _opt(extra)),
            ("type_mismatches", _opt(mismatches)),
            ("order_ok", E.num(order_ok)),
        ],
    )


def _count_check(task: ValidationTask, group_cols: Sequence[str]) -> Check:
    sc, tc = E.ident("source_count"), E.ident("target_count")
    tol = task.count_tolerance
    diff = E.count_rel_diff(sc, tc)
    ok = f"{diff} <= {E.num(tol)}"
    if group_cols:
        # (a) empty-source vacuous-pass parity EXCEPT the target has
        # rows: per group, source 0 & target > 0 is a phantom group
        ok = f"({ok}) AND NOT ({sc} = 0 AND {tc} > 0)"
    return Check(
        "count", "count_passed", ok, [(diff, "count_rel_diff")],
        "count_validation",
        [
            ("source_count", E.fmt_num(sc)),
            ("target_count", E.fmt_num(tc)),
            ("relative_diff_percent", E.fmt_pct(diff)),
            ("tolerance_percent", E.fmt_pct(tol)),
        ],
    )


def _fingerprint_exprs(task: ValidationTask, hash_cols: list[str], side: str) -> list[Column]:
    """(d) The group's commutative (pk, row_hash) fingerprint and its
    count of rows the exact PK join can match (no NULL PK component),
    folded into the side's profile scan."""
    from datapact_spark.functions.hashing import row_hash

    rh = row_hash([F.col(c) for c in hash_cols], task.hash_algo)
    pk_cols = [F.col(pk) for pk in task.primary_keys]
    sig = F.xxhash64(
        F.xxhash64(*pk_cols),
        F.xxhash64(F.lit(0x9E3779B9), *pk_cols),
        F.xxhash64(rh),
    ).cast("decimal(38,0)")
    pk_complete = F.lit(True)
    for c in pk_cols:
        pk_complete = pk_complete & c.isNotNull()
    return [
        F.sum(sig).alias(f"{side}_rowfp"),
        F.count(F.when(pk_complete, 1)).alias(f"{side}_pk_rows"),
    ]


def _fingerprint_equal(task: ValidationTask) -> str:
    """(d) Whether a group is fingerprint-clean: equal counts, PK-row
    counts and fingerprints on both sides of the spine.

    Sentinel-coalesced plain comparisons (not eqNullSafe) keep the
    filter "likely selective", so dynamic partition pruning fires on the
    detail re-scan (see rowhash.py); a side missing the group has count
    0 ≠ the other side's > 0, and the sentinels -1/-2 never make missing
    == present. Every profile column stays referenced, so the key-pruned
    copy of the spine still reuses the profile scans."""
    fp = "CAST({} AS decimal(38,0))"
    conds = [
        "`source_count` = `target_count`",
        "coalesce(`source_pk_rows`, -1) = coalesce(`target_pk_rows`, -2)",
        f"coalesce(`source_rowfp`, {fp.format(-1)}) = coalesce(`target_rowfp`, {fp.format(-2)})",
    ]
    # dup-PK exactness gate: a fingerprint is only trustworthy when PKs
    # are unique in the group (equal multisets with dup PKs
    # fingerprint-match but pair differently). Config validation
    # guarantees a uniqueness check on a PK subset, so the profile
    # carries the per-group distinct counts — groups with any dup PK
    # take the exact join (row_hash_mode='join' semantics).
    # 'fingerprint_multiset' skips the gate by contract (multiset
    # equality, no uniqueness requirement).
    if (
        task.row_hash_mode == "fingerprint"
        and task.uniqueness_columns
        and set(task.uniqueness_columns) <= set(task.primary_keys)
    ):
        conds += [
            f"coalesce(`{side}_distinct_uniqs`, -1) = coalesce(`{side}_count`, -2)"
            for side in ("source", "target")
        ]
    elif task.uniqueness_columns and task.uniqueness_tolerance is not None:
        # multiset mode has no gate, but the distinct counts must stay
        # referenced too (see above). A distinct count never exceeds its
        # row count, so this holds for every group.
        conds += [
            f"coalesce(`{side}_distinct_uniqs`, 0) <= coalesce(`{side}_count`, 0)"
            for side in ("source", "target")
        ]
    return E.conjunction(conds)


def _row_hash_check(
    task: ValidationTask, group_cols: Sequence[str], fp_equal: str | None
) -> Check:
    tol = task.pk_hash_tolerance if task.pk_hash_tolerance is not None else 0.0
    tc = _metric("total_compared_rows", group_cols)
    mm = _metric("mismatch_count", group_cols)
    if fp_equal is not None:
        # (d) a fingerprint-clean group compares what the exact join
        # would match: its rows with no NULL PK component
        tc = f"CASE WHEN {fp_equal} THEN `source_pk_rows` ELSE {tc} END"
        mm = f"CASE WHEN {fp_equal} THEN CAST(0 AS BIGINT) ELSE {mm} END"
    ratio = E.hash_mismatch_ratio(mm, tc)
    return Check(
        "row_hash", "row_hash_passed", f"{ratio} <= {E.num(tol)}",
        [(tc, "total_compared_rows"), (mm, "mismatch_count")],
        "row_hash_validation",
        [
            ("compared_rows", E.fmt_num(tc)),
            ("mismatch_count", E.fmt_num(mm)),
            ("mismatch_percent", E.fmt_pct(ratio)),
            ("tolerance_percent", E.fmt_pct(tol)),
        ],
    )


def _null_check(task: ValidationTask, col: str, group_cols: Sequence[str]) -> Check:
    tol = task.null_validation_tolerance
    sn = _metric(f"source_nulls_{col}", group_cols)
    tn = _metric(f"target_nulls_{col}", group_cols)
    if task.primary_keys:
        ok, pct = E.null_pass_pk(sn, tn, tol), E.null_diff_pct_pk(sn, tn)
    else:
        ok, pct = E.null_pass_counts(sn, tn, tol), E.null_diff_pct_counts(sn, tn)
    return Check(
        "null", f"null_{col}_passed", ok,
        [(sn, f"source_nulls_{col}"), (tn, f"target_nulls_{col}")],
        f"null_validation_{col}",
        [
            ("source_nulls", E.fmt_num(sn)),
            ("target_nulls", E.fmt_num(tn)),
            ("relative_diff_percent", f"format_string('%.2f%%', CAST({pct} AS DOUBLE))"),
            ("tolerance_percent", E.fmt_pct(tol)),
        ],
    )


def _agg_check(column: str, agg: str, tol: float) -> Check:
    sv_name, tv_name = f"source_value_{column}_{agg}", f"target_value_{column}_{agg}"
    sv, tv = E.ident(sv_name), E.ident(tv_name)
    diff = E.agg_rel_diff(sv, tv)
    return Check(
        "agg", f"agg_{column}_{agg}_passed",
        f"coalesce({diff}, CAST(0 AS {E.DEC12})) <= {E.num(tol)}",
        [(sv, sv_name), (tv, tv_name)],
        f"agg_validation_{column}_{agg}",
        [
            ("source_value", E.fmt_num(sv, 2)),
            ("target_value", E.fmt_num(tv, 2)),
            ("relative_diff_percent", E.fmt_pct(diff)),
            ("tolerance_percent", E.fmt_pct(tol)),
        ],
    )


def _uniqueness_check(task: ValidationTask, group_cols: Sequence[str]) -> Check:
    tol = task.uniqueness_tolerance
    sides = ("source", "target")
    count = {s: E.ident(f"{s}_count") for s in sides}
    distinct = {s: _metric(f"{s}_distinct_uniqs", group_cols) for s in sides}
    dups = {s: f"{count[s]} - {distinct[s]}" for s in sides}
    ratio = {s: E.dupe_ratio(count[s], distinct[s]) for s in sides}
    return Check(
        "uniqueness", "uniqueness_passed",
        E.conjunction([f"{ratio[s]} <= {E.num(tol)}" for s in sides]),
        [(dups[s], f"{s}_duplicates") for s in sides],
        f"uniqueness_validation_{'_'.join(task.uniqueness_columns)}",
        [
            *[(f"{s}_duplicates", E.fmt_num(dups[s])) for s in sides],
            *[(f"{s}_dupe_percent", E.fmt_pct(ratio[s])) for s in sides],
            ("tolerance_percent", E.fmt_pct(tol)),
        ],
    )


def _custom_sql_check(rendered) -> Check:
    slug = rendered.cte_base_name

    def col(name: str) -> str:
        return E.ident(f"{name}_{slug}")

    def sample(name: str) -> tuple[str, str]:
        c = col(name)
        return name, f"CASE WHEN {c} = 'null' THEN CAST(NULL AS STRING) ELSE {c} END"

    return Check(
        "custom_sql", f"custom_sql_{slug}_passed",
        E.conjunction([
            f"coalesce({col('rows_missing_in_target')}, 0) = 0",
            f"coalesce({col('rows_missing_in_source')}, 0) = 0",
            f"coalesce({col('source_hash')}, 'EMPTY') = coalesce({col('target_hash')}, 'EMPTY')",
        ]),
        [],
        f"custom_sql_validation_{slug}",
        [
            ("name", E.string(rendered.name)),
            ("description", E.string(rendered.description)),
            ("input_sql_template", E.string(rendered.base_sql)),
            ("rendered_source_sql", E.string(rendered.source_sql)),
            ("rendered_target_sql", E.string(rendered.target_sql)),
            *[
                (name, E.fmt_num(col(name)))
                for name in (
                    "source_row_count", "target_row_count",
                    "rows_missing_in_target", "rows_missing_in_source",
                )
            ],
            sample("sample_missing_in_target"),
            sample("sample_missing_in_source"),
        ],
    )


def _referential_check(check, group_cols: Sequence[str]) -> Check:
    vc = _metric(f"violation_count_{check.name}", group_cols)
    cc = _metric(f"child_count_{check.name}", group_cols)
    ratio = E.ratio(vc, cc)
    return Check(
        "referential", f"ref_{check.name}_passed", f"{ratio} <= {E.num(check.tolerance)}",
        [(vc, f"violation_count_{check.name}")],
        f"referential_validation_{check.name}",
        [
            ("child_rows", E.fmt_num(cc)),
            ("violation_rows", E.fmt_num(vc)),
            ("violation_percent", E.fmt_pct(ratio)),
            ("tolerance_percent", E.fmt_pct(check.tolerance)),
        ],
    )


def _constraint_check(
    cc, side: str, total: str, enforced: bool, group_cols: Sequence[str]
) -> Check:
    name = f"{cc.name}_{side}"
    vc = _metric(f"constraint_violations_{name}", group_cols)
    ratio = E.ratio(vc, total)
    return Check(
        "constraint", f"constraint_{name}_passed" if enforced else None,
        f"{ratio} <= {E.num(cc.tolerance)}",
        [(vc, f"constraint_violations_{name}")],
        f"constraint_validation_{name}",
        [
            ("predicate", E.string(cc.predicate)),
            ("null_semantics", E.string("ansi" if cc.null_passes else "strict")),
            ("enforced", E.num(enforced)),
            ("rows", E.fmt_num(total)),
            ("violation_rows", E.fmt_num(vc)),
            ("violation_percent", E.fmt_pct(ratio)),
            ("tolerance_percent", E.fmt_pct(cc.tolerance)),
        ],
    )


def _freshness_check(fc, side: str, enforced: bool, begin_ts: dt.datetime) -> Check:
    name = f"{fc.column}_{side}"
    mx = E.ident(f"freshness_max_{name}")
    # reference instant: the compile's one deterministic begin_ts (naive
    # UTC), as epoch seconds — what CAST(<timestamp> AS DOUBLE) yields
    epoch_us = calendar.timegm(begin_ts.timetuple()) * 1_000_000 + begin_ts.microsecond
    age_h = f"({E.num(epoch_us / 1_000_000)} - CAST({mx} AS DOUBLE)) / 3600.0D"
    return Check(
        "freshness", f"freshness_{name}_passed" if enforced else None,
        f"coalesce({age_h} <= {E.num(fc.max_age_hours)}, false)",
        [(mx, f"freshness_max_{name}")],
        f"freshness_validation_{name}",
        [
            ("enforced", E.num(enforced)),
            ("latest", f"date_format({mx}, 'yyyy-MM-dd HH:mm:ss')"),
            ("age_hours", f"round({age_h}, 2)"),
            ("max_age_hours", E.num(fc.max_age_hours)),
        ],
    )


def _drift_check(dcheck) -> Check:
    name = f"drift_{dcheck.metric}_{dcheck.column}"
    val = E.ident(name)
    return Check(
        "drift", f"drift_{dcheck.column}_{dcheck.metric}_passed",
        f"coalesce({val}, 0.0D) <= {E.num(dcheck.threshold)}",
        [(val, name)],
        f"drift_validation_{dcheck.column}_{dcheck.metric}",
        [
            (f"{dcheck.metric}_value", f"format_string('%.6f', CAST({val} AS DOUBLE))"),
            ("threshold", f"format_string('%.6f', {E.num(float(dcheck.threshold))})"),
        ],
    )
