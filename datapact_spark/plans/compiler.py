"""Task compiler: ValidationTask → a one-row verdict DataFrame.

Plan shape (mirrors the reference's CTE DAG, validation.sql.j2:101-486,
but as native DataFrames):

    filtered_source ──► source_stats (single-pass agg) ─┐
    filtered_target ──► target_stats (single-pass agg) ─┤
    src ⋈ tgt on PKs ──► pk_join_metrics (1 row:       ├─ crossJoin ─► payload + verdict
                         row hash + PK null parity)     │   (1 row)
    custom SQL ×n  ────► custom_sql_metrics_<slug>      │
    child ⟕̸ parent ───► referential metrics (1 row)    ┘

Every metric relation is exactly one row, so the crossJoins are free
(broadcast nested loop over singletons) and the whole task collapses to
one Spark action. The payload is a JSON document (`result_payload`)
whose dynamic keys and formatted strings match the reference contract
byte-for-byte (FORMAT_NUMBER, '%.2f%%', PASS/FAIL).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

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

    if not task.has_any_check():
        payload = F.to_json(
            F.struct(
                F.lit(task.filter).cast("string").alias("applied_filter"),
                F.lit(
                    ", ".join(task.primary_keys) if task.primary_keys else None
                ).cast("string").alias("configured_primary_keys"),
                F.lit(f"No validations configured for task {task.task_key}").alias(
                    "message"
                ),
            )
        )
        metrics = spark.range(0, 1, 1, 1).select(
            payload.alias("result_payload"),
            F.lit(True).alias("overall_validation_passed"),
        )
        return CompiledTask(task=task, metrics_df=metrics, begin_ts=begin_ts)

    metric_dfs: list[DataFrame] = []
    payload_fields: list[Column] = [
        F.lit(task.filter).cast("string").alias("applied_filter"),
        F.lit(", ".join(task.primary_keys) if task.primary_keys else None)
        .cast("string")
        .alias("configured_primary_keys"),
    ]
    pass_conds: list[Column] = []
    violation_dfs: dict[str, DataFrame] = {}

    # ---- schema validation (north-star, metadata-only) -----------------
    # Compared from the DataFrame schemas — zero scans, zero Spark jobs;
    # the verdict is embedded as plan literals.
    if task.schema_check:
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

        def _opt(values: list[str]) -> Column:
            return F.lit(", ".join(values) if values else None).cast("string")

        payload_fields.append(
            F.struct(
                F.lit(sch.mode).alias("mode"),
                _opt(missing).alias("missing_in_target"),
                _opt(extra).alias("extra_in_target"),
                _opt(mismatches).alias("type_mismatches"),
                F.lit(order_ok).alias("order_ok"),
                E.pass_fail(F.lit(schema_ok)).alias("status"),
            ).alias("schema_validation")
        )
        pass_conds.append(F.lit(bool(schema_ok)))

    # ---- single-pass stats profiles -------------------------------
    # Row count, measures and the uniqueness distinct count share one
    # scan per side. Row constraints and freshness MAX(ts) fold into the
    # same scans; a side with those but no profiled stats gets its own
    # standalone 1-row aggregate below.
    folds = P.side_folds(task, source, target)
    con_by_side, con_fold, fresh_by_side, fresh_fold = folds
    profile_built = P.stats_needed(task)
    if profile_built:
        for side, df_side in (("source", source), ("target", target)):
            metric_dfs.append(
                P.profile_df(df_side, task, side, extra_exprs=folds.exprs(side))
            )
    else:
        for cside, df_side in (("source", source), ("target", target)):
            if con_by_side[cside] or fresh_by_side[cside]:
                metric_dfs.append(
                    df_side.agg(
                        F.count(F.lit(1))
                        .cast("long")
                        .alias(f"constraint_rows_{cside}"),
                        *folds.exprs(cside),
                    )
                )

    # ---- count ------------------------------------------------------
    if task.count_tolerance is not None:
        sc, tc = F.col("source_count"), F.col("target_count")
        diff = E.count_rel_diff(sc, tc)
        payload_fields.append(
            F.struct(
                E.fmt_num(sc).alias("source_count"),
                E.fmt_num(tc).alias("target_count"),
                E.fmt_pct(diff).alias("relative_diff_percent"),
                E.fmt_pct(task.count_tolerance).alias("tolerance_percent"),
                E.pass_fail(diff <= task.count_tolerance).alias("status"),
            ).alias("count_validation")
        )
        pass_conds.append(diff <= task.count_tolerance)

    # ---- PK join: row hash and PK null parity ----------------------
    pk_hash = bool(task.pk_row_hash_check and task.primary_keys)
    null_configured = bool(
        task.null_validation_columns and task.null_validation_tolerance is not None
    )
    if pk_hash or (null_configured and task.primary_keys):
        metric_dfs.append(
            H.pk_join_metrics(
                source, target, task.primary_keys,
                row_hash=pk_hash,
                hash_columns=task.hash_columns,
                algo=task.hash_algo,
                null_columns=task.null_validation_columns if null_configured else (),
            )
        )

    # ---- row hash ---------------------------------------------------
    if pk_hash:
        tol = task.pk_hash_tolerance if task.pk_hash_tolerance is not None else 0.0
        ratio = E.hash_mismatch_ratio(
            F.col("mismatch_count"), F.col("total_compared_rows")
        )
        payload_fields.append(
            F.struct(
                E.fmt_num(F.col("total_compared_rows")).alias("compared_rows"),
                E.fmt_num(F.col("mismatch_count")).alias("mismatch_count"),
                E.fmt_pct(ratio).alias("mismatch_percent"),
                E.fmt_pct(tol).alias("tolerance_percent"),
                E.pass_fail(ratio <= tol).alias("status"),
            ).alias("row_hash_validation")
        )
        pass_conds.append(ratio <= tol)
        if task.materialize_violations:
            violation_dfs["row_hash"] = H.row_hash_violations(
                source, target, task.primary_keys, task.hash_columns, task.hash_algo
            )

    # ---- nulls ------------------------------------------------------
    if null_configured:
        tol = task.null_validation_tolerance
        for col in task.null_validation_columns:
            sn = F.col(f"source_nulls_{col}")
            tn = F.col(f"target_nulls_{col}")
            if task.primary_keys:
                pct = E.null_diff_pct_pk(sn, tn)
                ok = E.null_pass_pk(sn, tn, tol)
            else:
                pct = E.null_diff_pct_counts(sn, tn)
                ok = E.null_pass_counts(sn, tn, tol)
            payload_fields.append(
                F.struct(
                    E.fmt_num(sn).alias("source_nulls"),
                    E.fmt_num(tn).alias("target_nulls"),
                    F.format_string("%.2f%%", pct.cast("double")).alias(
                        "relative_diff_percent"
                    ),
                    E.fmt_pct(tol).alias("tolerance_percent"),
                    E.pass_fail(ok).alias("status"),
                ).alias(f"null_validation_{col}")
            )
            pass_conds.append(ok)

    # ---- aggregates -------------------------------------------------
    for av in task.agg_validations or []:
        for v in av.validations:
            agg = v.agg.upper()
            sv = F.col(f"source_value_{av.column}_{agg}")
            tv = F.col(f"target_value_{av.column}_{agg}")
            diff = E.agg_rel_diff(sv, tv)
            ok = F.coalesce(diff, F.lit(0).cast(E.DEC12)) <= v.tolerance
            payload_fields.append(
                F.struct(
                    E.fmt_num(sv, 2).alias("source_value"),
                    E.fmt_num(tv, 2).alias("target_value"),
                    E.fmt_pct(diff).alias("relative_diff_percent"),
                    E.fmt_pct(v.tolerance).alias("tolerance_percent"),
                    E.pass_fail(ok).alias("status"),
                ).alias(f"agg_validation_{av.column}_{agg}")
            )
            pass_conds.append(ok)

    # ---- uniqueness --------------------------------------------------
    if task.uniqueness_columns and task.uniqueness_tolerance is not None:
        tol = task.uniqueness_tolerance
        s_ratio = E.dupe_ratio(F.col("source_count"), F.col("source_distinct_uniqs"))
        t_ratio = E.dupe_ratio(F.col("target_count"), F.col("target_distinct_uniqs"))
        ok = (s_ratio <= tol) & (t_ratio <= tol)
        payload_fields.append(
            F.struct(
                E.fmt_num(F.col("source_count") - F.col("source_distinct_uniqs")).alias(
                    "source_duplicates"
                ),
                E.fmt_num(F.col("target_count") - F.col("target_distinct_uniqs")).alias(
                    "target_duplicates"
                ),
                E.fmt_pct(s_ratio).alias("source_dupe_percent"),
                E.fmt_pct(t_ratio).alias("target_dupe_percent"),
                E.fmt_pct(tol).alias("tolerance_percent"),
                E.pass_fail(ok).alias("status"),
            ).alias(f"uniqueness_validation_{'_'.join(task.uniqueness_columns)}")
        )
        pass_conds.append(s_ratio <= tol)
        pass_conds.append(t_ratio <= tol)
        if task.materialize_violations:
            from datapact_spark.operators.uniqueness import uniqueness_violations

            violation_dfs["uniqueness_source"] = uniqueness_violations(
                source, task.uniqueness_columns
            )
            violation_dfs["uniqueness_target"] = uniqueness_violations(
                target, task.uniqueness_columns
            )

    # ---- custom SQL ---------------------------------------------------
    if task.custom_sql_tests:
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
            metric_dfs.append(custom_sql_metrics(spark, rendered))
            slug = rendered.cte_base_name
            missing_t = F.coalesce(F.col(f"rows_missing_in_target_{slug}"), F.lit(0))
            missing_s = F.coalesce(F.col(f"rows_missing_in_source_{slug}"), F.lit(0))
            hashes_eq = F.coalesce(
                F.col(f"source_hash_{slug}"), F.lit("EMPTY")
            ) == F.coalesce(F.col(f"target_hash_{slug}"), F.lit("EMPTY"))
            ok = (missing_t == 0) & (missing_s == 0) & hashes_eq
            payload_fields.append(
                F.struct(
                    F.lit(rendered.name).alias("name"),
                    F.lit(rendered.description).cast("string").alias("description"),
                    F.lit(rendered.base_sql).alias("input_sql_template"),
                    F.lit(rendered.source_sql).alias("rendered_source_sql"),
                    F.lit(rendered.target_sql).alias("rendered_target_sql"),
                    E.fmt_num(F.col(f"source_row_count_{slug}")).alias("source_row_count"),
                    E.fmt_num(F.col(f"target_row_count_{slug}")).alias("target_row_count"),
                    E.fmt_num(F.col(f"rows_missing_in_target_{slug}")).alias(
                        "rows_missing_in_target"
                    ),
                    E.fmt_num(F.col(f"rows_missing_in_source_{slug}")).alias(
                        "rows_missing_in_source"
                    ),
                    F.when(
                        F.col(f"sample_missing_in_target_{slug}") == "null",
                        F.lit(None).cast("string"),
                    )
                    .otherwise(F.col(f"sample_missing_in_target_{slug}"))
                    .alias("sample_missing_in_target"),
                    F.when(
                        F.col(f"sample_missing_in_source_{slug}") == "null",
                        F.lit(None).cast("string"),
                    )
                    .otherwise(F.col(f"sample_missing_in_source_{slug}"))
                    .alias("sample_missing_in_source"),
                    E.pass_fail(ok).alias("status"),
                ).alias(f"custom_sql_validation_{slug}")
            )
            pass_conds.append(missing_t == 0)
            pass_conds.append(missing_s == 0)
            pass_conds.append(hashes_eq)

    # ---- referential integrity (north-star) ---------------------------
    for check in task.referential_checks or []:
        parent = resolver.resolve(check.ref_table)
        metric_dfs.append(R.referential_metrics(source, parent, check))
        vc = F.col(f"violation_count_{check.name}")
        cc = F.col(f"child_count_{check.name}")
        ratio = F.coalesce(vc / F.nullif(cc.cast("double"), F.lit(0.0)), F.lit(0.0))
        ok = ratio <= check.tolerance
        payload_fields.append(
            F.struct(
                E.fmt_num(cc).alias("child_rows"),
                E.fmt_num(vc).alias("violation_rows"),
                E.fmt_pct(ratio).alias("violation_percent"),
                E.fmt_pct(check.tolerance).alias("tolerance_percent"),
                E.pass_fail(ok).alias("status"),
            ).alias(f"referential_validation_{check.name}")
        )
        pass_conds.append(ok)
        if task.materialize_violations:
            violation_dfs[f"referential_{check.name}"] = R.referential_violations(
                source, parent, check
            )

    # ---- row constraints (north-star) ----------------------------------
    # Every folded (check, side) pair is reported in the payload — the
    # unconfigured side's struct carries enforced=false and never gates
    # the verdict. Reporting it keeps the symmetric-fold SUM alive in
    # the plan (Catalyst would otherwise prune it from one side's
    # aggregate and break the profile plans' structural identity — see
    # CK.foldable_checks) and gives free observability of the other
    # side's violation rate.
    for cside, side_df in (("source", source), ("target", target)):
        if not (profile_built or con_by_side[cside]):
            continue  # side has no metrics relation carrying the sums
        total = (
            F.col(f"{cside}_count")
            if profile_built
            else F.col(f"constraint_rows_{cside}")
        )
        enforced_ids = {id(c) for c in con_by_side[cside]}
        for cc in con_fold[cside]:
            enforced = id(cc) in enforced_ids
            vc = F.col(f"constraint_violations_{cc.name}_{cside}")
            ratio = F.coalesce(
                vc / F.nullif(total.cast("double"), F.lit(0.0)), F.lit(0.0)
            )
            ok = ratio <= cc.tolerance
            payload_fields.append(
                F.struct(
                    F.lit(cc.predicate).alias("predicate"),
                    F.lit("ansi" if cc.null_passes else "strict").alias(
                        "null_semantics"
                    ),
                    F.lit(enforced).alias("enforced"),
                    E.fmt_num(total).alias("rows"),
                    E.fmt_num(vc).alias("violation_rows"),
                    E.fmt_pct(ratio).alias("violation_percent"),
                    E.fmt_pct(cc.tolerance).alias("tolerance_percent"),
                    E.pass_fail(ok).alias("status"),
                ).alias(f"constraint_validation_{cc.name}_{cside}")
            )
            if not enforced:
                continue
            pass_conds.append(ok)
            if task.materialize_violations:
                violation_dfs[f"constraint_{cc.name}_{cside}"] = (
                    CK.constraint_violations(side_df, cc)
                )

    # ---- freshness / SLA (north-star) ----------------------------------
    for fside in ("source", "target"):
        if not (profile_built or con_by_side[fside] or fresh_by_side[fside]):
            continue
        enforced_ids = {id(c) for c in fresh_by_side[fside]}
        for fc in fresh_fold[fside]:
            enforced = id(fc) in enforced_ids
            mx = F.col(f"freshness_max_{fc.column}_{fside}")
            age_h = (
                F.lit(begin_ts).cast("timestamp").cast("double")
                - mx.cast("double")
            ) / F.lit(3600.0)
            ok = F.coalesce(age_h <= fc.max_age_hours, F.lit(False))
            payload_fields.append(
                F.struct(
                    F.lit(enforced).alias("enforced"),
                    F.date_format(mx, "yyyy-MM-dd HH:mm:ss").alias("latest"),
                    F.round(age_h, 2).alias("age_hours"),
                    F.lit(fc.max_age_hours).alias("max_age_hours"),
                    E.pass_fail(ok).alias("status"),
                ).alias(f"freshness_validation_{fc.column}_{fside}")
            )
            if enforced:
                pass_conds.append(ok)

    # ---- distribution drift (north-star) -------------------------------
    bootstrap_drift: list = []
    for dcheck in task.drift_checks or []:
        metric_name = f"drift_{dcheck.metric}_{dcheck.column}"
        if dcheck.baseline == "snapshot" and baseline_store is not None:
            if baseline_store.exists(task.task_key, dcheck.column):
                snap = baseline_store.read(task.task_key, dcheck.column)
                metric_dfs.append(drift_metrics(None, source, dcheck, snapshot=snap))
            else:
                # bootstrap run: no baseline yet — vacuous 0 drift now,
                # engine persists the snapshot after the run
                metric_dfs.append(
                    spark.range(0, 1, 1, 1).select(F.lit(0.0).alias(metric_name))
                )
                bootstrap_drift.append((dcheck, source))
        else:
            metric_dfs.append(drift_metrics(source, target, dcheck))
        val = F.col(metric_name)
        ok = F.coalesce(val, F.lit(0.0)) <= dcheck.threshold
        payload_fields.append(
            F.struct(
                F.format_string("%.6f", val.cast("double")).alias(
                    f"{dcheck.metric}_value"
                ),
                F.format_string("%.6f", F.lit(float(dcheck.threshold))).alias(
                    "threshold"
                ),
                E.pass_fail(ok).alias("status"),
            ).alias(f"drift_validation_{dcheck.column}_{dcheck.metric}")
        )
        pass_conds.append(ok)

    # ---- combine: crossJoin of 1-row metric relations ------------------
    if not metric_dfs:
        # metadata-only task (e.g. just a schema check): no scan at all
        metric_dfs = [spark.range(0, 1, 1, 1).select(F.lit(1).alias("__one"))]
    combined = metric_dfs[0]
    for mdf in metric_dfs[1:]:
        combined = combined.crossJoin(mdf)

    overall = pass_conds[0]
    for cond in pass_conds[1:]:
        overall = overall & cond

    metrics = combined.select(
        F.to_json(F.struct(*payload_fields)).alias("result_payload"),
        overall.alias("overall_validation_passed"),
    )
    return CompiledTask(
        task=task,
        metrics_df=metrics,
        begin_ts=begin_ts,
        violation_dfs=violation_dfs,
        bootstrap_drift=bootstrap_drift,
    )
