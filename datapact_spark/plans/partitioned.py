"""Per-partition verdicts — the north-star execution mode.

Instead of one verdict per task, emit one verdict row per partition
group (e.g. ``(repo, lang)`` on the code table): each configured check
is evaluated per group via grouped single-pass profiles, grouped
PK-join hash compares, and grouped referential anti-joins, then the
group's booleans AND into ``overall_validation_passed``.

Plan shape per task (explicit repartitioning on the verdict key per
BASELINE.json north rule):

    source ──repartition(keys)──► grouped profile ─┐
    target ──repartition(keys)──► grouped profile ─┤ full-outer join on keys
    src ⋈ tgt on PKs ─────► grouped hash metrics ──┤ (missing side ⇒ counts 0)
    child ⟕̸ parent ──────► grouped FK metrics ─────┘
                                   │
                                   ▼
                  per-group verdict row (metrics + *_passed + overall)

Missing-group semantics: a group present in source but absent in target
(or vice versa) gets zeroed counts on the missing side, so the count
check fails it (rel diff 100%) rather than silently dropping it.

Skew: a hot group key (a mega-repo) needs no salting. The grouped
profile runs a partial HashAggregate map-side below its group-key
exchange, so the hot key's reducer reads one partial row per upstream
partition. Its one COUNT(DISTINCT) plans no Expand: the distinct
combinations shuffle on the high-cardinality (group ⊕ uniqueness) key
first, then the per-group count is partially aggregated the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapact_spark.config import ValidationTask
from datapact_spark.functions import exprs as E
from datapact_spark.operators import profile as P
from datapact_spark.operators import referential as R
from datapact_spark.operators import rowhash as H
from datapact_spark.operators.drift import drift_metrics
from datapact_spark.session import persist_scoped
from datapact_spark.sources.loader import TableResolver


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

    source = resolver.resolve(task.source_ref)
    target = resolver.resolve(task.target_ref)
    if task.filter:
        source = source.where(F.expr(task.filter))
        target = target.where(F.expr(task.filter))

    # fingerprint row-hash mode folds the per-group (pk, row_hash)
    # fingerprint into the SAME profile scan — zero extra passes for
    # clean groups
    fp_in_profile = (
        task.pk_row_hash_check
        and task.primary_keys
        and task.row_hash_mode in ("fingerprint", "fingerprint_multiset")
    )

    # one hashed-column list for the fingerprint and the PK join
    hash_cols = task.hash_columns or [
        c for c in source.columns if c not in group_cols
    ]

    def _fp_exprs(side: str) -> list[F.Column]:
        from datapact_spark.functions.hashing import row_hash

        rh = row_hash([F.col(c) for c in hash_cols], task.hash_algo)
        pk_cols = [F.col(pk) for pk in task.primary_keys]
        sig = F.xxhash64(
            F.xxhash64(*pk_cols),
            F.xxhash64(F.lit(0x9E3779B9), *pk_cols),
            F.xxhash64(rh),
        ).cast("decimal(38,0)")
        # the rows the exact PK join can match: no NULL PK component
        pk_complete = F.lit(True)
        for c in pk_cols:
            pk_complete = pk_complete & c.isNotNull()
        return [
            F.sum(sig).alias(f"{side}_rowfp"),
            F.count(F.when(pk_complete, 1)).alias(f"{side}_pk_rows"),
        ]

    folds = P.side_folds(task, source, target)
    con_by_side, con_fold, fresh_by_side, fresh_fold = folds
    s_prof, t_prof = (
        P.grouped_profile_df(
            df, task, side, group_cols,
            extra_exprs=(_fp_exprs(side) if fp_in_profile else []) + folds.exprs(side),
        )
        for side, df in (("source", source), ("target", target))
    )

    joined = s_prof.join(t_prof, on=group_cols, how="full_outer")
    # zero-fill the count columns so missing groups fail loudly
    joined = joined.withColumn(
        "source_count", F.coalesce(F.col("source_count"), F.lit(0))
    ).withColumn("target_count", F.coalesce(F.col("target_count"), F.lit(0)))
    if fp_in_profile and (
        con_fold["source"]
        or con_fold["target"]
        or fresh_fold["source"]
        or fresh_fold["target"]
    ):
        # The fingerprint dirty-group scope below re-consumes this
        # relation pruned down to the group keys; with constraint sums
        # folded in, the pruned copy no longer canonicalizes equal to
        # the full-width profiles, so AQE stops deduplicating the
        # profile scans and the full table is scanned twice (measured
        # +65% at 16M files). Caching the joined profile — one row per
        # group — restores single-scan behavior: the scope's broadcast
        # stage materializes the cache first and every later consumer
        # reads it. The caller's cache_scope releases it.
        joined = persist_scoped(joined)

    pass_conds: list[tuple[str, F.Column]] = []
    metric_cols: list[F.Column] = [
        F.col("source_count"),
        F.col("target_count"),
    ]

    if task.count_tolerance is not None:
        diff = E.count_rel_diff(F.col("source_count"), F.col("target_count"))
        # empty-source vacuous-pass parity EXCEPT the target has rows:
        # in grouped mode source_count=0 & target_count>0 means a
        # phantom group — fail it.
        ok = (diff <= task.count_tolerance) & ~(
            (F.col("source_count") == 0) & (F.col("target_count") > 0)
        )
        metric_cols.append(diff.alias("count_rel_diff"))
        pass_conds.append(("count_passed", ok))

    pk_hash = bool(task.pk_row_hash_check and task.primary_keys)
    null_configured = bool(
        task.null_validation_columns and task.null_validation_tolerance is not None
    )
    # PK-join null parity per group (reference semantics j2:360-375)
    pk_nulls = task.null_validation_columns if null_configured and task.primary_keys else ()
    if null_configured:
        tol = task.null_validation_tolerance
        for col in task.null_validation_columns:
            sn = F.coalesce(F.col(f"source_nulls_{col}"), F.lit(0))
            tn = F.coalesce(F.col(f"target_nulls_{col}"), F.lit(0))
            if task.primary_keys:
                ok = E.null_pass_pk(sn, tn, tol)
            else:
                ok = E.null_pass_counts(sn, tn, tol)
            metric_cols.append(sn.alias(f"source_nulls_{col}"))
            metric_cols.append(tn.alias(f"target_nulls_{col}"))
            pass_conds.append((f"null_{col}_passed", ok))

    for av in task.agg_validations or []:
        for v in av.validations:
            agg = v.agg.upper()
            sv = F.col(f"source_value_{av.column}_{agg}")
            tv = F.col(f"target_value_{av.column}_{agg}")
            diff = E.agg_rel_diff(sv, tv)
            ok = F.coalesce(diff, F.lit(0).cast(E.DEC12)) <= v.tolerance
            metric_cols += [sv, tv]
            pass_conds.append((f"agg_{av.column}_{agg}_passed", ok))

    if task.uniqueness_columns and task.uniqueness_tolerance is not None:
        tol = task.uniqueness_tolerance
        sd = F.coalesce(F.col("source_distinct_uniqs"), F.lit(0))
        td = F.coalesce(F.col("target_distinct_uniqs"), F.lit(0))
        s_ratio = E.dupe_ratio(F.col("source_count"), sd)
        t_ratio = E.dupe_ratio(F.col("target_count"), td)
        metric_cols += [
            (F.col("source_count") - sd).alias("source_duplicates"),
            (F.col("target_count") - td).alias("target_duplicates"),
        ]
        pass_conds.append(("uniqueness_passed", (s_ratio <= tol) & (t_ratio <= tol)))

    step = joined
    if pk_nulls and (fp_in_profile or not pk_hash):
        # fingerprint modes join only the dirty groups for the row hash
        # below, so null parity takes its own join over all rows
        step = step.join(
            H.pk_join_metrics(
                source, target, task.primary_keys, group_cols,
                row_hash=False, null_columns=pk_nulls,
            ),
            on=group_cols, how="left",
        )
    if pk_hash:
        tol = task.pk_hash_tolerance if task.pk_hash_tolerance is not None else 0.0
        if fp_in_profile:
            # fingerprints came along with the profile scan: groups whose
            # counts AND (pk,row_hash) fingerprints match are exactly
            # equal → (source_pk_rows, 0) with NO join at all; only
            # fingerprint-unequal groups enter the exact compact join,
            # scoped by a broadcast semi-join. Clean data ⇒ the row-hash
            # check costs zero extra scans and ~zero shuffle.
            # sentinel-coalesced plain comparisons (not eqNullSafe):
            # keeps the filter "likely selective" so dynamic partition
            # pruning fires on the detail re-scan (see rowhash.py note);
            # a side missing the group has count 0 ≠ the other side's >0,
            # and fp sentinels -1/-2 can't make missing == present
            fp_equal = (
                F.col("source_count") == F.col("target_count")
            ) & (
                # every profile column stays referenced here, so the
                # key-pruned copy below still reuses the profile scans
                F.coalesce(F.col("source_pk_rows"), F.lit(-1))
                == F.coalesce(F.col("target_pk_rows"), F.lit(-2))
            ) & (
                F.coalesce(F.col("source_rowfp"), F.lit(-1).cast("decimal(38,0)"))
                == F.coalesce(F.col("target_rowfp"), F.lit(-2).cast("decimal(38,0)"))
            )
            # dup-PK exactness gate: a fingerprint is only trustworthy
            # when PKs are unique in the group (equal multisets with dup
            # PKs fingerprint-match but pair differently). Config
            # validation guarantees a uniqueness check on a PK subset is
            # configured, so the profile already carries the per-group
            # distinct counts — groups with any dup PK take the exact
            # join path below (same semantics as row_hash_mode='join').
            # Sentinel-coalesced plain comparisons again, for DPP.
            # 'fingerprint_multiset' skips the gate by contract (multiset
            # equality, no uniqueness requirement).
            if (
                task.row_hash_mode == "fingerprint"
                and task.uniqueness_columns
                and set(task.uniqueness_columns) <= set(task.primary_keys)
            ):
                fp_equal = fp_equal & (
                    F.coalesce(F.col("source_distinct_uniqs"), F.lit(-1))
                    == F.coalesce(F.col("source_count"), F.lit(-2))
                ) & (
                    F.coalesce(F.col("target_distinct_uniqs"), F.lit(-1))
                    == F.coalesce(F.col("target_count"), F.lit(-2))
                )
            elif task.uniqueness_columns and task.uniqueness_tolerance is not None:
                # multiset mode has no gate, but the distinct counts must
                # stay referenced too (see above). A distinct count never
                # exceeds its row count, so this holds for every group.
                for side in ("source", "target"):
                    fp_equal = fp_equal & (
                        F.coalesce(F.col(f"{side}_distinct_uniqs"), F.lit(0))
                        <= F.coalesce(F.col(f"{side}_count"), F.lit(0))
                    )
            failing_keys = joined.where(~fp_equal).select(
                *[F.col(g) for g in group_cols]
            )
            # broadcast (default) vs AQE-decided join for the scoping —
            # see config.fingerprint_scope_join
            if task.fingerprint_scope_join == "broadcast":
                failing_keys = F.broadcast(failing_keys)
            src_f = source.join(failing_keys, on=group_cols, how="left_semi")
            tgt_f = target.join(failing_keys, on=group_cols, how="left_semi")
            hm = H.pk_join_metrics(
                src_f, tgt_f, task.primary_keys, group_cols,
                hash_columns=hash_cols, algo=task.hash_algo,
            )
            step = step.join(hm, on=group_cols, how="left")
            # a clean group compares what the exact join would match:
            # its rows with no NULL PK component
            tc = F.when(fp_equal, F.col("source_pk_rows")).otherwise(
                F.coalesce(F.col("total_compared_rows"), F.lit(0))
            )
            mm = F.when(fp_equal, F.lit(0).cast("long")).otherwise(
                F.coalesce(F.col("mismatch_count"), F.lit(0))
            )
            ratio = E.hash_mismatch_ratio(mm, tc)
            metric_cols += [
                tc.alias("total_compared_rows"),
                mm.alias("mismatch_count"),
            ]
            pass_conds.append(("row_hash_passed", ratio <= tol))
        else:
            # row_hash_mode='join' (fingerprint modes always take the
            # in-profile fold above): one join carries the
            # row hash and the PK null parity
            hm = H.pk_join_metrics(
                source, target, task.primary_keys, group_cols,
                hash_columns=hash_cols, algo=task.hash_algo,
                null_columns=pk_nulls,
            )
            step = step.join(hm, on=group_cols, how="left")
            ratio = E.hash_mismatch_ratio(
                F.coalesce(F.col("mismatch_count"), F.lit(0)),
                F.coalesce(F.col("total_compared_rows"), F.lit(0)),
            )
            metric_cols += [
                F.coalesce(F.col("total_compared_rows"), F.lit(0)).alias("total_compared_rows"),
                F.coalesce(F.col("mismatch_count"), F.lit(0)).alias("mismatch_count"),
            ]
            pass_conds.append(("row_hash_passed", ratio <= tol))

    for check in task.referential_checks or []:
        parent = resolver.resolve(check.ref_table)
        rm = R.referential_metrics(source, parent, check, group_cols)
        step = step.join(rm, on=group_cols, how="left")
        vc = F.coalesce(F.col(f"violation_count_{check.name}"), F.lit(0))
        cc = F.coalesce(F.col(f"child_count_{check.name}"), F.lit(0))
        ratio = F.coalesce(vc / F.nullif(cc.cast("double"), F.lit(0.0)), F.lit(0.0))
        metric_cols.append(vc.alias(f"violation_count_{check.name}"))
        pass_conds.append((f"ref_{check.name}_passed", ratio <= check.tolerance))

    for dcheck in task.drift_checks or []:
        dm = drift_metrics(source, target, dcheck, group_cols)
        step = step.join(dm, on=group_cols, how="left")
        val = F.col(f"drift_{dcheck.metric}_{dcheck.column}")
        ok = F.coalesce(val, F.lit(0.0)) <= dcheck.threshold
        metric_cols.append(val)
        pass_conds.append((f"drift_{dcheck.column}_{dcheck.metric}_passed", ok))

    # per-group row constraints: violations rode the profile scans.
    # EVERY folded (check, side) pair surfaces as a metric column — not
    # just the configured ones — so Catalyst cannot prune the
    # symmetric-fold sums back out of one side's aggregate (which would
    # desynchronize the two profile plans and kill exchange reuse; see
    # foldable_checks). Only configured pairs gate the verdict.
    for cside in ("source", "target"):
        enforced_ids = {id(c) for c in con_by_side[cside]}
        for cc in con_fold[cside]:
            vc = F.coalesce(
                F.col(f"constraint_violations_{cc.name}_{cside}"), F.lit(0)
            )
            metric_cols.append(vc.alias(f"constraint_violations_{cc.name}_{cside}"))
            if id(cc) not in enforced_ids:
                continue  # observed on this side, enforced on the other
            ratio = F.coalesce(
                vc
                / F.nullif(F.col(f"{cside}_count").cast("double"), F.lit(0.0)),
                F.lit(0.0),
            )
            pass_conds.append(
                (f"constraint_{cc.name}_{cside}_passed", ratio <= cc.tolerance)
            )

    # per-group freshness: MAX(ts) rode the profile scans; reference
    # instant = one deterministic now() captured at compile
    import datetime as _dt

    _begin = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    for fside in ("source", "target"):
        enforced_ids = {id(c) for c in fresh_by_side[fside]}
        for fc in fresh_fold[fside]:
            mx = F.col(f"freshness_max_{fc.column}_{fside}")
            metric_cols.append(mx.alias(f"freshness_max_{fc.column}_{fside}"))
            if id(fc) not in enforced_ids:
                continue
            age_h = (
                F.lit(_begin).cast("timestamp").cast("double")
                - mx.cast("double")
            ) / F.lit(3600.0)
            ok = F.coalesce(age_h <= fc.max_age_hours, F.lit(False))
            pass_conds.append((f"freshness_{fc.column}_{fside}_passed", ok))

    if not pass_conds:
        raise ValueError(f"task {task.task_key} has no groupable checks configured")

    overall = pass_conds[0][1]
    for _, c in pass_conds[1:]:
        overall = overall & c
    named_conds = [c.alias(name) for name, c in pass_conds]

    return step.select(
        *[F.col(c) for c in group_cols],
        *metric_cols,
        *named_conds,
        overall.alias("overall_validation_passed"),
    )
