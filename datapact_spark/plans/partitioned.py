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
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapact_spark.config import ValidationTask
from datapact_spark.functions import exprs as E
from datapact_spark.operators import profile as P
from datapact_spark.operators import referential as R
from datapact_spark.operators import rowhash as H
from datapact_spark.session import persist_scoped
from datapact_spark.sources.loader import TableResolver


def compile_partition_verdicts(
    spark: SparkSession,
    task: ValidationTask,
    resolver: TableResolver,
    salt_buckets: int = 0,
) -> DataFrame:
    """Per-group verdict DataFrame for one task.

    ``salt_buckets > 0`` enables two-level (salted) aggregation for the
    grouped profiles — use when one group (a mega-repo) dominates; see
    ``grouped_profile_salted``.

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
    # clean groups. The fp sum is a plain additive decimal, so it salts
    # exactly like count/sum: the salted profile carries it as one more
    # partial/merge pair — a skewed mega-repo table gets skew
    # protection AND the 99%-shuffle-cut compare at once.
    fp_in_profile = (
        task.pk_row_hash_check
        and task.primary_keys
        and task.row_hash_mode in ("fingerprint", "fingerprint_multiset")
    )

    # one hashed-column list for the fingerprint and the PK join
    hash_cols = task.hash_columns or [
        c for c in source.columns if c not in group_cols
    ]

    def _fp_sig() -> F.Column:
        from datapact_spark.functions.hashing import row_hash

        rh = row_hash([F.col(c) for c in hash_cols], task.hash_algo)
        pk_cols = [F.col(pk) for pk in task.primary_keys]
        return F.xxhash64(
            F.xxhash64(*pk_cols),
            F.xxhash64(F.lit(0x9E3779B9), *pk_cols),
            F.xxhash64(rh),
        ).cast("decimal(38,0)")

    def _fp_exprs(side: str) -> list[F.Column]:
        return [F.sum(_fp_sig()).alias(f"{side}_rowfp")]

    con_by_side: dict[str, list] = {"source": [], "target": []}
    for cc in task.constraint_checks or []:
        for cside in ("source", "target") if cc.side == "both" else (cc.side,):
            con_by_side[cside].append(cc)

    # symmetric fold (see operators/constraints.foldable_checks): both
    # grouped profiles carry the same constraint SUMs wherever the
    # predicate resolves, preserving AQE scan/exchange reuse under
    # self-validation; the verdict reads only the configured columns
    from datapact_spark.operators.constraints import (
        foldable_checks,
        violation_exprs,
    )

    all_cons = list(task.constraint_checks or [])
    con_fold = {
        "source": foldable_checks(source, all_cons, con_by_side["source"]),
        "target": foldable_checks(target, all_cons, con_by_side["target"]),
    }

    from datapact_spark.operators.freshness import (
        foldable_freshness,
        max_ts_exprs,
    )

    all_fresh = list(task.freshness_checks or [])
    fresh_by_side: dict[str, list] = {"source": [], "target": []}
    for fc in all_fresh:
        for fside in ("source", "target") if fc.side == "both" else (fc.side,):
            fresh_by_side[fside].append(fc)
    fresh_fold = {
        "source": foldable_freshness(source, all_fresh, fresh_by_side["source"]),
        "target": foldable_freshness(target, all_fresh, fresh_by_side["target"]),
    }

    def _con_exprs(side: str) -> list[F.Column]:
        return violation_exprs(con_fold[side], side)

    if salt_buckets > 0:
        s_prof = grouped_profile_salted(
            source, task, "source", group_cols, salt_buckets,
            fp_sig=_fp_sig() if fp_in_profile else None,
            constraints=con_fold["source"],
            freshness=fresh_fold["source"],
        )
        t_prof = grouped_profile_salted(
            target, task, "target", group_cols, salt_buckets,
            fp_sig=_fp_sig() if fp_in_profile else None,
            constraints=con_fold["target"],
            freshness=fresh_fold["target"],
        )
    else:
        s_prof = P.grouped_profile_df(
            source, task, "source", group_cols,
            extra_exprs=(_fp_exprs("source") if fp_in_profile else [])
            + _con_exprs("source")
            + max_ts_exprs(fresh_fold["source"], "source"),
        )
        t_prof = P.grouped_profile_df(
            target, task, "target", group_cols,
            extra_exprs=(_fp_exprs("target") if fp_in_profile else [])
            + _con_exprs("target")
            + max_ts_exprs(fresh_fold["target"], "target"),
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
            # equal → (source_count, 0) with NO join at all; only
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
            tc = F.when(fp_equal, F.col("source_count")).otherwise(
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
            # in-profile fold above, salted or not): one join carries the
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
        rm = R.grouped_referential_metrics(source, parent, check, group_cols)
        step = step.join(rm, on=group_cols, how="left")
        vc = F.coalesce(F.col(f"violation_count_{check.name}"), F.lit(0))
        cc = F.coalesce(F.col(f"child_count_{check.name}"), F.lit(0))
        ratio = F.coalesce(vc / F.nullif(cc.cast("double"), F.lit(0.0)), F.lit(0.0))
        metric_cols.append(vc.alias(f"violation_count_{check.name}"))
        pass_conds.append((f"ref_{check.name}_passed", ratio <= check.tolerance))

    for dcheck in task.drift_checks or []:
        from datapact_spark.operators.drift import grouped_drift_metrics

        if dcheck.kind == "categorical":
            from datapact_spark.operators.drift import grouped_categorical_drift

            gd = grouped_categorical_drift(
                source, target, dcheck.column, group_cols, top_k=dcheck.bins,
            )
            dm = gd.select(
                *group_cols,
                (F.col("psi") if dcheck.metric == "psi" else F.col("tv")).alias(
                    f"drift_{dcheck.metric}_{dcheck.column}"
                ),
            )
        elif dcheck.sketch == "tdigest":
            from datapact_spark.operators.quantiles import grouped_tdigest_drift

            gd = grouped_tdigest_drift(
                source, target, dcheck.column, group_cols,
                delta=dcheck.delta, bins=dcheck.bins,
            )
            dm = gd.select(
                *group_cols,
                (F.col("psi") if dcheck.metric == "psi" else F.col("ks")).alias(
                    f"drift_{dcheck.metric}_{dcheck.column}"
                ),
            )
        elif dcheck.sketch == "kll":
            from datapact_spark.operators.quantiles import grouped_kll_drift

            gd = grouped_kll_drift(
                source, target, dcheck.column, group_cols, bins=dcheck.bins,
            )
            dm = gd.select(
                *group_cols,
                (F.col("psi") if dcheck.metric == "psi" else F.col("ks")).alias(
                    f"drift_{dcheck.metric}_{dcheck.column}"
                ),
            )
        else:
            dm = grouped_drift_metrics(source, target, dcheck, group_cols)
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


def grouped_profile_salted(
    df: DataFrame,
    task: ValidationTask,
    side: str,
    group_cols: list[str],
    salt_buckets: int,
    fp_sig: F.Column | None = None,
    constraints: list | None = None,
    freshness: list | None = None,
) -> DataFrame:
    """Two-level grouped profile for skewed verdict keys: partial
    aggregate on (keys, salt), then merge per key. Catalyst/AQE splits
    skewed *join* partitions but never skewed group-bys (SURVEY.md
    §4.2), so a mega-repo key would otherwise pin one reducer.

    COUNT_DISTINCT cannot be merged through a salt split, so when
    uniqueness is configured the distinct count is computed separately
    per key via the scale path (groupBy the full key set — key+columns
    — then count per key), which is itself salt-free but shuffles only
    the distinct combinations.

    ``fp_sig`` (fingerprint row-hash mode): a per-row decimal signature
    whose per-group SUM is the (pk, row_hash) fingerprint. Plain
    integer addition is associative/commutative, so it rides the salt
    split as one more partial/merge pair — emitted as ``{side}_rowfp``,
    byte-identical to the unsalted fold.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in group_cols], F.monotonically_increasing_id()), F.lit(salt_buckets))
    # partial: additive measures only
    partial_exprs = [F.count(F.lit(1)).alias("__cnt")]
    merge_exprs = [F.sum("__cnt").alias(f"{side}_count")]
    if fp_sig is not None:
        partial_exprs.append(F.sum(fp_sig).alias("__fp"))
        merge_exprs.append(F.sum("__fp").alias(f"{side}_rowfp"))
    # constraint-violation sums are plain integer addition — one more
    # partial/merge pair per check, byte-identical to the unsalted fold
    for cc in constraints or []:
        from datapact_spark.operators.constraints import violation_flag

        partial_exprs.append(
            F.sum(F.when(violation_flag(cc), 1).otherwise(0)).alias(f"__cv_{cc.name}")
        )
        merge_exprs.append(
            F.sum(f"__cv_{cc.name}")
            .cast("long")
            .alias(f"constraint_violations_{cc.name}_{side}")
        )
    # MAX is associative/commutative — freshness rides the salt split too
    for fc in freshness or []:
        partial_exprs.append(
            F.max(F.col(fc.column).cast("timestamp")).alias(f"__fr_{fc.column}")
        )
        merge_exprs.append(
            F.max(f"__fr_{fc.column}").alias(f"freshness_max_{fc.column}_{side}")
        )
    nulls_tc = (
        task.null_validation_columns
        and task.null_validation_tolerance is not None
        and not task.primary_keys
    )
    if nulls_tc:
        for col in task.null_validation_columns:
            partial_exprs.append(
                F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias(f"__n_{col}")
            )
            merge_exprs.append(F.sum(f"__n_{col}").alias(f"{side}_nulls_{col}"))
    for av in task.agg_validations or []:
        for v in av.validations:
            agg = v.agg.upper()
            out = f"{side}_value_{av.column}_{agg}"
            if agg == "SUM":
                partial_exprs.append(F.sum(av.column).alias(f"__s_{out}"))
                merge_exprs.append(F.sum(f"__s_{out}").cast(E.DEC6).alias(out))
            elif agg == "MIN":
                partial_exprs.append(F.min(av.column).alias(f"__s_{out}"))
                merge_exprs.append(F.min(f"__s_{out}").cast(E.DEC6).alias(out))
            elif agg == "MAX":
                partial_exprs.append(F.max(av.column).alias(f"__s_{out}"))
                merge_exprs.append(F.max(f"__s_{out}").cast(E.DEC6).alias(out))
            elif agg == "COUNT":
                partial_exprs.append(F.count(av.column).alias(f"__s_{out}"))
                merge_exprs.append(F.sum(f"__s_{out}").cast(E.DEC6).alias(out))
            elif agg == "AVG":
                # mergeable as (sum, count)
                partial_exprs.append(F.sum(av.column).alias(f"__sum_{out}"))
                partial_exprs.append(F.count(av.column).alias(f"__cnt_{out}"))
                merge_exprs.append(
                    (F.sum(f"__sum_{out}") / F.sum(f"__cnt_{out}")).cast(E.DEC6).alias(out)
                )
    partial = df.groupBy(*group_cols, salt.alias("__salt")).agg(*partial_exprs)
    merged = partial.groupBy(*group_cols).agg(*merge_exprs)
    if task.uniqueness_columns and task.uniqueness_tolerance is not None:
        distinct = (
            df.groupBy(*group_cols, *task.uniqueness_columns)
            .agg(F.count(F.lit(1)).alias("__n"))
            .groupBy(*group_cols)
            .agg(F.count(F.lit(1)).alias(f"{side}_distinct_uniqs"))
        )
        merged = merged.join(distinct, on=group_cols, how="left")
    return merged
