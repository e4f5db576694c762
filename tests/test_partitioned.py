"""Per-partition verdicts, checkpoint/resume, skewed group keys, and the
sha256(content) row invariant on the synthetic code table."""

import os

import pytest
from pyspark.sql import functions as F

from datapact_spark.config import ValidationTask
from datapact_spark.engine import DataPactEngine
from datapact_spark.sources.codegen import corrupt_code_table, synthesize_code_table
from datapact_spark.sources.loader import TableResolver

N_FILES = 20000


@pytest.fixture(scope="module")
def code_tables(spark):
    src = synthesize_code_table(spark, N_FILES, n_repos=20, seed=42)
    tgt = corrupt_code_table(src, drop_every=1000, mutate_every=500)
    return src, tgt


@pytest.fixture()
def engine(spark, code_tables, tmp_path):
    src, tgt = code_tables
    resolver = TableResolver(spark)
    resolver.register("code_src", src)
    resolver.register("code_tgt", tgt)
    return DataPactEngine(spark, resolver, results_path=str(tmp_path / "res"))


def _task(**overrides):
    base = dict(
        task_key="code_parity",
        source="code_src",
        target="code_tgt",
        primary_keys=["repo", "path"],
        partition_by=["repo", "lang"],
        count_tolerance=0.0,
        pk_row_hash_check=True,
        pk_hash_tolerance=0.0,
        hash_columns=["content"],
        hash_algo="sha256",
    )
    base.update(overrides)
    return ValidationTask(**base)


def test_partition_verdicts_detect_corruption(engine, code_tables, spark):
    verdicts = engine.run_partitioned(_task(), run_id=1, resume=False)
    rows = verdicts.collect()
    src, tgt = code_tables
    n_groups = src.select("repo", "lang").dropDuplicates().count()
    assert len(rows) == n_groups
    # ~1/1000 dropped + ~1/500 mutated: most groups must fail
    failed = [r for r in rows if not r["overall_validation_passed"]]
    assert failed, "corruption must produce failing groups"
    # every failing group fails for a concrete reason
    for r in failed:
        assert (not r["count_passed"]) or (not r["row_hash_passed"])
    # verdict math spot-check on one failing group
    r = failed[0]
    s_cnt = src.where((F.col("repo") == r["repo"]) & (F.col("lang") == r["lang"])).count()
    t_cnt = tgt.where((F.col("repo") == r["repo"]) & (F.col("lang") == r["lang"])).count()
    assert r["source_count"] == s_cnt and r["target_count"] == t_cnt


def test_identical_tables_all_pass(engine, code_tables):
    task = _task(task_key="code_self", target="code_src")
    verdicts = engine.run_partitioned(task, run_id=2, resume=False)
    assert verdicts.where("NOT overall_validation_passed").count() == 0


def test_committed_run_is_read_back(engine, monkeypatch):
    """Resuming a committed run reads its verdicts back: the verdict plan
    is not compiled again and the commit marker is not rewritten."""
    from datapact_spark.plans import partitioned

    task = _task(task_key="code_resume")
    first = engine.run_partitioned(task, run_id=3, resume=False).collect()
    marker = os.path.join(
        engine.ledger.path, "checkpoints", "code_resume", "run_id=3", "_SUCCESS"
    )
    mtime = os.path.getmtime(marker)

    def recompile(*args, **kwargs):
        raise AssertionError("a committed run must not be recomputed")

    monkeypatch.setattr(partitioned, "compile_partition_verdicts", recompile)
    resumed = engine.run_partitioned(task, run_id=3, resume=True).collect()
    assert os.path.getmtime(marker) == mtime
    assert first and sorted(resumed, key=repr) == sorted(first, key=repr)


def test_torn_attempt_is_overwritten(engine, code_tables, spark):
    """A kill mid-write leaves part files but no ``_SUCCESS``: the resume
    rewrites the run, and no row of the torn attempt survives."""
    task = _task(task_key="code_torn", target="code_src")
    base = os.path.join(engine.ledger.path, "checkpoints", "code_torn", "run_id=4")
    spark.createDataFrame(
        [("stale_repo", "py", False)],
        "repo string, lang string, overall_validation_passed boolean",
    ).write.parquet(base)
    os.remove(os.path.join(base, "_SUCCESS"))
    rows = engine.run_partitioned(task, run_id=4, resume=True).collect()
    assert os.path.exists(os.path.join(base, "_SUCCESS"))
    src, _ = code_tables
    assert len(rows) == src.select("repo", "lang").dropDuplicates().count()
    assert "stale_repo" not in {r["repo"] for r in rows}
    assert all(r["overall_validation_passed"] for r in rows)


def test_grouped_profile_matches_direct_aggregates(engine, code_tables, spark):
    """The grouped profile's per-group counts, COUNT aggregate and
    duplicate counts equal direct per-group aggregates of each side (a
    group missing on one side reads 0 there)."""
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    task = _task(
        task_key="code_profile",
        pk_row_hash_check=False,
        agg_validations=[
            {"column": "path", "validations": [{"agg": "COUNT", "tolerance": 0.0}]}
        ],
        uniqueness_columns=["path"],
        uniqueness_tolerance=0.0,
    )
    verdicts = compile_partition_verdicts(spark, task, engine.resolver).collect()

    def direct(df):
        rows = df.groupBy("repo", "lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.count("path").alias("c"),
            F.countDistinct("path").alias("d"),
        ).collect()
        return {(r["repo"], r["lang"]): (r["n"], r["c"], r["n"] - r["d"]) for r in rows}

    src, tgt = (direct(df) for df in code_tables)
    assert len(verdicts) == len(set(src) | set(tgt))
    for r in verdicts:
        key = (r["repo"], r["lang"])
        s_n, s_c, s_dup = src.get(key, (0, None, 0))
        t_n, t_c, t_dup = tgt.get(key, (0, None, 0))
        assert (r["source_count"], r["target_count"]) == (s_n, t_n)
        assert (r["source_duplicates"], r["target_duplicates"]) == (s_dup, t_dup)
        got_c = r["source_value_path_COUNT"], r["target_value_path_COUNT"]
        assert tuple(None if v is None else int(v) for v in got_c) == (s_c, t_c)


def test_sha256_invariant_jvm_vs_python(spark, code_tables):
    """F.sha2 (JVM fast path) and the Arrow-batched hashlib UDF must
    agree — the per-row invariant of BASELINE.json."""
    from datapact_spark.functions.hashing import content_sha256, sha256_pandas_udf

    src, _ = code_tables
    sample = src.limit(500).select(
        content_sha256(F.col("content")).alias("jvm"),
        sha256_pandas_udf(F.col("content")).alias("py"),
    )
    assert sample.where(F.col("jvm") != F.col("py")).count() == 0


def test_code_table_determinism(spark):
    a = synthesize_code_table(spark, 1000, n_repos=10, seed=7)
    b = synthesize_code_table(spark, 1000, n_repos=10, seed=7)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    c = synthesize_code_table(spark, 1000, n_repos=10, seed=8)
    assert c.exceptAll(a).count() > 0


def test_grouped_pk_null_join_variant(spark, tmp_path):
    """PK-configured tasks use the PK-join null semantics per group:
    s=0 ⇒ t must be 0 regardless of tolerance."""
    from datapact_spark.plans.partitioned import compile_partition_verdicts
    from pyspark.sql import functions as F

    src = spark.createDataFrame(
        [(g, i, "v") for g in ("a", "b") for i in range(10)],
        "grp string, id long, payload string",
    )
    tgt = src.withColumn(
        "payload",
        F.when((F.col("grp") == "b") & (F.col("id") < 3), F.lit(None)).otherwise(
            F.col("payload")
        ),
    )
    resolver = TableResolver(spark)
    resolver.register("s", src)
    resolver.register("t", tgt)
    task = ValidationTask(
        task_key="nulls", source="s", target="t",
        primary_keys=["grp", "id"], partition_by=["grp"],
        null_validation_columns=["payload"], null_validation_tolerance=0.9,
    )
    rows = {r["grp"]: r for r in compile_partition_verdicts(spark, task, resolver).collect()}
    assert rows["a"]["null_payload_passed"] is True
    # group b: source nulls 0, target 3 → PK variant fails despite 0.9 tol
    assert rows["b"]["null_payload_passed"] is False
    assert rows["b"]["target_nulls_payload"] == 3


@pytest.mark.parametrize("row_hash_mode", ["join", "fingerprint", "fingerprint_multiset"])
def test_null_pk_components_match_task_level_row_hash(spark, row_hash_mode):
    """Rows with a NULL PK component never match in the PK join (SQL
    equality), per partition exactly as at task level. Target = source
    with each row's NULL component swapped to the other PK column: a
    hash fold of the PK tuple that skips NULLs would join (a, NULL) with
    (NULL, a) and compare 6 rows with 2 mismatches instead of 1 and 0.
    In fingerprint modes the group is fingerprint-clean, and its
    compared-row count must still leave out the NULL-PK rows (counting
    them would read 4)."""
    import json

    from datapact_spark.plans.compiler import compile_task
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    schema = "grp string, k1 string, k2 string, payload string"
    src = spark.createDataFrame(
        [("g", "a", None, "p1"), ("g", None, "a", "p2"),
         ("g", "b", None, "p3"), ("g", "c", "c", "p4")],
        schema,
    )
    tgt = spark.createDataFrame(
        [("g", None, "a", "p1"), ("g", "a", None, "p2"),
         ("g", None, "b", "p3"), ("g", "c", "c", "p4")],
        schema,
    )
    resolver = TableResolver(spark)
    resolver.register("nk_src", src)
    resolver.register("nk_tgt", tgt)
    task = dict(
        task_key="null_pk", source="nk_src", target="nk_tgt",
        primary_keys=["k1", "k2"], pk_row_hash_check=True, pk_hash_tolerance=0.0,
        hash_columns=["payload"],
    )
    compiled = compile_task(spark, ValidationTask(**task), resolver)
    payload = json.loads(compiled.metrics_df.collect()[0]["result_payload"])
    rh = payload["row_hash_validation"]
    assert (rh["compared_rows"], rh["mismatch_count"], rh["status"]) == ("1", "0", "PASS")
    # 'fingerprint' requires a uniqueness check on the PKs
    uniq = (
        dict(uniqueness_columns=["k1", "k2"], uniqueness_tolerance=0.0)
        if row_hash_mode == "fingerprint" else {}
    )
    grouped = ValidationTask(
        **task, **uniq, partition_by=["grp"], row_hash_mode=row_hash_mode
    )
    (row,) = compile_partition_verdicts(spark, grouped, resolver).collect()
    assert (
        row["total_compared_rows"], row["mismatch_count"], row["row_hash_passed"]
    ) == (1, 0, True)


def test_partitioned_write_is_single_pass(engine, spark, tmp_path):
    """The verdict write must scan each input side exactly once.
    Asserted on the physical plan of the DataFrame that write_batches
    receives."""
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    src_p = str(tmp_path / "src.parquet")
    tgt_p = str(tmp_path / "tgt.parquet")
    src = synthesize_code_table(spark, 2000, n_repos=5, seed=7)
    src.write.parquet(src_p)
    corrupt_code_table(src, mutate_every=100).write.parquet(tgt_p)
    resolver = TableResolver(spark)
    resolver.register("p_src", spark.read.parquet(src_p))
    resolver.register("p_tgt", spark.read.parquet(tgt_p))
    task = _task(task_key="single_pass", source="p_src", target="p_tgt")
    verdicts = compile_partition_verdicts(spark, task, resolver)
    plan = verdicts._sc._jvm.PythonSQLUtils.explainString(
        verdicts._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("\n\n")[0]
    n_scans = tree.count("Scan parquet")
    assert n_scans <= 4, f"expected ≤2 scans per side, got {n_scans}:\n{tree}"
    # and the engine writes this plan ONCE
    eng = DataPactEngine(spark, resolver, results_path=str(tmp_path / "res2"))
    vdf = eng.run_partitioned(task, run_id=9, resume=False)
    assert vdf.count() == src.select("repo", "lang").dropDuplicates().count()


def test_fingerprint_mode_matches_join_mode(engine, spark):
    """row_hash_mode='fingerprint' must produce byte-identical grouped
    metrics to the exact join on unique-PK data, including corrupted,
    dropped, and clean groups."""
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    def verdicts(mode):
        # fingerprint mode requires the PK-uniqueness guard; configure it
        # on BOTH modes so the verdict columns stay comparable
        df = compile_partition_verdicts(
            spark,
            _task(
                task_key=f"fp_{mode}",
                row_hash_mode=mode,
                uniqueness_columns=["repo", "path"],
                uniqueness_tolerance=0.0,
            ),
            engine.resolver,
        )
        key = lambda r: (r["repo"], r["lang"])
        return {key(r): (r["total_compared_rows"], r["mismatch_count"],
                         r["overall_validation_passed"]) for r in df.collect()}

    j, f = verdicts("join"), verdicts("fingerprint")
    assert j == f and len(j) > 0
    # sanity: the dataset really has both clean and corrupted groups
    stats = {v[1] > 0 for v in j.values()}
    assert True in stats or any(v[0] == 0 for v in j.values())


def test_salted_profile_with_fingerprint_mode(engine, spark):
    """Fingerprint mode folds its fingerprint and the uniqueness distinct
    count into the one grouped profile (no salting, no separate scan):
    duplicate counts, the uniqueness verdict and the row-hash verdict
    all match the join path."""
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    def run(mode):
        df = compile_partition_verdicts(
            spark,
            _task(
                task_key=f"sf_{mode}",
                row_hash_mode=mode,
                uniqueness_columns=["repo", "path"],
                uniqueness_tolerance=0.0,
            ),
            engine.resolver,
        )
        return {
            (r["repo"], r["lang"]): (r["total_compared_rows"], r["mismatch_count"],
                                     r["source_duplicates"], r["target_duplicates"],
                                     r["uniqueness_passed"],
                                     r["overall_validation_passed"])
            for r in df.collect()
        }

    fp, j = run("fingerprint"), run("join")
    assert fp == j and len(fp) > 0
    assert all(v[4] for v in fp.values())


def test_multiset_uniqueness_reuses_profile_scans(spark, tmp_path):
    """fingerprint_multiset with a uniqueness check reads no distinct
    count, yet its key-pruned copy of the joined profile must still
    equal the full profile so AQE reuses the profile scans: the executed
    plan reads as many parquet scan nodes as fingerprint mode (it read
    2 more, with 2 fewer reused exchanges, when the distinct counts were
    pruned), and on unique-PK data its verdict rows equal fingerprint
    mode's."""
    from datapact_spark.plans.partitioned import compile_partition_verdicts
    from datapact_spark.session import cache_scope

    src = synthesize_code_table(spark, 2000, n_repos=5, seed=7)
    src.write.parquet(str(tmp_path / "src"))
    corrupt_code_table(src, mutate_every=100).write.parquet(str(tmp_path / "tgt"))
    resolver = TableResolver(spark)
    resolver.register("code_src", spark.read.parquet(str(tmp_path / "src")))
    resolver.register("code_tgt", spark.read.parquet(str(tmp_path / "tgt")))

    def run(mode):
        task = _task(
            task_key=f"ms_{mode}", row_hash_mode=mode,
            uniqueness_columns=["repo", "path"], uniqueness_tolerance=0.0,
        )
        with cache_scope():
            df = compile_partition_verdicts(spark, task, resolver)
            rows = sorted(tuple(r) for r in df.collect())
            plan = df._jdf.queryExecution().executedPlan().toString()
        return rows, plan.count("Scan parquet"), plan.count("ReusedExchange")

    fp_rows, fp_scans, fp_reused = run("fingerprint")
    ms_rows, ms_scans, ms_reused = run("fingerprint_multiset")
    assert ms_scans == fp_scans and ms_reused == fp_reused, (ms_scans, fp_scans)
    assert ms_rows == fp_rows
    assert any(not r[-1] for r in ms_rows) and any(r[-1] for r in ms_rows)


def test_fingerprint_mode_localized_corruption_scopes_join(spark, tmp_path):
    """With corruption confined to one repo, every other group passes by
    fingerprint and only the dirty repo's rows enter the exact join."""
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    src = synthesize_code_table(spark, 30000, n_repos=10, seed=3)
    tgt = src.withColumn(
        "content",
        F.when(
            (F.col("repo") == "repo_0") & (F.xxhash64("path") % 50 == 0),
            F.concat(F.col("content"), F.lit(" CORRUPT")),
        ).otherwise(F.col("content")),
    )
    resolver = TableResolver(spark)
    resolver.register("loc_src", src)
    resolver.register("loc_tgt", tgt)

    def verdicts(mode):
        df = compile_partition_verdicts(
            spark,
            _task(
                task_key=f"loc_{mode}", source="loc_src", target="loc_tgt",
                count_tolerance=None, row_hash_mode=mode,
            ),
            resolver,
        )
        return {
            (r["repo"], r["lang"]): (r["total_compared_rows"], r["mismatch_count"])
            for r in df.collect()
        }

    m_fp, m_jn = verdicts("fingerprint_multiset"), verdicts("join")
    assert m_fp == m_jn
    dirty = {k for k, v in m_fp.items() if v[1] > 0}
    assert dirty and all(k[0] == "repo_0" for k in dirty)


def test_fingerprint_detail_scan_uses_dynamic_partition_pruning(spark, tmp_path):
    """On repo-partitioned storage (the Iceberg-at-scale layout), the
    per-partition verdict's fingerprint detail re-scan must prune to
    the dirty repos via dynamic partition pruning from the broadcast
    semi-join — reading ~2% of the data, not all of it."""
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    src = synthesize_code_table(spark, 20000, n_repos=10, seed=5)
    src_p, tgt_p = str(tmp_path / "psrc"), str(tmp_path / "ptgt")
    src.write.partitionBy("repo").parquet(src_p)
    src.withColumn(
        "content",
        F.when(
            (F.col("repo") == "repo_3") & (F.xxhash64("path") % 20 == 0),
            F.concat(F.col("content"), F.lit(" DIRTY")),
        ).otherwise(F.col("content")),
    ).write.partitionBy("repo").parquet(tgt_p)
    resolver = TableResolver(spark)
    resolver.register("dpp_src", spark.read.parquet(src_p))
    resolver.register("dpp_tgt", spark.read.parquet(tgt_p))
    uniq = dict(uniqueness_columns=["repo", "path"], uniqueness_tolerance=0.0)
    for mode, extra in (("fingerprint", uniq), ("fingerprint_multiset", {})):
        m = compile_partition_verdicts(
            spark,
            _task(
                task_key=f"dpp_{mode}", source="dpp_src", target="dpp_tgt",
                count_tolerance=None, row_hash_mode=mode, **extra,
            ),
            resolver,
        )
        plan = m._sc._jvm.PythonSQLUtils.explainString(
            m._jdf.queryExecution(), "formatted"
        )
        assert "dynamicpruning" in plan.lower(), (
            f"{mode}: no DPP in detail scan:\n{plan[:3000]}"
        )
        rows = {(r["repo"], r["lang"]): r["mismatch_count"] for r in m.collect()}
        dirty = {k for k, v in rows.items() if v > 0}
        assert dirty and all(k[0] == "repo_3" for k in dirty), mode


def test_fingerprint_mode_requires_pk_uniqueness_config():
    """row_hash_mode='fingerprint' without a PK uniqueness check must be
    rejected at config time (the dup-PK guard); fingerprint_multiset
    opts into multiset semantics and needs none."""
    with pytest.raises(ValueError, match="uniqueness"):
        _task(row_hash_mode="fingerprint")
    # uniqueness on a non-PK column doesn't imply PK uniqueness → reject
    with pytest.raises(ValueError, match="uniqueness"):
        _task(
            row_hash_mode="fingerprint",
            uniqueness_columns=["lang"],
            uniqueness_tolerance=0.0,
        )
    ok = _task(
        row_hash_mode="fingerprint",
        uniqueness_columns=["repo", "path"],
        uniqueness_tolerance=0.0,
    )
    assert ok.row_hash_mode == "fingerprint"
    assert _task(row_hash_mode="fingerprint_multiset").row_hash_mode == (
        "fingerprint_multiset"
    )


def test_fingerprint_mode_dup_pks_fail_loudly_and_match_join(engine, spark):
    """Duplicate-PK input: guarded fingerprint mode must route dup-PK
    groups to the exact join (bit-identical metrics to join mode, fan-out
    included) AND fail them loudly via the uniqueness check — never
    silently trust a multiset-equal fingerprint."""
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    base = synthesize_code_table(spark, 5000, n_repos=5, seed=11)
    # same PK (repo,path), two DIFFERENT contents, present identically on
    # both sides: multisets equal ⇒ fingerprints match, but the exact
    # join fans out h1×h2 and counts phantom mismatches — the documented
    # divergence the guard must catch
    dups = base.where("repo = 'repo_0'").limit(50).withColumn(
        "content", F.concat(F.col("content"), F.lit(" ALT"))
    )
    dup_src = base.unionByName(dups)
    resolver = TableResolver(spark)
    resolver.register("dup_src", dup_src)
    resolver.register("dup_tgt", dup_src)

    def verdicts(mode, **extra):
        df = compile_partition_verdicts(
            spark,
            _task(
                task_key=f"dup_{mode}", source="dup_src", target="dup_tgt",
                row_hash_mode=mode, **extra,
            ),
            resolver,
        )
        return {
            (r["repo"], r["lang"]): (
                r["total_compared_rows"], r["mismatch_count"],
                r["overall_validation_passed"],
            )
            for r in df.collect()
        }

    uniq = dict(uniqueness_columns=["repo", "path"], uniqueness_tolerance=0.0)
    j = verdicts("join", **uniq)
    fp = verdicts("fingerprint", **uniq)
    assert fp == j, "guarded fingerprint mode must match join mode on dup PKs"
    dirty = {k: v for k, v in j.items() if k[0] == "repo_0"}
    assert any(v[1] > 0 for v in dirty.values()), "fan-out mismatches expected"
    assert all(not v[2] for v in dirty.values()), "dup groups must fail loudly"
    # multiset mode: documented semantics — multiset-equal groups report
    # 0 mismatches (contents ARE identical), and total = source rows
    ms = verdicts("fingerprint_multiset")
    assert all(v[1] == 0 for v in ms.values())


def test_fingerprint_scope_join_auto_under_mass_corruption(engine, spark):
    """fingerprint_scope_join='auto' (no broadcast hint — AQE sizes the
    dirty-key join at runtime) must produce identical verdicts to the
    default broadcast scoping even when EVERY group is dirty — the
    regime the unhinted mode exists for (an unbounded driver broadcast
    could OOM there)."""
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    def verdicts(scope):
        df = compile_partition_verdicts(
            spark,
            _task(
                task_key=f"scope_{scope}",
                row_hash_mode="fingerprint",
                fingerprint_scope_join=scope,
                uniqueness_columns=["repo", "path"],
                uniqueness_tolerance=0.0,
            ),
            engine.resolver,
        )
        return {
            (r["repo"], r["lang"]): (r["total_compared_rows"], r["mismatch_count"],
                                     r["overall_validation_passed"])
            for r in df.collect()
        }

    assert verdicts("auto") == verdicts("broadcast")


def _shuffle_stages(node, out: list) -> list:
    """The ShuffleQueryStageExec nodes of an executed adaptive plan."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _shuffle_stages(node.executedPlan(), out)
    if name.endswith("QueryStageExec"):
        if name == "ShuffleQueryStageExec":
            out.append(node)
        return _shuffle_stages(node.plan(), out)
    children = node.children()
    for i in range(children.size()):
        _shuffle_stages(children.apply(i), out)
    return out


def test_distinct_path_spreads_skewed_group(spark):
    """VERDICT r4 #7: the uniqueness/distinct path must not funnel a
    mega-group to one reducer.  Measured on the grouped profile the
    per-partition verdicts run, over one mega-repo with 20% of rows:

    * a partial HashAggregate sits under every exchange, so the hot
      group key reaches its reducer as partial rows, never raw rows;
    * the distinct-combination exchange shuffles on the FULL (group ⊕
      uniqueness) key — high-cardinality even with the mega-repo — and,
      with AQE coalescing off, no reducer of it receives > 2x the median
      bytes;
    * the distinct counts equal countDistinct."""
    from datapact_spark.operators.profile import profile_df

    coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        # one mega-repo with 20% of rows; 20 small repos with 4% each
        df = (
            spark.range(200_000)
            .selectExpr(
                "CASE WHEN id < 40000 THEN 'mega' ELSE concat('r', id % 20) END AS repo",
                "concat('f', id) AS path",
            )
        )
        task = ValidationTask(
            task_key="skew", source="s", target="s", partition_by=["repo"],
            count_tolerance=0.0,
            uniqueness_columns=["repo", "path"], uniqueness_tolerance=0.0,
        )
        prof = profile_df(df, task, "source", ["repo"])
        got = {r["repo"]: r["source_distinct_uniqs"] for r in prof.collect()}

        stages = _shuffle_stages(prof._jdf.queryExecution().executedPlan(), [])
        exchanges = [st.plan() for st in stages]
        assert len(exchanges) == 2, [e.toString() for e in exchanges]
        for ex in exchanges:
            child = ex.child()
            if child.getClass().getSimpleName() == "WholeStageCodegenExec":
                child = child.child()
            assert child.getClass().getSimpleName() == "HashAggregateExec", ex.toString()
            assert "partial_" in child.toString(), child.toString()

        (combo,) = [
            st for st in stages
            if "struct" in st.plan().outputPartitioning().toString()
        ]
        sizes = sorted(combo.mapStats().get().bytesByPartitionId())
        median = sizes[len(sizes) // 2]
        assert sizes[-1] <= 2 * median, sizes

        truth = {
            r["repo"]: r["d"]
            for r in df.groupBy("repo")
            .agg(F.countDistinct("path").alias("d"))
            .collect()
        }
        assert got == truth
    finally:
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", coalesce)


# per family: the task's checks, then per payload struct its grouped
# *_passed column (None: the pair is observed, not enforced) and its
# numbers' grouped columns
_CONSTRAINTS = [
    {"name": "small", "predicate": "x < 250", "side": "source", "null_passes": False},
    {"name": "nonneg", "predicate": "x >= 0", "side": "both", "tolerance": 0.02},
]
_ONE_GROUP_FAMILIES = {
    "count": (
        dict(count_tolerance=0.05),
        [("count_validation", "count_passed",
          {"source_count": "source_count", "target_count": "target_count"})],
    ),
    "null_pk": (
        dict(primary_keys=["id"], null_validation_columns=["v", "x"],
             null_validation_tolerance=0.3),
        [(f"null_validation_{c}", f"null_{c}_passed",
          {"source_nulls": f"source_nulls_{c}", "target_nulls": f"target_nulls_{c}"})
         for c in ("v", "x")],
    ),
    "null_counts": (
        dict(null_validation_columns=["v", "x"], null_validation_tolerance=0.3),
        [(f"null_validation_{c}", f"null_{c}_passed",
          {"source_nulls": f"source_nulls_{c}", "target_nulls": f"target_nulls_{c}"})
         for c in ("v", "x")],
    ),
    "agg": (
        dict(agg_validations=[{"column": "x", "validations": [
            {"agg": a, "tolerance": 0.01} for a in ("SUM", "AVG", "MIN", "MAX", "COUNT")]}]),
        [(f"agg_validation_x_{a}", f"agg_x_{a}_passed",
          {"source_value": f"source_value_x_{a}", "target_value": f"target_value_x_{a}"})
         for a in ("SUM", "AVG", "MIN", "MAX", "COUNT")],
    ),
    "uniqueness": (
        dict(uniqueness_columns=["id"], uniqueness_tolerance=0.0),
        [("uniqueness_validation_id", "uniqueness_passed",
          {"source_duplicates": "source_duplicates", "target_duplicates": "target_duplicates"})],
    ),
    "row_hash": (
        dict(primary_keys=["id"], pk_row_hash_check=True, pk_hash_tolerance=0.2),
        [("row_hash_validation", "row_hash_passed",
          {"compared_rows": "total_compared_rows", "mismatch_count": "mismatch_count"})],
    ),
    "row_hash_multiset": (
        dict(primary_keys=["id"], pk_row_hash_check=True, pk_hash_tolerance=0.05,
             row_hash_mode="fingerprint_multiset"),
        [("row_hash_validation", "row_hash_passed",
          {"compared_rows": "total_compared_rows", "mismatch_count": "mismatch_count"})],
    ),
    "referential": (
        dict(referential_checks=[{"name": "fk", "fk_columns": ["fk"], "ref_table": "og_parent",
                                  "ref_columns": ["pk"], "tolerance": 0.2}]),
        [("referential_validation_fk", "ref_fk_passed", {"violation_rows": "violation_count_fk"})],
    ),
    "constraint": (
        dict(constraint_checks=_CONSTRAINTS),
        [(f"constraint_validation_{n}", p, {"violation_rows": f"constraint_violations_{n}"})
         for n, p in (("small_source", "constraint_small_source_passed"),
                      ("nonneg_source", "constraint_nonneg_source_passed"),
                      ("small_target", None),
                      ("nonneg_target", "constraint_nonneg_target_passed"))],
    ),
    "freshness": (
        dict(freshness_checks=[{"column": "ts", "max_age_hours": 1e7, "side": "target"}],
             count_tolerance=0.5),
        [(f"freshness_validation_ts_{s}", p, {"latest": f"freshness_max_ts_{s}"})
         for s, p in (("source", None), ("target", "freshness_ts_target_passed"))],
    ),
}


@pytest.fixture(scope="module")
def one_group(spark):
    """One group (grp = 'g'): 200 source rows, and a target that drops
    five, NULLs, mutates and negates some values, and repeats one key;
    the source's FKs 0..6 miss parent key 6."""
    ts = F.expr("timestamp'2020-01-01 00:00:00' + make_interval(0, 0, 0, 0, id)")
    src = spark.range(200).select(
        F.lit("g").alias("grp"),
        "id",
        F.when(F.col("id") % 10 == 0, None).otherwise(F.concat(F.lit("v"), "id")).alias("v"),
        F.when(F.col("id") % 25 == 0, None).otherwise(F.col("id") * 1.5).alias("x"),
        (F.col("id") % 7).alias("fk"),
        ts.alias("ts"),
    )
    tgt = src.where(F.col("id") >= 5).select(
        "grp", "id",
        F.when(F.col("id") % 8 == 0, None).otherwise(F.col("v")).alias("v"),
        F.when(F.col("id") % 20 == 0, -F.col("x")).otherwise(F.col("x")).alias("x"),
        "fk", "ts",
    )
    tgt = tgt.unionByName(tgt.where(F.col("id") == 10))
    resolver = TableResolver(spark)
    resolver.register("og_src", src)
    resolver.register("og_tgt", tgt)
    resolver.register("og_parent", spark.range(6).select(F.col("id").alias("pk")))
    return resolver


@pytest.mark.parametrize("family", list(_ONE_GROUP_FAMILIES))
def test_one_group_verdict_equals_task_verdict(spark, one_group, family):
    """Both levels render one check walk: on a one-group table each
    grouped ``*_passed`` column is the task payload's status and each
    grouped metric is the payload's number (FORMAT_NUMBER'd), family by
    family, and the overall verdicts agree."""
    import datetime as dt
    import json

    from datapact_spark.plans.compiler import compile_task
    from datapact_spark.plans.partitioned import compile_partition_verdicts

    checks, structs = _ONE_GROUP_FAMILIES[family]
    task = dict(task_key=f"one_{family}", source="og_src", target="og_tgt", **checks)
    (verdict,) = compile_task(spark, ValidationTask(**task), one_group).metrics_df.collect()
    payload = json.loads(verdict["result_payload"])
    (row,) = compile_partition_verdicts(
        spark, ValidationTask(**task, partition_by=["grp"]), one_group
    ).collect()

    def shown(value) -> str:
        if isinstance(value, dt.datetime):
            return value.strftime("%Y-%m-%d %H:%M:%S")
        return f"{value:,}" if isinstance(value, int) else f"{value:,.2f}"

    for key, passed, numbers in structs:
        got = payload[key]
        if passed is not None:
            assert (got["status"] == "PASS") is row[passed], (key, got, row)
        for field, column in numbers.items():
            assert got[field] == shown(row[column]), (key, field, got, row[column])
    assert row["overall_validation_passed"] is verdict["overall_validation_passed"]
